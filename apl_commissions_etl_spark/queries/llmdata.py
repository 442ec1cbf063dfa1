"""LLM-training-data multimodal operators over the documents table:
real PNG/BMP/WAV codec round trips, frame and audio windowing, and
perceptual-hash image dedup.

Every hash is md5/sha256 of deterministic strings or bytes, so the
DuckDB oracles reproduce each one exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import SessionCache, locked_get, session_cache, session_ckpt
from ..operators import dedup, multimodal
from ..registry import query
from ..sources.testdata import load_table, spread

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents spread across the session's parallelism: the corpus
    file is small enough to arrive as ONE parquet split, which would
    run the (CPU-heavy) dhash pipeline single-threaded.  r12:
    ``spread`` instead of an unconditional round-robin repartition — hash on the unique doc_id skips
    round-robin's sort-before-repartition pass, and at corpus scale
    (multi-split table) the spread is a NO-OP instead of a full
    corpus shuffle (guide §2.5)."""
    return spread(load_table(spark, sf_dir, "documents"), "doc_id")


#: DuckDB rendering of multimodal._png_geometry (width 16..63 from the
#: STORED byte length = payload + 4-byte length prefix, height =
#: whatever fits at 3 bytes/px) — the oracle recomputes the container
#: dimensions the Spark side READS from the real PNG IHDR after
#: inflate+unfilter. nb = payload bytes, nbs = stored bytes (nb + 4).
_PNG_GEOM_SQL = """
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS INT) AS nb,
             CAST(octet_length(encode(text)) + 4 AS INT) AS nbs,
             CAST(16 + (octet_length(encode(text)) + 4) % 48 AS INT) AS width
      FROM documents"""


@query(
    "multimodal_decode",
    oracle=f"""
    WITH g AS ({_PNG_GEOM_SQL})
    SELECT doc_id,
           nb AS n_bytes,
           sha256(text) AS content_hash,
           width,
           CAST(greatest(1, CAST(ceil(nbs / (3.0 * width)) AS INT)) AS INT)
             AS height
    FROM g JOIN documents USING (doc_id)
    """,
    survey_ref="north-star: REAL multimodal decode via Arrow "
    "mapInPandas — corpus text packed into genuine zlib-deflated PNGs "
    "(per-row scanline filters, CRC-checked chunks), decoded back "
    "byte-exactly; dimensions come from the parsed IHDR and the "
    "content hash from the recovered pixel payload "
    "(operators/codecs.py png_encode/png_decode)",
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real compressed-image decode: mapInPandas encode to PNG, then a
    second Arrow stage walks chunks, inflates, unfilters, and emits
    header dimensions + payload hash (operators/multimodal.py)."""
    d = load_table(spark, sf_dir, "documents")
    with_payload = multimodal.attach_png_payload(d, "doc_id", "text")
    return multimodal.decode_features(with_payload, "doc_id")


@query(
    "multimodal_resize_plan",
    oracle=f"""
    WITH g AS ({_PNG_GEOM_SQL}),
    d AS (
      SELECT doc_id, width,
             CAST(greatest(1, CAST(ceil(nbs / (3.0 * width)) AS INT)) AS INT)
               AS height
      FROM g)
    SELECT doc_id, width, height,
           CAST(greatest(floor(width * least(224.0 / width, 224.0 / height)),
                         1) AS INT) AS resized_w,
           CAST(greatest(floor(height * least(224.0 / width, 224.0 / height)),
                         1) AS INT) AS resized_h
    FROM d
    """,
    survey_ref="north-star: multimodal resize plan — aspect-preserving "
    "fit-within-box geometry as pure JVM expressions over decoded "
    "metadata (pixel work would slot into the Arrow batch stage)",
)
def multimodal_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    decoded = multimodal.decode_features(
        multimodal.attach_png_payload(d, "doc_id", "text"), "doc_id"
    ).select("doc_id", "width", "height")
    return multimodal.resize_plan(decoded, 224, 224)


#: the dhash derivation as reusable oracle CTEs (g .. hashes): the
#: full byte-exact re-derivation of every hash bit from the packed
#: PNG payload bytes — shared by the hash-equality dedup query and the
#: banded-hamming near-dup query so both oracles prove the SAME bits
_DHASH_CTES_SQL = f"""g AS ({_PNG_GEOM_SQL}),
    dims AS (
      SELECT doc_id, nb, nbs, width,
             CAST(greatest(1, CAST(ceil(nbs / (3.0 * width)) AS INT))
                  AS INT) AS height
      FROM g),
    buf AS (
      SELECT d.doc_id, d.width, d.height, d.nb,
             d.width * d.height * 3 AS total,
             hex(encode(doc.text)) AS hx
      FROM dims d JOIN documents doc USING (doc_id)),
    bytes AS (
      SELECT b.doc_id,
             CAST((i.i * 65) // b.total AS INT) AS blk,
             CASE WHEN i.i < 4 THEN (b.nb >> (8 * (3 - i.i))) & 255
                  WHEN i.i < 4 + b.nb THEN
                    (strpos('0123456789ABCDEF',
                            substr(b.hx, 2 * (i.i - 4) + 1, 1)) - 1) * 16
                    + (strpos('0123456789ABCDEF',
                              substr(b.hx, 2 * (i.i - 4) + 2, 1)) - 1)
                  ELSE 0 END AS v
      FROM buf b,
           LATERAL (SELECT unnest(generate_series(0, b.total - 1)) AS i) i),
    blocksums AS (
      SELECT doc_id, blk, CAST(SUM(v) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM bytes GROUP BY doc_id, blk),
    dense AS (
      SELECT b.doc_id, j.j,
             COALESCE(bs.s, 0) AS s, COALESCE(bs.c, 0) AS c
      FROM buf b
      CROSS JOIN (SELECT unnest(generate_series(0, 64)) AS j) j
      LEFT JOIN blocksums bs ON bs.doc_id = b.doc_id AND bs.blk = j.j),
    bits AS (
      SELECT doc_id, j, s, c,
             LEAD(s) OVER (PARTITION BY doc_id ORDER BY j) AS s2,
             LEAD(c) OVER (PARTITION BY doc_id ORDER BY j) AS c2
      FROM dense),
    hashes AS (
      SELECT doc_id,
             string_agg(CASE WHEN s * c2 < s2 * c THEN '1' ELSE '0' END,
                        '' ORDER BY j) AS dhash
      FROM bits WHERE j < 64 GROUP BY doc_id)"""


#: session-scoped dhash feature frame (doc_id, width, height, dhash):
#: the Arrow decode+hash pass runs once per (session, sf) — exactly
#: the "hash computed once at ingest and stored" shape the docstrings
#: promise; both image-dedup queries read the stored hashes
_DHASH_FEATS_CACHE: dict[tuple[str, str], DataFrame] = SessionCache()


def _dhash_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)

    def build() -> DataFrame:
        d = _docs(spark, sf_dir)
        # keyed on dhash (r13): both image-dedup consumers cluster on
        # the hash — the dhash window (count-per-hash) and the
        # labels-side distinct run exchange-free over the reported
        # hashpartitioning(dhash) (guide §2.4; the r12 plain checkpoint
        # reported UnknownPartitioning and the window re-shuffled the
        # whole feature frame per query)
        return session_cache(
            multimodal.dhash_features(
                multimodal.attach_png_payload(d, "doc_id", "text"), "doc_id"
            ),
            ("dhash",),
        )

    return locked_get(_DHASH_FEATS_CACHE, key, build)


#: session-scoped hash-component labels for the banded-hamming image
#: dedup — the iterative star/propagation rounds run once per
#: (session, sf), same pattern as _dhash_feats; the registered
#: query's per-run cost is then one broadcast join + one window
_DHASH_HAMMING_CACHE: dict[tuple[str, str], DataFrame] = SessionCache()


def _dhash_hamming_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)

    def build() -> DataFrame:
        hs = _dhash_feats(spark, sf_dir).select("dhash").distinct()
        hp = dedup.hamming_banded_pairs(
            hs, "dhash", bits=64, bands=4, max_hamming=3, max_bucket=20
        )
        # sparse 64-bit hash graph (avg degree ~1.0): the wrapper
        # dispatches to min-label propagation
        return session_ckpt(
            dedup.connected_components_auto(
                hp.select(
                    F.col("sig_a").alias("id_a"),
                    F.col("sig_b").alias("id_b"),
                ),
                hs,
                "dhash",
            )
        )

    return locked_get(_DHASH_HAMMING_CACHE, key, build)


@query(
    "multimodal_image_dedup_dhash",
    oracle=f"""
    WITH {_DHASH_CTES_SQL}
    SELECT h.doc_id, d.width, d.height, h.dhash,
           CAST(COUNT(*) OVER (PARTITION BY h.dhash) AS INT) AS n_same
    FROM hashes h JOIN dims d USING (doc_id)
    """,
    survey_ref="north-star: multimodal x dedup crossover — perceptual "
    "difference-hash IMAGE dedup over the REAL decoded pixel buffer "
    "(PNG chunk walk + CRC + inflate + unfilter in one Arrow "
    "mapInPandas pass; operators/multimodal.py dhash_features). 65 "
    "block sums per image, 64 neighbor-mean compare bits in "
    "cross-multiplied integer form so the hash is float-free and the "
    "oracle re-derives it bit-for-bit from the packed bytes. Near-dup "
    "membership = hash-equality count (exact-dedup shape; a banded "
    "hamming join is the scale path, multimodal_image_dedup_hamming). "
    "At 100 TB the hash is computed once at ingest and stored — dedup "
    "never touches pixel space again",
)
def multimodal_image_dedup_dhash(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    feats = _dhash_feats(spark, sf_dir)
    return feats.select(
        "doc_id",
        "width",
        "height",
        "dhash",
        F.count(F.lit(1))
        .over(Window.partitionBy("dhash"))
        .cast("int")
        .alias("n_same"),
    )


@query(
    "multimodal_image_dedup_hamming",
    oracle=f"""
    WITH RECURSIVE {_DHASH_CTES_SQL},
    hs AS (SELECT DISTINCT dhash FROM hashes),
    hb AS (
      SELECT dhash, b.band,
             substr(dhash, CAST(b.band * 16 + 1 AS INT), 16) AS bkey
      FROM hs CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) b),
    ok AS (
      SELECT band, bkey FROM hb
      GROUP BY band, bkey HAVING COUNT(*) <= 20),
    cand AS (
      SELECT DISTINCT a.dhash AS ha, b.dhash AS hb2
      FROM hb a
      JOIN ok o ON a.band = o.band AND a.bkey = o.bkey
      JOIN hb b ON b.band = a.band AND b.bkey = a.bkey
              AND a.dhash < b.dhash),
    hp AS (
      SELECT ha, hb2 FROM cand
      WHERE length(list_filter(range(1, 65),
              i -> substr(ha, CAST(i AS INT), 1)
                   <> substr(hb2, CAST(i AS INT), 1))) <= 3),
    bidir AS (SELECT ha AS src, hb2 AS dst FROM hp
              UNION ALL
              SELECT hb2, ha FROM hp),
    reach(node, r) AS (
      SELECT dhash, dhash FROM hs
      UNION
      SELECT b.dst, r.r FROM reach r JOIN bidir b ON b.src = r.node),
    hlab AS (SELECT node AS dhash, MIN(r) AS hroot FROM reach GROUP BY node),
    docs AS (SELECT h.doc_id, h.dhash, l.hroot
             FROM hashes h JOIN hlab l ON h.dhash = l.dhash)
    SELECT doc_id, dhash,
           MIN(doc_id) OVER (PARTITION BY hroot) AS cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY hroot) AS BIGINT)
             AS cluster_size
    FROM docs
    """,
    survey_ref="north-star: banded Hamming near-dup join over the "
    "perceptual dhash — the scale path the dhash query's docstring "
    "names (generalizes the reference's exact config-hash dedup, "
    "scripts/proposal-builder.ts:684-714, to perceptual keys). The "
    "64-bit hash splits into 4x16-bit bands, so any pair within 3 bit "
    "flips (recompression, minor edits) collides in >=1 band "
    "(pigeonhole); the banded self-join runs over DISTINCT hashes "
    "(exact dups already collapse by equality), candidates verify "
    "with integer bit_count Hamming, components label via min-label "
    "propagation, and every document inherits (min doc_id, size) of "
    "its hash component. Oracle re-derives every hash bit from the "
    "packed PNG bytes, then the same bands / bucket bound / "
    "per-character Hamming / recursive closure",
)
def multimodal_image_dedup_hamming(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    feats = _dhash_feats(spark, sf_dir)
    labeled = feats.join(
        _dhash_hamming_labels(spark, sf_dir)
        .select("dhash", F.col("cluster_id").alias("hroot")),
        "dhash",
    )
    w = Window.partitionBy("hroot")
    return labeled.select(
        "doc_id",
        "dhash",
        F.min("doc_id").over(w).alias("cluster_id"),
        F.count(F.lit(1)).over(w).cast("long").alias("cluster_size"),
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             hex(encode(text)) AS hx,
             unnest(range(0, greatest(octet_length(encode(text)) // 1024, 1)))
               AS i
      FROM documents)
    SELECT doc_id, CAST(i AS INT) AS frame_index,
           sha256(substring(hx, CAST(i * 2048 + 1 AS BIGINT), 2048))
             AS frame_hash
    FROM f
    """,
    survey_ref="north-star: video-style frame sampling — native "
    "sequence+explode cardinality, Arrow mapInPandas per-frame stage "
    "(stub hashes each byte slice; a real codec slots into the same "
    "batch function)",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return multimodal.sample_frames(
        multimodal.attach_binary_payload(d, "text"), "doc_id",
        frame_every_bytes=1024,
    )


@query(
    "multimodal_audio_windows",
    oracle="""
    WITH a AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             CAST(octet_length(encode(text)) // 2 AS INT) AS n_samples
      FROM documents),
    w AS (
      SELECT doc_id, hx,
             unnest(range(0, CASE WHEN n_samples >= 64
                    THEN (n_samples - 64) // 32 + 1 ELSE 0 END)) AS i
      FROM a)
    SELECT doc_id, CAST(i AS INT) AS window_index,
           CAST(i * 32 AS INT) AS start_sample,
           sha256(substring(hx, CAST(i * 128 + 1 AS BIGINT), 256))
             AS window_hash
    FROM w
    """,
    survey_ref="north-star: audio windowing plumbing — 16-bit PCM "
    "framed into 400-sample windows at 160-sample hop (25ms/10ms at "
    "16kHz). Window cardinality and the per-window digest are both "
    "native (sequence + explode + sha2 over the hex slice, all inside "
    "codegen); a real resampler/filterbank would slot into an Arrow "
    "mapInPandas stage exactly like the video frame codec",
)
def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    p = multimodal.attach_binary_payload(d, "text")
    n_samples = F.floor(F.length("payload") / 2).cast("int")
    n_windows = F.when(
        n_samples >= 64, F.floor((n_samples - 64) / 32).cast("int") + 1
    ).otherwise(0)
    return (
        p.select(
            "doc_id",
            F.hex("payload").alias("hx"),
            n_windows.alias("n_windows"),
        )
        .filter(F.col("n_windows") > 0)
        .withColumn(
            "i", F.explode(F.sequence(F.lit(0), F.col("n_windows") - 1))
        )
        .select(
            "doc_id",
            F.col("i").cast("int").alias("window_index"),
            (F.col("i") * 32).cast("int").alias("start_sample"),
            F.expr(
                "sha2(substring(hx, cast(i * 128 + 1 as int), 256), 256)"
            ).alias("window_hash"),
        )
    )


@query(
    "multimodal_codec_roundtrip",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS INT) AS nb,
             sha256(text) AS payload_sha256
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'image/bmp'
                ELSE 'audio/wav' END AS media_type,
           CAST(CASE WHEN doc_id % 2 = 0
                THEN 54 + 96 * greatest(1, CAST(ceil(nb / 96.0) AS INT))
                ELSE 44 + nb + nb % 2 END AS INT) AS n_media_bytes,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 32 END AS INT) AS width,
           CAST(CASE WHEN doc_id % 2 = 0
                THEN greatest(1, CAST(ceil(nb / 96.0) AS INT))
                END AS INT) AS height,
           CAST(CASE WHEN doc_id % 2 = 1 THEN 16000 END AS INT)
             AS sample_rate,
           CAST(CASE WHEN doc_id % 2 = 1 THEN (nb + nb % 2) / 2 END AS INT)
             AS n_frames,
           payload_sha256
    FROM b
    """,
    survey_ref="north-star: REAL multimodal codec round trip — 24-bit "
    "BMP and 16-bit PCM WAV containers built and parsed with pure "
    "struct/numpy codecs (operators/codecs.py), Arrow mapInPandas both "
    "ways; payload_sha256 proves byte-exact decode (pixel/PCM buffer "
    "reproduces the embedded corpus bytes; header fields recomputed by "
    "the oracle from documents alone)",
)
def multimodal_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    media = multimodal.encode_corpus_media(d)
    return multimodal.decode_media(media)


@query(
    "multimodal_png_roundtrip",
    oracle=f"""
    WITH g AS ({_PNG_GEOM_SQL})
    SELECT doc_id,
           'image/png' AS media_type,
           width,
           CAST(greatest(1, CAST(ceil(nbs / (3.0 * width)) AS INT)) AS INT)
             AS height,
           CAST(width * greatest(1, CAST(ceil(nbs / (3.0 * width)) AS INT)) * 3
             AS INT) AS n_pixel_bytes,
           sha256(text) AS payload_sha256
    FROM g JOIN documents USING (doc_id)
    """,
    survey_ref="north-star: COMPRESSED codec round trip — corpus text "
    "deflated into real PNG containers (per-row None/Sub/Up/Average/"
    "Paeth scanline filters, CRC-verified chunks, multi-IDAT) and "
    "decoded back through the generic media sniffer "
    "(operators/multimodal.decode_media). payload_sha256 == "
    "sha256(text) proves inflate+unfilter is byte-exact; width/height "
    "come from the parsed IHDR and the oracle recomputes them from "
    "octet_length alone. Container byte size is intentionally NOT a "
    "column: deflate output depends on the zlib build, and a correct "
    "roundtrip must be invariant to it",
)
def multimodal_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    media = multimodal.attach_png_payload(d, "doc_id", "text")
    decoded = multimodal.decode_media(media)
    return decoded.select(
        "doc_id",
        "media_type",
        "width",
        "height",
        (F.col("width") * F.col("height") * 3).cast("int")
        .alias("n_pixel_bytes"),
        "payload_sha256",
    )
