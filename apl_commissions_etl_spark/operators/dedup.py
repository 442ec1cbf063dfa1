"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH,
SimHash, embedding-cosine.

Scale design (100 TB):
- exact dedup = hash-groupBy on a fingerprint -- one shuffle on a
  32-hex key, heavily combinable map-side;
- n-gram Jaccard / MinHash avoid the O(n²) all-pairs comparison:
  candidate pairs come from an equi-join on shingle / LSH-band keys
  (shuffle on the band key), and only candidates get verified;
- every hash is MD5/SHA of deterministic strings -- reproducible
  across engines, partitions and runs (no JVM hashCode, no seed
  drift), which also makes the operators DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .textanalysis import fingerprint_bow, normalize_text


def word_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles, one row per (id, shingle).

    The token array is materialized as a projected column FIRST:
    inlining ``split(normalize(...))`` into the per-shingle lambda
    makes Catalyst re-evaluate the split O(tokens*n) times per row
    (measured 10x slower at sf0.1)."""
    toks = df.select(F.col(id_col), F.split(normalize_text(text_col), " ").alias("toks"))
    idx = F.sequence(F.lit(1), F.greatest(F.size("toks") - (n - 1), F.lit(0)))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("toks"), i + off) for off in range(n)]
        ),
    )
    return (
        toks.select(F.col(id_col), F.explode(grams).alias("shingle"))
        .distinct()
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one canonical row (min id) per bag-of-words fingerprint;
    report group size. Hash-groupBy: one combinable shuffle."""
    fp = df.select(
        F.col(id_col), fingerprint_bow(text_col).alias("fingerprint")
    )
    return fp.groupBy("fingerprint").agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("n_dups"),
    )


def _pair_jaccard(
    shingles: DataFrame, id_col: str, threshold: float | None = None
) -> DataFrame:
    """All candidate pairs sharing >= 1 shingle with exact Jaccard.
    The shingle equi-join IS the candidate generator -- no cartesian.

    The threshold (when given) is applied to the UNROUNDED ratio; the
    projected ``jaccard`` column is rounded to 6 dp for cross-engine
    value stability. Filtering on the rounded value would admit pairs
    whose true jaccard sits in [t - 5e-7, t) — wrong, and a mismatch
    against any oracle that filters the raw ratio."""
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = shingles.select(F.col(id_col).alias("id_a"), "shingle")
    b = shingles.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    raw = (
        F.col("inter")
        * F.lit(1.0)
        / (F.col("na") + F.col("nb") - F.col("inter"))
    )
    out = inter.join(na, "id_a").join(nb, "id_b")
    if threshold is not None:
        out = out.filter(raw >= threshold)
    return out.select(
        "id_a",
        "id_b",
        F.round(raw, 6).cast("double").alias("jaccard"),
    )


def frequent_shingles(shingles: DataFrame, max_df: int) -> DataFrame:
    """Shingles whose document frequency exceeds ``max_df`` — the
    'stop-shingles'. A shingle shared by d documents contributes
    O(d²) rows to the candidate self-join, so one boilerplate phrase
    shared by a million documents would single-handedly produce 10¹²
    candidate pairs. The heavy-hitter set is tiny by definition
    (few keys can exceed a high df), hence broadcastable."""
    return (
        shingles.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard >= threshold.

    ``max_df`` guards the candidate join against hot shingles:
    candidates come from the CAPPED shingle set (stop-shingles with
    df > max_df dropped before the self-join, bounding any one
    shingle's contribution to O(max_df²) pairs), while the Jaccard
    itself is verified against the FULL shingle sets via
    array_intersect — so surviving pairs score exactly as uncapped.
    Only pairs whose every shared shingle is a stop-shingle are lost,
    and such pairs are boilerplate collisions, not near-duplicates."""
    sh = word_shingles(df, id_col, text_col, n)
    if max_df is None:
        return _pair_jaccard(sh, id_col, threshold)
    capped = sh.join(F.broadcast(frequent_shingles(sh, max_df)), "shingle", "left_anti")
    cand = (
        capped.select(F.col(id_col).alias("id_a"), "shingle")
        .join(capped.select(F.col(id_col).alias("id_b"), "shingle"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sets = shingle_sets(sh, id_col)
    joined = cand.join(
        sets.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
    ).join(sets.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    raw = inter * F.lit(1.0) / union
    return joined.filter(raw >= threshold).select(
        "id_a",
        "id_b",
        F.round(raw, 6).cast("double").alias("jaccard"),
    )


def shingle_sets(shingles: DataFrame, id_col: str) -> DataFrame:
    """One row per id with its distinct-shingle ARRAY — the single
    shuffle every MinHash/LSH stage downstream reuses as a projection."""
    return shingles.groupBy(id_col).agg(F.collect_set("shingle").alias("sh"))


def minhash_signatures(
    shingles: DataFrame, id_col: str, num_hashes: int = 8
) -> DataFrame:
    """MinHash signature: h_j = MIN(md5('<j>:' || shingle)). MD5-as-
    permutation is deterministic and engine-independent; one groupBy
    computes all K mins."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{j}:"), F.col("shingle")))).alias(f"h{j}")
        for j in range(num_hashes)
    ]
    return shingles.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 2,
    threshold: float = 0.5,
    max_bucket: int | None = None,
    persist=None,
) -> DataFrame:
    """MinHash + LSH banding, ONE shuffle to build state then pure
    projections: shingle sets (groupBy) -> signatures = array_min of a
    per-set transform (no second aggregation) -> band keys -> band
    equi-join proposes candidates -> candidates verified with exact
    Jaccard via array_intersect on the two shingle ARRAYS (only
    candidate pairs pay the set comparison — the all-pairs shingle
    self-join never happens).

    ``max_bucket`` guards the band join against hot buckets: a band
    key shared by d documents contributes O(d²) candidates, and at
    corpus scale one degenerate key (empty docs, boilerplate) can
    dominate the whole join. Band keys with more than ``max_bucket``
    members are skipped — such buckets are mass-duplicate clusters
    that exact dedup (the cheaper pass that should run first) already
    collapses, not near-duplicate structure.

    ``persist`` (e.g. ``lambda df: df.localCheckpoint()``) is applied
    to the banded-signature frame, which the candidate stage otherwise
    references once per (band x side x hot-bucket agg) -- 8 executions
    of the heaviest aggregation for the default 2 bands (Catalyst does
    not deduplicate non-exchange subtrees). At cluster scale this is
    the signatures table every LSH system materializes."""
    rows_per_band = num_hashes // bands
    sh = word_shingles(df, id_col, text_col, n)

    # ONE aggregation computes the shingle set AND all K signature
    # mins. (Deliberately no transform/array_min lambdas here: a
    # codegen-cache collision between higher-order-function lambdas of
    # DIFFERENT queries produced a transiently wrong first execution —
    # see tests/test_llmdata.py::test_minhash_stable_after_hof_queries.)
    banded = sh.groupBy(id_col).agg(
        F.collect_set("shingle").alias("sh"),
        *[
            F.min(F.md5(F.concat(F.lit(f"{j}:"), F.col("shingle")))).alias(f"h{j}")
            for j in range(num_hashes)
        ],
    )
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(F.md5(F.concat_ws("|", *cols)).alias(f"band{b}"))
    banded = banded.select(F.col(id_col), F.col("sh"), *band_cols)
    if persist is not None:
        banded = persist(banded)

    candidates = None
    for b in range(bands):
        left = banded.select(
            F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"),
            F.col(f"band{b}").alias("bk"),
        )
        right = banded.select(
            F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"),
            F.col(f"band{b}").alias("bk"),
        )
        if max_bucket is not None:
            hot = (
                banded.groupBy(F.col(f"band{b}").alias("bk"))
                .agg(F.count(F.lit(1)).alias("c"))
                .filter(F.col("c") > max_bucket)
                .select("bk")
            )
            left = left.join(F.broadcast(hot), "bk", "left_anti")
            right = right.join(F.broadcast(hot), "bk", "left_anti")
        cand = (
            left.join(right, "bk")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "sh_a", "sh_b")
        )
        candidates = cand if candidates is None else candidates.unionByName(cand)
    candidates = candidates.dropDuplicates(["id_a", "id_b"])

    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    raw = inter * F.lit(1.0) / union
    return candidates.filter(raw >= threshold).select(
        "id_a", "id_b",
        F.round(raw, 6).cast("double").alias("jaccard"),
    )


#: hex digits with odd parity (low bit set) -- used for MD5-char-parity
#: SimHash bits, reproducible in any engine with md5 + substr.
_ODD_HEX = ("1", "3", "5", "7", "9", "b", "d", "f")


def simhash_signature(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """SimHash over tokens: bit_i = sign of sum over token occurrences
    of ±1, where ±1 is the parity of hex digit i of md5(token).
    Returns the signature as a bit-string column (cross-engine-stable;
    Hamming distance = count of differing chars)."""
    w = F.split(normalize_text(text_col), " ")
    # materialize md5 once per token; inlining it into the 16 substring
    # expressions would hash each token `bits` times
    tokens = df.select(F.col(id_col), F.explode(w).alias("tok")).select(
        F.col(id_col), F.md5("tok").alias("h")
    )
    bit_sums = [
        F.sum(
            F.when(F.substring(F.col("h"), i + 1, 1).isin(*_ODD_HEX), 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(bits)
    ]
    sums = tokens.groupBy(id_col).agg(*bit_sums)
    sig = F.concat(
        *[
            F.when(F.col(f"s{i}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(bits)
        ]
    )
    return sums.select(F.col(id_col), sig.alias("simhash"))


def hamming_banded_pairs(
    sigs: DataFrame,
    sig_col: str,
    bits: int = 64,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int = 20,
) -> DataFrame:
    """Near-duplicate SIGNATURE pairs within ``max_hamming`` bit flips,
    by banded equality join — the SimHash-family scale path applied to
    any fixed-width bit-string signature (SimHash, perceptual dHash).

    Pigeonhole soundness: with ``bands`` equal-width bands, any pair
    differing in at most ``bands - 1`` bits collides in at least one
    band, so ``max_hamming <= bands - 1`` proposes every qualifying
    pair (default 4x16-bit bands cover Hamming <= 3 exactly) — AMONG
    signatures whose colliding bands survive the ``max_bucket``
    filter. A qualifying pair whose ONLY shared bands are hot buckets
    is dropped: completeness is exact only with the guard disabled
    (``max_bucket`` >= the distinct-signature count), and callers'
    oracles must mirror the guard for parity.

    Input is a frame of DISTINCT signatures: identical signatures are
    the exact-dedup case the cheaper hash-equality groupBy already
    collapses, so the banded self-join runs at distinct-signature
    scale, not corpus scale — the candidate space a 100 TB image
    corpus can actually afford. ``max_bucket`` drops band keys shared
    by more than that many DISTINCT signatures (degenerate strata:
    all-black thumbnails, boilerplate headers), same guard as
    ``minhash_lsh_pairs``.

    Verification stays JVM-side: each 64-bit signature splits into two
    32-bit halves parsed with ``conv(_, 2, 10)``, and the Hamming
    distance is ``bit_count(a1 ^ b1) + bit_count(a2 ^ b2)`` — exact
    integer math a SQL oracle re-derives per-character.

    Returns (sig_a, sig_b, hamming)."""
    bw = bits // bands
    keyed = sigs.select(
        F.col(sig_col).alias("sig"),
        F.posexplode(
            F.array(
                *[F.substring(sig_col, b * bw + 1, bw) for b in range(bands)]
            )
        ).alias("band", "bkey"),
    )
    hot = (
        keyed.groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > max_bucket)
        .select("band", "bkey")
    )
    ok = keyed.join(F.broadcast(hot), ["band", "bkey"], "left_anti")
    cand = (
        ok.select("band", "bkey", F.col("sig").alias("sig_a"))
        .join(
            ok.select("band", "bkey", F.col("sig").alias("sig_b")),
            ["band", "bkey"],
        )
        .filter(F.col("sig_a") < F.col("sig_b"))
        .select("sig_a", "sig_b")
        .distinct()
    )

    def halves(c: str):
        h1 = F.conv(F.substring(c, 1, bits // 2), 2, 10).cast("long")
        h2 = F.conv(
            F.substring(c, bits // 2 + 1, bits - bits // 2), 2, 10
        ).cast("long")
        return h1, h2

    a1, a2 = halves("sig_a")
    b1, b2 = halves("sig_b")
    ham = (F.bit_count(a1.bitwiseXOR(b1)) + F.bit_count(a2.bitwiseXOR(b2)))
    return cand.withColumn("hamming", ham.cast("int")).filter(
        F.col("hamming") <= max_hamming
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str,
    max_iter: int = 25,
) -> DataFrame:
    """Cluster labels for the near-duplicate graph: every node gets the
    MINIMUM id reachable through the (undirected) edge set, plus the
    cluster size — the step that turns pair output (MinHash/Jaccard/
    cosine) into deduplication groups.

    Min-label propagation: each round, every node takes the min of its
    own label and its neighbors' labels; converges in O(graph diameter)
    rounds. Near-duplicate graphs are unions of small, dense clusters,
    so the diameter — and the round count — is tiny regardless of
    corpus size. Each round is ONE shuffle of the (sparse) edge list
    joined to the label frame; ``edges`` is eagerly localCheckpoint-ed
    first so the upstream candidate-generation plan (LSH etc.) runs
    exactly once, and each round's labels are checkpointed to truncate
    the iterative lineage. For adversarial graphs with long chains the
    alternating large-star/small-star variant (O(log n) rounds) is the
    drop-in upgrade; the per-round dataflow below is the same.
    """
    edges = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).localCheckpoint()
    und = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # Iterate ONLY over edge-touched nodes: a node with no incident
    # edge keeps label == self in every round, so shuffling the full
    # corpus node list through each iteration (the naive form) is pure
    # waste — at 100 TB the touched set is the duplicate fraction
    # (typically ≪1% of documents) while `nodes` is the corpus. The
    # untouched remainder is appended once at the end as singleton
    # clusters; a ≥2-node cluster can only contain edge-touched nodes,
    # so sizes computed on the touched subset are exact.
    touched = (
        und.select("src").distinct()
        .withColumnRenamed("src", "node")
        .localCheckpoint()
    )
    labels = touched.withColumn("label", F.col("node")).localCheckpoint()
    for _ in range(max_iter):
        flowed = und.join(
            labels.withColumnRenamed("node", "src"), "src"
        ).select(F.col("dst").alias("node"), "label")
        new_labels = (
            labels.unionByName(flowed)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        changed = (
            new_labels.withColumnRenamed("label", "new_label")
            .join(labels, "node")
            .filter(F.col("new_label") != F.col("label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # A truncated propagation would SILENTLY return wrong labels
        # (each node gets its min within max_iter hops, not its
        # component min) — fail loudly instead. Near-duplicate graphs
        # converge in a handful of rounds; a graph that doesn't has a
        # diameter this algorithm is the wrong tool for.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "rounds (graph diameter exceeds the bound); use "
            "connected_components_star (O(log n) rounds) for "
            "long-chain graphs"
        )
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    clustered = labels.join(sizes, "label").select(
        F.col("node").alias(id_col),
        F.col("label").alias("cluster_id"),
        F.col("cluster_size").cast("long").alias("cluster_size"),
    )
    singletons = (
        nodes.select(F.col(id_col))
        .join(touched.withColumnRenamed("node", id_col), id_col, "left_anti")
        .select(
            F.col(id_col),
            F.col(id_col).alias("cluster_id"),
            F.lit(1).cast("long").alias("cluster_size"),
        )
    )
    return clustered.unionByName(singletons)


def connected_components_star(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str,
    max_iter: int = 20,
) -> DataFrame:
    """Connected components by alternating LARGE-STAR / SMALL-STAR
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014) — the O(log n)-round drop-in upgrade over
    ``connected_components``' min-label propagation, whose round count
    is the graph DIAMETER. Near-duplicate graphs have tiny diameters,
    so propagation wins there; this variant is for adversarial shapes
    (long chains: CDC lineage graphs, citation threads) where diameter
    ~ n and propagation would run n rounds.

    Per round, each operation is one groupBy over the edge list:
    large-star points every neighbor LARGER than u at u's minimum
    neighborhood element; small-star (on edges oriented large→small,
    which large-star's output already is) points every smaller
    neighbor — and u itself — at the minimum. The edge set converges
    to per-component stars rooted at the component minimum; both
    operations only ever shrink the potential, and the fixpoint test
    is an exact set comparison of consecutive edge sets (ONE
    symmetric-difference job: full outer join on (u, v) counting rows
    missing from either side, over checkpointed edge-scale frames).

    Output contract is identical to ``connected_components``:
    (id_col, cluster_id = component minimum, cluster_size), singletons
    included."""
    E = (
        edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    for _ in range(max_iter):
        # LARGE-STAR: gather full (bidirectional) neighborhoods
        und = E.unionByName(
            E.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = und.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("u", "mn").alias("m"))
        large = (
            und.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        # SMALL-STAR: large-star's edges are already oriented u > v
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .unionByName(mins2.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint()
        )
        diff = (
            E.withColumn("_old", F.lit(1))
            .join(
                small.withColumn("_new", F.lit(1)), ["u", "v"], "full_outer"
            )
            .filter(F.col("_old").isNull() | F.col("_new").isNull())
            .count()
        )
        E = small
        if diff == 0:
            break
    else:
        # same loud-failure contract as connected_components: a
        # non-fixpoint edge set is not a star forest and the label
        # read-off below would be wrong
        raise RuntimeError(
            f"connected_components_star did not reach its fixpoint in "
            f"{max_iter} rounds"
        )
    # fixpoint stars: (child u -> root v); roots label themselves
    labels = (
        E.select(F.col("u").alias("node"), F.col("v").alias("label"))
        .unionByName(
            E.select(F.col("v").alias("node"), F.col("v").alias("label"))
        )
        .distinct()
    )
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    clustered = labels.join(sizes, "label").select(
        F.col("node").alias(id_col),
        F.col("label").alias("cluster_id"),
        F.col("cluster_size").cast("long").alias("cluster_size"),
    )
    singletons = (
        nodes.select(F.col(id_col))
        .join(
            labels.withColumnRenamed("node", id_col).select(id_col),
            id_col,
            "left_anti",
        )
        .select(
            F.col(id_col),
            F.col(id_col).alias("cluster_id"),
            F.lit(1).cast("long").alias("cluster_size"),
        )
    )
    return clustered.unionByName(singletons)


def connected_components_auto(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str,
    dense_degree_threshold: float = 1.5,
    max_iter: int = 25,
) -> DataFrame:
    """Density-dispatching entry point over the two CC variants — the
    ONE place signature families should call, so the r8 wiring mistake
    (a dense 16-bit signature graph fed to min-label propagation, which
    blew its round bound at sf0.1) cannot repeat.

    Both variants compute the identical exact result — (id, cluster_id
    = component minimum, cluster_size), singletons included — so the
    dispatch is purely a performance/termination choice:

    - propagation (``connected_components``) runs O(diameter) rounds:
      right for sparse near-dup graphs (unions of small dense clusters,
      avg degree ≈ 1, tiny diameter);
    - star contraction (``connected_components_star``) runs O(log n)
      rounds: right for dense collision graphs (banded pairs over a
      SMALL signature space), whose giant components have diameters
      that kill propagation.

    Dispatch signal: average degree of the materialized edge list (two
    counts over a frame both variants checkpoint anyway — at 100 TB
    this is two cheap jobs over the delta-scale pair set, noise next
    to the rounds they steer). Measured on this repo's graphs: the
    sparse families (MinHash-LSH pairs, 64-bit dhash) sit at ~1.0 at
    both sf0.01 and sf0.1, the dense 16-bit simhash graph — the r8
    failure — at 2.15-2.49; 1.5 splits them with margin on both sides.
    A graph that still exhausts propagation's round bound falls back
    to star contraction instead of failing (the loud RuntimeError stays
    in the direct-call path; through the wrapper the budget blow is a
    re-dispatch, never a wrong label)."""
    e = (
        edges.select("id_a", "id_b")
        .filter(F.col("id_a") != F.col("id_b"))
        .localCheckpoint()
    )
    n_edges = e.count()
    touched = (
        e.select(F.col("id_a").alias("n"))
        .unionByName(e.select(F.col("id_b").alias("n")))
        .distinct()
        .count()
    )
    avg_degree = 2.0 * n_edges / max(touched, 1)
    if avg_degree >= dense_degree_threshold:
        return connected_components_star(e, nodes, id_col)
    try:
        return connected_components(e, nodes, id_col, max_iter=max_iter)
    except RuntimeError:
        return connected_components_star(e, nodes, id_col)


def embedding_lsh_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    planes_per_band: int = 4,
    bands: int = 16,
    max_bucket: int = 50,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine — the SCALE path.

    Sign-LSH banded candidate generation (the random-hyperplane twin of
    the MinHash band join): each vector keys into ``bands`` buckets,
    one per contiguous group of ``planes_per_band`` coordinates, the
    bucket id being the sign pattern of that group. Two vectors at
    angle θ agree on one plane with p = 1 - θ/π, so a band matches with
    p^planes and at least one of B bands matches with 1-(1-p^planes)^B
    — at cosine 0.4, 4x16 gives ~94% recall while pruning the
    candidate space to same-bucket pairs (vs the O(n²) crossJoin of
    ``embedding_cosine_pairs``, kept as the correctness baseline).

    Candidates come from per-band bucket equi-joins (never a
    cartesian); cosine is verified on candidates only, so the output is
    exactly a subset of the brute-force pairs. Buckets larger than
    ``max_bucket`` are dropped before the self-join — mass-duplicate
    clusters belong to exact dedup, the same hot-bucket contract as the
    MinHash band join (and the reason the band join stays near-linear
    on duplicate-dense corpora)."""
    from .similarity import cosine

    keyed_cols = []
    for b in range(bands):
        signs = [
            F.when(
                F.element_at(F.col(vec_col), b * planes_per_band + i + 1) >= 0,
                "1",
            ).otherwise("0")
            for i in range(planes_per_band)
        ]
        keyed_cols.append(
            F.struct(F.lit(b).alias("band"), F.concat(*signs).alias("bucket"))
        )
    keyed = emb.select(
        F.col(id_col).alias("id"), F.explode(F.array(*keyed_cols)).alias("bb")
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    # bucket-size cap: the (band, bucket) count table is at most
    # bands * 2^planes rows — broadcast-small at any corpus size
    ok = (
        keyed.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= max_bucket)
        .select("band", "bucket")
    )
    keyed = keyed.join(F.broadcast(ok), ["band", "bucket"])
    a = keyed.select("band", "bucket", F.col("id").alias("id_a"))
    b2 = keyed.select("band", "bucket", F.col("id").alias("id_b"))
    cand = (
        a.join(b2, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ea = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    eb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select("id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_cosine_pairs(
    emb: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= threshold.
    Brute-force all-pairs -- correctness baseline; the LSH-bucketed
    variant ``embedding_lsh_pairs`` above is the scale path."""
    from .similarity import cosine

    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cosine(F.col("va"), F.col("vb")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs by word-SET Jaccard >= threshold using
    PREFIX FILTERING (the canonical set-similarity-join pruning,
    PPJoin-family): tokens are globally ordered rarest-first (df asc,
    token asc); a pair with Jaccard >= t must share a token inside
    each document's first ``n - ceil(t*n) + 1`` tokens of that order,
    so ONLY prefix tokens enter the candidate equi-join. Because the
    prefix is the RAREST part of each document, hot tokens are pruned
    from candidate generation by construction — a principled bound
    where the shingle path needs an explicit df cap — and the
    guarantee is lossless: no qualifying pair can be missed.
    Candidates then verify EXACT Jaccard on the full token sets.

    At 100 TB: token-df ranking is one key-scale aggregation, the
    candidate space is sum over prefix tokens of df² (small by
    construction), and every stage is an equi-join/groupBy — no
    cartesian anywhere."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.split(normalize_text(text_col), " ")))
        .alias("t"),
    )
    tdf = toks.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    w_doc = Window.partitionBy(id_col)
    ranked = (
        toks.join(tdf, "t")
        .withColumn(
            "rn",
            F.row_number().over(w_doc.orderBy("df", "t")),
        )
        .withColumn("n", F.count(F.lit(1)).over(w_doc))
    )
    pref = ranked.filter(
        F.col("rn") <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
    ).select(id_col, "t")
    cand = (
        pref.select(F.col(id_col).alias("id_a"), "t")
        .join(pref.select(F.col(id_col).alias("id_b"), "t"), "t")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sets = toks.groupBy(id_col).agg(F.collect_set("t").alias("ts"))
    joined = cand.join(
        sets.select(F.col(id_col).alias("id_a"), F.col("ts").alias("ts_a")),
        "id_a",
    ).join(
        sets.select(F.col(id_col).alias("id_b"), F.col("ts").alias("ts_b")),
        "id_b",
    )
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    union = F.size("ts_a") + F.size("ts_b") - inter
    raw = inter * F.lit(1.0) / union
    return joined.filter(raw >= threshold).select(
        "id_a",
        "id_b",
        F.round(raw, 6).cast("double").alias("jaccard"),
    )
