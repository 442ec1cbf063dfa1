"""Invariants for the corpus-preparation operators beyond what the
value-hash oracles prove: packing geometry, sampling statistics,
quantization error bounds, mix-rate algebra."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from apl_commissions_etl_spark.operators import corpus, textanalysis as ta
from apl_commissions_etl_spark.sources.testdata import load_table


def test_pack_sequences_contiguous_and_monotone(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    packed = corpus.pack_sequences(
        d, "doc_id", "source", ta.token_count_ws("text"), budget=128
    ).collect()
    by_source: dict[str, list] = {}
    for r in packed:
        by_source.setdefault(r.source, []).append(r)
    for rows in by_source.values():
        rows.sort(key=lambda r: r.doc_id)
        offset = 0
        prev_bin = 0
        for r in rows:
            # offsets are the exact running sum (no gaps, no overlap)
            assert r.start_offset == offset
            assert r.bin_id == offset // 128
            assert r.bin_id >= prev_bin  # bins only move forward
            offset += r.n_tokens
            prev_bin = r.bin_id


def test_stratified_sample_is_deterministic_subset(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    thresh = F.when(F.col("lang") == "en", 1024).otherwise(4096)
    once = d.filter(corpus.hash_bucket("doc_id") < thresh)
    kept = {r.doc_id for r in once.select("doc_id").collect()}
    again = {r.doc_id for r in once.select("doc_id").collect()}
    assert kept == again  # pure function of the key, no RNG state
    # non-en strata keep everything (threshold 4096 = all buckets)
    non_en = {
        r.doc_id for r in d.filter(F.col("lang") != "en").select("doc_id").collect()
    }
    assert non_en <= kept


def test_quantize_int8_error_bound(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings").limit(50)
    scale, q = corpus.quantize_int8(F.col("embedding"))
    rows = e.select("embedding", scale.alias("s"), q.alias("q")).collect()
    for r in rows:
        assert all(-127 <= v <= 127 for v in r.q)
        # dequantized error is at most half a step per element
        for x, v in zip(r.embedding, r.q):
            assert abs(v * r.s - x) <= r.s / 2 + 1e-9


def test_mix_rates_hit_target_proportions(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    w = F.when(F.col("source") == "src0", 3.0).otherwise(1.0)
    rates = corpus.source_mix_rates(counts, w).collect()
    by_src = {r.source: r for r in rates}
    # at least one source keeps everything (the binding constraint)
    assert math.isclose(max(r.keep_rate for r in rates), 1.0)
    # expected kept counts are proportional to the weights wherever
    # the rate is not clipped at 1.0
    unclipped = [r for r in rates if r.keep_rate < 1.0]
    for r in unclipped:
        eff = r.n_docs * r.keep_rate / r.mix_weight
        base = min(x.n_docs / x.mix_weight for x in rates)
        assert math.isclose(eff, base, rel_tol=1e-9)


def test_repetition_metrics_known_values(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a a"),  # one word repeated
            (2, "a b c d"),  # all distinct
            (3, "x y x y x y"),  # alternating pair
        ],
        "id int, text string",
    )
    rows = {r.id: r for r in corpus.repetition_metrics(df, "id", "text").collect()}
    assert math.isclose(rows[1].dup_word_frac, 0.75)
    assert math.isclose(rows[1].top_word_frac, 1.0)
    assert math.isclose(rows[1].dup_3gram_frac, 0.5)  # 'a a a' x2 -> 1 distinct
    assert rows[2].dup_word_frac == 0.0
    assert math.isclose(rows[2].top_word_frac, 0.25)
    assert rows[2].dup_3gram_frac == 0.0
    assert math.isclose(rows[3].dup_word_frac, 1.0 - 2.0 / 6.0)
    # 4 shingles: 'x y x','y x y','x y x','y x y' -> 2 distinct
    assert math.isclose(rows[3].dup_3gram_frac, 0.5)


def test_pack_sequences_matches_python_reference(spark):
    """Property test: on random (id, part, tokens) rows, the window
    packing agrees with a sequential Python fold per partition."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    row = st.tuples(
        st.integers(0, 40),  # doc id (may collide across parts)
        st.sampled_from(["p0", "p1", "p2"]),
        st.integers(0, 700),  # token count (can exceed the budget)
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.lists(row, min_size=1, max_size=40, unique_by=lambda r: (r[0], r[1])))
    def check(rows):
        df = spark.createDataFrame(rows, "doc_id long, part string, n long")
        got = {
            (r.doc_id, r.part): (r.bin_id, r.start_offset)
            for r in corpus.pack_sequences(
                df, "doc_id", "part", F.col("n"), budget=100
            ).collect()
        }
        for part in {r[1] for r in rows}:
            offset = 0
            for doc_id, _, n in sorted(r for r in rows if r[1] == part):
                assert got[(doc_id, part)] == (offset // 100, offset)
                offset += n

    check()


def test_repetition_metrics_match_python_reference(spark):
    """Property test: repetition ratios agree with a direct Python
    computation over random word-soup documents."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    doc = st.lists(
        st.sampled_from(["a", "b", "c", "dd", "ee"]), min_size=1, max_size=12
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.lists(doc, min_size=1, max_size=10))
    def check(docs):
        rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
        df = spark.createDataFrame(rows, "id long, text string")
        got = {
            r.id: r
            for r in corpus.repetition_metrics(df, "id", "text").collect()
        }
        for i, ws in enumerate(docs):
            n = len(ws)
            want_dup = 1.0 - len(set(ws)) / n
            want_top = max(ws.count(w) for w in set(ws)) / n
            sh = [" ".join(ws[j : j + 3]) for j in range(n - 2)] if n >= 3 else []
            want_3g = (1.0 - len(set(sh)) / len(sh)) if sh else 0.0
            r = got[i]
            assert abs(r.dup_word_frac - want_dup) < 1e-12
            assert abs(r.top_word_frac - want_top) < 1e-12
            assert abs(r.dup_3gram_frac - want_3g) < 1e-12

    check()


