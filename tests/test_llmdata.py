"""Tests for the LLM-data operators that the DuckDB oracle can't
cover: banded Hamming pair soundness, connected components, multimodal
batch plumbing."""

from __future__ import annotations

from apl_commissions_etl_spark.operators import dedup, multimodal
from apl_commissions_etl_spark.sources.testdata import load_table


def test_multimodal_decode_batching(spark, sf_dir):
    import hashlib

    d = load_table(spark, sf_dir, "documents").repartition(4)
    out = multimodal.decode_features(
        multimodal.attach_png_payload(d, "doc_id", "text"), "doc_id"
    )
    rows = out.collect()
    assert len(rows) == d.count()
    # real decode: dimensions from IHDR, hash over the recovered bytes
    texts = {r.doc_id: r.text for r in d.select("doc_id", "text").collect()}
    for r in rows[:25]:
        raw = texts[r.doc_id].encode("utf-8")
        assert r.n_bytes == len(raw)
        assert r.content_hash == hashlib.sha256(raw).hexdigest()
        # geometry derives from the STORED length (payload + 4-byte
        # length prefix) — mirrors multimodal._png_geometry
        assert r.width == 16 + (len(raw) + 4) % 48
        assert r.height == max(1, -(-(len(raw) + 4) // (3 * r.width)))


def test_png_payload_ending_in_nul_roundtrips_exactly(spark, sf_dir):
    """The length-prefixed pixel buffer must recover payloads that
    legitimately END in NUL bytes — the case trailing-NUL stripping
    silently corrupted."""
    import hashlib

    texts = ["ends in nul\x00\x00", "\x00", "plain", "a\x00b\x00"]
    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = {
        r.doc_id: r
        for r in multimodal.decode_features(
            multimodal.attach_png_payload(d, "doc_id", "text"), "doc_id"
        ).collect()
    }
    for i, t in enumerate(texts):
        raw = t.encode("utf-8")
        assert out[i].n_bytes == len(raw)
        assert out[i].content_hash == hashlib.sha256(raw).hexdigest()


def test_multimodal_resize_and_frame_sampling(spark, sf_dir):
    from apl_commissions_etl_spark.sources.testdata import load_table

    d = load_table(spark, sf_dir, "documents").limit(50)
    decoded = multimodal.decode_features(
        multimodal.attach_png_payload(d, "doc_id", "text"), "doc_id"
    )
    resized = multimodal.resize_plan(decoded, 224, 224).collect()
    assert len(resized) == 50
    for r in resized:
        assert 1 <= r.resized_w <= 224 and 1 <= r.resized_h <= 224
        # fit-within-box: the binding side lands on 224 (or 223 via
        # float-floor truncation)
        assert max(r.resized_w, r.resized_h) in (223, 224)

    frames = multimodal.sample_frames(
        multimodal.attach_binary_payload(d, "text"), "doc_id",
        frame_every_bytes=256,
    )
    rows = frames.collect()
    # every doc emits >= 1 frame; frame count matches blob size
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r.frame_index)
    assert set(per_doc) == {r.doc_id for r in d.select("doc_id").collect()}
    for doc_id, idxs in per_doc.items():
        assert sorted(idxs) == list(range(len(idxs)))
    # deterministic: same input -> same hashes
    again = {(r.doc_id, r.frame_index): r.frame_hash for r in frames.collect()}
    assert {(r.doc_id, r.frame_index): r.frame_hash for r in rows} == again


def test_connected_components_path_graph(spark):
    """A 5-node path (needs multiple propagation rounds) plus an
    isolated node and a separate triangle: labels = component minima,
    sizes correct."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12)],
        "id_a long, id_b long",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 7, 10, 11, 12]], "doc_id long"
    )
    got = {
        r.doc_id: (r.cluster_id, r.cluster_size)
        for r in dedup.connected_components(edges, nodes, "doc_id").collect()
    }
    assert {k: v[0] for k, v in got.items()} == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 7: 7, 10: 10, 11: 10, 12: 10,
    }
    assert got[3][1] == 5 and got[7][1] == 1 and got[11][1] == 3


def test_connected_components_matches_union_find(spark):
    """Property test: on random small graphs, min-label propagation
    agrees with a reference union-find on every node's component
    minimum and component size."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    edge = st.tuples(st.integers(0, 25), st.integers(0, 25))

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.lists(edge, min_size=0, max_size=30))
    def check(pairs):
        pairs = [(a, b) for a, b in pairs if a != b]
        nodes = sorted({n for p in pairs for n in p} | {0, 25})
        # reference union-find
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want_label = {n: find(n) for n in nodes}
        sizes: dict = {}
        for n in nodes:
            sizes[want_label[n]] = sizes.get(want_label[n], 0) + 1

        edges_df = spark.createDataFrame(
            pairs or [(0, 0)], "id_a long, id_b long"
        )
        if not pairs:
            edges_df = edges_df.filter("id_a <> id_a")  # empty edge set
        nodes_df = spark.createDataFrame([(n,) for n in nodes], "doc_id long")
        got = {
            r.doc_id: (r.cluster_id, r.cluster_size)
            for r in dedup.connected_components(
                edges_df, nodes_df, "doc_id"
            ).collect()
        }
        assert {n: got[n][0] for n in nodes} == want_label
        assert all(got[n][1] == sizes[want_label[n]] for n in nodes)

    check()


def test_hamming_banded_pairs_exact_within_bound(spark):
    """Pigeonhole guarantee: with 4x16-bit bands, EVERY signature pair
    within Hamming<=3 is emitted with its exact distance; pairs beyond
    the bound are excluded by the verification filter even when a band
    collides."""
    import itertools

    base = "01" * 32

    def flip(s, idxs):
        cs = list(s)
        for i in idxs:
            cs[i] = "1" if cs[i] == "0" else "0"
        return "".join(cs)

    sigs = [
        base,
        flip(base, [0]),                 # 1 flip
        flip(base, [1, 17, 33]),         # 3 flips, one per band
        flip(base, [2, 18, 34, 50]),     # 4 flips spread over all bands
        "1" * 64,
    ]
    df = spark.createDataFrame([(s,) for s in sigs], "dhash string")
    got = {
        tuple(sorted((r.sig_a, r.sig_b))): r.hamming
        for r in dedup.hamming_banded_pairs(
            df, "dhash", bits=64, bands=4, max_hamming=3, max_bucket=20
        ).collect()
    }

    def ham(a, b):
        return sum(x != y for x, y in zip(a, b))

    expect = {
        tuple(sorted(p)): ham(*p)
        for p in itertools.combinations(sigs, 2)
        if ham(*p) <= 3
    }
    assert got == expect and len(expect) == 2


def test_hamming_banded_pairs_hot_bucket_guard(spark):
    """max_bucket drops band keys shared by more than that many
    DISTINCT signatures: 21 signatures identical in bands 0-2 and
    pairwise-distinct in band 3 produce zero pairs at max_bucket=20
    (the only colliding bands are hot; band-3 buckets are singletons)
    and reappear when the bound is lifted."""
    base = "0" * 64

    def flip_last(i):
        cs = list(base)
        cs[48 + i] = "1"
        return "".join(cs)

    sigs = [base] + [flip_last(i) for i in range(16)] + [
        "0" * 48 + "11" + "0" * 14,
        "0" * 48 + "011" + "0" * 13,
        "0" * 48 + "0011" + "0" * 12,
        "0" * 48 + "00011" + "0" * 11,
    ]
    assert len(sigs) == len(set(sigs)) == 21
    df = spark.createDataFrame([(s,) for s in sigs], "dhash string")
    bounded = dedup.hamming_banded_pairs(
        df, "dhash", bits=64, bands=4, max_hamming=3, max_bucket=20
    )
    assert bounded.count() == 0
    lifted = dedup.hamming_banded_pairs(
        df, "dhash", bits=64, bands=4, max_hamming=3, max_bucket=50
    )
    assert lifted.count() > 0


def test_image_dedup_hamming_transitive_labels(spark, sf_dir):
    """The registered query's clusters are transitive over near-dup
    hash links and every doc carries (min doc_id, component size);
    docs sharing an identical dhash always share a cluster."""
    from apl_commissions_etl_spark.registry import all_queries

    qs = all_queries()
    rows = qs["multimodal_image_dedup_hamming"].spark_fn(
        spark, sf_dir
    ).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        assert cid == min(m.doc_id for m in members)
        assert all(m.cluster_size == len(members) for m in members)
    by_hash = {}
    for r in rows:
        by_hash.setdefault(r.dhash, set()).add(r.cluster_id)
    assert all(len(v) == 1 for v in by_hash.values())


def test_star_cc_matches_propagation_and_beats_diameter(spark):
    """large-star/small-star converges on a 64-diameter path within 8
    alternating rounds (min-label propagation needs 63) and produces
    the identical (label, size) contract, singletons included."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 64)] + [(70, 71)],
        "id_a long, id_b long",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in list(range(1, 65)) + [70, 71, 99]], "doc_id long"
    )
    star = {
        r.doc_id: (r.cluster_id, r.cluster_size)
        for r in dedup.connected_components_star(
            edges, nodes, "doc_id", max_iter=8
        ).collect()
    }
    assert all(star[i] == (1, 64) for i in range(1, 65))
    assert star[70] == star[71] == (70, 2)
    assert star[99] == (99, 1)
    prop = {
        r.doc_id: (r.cluster_id, r.cluster_size)
        for r in dedup.connected_components(
            edges, nodes, "doc_id", max_iter=100
        ).collect()
    }
    assert star == prop
    # propagation REFUSES to return truncated (silently wrong) labels
    # when the diameter exceeds its round bound
    import pytest

    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(
            edges, nodes, "doc_id", max_iter=10
        ).collect()


def test_auto_cc_dispatches_and_survives_long_chains(spark):
    """connected_components_auto must return the exact CC labels on
    BOTH graph shapes: a sparse pair graph (avg degree ~1 -> it picks
    propagation) and a long chain whose degree is sparse but whose
    diameter exceeds propagation's round bound — the shape where the
    wrapper's star-contraction FALLBACK, not a RuntimeError, is the
    contract (the r8 wiring-mistake defense)."""
    # sparse pairs: degree 1.0, propagation path
    pairs = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in range(1, 8)], "doc_id long"
    )
    auto = {
        r.doc_id: (r.cluster_id, r.cluster_size)
        for r in dedup.connected_components_auto(
            pairs, nodes, "doc_id"
        ).collect()
    }
    assert auto == {1: (1, 2), 2: (1, 2), 3: (3, 2), 4: (3, 2),
                    5: (5, 2), 6: (5, 2), 7: (7, 1)}

    # 64-long chain with max_iter=10: direct propagation raises; the
    # wrapper falls back to star contraction and still returns the
    # exact labels (avg degree ~2 on a chain also crosses the dense
    # threshold, so this doubles as the dense-dispatch check)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 64)], "id_a long, id_b long"
    )
    cnodes = spark.createDataFrame(
        [(i,) for i in range(1, 65)], "doc_id long"
    )
    labels = {
        r.doc_id: (r.cluster_id, r.cluster_size)
        for r in dedup.connected_components_auto(
            chain, cnodes, "doc_id", max_iter=10
        ).collect()
    }
    assert all(labels[i] == (1, 64) for i in range(1, 65))
