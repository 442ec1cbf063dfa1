"""Near-duplicate clustering operators for fixed-width bit-string
signatures: the banded Hamming pair join and connected components.

Scale design (100 TB):
- the banded self-join avoids the O(n²) all-pairs comparison:
  candidate pairs come from an equi-join on band keys (shuffle on the
  band key), and only candidates get their Hamming distance verified;
- components come from iterative min-label propagation or star
  contraction over the sparse pair graph, each round checkpointed;
- every signature is derived from deterministic bytes, so the
  operators are reproducible across engines, partitions and runs,
  which also makes them DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hamming_banded_pairs(
    sigs: DataFrame,
    sig_col: str,
    bits: int = 64,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int = 20,
) -> DataFrame:
    """Near-duplicate SIGNATURE pairs within ``max_hamming`` bit flips,
    by banded equality join — the scale path for any fixed-width
    bit-string signature (here the perceptual dHash).

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
    all-black thumbnails, boilerplate headers): without it one hot
    band key of d signatures costs O(d²) candidate rows.

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
    cluster size — the step that turns near-duplicate pair output
    into deduplication groups.

    Min-label propagation: each round, every node takes the min of its
    own label and its neighbors' labels; converges in O(graph diameter)
    rounds. Near-duplicate graphs are unions of small, dense clusters,
    so the diameter — and the round count — is tiny regardless of
    corpus size. Each round is ONE shuffle of the (sparse) edge list
    joined to the label frame; ``edges`` is eagerly localCheckpoint-ed
    first so the upstream candidate-generation plan (banded join) runs
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
    to the rounds they steer). Measured on the graphs this wrapper was
    tuned on: sparse pair graphs (64-bit dhash pairs) sit at ~1.0 at
    both sf0.01 and sf0.1, a dense 16-bit signature graph — the r8
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
