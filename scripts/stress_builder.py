"""Groups-replication stress for the 06b-06e mode cascade: replicate
the certificate input 1x / 4x / 16x with UNIQUE GroupIds per replica
(group count scales — the cascade's real scale axis: its key tables
are per-group aggregates), run the full routing cascade plus the 06f
split-config documents cold, and update the "Groups-replication
stress" section of SCALING.md.

What this demonstrates for 100 TB: the cascade touches certificate-
scale data exactly once (the finest-key aggregation in
plans/builder_modes.finest_configs); every routing level then works on
key-scale frames. So time should track the ONE fact aggregation's scan
cost, not the number of cascade levels — replicating groups grows both
facts and keys proportionally, and the slope stays ~linear with no
superlinear key-table blowup.

Usage: python scripts/stress_builder.py
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from apl_commissions_etl_spark.plans import builder, builder_modes as modes
from apl_commissions_etl_spark.plans.builder_fixtures import (
    register_builder_views,
)
from apl_commissions_etl_spark.session import get_spark

SF = "/root/testdata/sf0.1"
OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALING.md"
)
MARK = "## Groups-replication stress (06b-06e mode cascade)"


def main() -> None:
    spark = get_spark("stress-builder")
    register_builder_views(spark, SF)
    base = spark.table("input_certificate_info")

    # throwaway pass: JVM JIT + codegen warm-up must not be billed to
    # the 1x row (it distorts every ratio in the table)
    warm = base.repartition(spark.sparkContext.defaultParallelism)
    ps_warm = builder.split_hierarchies(warm).localCheckpoint()
    builder.selection_criteria(warm, per_split=ps_warm).count()

    rows = []
    for k in (1, 4, 16):
        # same spread the engine applies (the REPARTITION hint in
        # input_certificate_info): the derived view is ONE partition
        # locally, so the replicated explode and
        # the whole-fact aggregations would otherwise run
        # single-threaded — on a real cluster the scan provides this.
        # Spread BEFORE the explode so replication itself parallelizes.
        certs = base.repartition(spark.sparkContext.defaultParallelism)
        if k > 1:
            certs = (
                base.withColumn(
                    "replica", F.explode(F.sequence(F.lit(1), F.lit(k)))
                )
                .withColumn(
                    "GroupId",
                    F.concat_ws(
                        "R", "GroupId", F.col("replica").cast("string")
                    ),
                )
                .withColumn(
                    "CertificateId",
                    F.col("CertificateId")
                    + F.col("replica").cast("bigint") * F.lit(10**12),
                )
                .drop("replica")
            )
        t0 = time.time()
        # build the per-split frame ONCE and share it (the whole-fact
        # hash aggregation is the dominant shared subplan; computing it
        # twice would double-count the fact scan in both columns)
        per_split = builder.split_hierarchies(certs).localCheckpoint()
        crit = builder.selection_criteria(
            certs, per_split=per_split
        ).localCheckpoint()
        cascade = modes.mode_cascade(
            crit, persist=lambda df: df.localCheckpoint()
        )
        n_keys = (
            cascade["pd_keys"].count()
            + cascade["yd_keys"].count()
            + cascade["granular_keys"].count()
        )
        t_cascade = round(time.time() - t0, 2)
        t1 = time.time()
        docs = modes.mode_prestage_split_configs(
            cascade, crit, certs, per_split=per_split
        ).count()
        t_06f = round(time.time() - t1, 2)
        rows.append((k, n_keys, t_cascade, docs, t_06f))
        print(
            f"[stress] {k}x groups -> {n_keys} mode keys in {t_cascade}s, "
            f"{docs} split-config docs in {t_06f}s",
            file=sys.stderr,
        )

    base_t = rows[0][2] + rows[0][4]
    lines = [
        MARK,
        "",
        "`input_certificate_info` replicated in-plan with unique GroupIds",
        "per replica (group count scales with the facts — the cascade's",
        "key tables are per-group aggregates, so this is the axis that",
        "could blow up a design that re-materializes certificate-level",
        "stages). Criteria build + full 06b-06e routing + 06f documents,",
        "cold plans, sf0.1 base, local[32]:",
        "",
        "| groups | mode keys | cascade s | 06f docs | 06f s | total vs 1x | data vs 1x |",
        "|---|---|---|---|---|---|---|",
    ]
    for k, n_keys, t_c, docs, t_f in rows:
        lines.append(
            f"| {k}x | {n_keys} | {t_c} | {docs} | {t_f} | "
            f"{round((t_c + t_f) / base_t, 1)}x | {k}x |"
        )
    lines += [
        "",
        "The cascade shuffles certificate-scale data exactly once (the",
        "finest-key pre-aggregation); all routing levels run on key-scale",
        "frames, so total time tracks the fact scan/aggregation slope and",
        "the anti-join chain adds near-zero marginal cost as groups grow.",
        "",
    ]
    section = "\n".join(lines)

    text = open(OUT).read()
    if MARK in text:
        text = re.sub(
            re.escape(MARK) + r".*?(?=^## |\Z)",
            section,
            text,
            flags=re.S | re.M,
        )
    else:
        text = text.rstrip() + "\n\n" + section + "\n"
    open(OUT, "w").write(text)
    print(f"updated {OUT}")


if __name__ == "__main__":
    main()
