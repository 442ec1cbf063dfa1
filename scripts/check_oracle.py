"""Local mimic of the driver's t2 correctness gate.

Runs every registered query on Spark and its oracle on DuckDB at the
given sf dir, and compares row-count, column names, and an
order-insensitive value comparison (sorted columns, sorted rows,
exact equality for non-floats, tight tolerance report for floats --
the real driver hashes, so we flag ANY float mismatch loudly).

Usage: python scripts/check_oracle.py [sf_dir] [name_filter...]

``--scale-smoke``: the pre-sweep scale-regression gate (r8 verdict
item 3 — a banded-Hamming dedup query failed ONLY at sf0.1, which no
routine check ran). Diffs the registry against the newest committed
SWEEP_r*.log to find every query added since the last round and runs
each at sf0.1 in its OWN fresh subprocess session with the configured
(real, non-vanilla) driver heap — per the session-budget note in
registry.py, sf0.1 calc-cascade queries die in a 1g vanilla heap for
MEMORY reasons, so the vanilla mimicry stays an sf0.01 concern while
this mode answers "does the new query RUN and match its oracle at 10x
data". Extra names (or ``--all-names``) widen the set.
"""

from __future__ import annotations

import glob
import math
import os
import re
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from apl_commissions_etl_spark.registry import all_queries
from apl_commissions_etl_spark.session import get_spark
from apl_commissions_etl_spark.sources.testdata import TABLES


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        # all-null numeric columns surface as NaN through pandas
        return None if math.isnan(v) else v
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(norm_cell(x) for x in v)
    if hasattr(v, "item") and type(v).__module__ == "numpy":
        return v.item()
    if hasattr(v, "isoformat"):  # date/datetime
        import pandas as pd

        if pd.isna(v):  # NaT
            return None
        return v.isoformat()[:26]
    return v


def rows_of(df_pandas):
    cols = sorted(df_pandas.columns)
    out = []
    for t in df_pandas[cols].itertuples(index=False, name=None):
        out.append(tuple(norm_cell(v) for v in t))
    return cols, sorted(out, key=lambda r: tuple((x is None, str(x)) for x in r))


def cells_equal(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(fa) and math.isnan(fb):
            return True
        if fa == fb:
            return True
        # exact mismatch -> report; driver hashes exact values
        return ("FLOAT_NEAR", abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb)))
    return a == b


def _latest_sweep_names() -> set[str]:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    logs = sorted(glob.glob(os.path.join(repo, "SWEEP_r*.log")))
    if not logs:
        return set()
    names: set[str] = set()
    with open(logs[-1]) as fh:
        for line in fh:
            m = re.match(r"(?:PASS|FAIL|WARN|SKIP)\s+(\S+):", line)
            if m:
                names.add(m.group(1))
    return names


def scale_smoke(extra_filters: list[str]) -> None:
    """Run every registry query NOT in the newest committed sweep log
    (i.e. added since the last round), plus any ``extra_filters``
    matches, at sf0.1 — one fresh subprocess session per query so a
    heap death or non-convergence in one cannot shadow the next, and
    so each query is timed against an honest cold session."""
    from apl_commissions_etl_spark.registry import all_queries

    swept = _latest_sweep_names()
    names = [
        n
        for n in all_queries()
        if n not in swept
        or any(f in n for f in extra_filters)
    ]
    if not names:
        print("scale-smoke: no queries newer than the last sweep")
        return
    script = os.path.abspath(__file__)
    n_fail = 0
    for n in names:
        t0 = time.time()
        r = subprocess.run(
            [sys.executable, script, "--exact", "/root/testdata/sf0.1", n],
            capture_output=True,
            text=True,
            timeout=1800,
        )
        verdict = "PASS" if r.returncode == 0 else "FAIL"
        # surface the per-query lines from the child (PASS/FAIL/WARN)
        for line in r.stdout.splitlines():
            if re.match(r"(?:PASS|FAIL|WARN|SKIP)\s", line):
                print(f"[scale-smoke] {line}")
        if r.returncode != 0:
            n_fail += 1
            tail = "\n".join((r.stdout + r.stderr).splitlines()[-5:])
            print(f"[scale-smoke] FAIL {n} (exit {r.returncode}):\n{tail}")
        print(
            f"[scale-smoke] {verdict} {n} total {time.time() - t0:.1f}s",
            flush=True,
        )
    print(f"\nscale-smoke: {len(names) - n_fail}/{len(names)} pass at sf0.1")
    sys.exit(1 if n_fail else 0)


def main():
    argv = list(sys.argv[1:])
    vanilla = "--vanilla" in argv
    if vanilla:
        argv.remove("--vanilla")
    # r13: vanilla runs stream results by default (toLocalIterator —
    # bounds the JVM transient to one partition; the old whole-result
    # collect pushed 300K-row parity queries to 98% in-flight in 1g).
    # --collect-fetch restores the old path for rehearsals that model
    # a driver harness which collects full results.
    collect_fetch = "--collect-fetch" in argv
    if collect_fetch:
        argv.remove("--collect-fetch")
    if "--scale-smoke" in argv:
        argv.remove("--scale-smoke")
        scale_smoke(argv)
        return
    exact = "--exact" in argv
    if exact:
        argv.remove("--exact")
    first_n = None
    q_range = None
    for a in list(argv):
        if a.startswith("--first="):
            first_n = int(a.split("=", 1)[1])
            argv.remove(a)
        elif a.startswith("--range="):
            # --range=a:b -> registry slots [a, b) — lets the full sweep
            # shard across FRESH sessions (one long session accumulates
            # broadcast/checkpoint/UI state and can exhaust the default
            # 1g driver heap; the driver's own gate only ever runs the
            # first 50 at sf0.01, which fits — rehearsed 70/70).
            # Session budget per FRESH vanilla 1g session, by SF:
            #   sf0.01: <=45 queries per shard (r6/r7 calibration)
            #   sf0.1:  <=3-5 HEAVY queries (incremental/streaming-
            #           parity/partitioned-index writes) per session —
            #           an r7 judge batch of 5 such queries killed the
            #           JVM mid-session while each passed in a fresh
            #           one; session death surfaces as "[Errno 111]
            #           Connection refused" on every LATER query, which
            #           must not be misread as query failures
            lo, hi = a.split("=", 1)[1].split(":")
            q_range = (int(lo), int(hi))
            argv.remove(a)
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    filters = argv[1:]

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    if vanilla:
        # Mimic the driver: a bare default session (Spark 4 defaults --
        # ANSI on, 200 shuffle partitions, 10MB broadcast threshold, JVM
        # timezone). Every query must be correct under ANY session.
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("check-oracle-vanilla")
            .master("local[*]")
            .getOrCreate()
        )
    else:
        spark = get_spark("check-oracle")
    qs = all_queries()
    if exact:
        names = [n for n in qs if n in filters]
    else:
        names = [n for n in qs if not filters or any(f in n for f in filters)]
    if first_n is not None:
        names = names[:first_n]
    if q_range is not None:
        names = names[q_range[0]:q_range[1]]
    # Gate-heap headroom guard (r9 verdict item 5): the external gate
    # runs the 50-slot prefix in ONE vanilla 1g-heap session, and its
    # only observed failure mode is RETAINED driver footprint growth
    # (session caches, localCheckpoint RDDs, retained execution graphs)
    # tipping the heap after ~37 slots. In vanilla rehearsals, sample
    # the post-GC live set after every query and fail the run loudly if
    # the peak exceeds HEADROOM_FRACTION of the max heap — so suite
    # growth is caught here, not in the driver. (Between-query post-GC
    # samples measure exactly the retained set; transient intra-query
    # allocation is GC-reclaimable and was never the failure mode.)
    HEADROOM_FRACTION = 0.65
    #: in-flight live headroom target (r10 verdict item 1): the peak of
    #: live-after-last-GC DURING queries must stay under this fraction
    #: of max heap — this is the metric whose r10 value (958M/1024M,
    #: GC-logged) predicted the two rehearsal OOMs. Raw used heap is
    #: NOT comparable: a healthy G1 runs allocation up to ~max between
    #: young collections regardless of live set, so raw used reads
    #: ~93% even in a comfortable session.
    INFLIGHT_FRACTION = 0.85
    peak_live = [0]
    peak_used = [0]        # raw in-flight max (report-only trend)
    peak_inflight = [0]    # in-flight live-after-last-GC max (enforced)

    if vanilla:
        # The post-GC guard below missed the r10 tail OOM: between-slot
        # samples read 25% while live-after-full-GC hit 93% INSIDE a
        # suite. Sample every 250ms on a daemon thread:
        # - raw used (Runtime): report-only trend signal;
        # - sum of MemoryPoolMXBean.getCollectionUsage().used across
        #   heap pools — the JVM's own live-after-last-GC estimate,
        #   updated at EVERY collection (young included), i.e. the
        #   in-flight version of the r10 GC-log number. Enforced
        #   against INFLIGHT_FRACTION.
        import threading

        def _sampler() -> None:
            try:
                jvm = spark.sparkContext._jvm
                rt = jvm.java.lang.Runtime.getRuntime()
                mf = jvm.java.lang.management.ManagementFactory
                pools = list(mf.getMemoryPoolMXBeans())
            except Exception:
                return
            while True:
                try:
                    used = int(rt.totalMemory() - rt.freeMemory())
                    peak_used[0] = max(peak_used[0], used)
                    live = 0
                    for p in pools:
                        cu = p.getCollectionUsage()
                        if cu is not None:
                            live += int(cu.getUsed())
                    if live:
                        peak_inflight[0] = max(peak_inflight[0], live)
                except Exception:
                    return
                time.sleep(0.25)

        threading.Thread(target=_sampler, daemon=True).start()

    def heap_sample() -> None:
        if not vanilla:
            return
        try:
            jvm = spark.sparkContext._jvm
            jvm.System.gc()
            rt = jvm.java.lang.Runtime.getRuntime()
            live = rt.totalMemory() - rt.freeMemory()
            peak_live[0] = max(peak_live[0], int(live))
            heap_sample.max_heap = int(rt.maxMemory())
        except Exception:
            pass  # diagnostics only; never fail a query on sampling

    heap_sample.max_heap = 0

    n_pass = n_fail = n_noor = 0
    for name in names:
        q = qs[name]
        t0 = time.time()
        try:
            if vanilla and not collect_fetch:
                # r13: stream the result instead of one toPandas
                # collect — the row-based collect held the ENTIRE
                # result in the JVM at once (pipeline_incremental_
                # parity: 312K rows pushed the 1g session's in-flight
                # live-after-GC from 78% to 98%); toLocalIterator
                # bounds the JVM transient to one partition. Cell
                # normalization is shared (norm_cell), so compare
                # semantics are unchanged.
                sdf_frame = q.spark_fn(spark, sf_dir)
                s_cols_raw = list(sdf_frame.columns)
                s_order = sorted(
                    range(len(s_cols_raw)), key=lambda i: s_cols_raw[i]
                )
                scols = [s_cols_raw[i] for i in s_order]
                srows = sorted(
                    (
                        tuple(norm_cell(row[i]) for i in s_order)
                        for row in sdf_frame.toLocalIterator()
                    ),
                    key=lambda r: tuple((x is None, str(x)) for x in r),
                )
                sdf = None
            else:
                sdf = q.spark_fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        heap_sample()
        if q.oracle is None:
            n_rows = len(srows) if sdf is None else len(sdf)
            print(f"SKIP {name}: no oracle (rows-only) rows={n_rows}")
            n_noor += 1
            continue
        try:
            # HUGEINT/UHUGEINT outputs round-trip exactly through
            # fetchall() but degrade to float64 through pandas/arrow
            # fetches (no int128 dtype) -- a driver whose harness
            # fetches via pandas would hash-mismatch vs Spark's int64,
            # so treat them as a hard failure here (r02 root cause).
            rel = con.sql(q.oracle)
            huge = [
                c
                for c, t in zip(rel.columns, rel.types)
                if str(t) in ("HUGEINT", "UHUGEINT")
            ]
            if huge:
                print(
                    f"FAIL {name}: oracle emits int128 column(s) {huge} "
                    "(pandas-fetch degrades to float64; CAST AS BIGINT)"
                )
                n_fail += 1
                continue
            cur = con.execute(q.oracle)
            ocols_raw = [d[0] for d in cur.description]
            orows_raw = cur.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        if sdf is not None:
            scols, srows = rows_of(sdf)
        order = sorted(range(len(ocols_raw)), key=lambda i: ocols_raw[i])
        ocols = [ocols_raw[i] for i in order]
        orows = sorted(
            (tuple(norm_cell(r[i]) for i in order) for r in orows_raw),
            key=lambda r: tuple((x is None, str(x)) for x in r),
        )
        dt = time.time() - t0
        if scols != ocols:
            print(f"FAIL {name}: columns spark={scols} oracle={ocols}")
            n_fail += 1
            continue
        if len(srows) != len(orows):
            print(f"FAIL {name}: rowcount spark={len(srows)} oracle={len(orows)}")
            n_fail += 1
            continue
        bad = near = 0
        example = None
        for sr, orow in zip(srows, orows):
            for c, (a, b) in zip(scols, zip(sr, orow)):
                eq = cells_equal(a, b)
                if eq is True:
                    continue
                if isinstance(eq, tuple) and eq[1]:
                    near += 1
                    if example is None:
                        example = (c, a, b, "near")
                else:
                    bad += 1
                    if example is None or example[3] == "near":
                        example = (c, a, b, "bad")
        if bad:
            print(f"FAIL {name}: {bad} cell mismatches, e.g. {example}")
            n_fail += 1
        elif near:
            print(
                f"WARN {name}: exact-equal except {near} float cells within 1e-9 "
                f"(driver hash may flag) e.g. {example} [{dt:.1f}s]"
            )
            n_pass += 1
        else:
            print(f"PASS {name}: rows={len(srows)} [{dt:.1f}s]")
            n_pass += 1
    heap_ok = True
    if vanilla and heap_sample.max_heap:
        frac = peak_live[0] / heap_sample.max_heap
        infl = peak_inflight[0] / heap_sample.max_heap
        heap_ok = frac <= HEADROOM_FRACTION and infl <= INFLIGHT_FRACTION
        print(
            f"\nHEAP {'OK' if heap_ok else 'FAIL'}: peak post-GC live "
            f"{peak_live[0] / 1e6:.0f}MB of {heap_sample.max_heap / 1e6:.0f}MB "
            f"max ({frac:.0%}; guard {HEADROOM_FRACTION:.0%}) — retained "
            "session footprint across the rehearsed prefix; in-flight "
            f"live-after-GC peak {peak_inflight[0] / 1e6:.0f}MB "
            f"({infl:.0%}; guard {INFLIGHT_FRACTION:.0%}) — the r10 OOM "
            "signature metric; raw used peak "
            f"{peak_used[0] / 1e6:.0f}MB (report-only: G1 runs "
            "allocation near max between young GCs by design)"
            + (
                ""
                if heap_ok
                else "; the gate's 1g session WILL be at risk — split or "
                "slim the heaviest suite slot before shipping the prefix"
            )
        )
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noor} rows-only, of {len(names)}")
    sys.exit(1 if n_fail or not heap_ok else 0)


if __name__ == "__main__":
    main()
