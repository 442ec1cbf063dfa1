"""The benchmark's own tests: python3 -m pytest perfbench/tests -q"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

import check
import gen
import metrics

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


def _digests(d: str) -> dict[str, str]:
    return {
        os.path.relpath(f, d): hashlib.sha256(open(f, "rb").read()).hexdigest()
        for f in sorted(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))
    }


def test_generator_is_deterministic_per_seed(tmp_path):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.generate(str(tmp_path / name), seed, 60, 600, "zipf", batches=2)
    a, b, c = (_digests(str(tmp_path / n)) for n in "abc")
    assert a == b
    assert set(a) == set(c) and a != c
    assert {"orders.parquet", "lineitem.parquet", os.path.join("b2", "orders.parquet"),
            os.path.join("final", "lineitem.parquet")} <= set(a)


def test_generator_matches_engine_table_schemas(tmp_path):
    import pyarrow.parquet as pq

    gen.generate(str(tmp_path), 1, 60, 600)
    want = {
        "customer": "c_custkey:int64 c_name:string c_nationkey:int32 c_acctbal:double c_mktsegment:string",
        "orders": "o_orderkey:int64 o_custkey:int64 o_orderstatus:string o_totalprice:double "
                  "o_orderdate:timestamp[us] o_orderpriority:string",
        "lineitem": "l_orderkey:int64 l_partkey:int64 l_suppkey:int64 l_linenumber:int32 "
                    "l_quantity:double l_extendedprice:double l_discount:double l_tax:double "
                    "l_returnflag:string l_linestatus:string l_shipdate:timestamp[us]",
    }
    for table, cols in want.items():
        schema = pq.read_schema(str(tmp_path / f"{table}.parquet"))
        assert " ".join(f"{f.name}:{f.type}" for f in schema) == cols


def test_uniform_groups_are_equal_sized(tmp_path):
    import duckdb

    gen.generate(str(tmp_path), 3, 50, 500, "uniform")
    sizes = duckdb.sql(
        f"SELECT count(*) FROM '{tmp_path}/orders.parquet' GROUP BY o_custkey").fetchall()
    assert {s for (s,) in sizes} == {10}


@pytest.fixture(scope="module")
def gl_case(tmp_path_factory):
    """Generated inputs, the GL oracle, and an engine-shaped parquet
    copy of the oracle output to corrupt."""
    from apl_commissions_etl_spark.registry import all_queries

    d = str(tmp_path_factory.mktemp("gl"))
    gen.generate(d, 11, 60, 600)
    con = check.connect(d, gen.TABLES)
    oracle = check.Oracle(con)
    want = oracle.materialize(all_queries()["calc_gl_entries"].oracle)
    out = os.path.join(d, "gl_out")
    os.makedirs(out)
    con.execute(f"COPY (SELECT * FROM {want}) TO '{out}/part-0.parquet' (FORMAT parquet)")
    return con, oracle, want, out


def test_check_accepts_a_correct_output(gl_case):
    con, oracle, want, out = gl_case
    assert oracle.check(check.parquet_dir(out), want) == []


@pytest.mark.parametrize("corrupt, expect", [
    ("UPDATE t SET Amount = Amount + 0.01 WHERE GlEntryId = (SELECT min(GlEntryId) FROM t)",
     "control total Amount"),
    ("DELETE FROM t WHERE GlEntryId = (SELECT min(GlEntryId) FROM t)", "rows"),
    ("UPDATE t SET BrokerId = BrokerId + 1 WHERE GlEntryId = (SELECT min(GlEntryId) FROM t)",
     "control total BrokerId"),
    ("UPDATE t SET EntryType = 'x' WHERE GlEntryId = (SELECT min(GlEntryId) FROM t)",
     "value hash"),
])
def test_check_rejects_a_corrupted_output(gl_case, tmp_path, corrupt, expect):
    con, oracle, want, out = gl_case
    con.execute(f"CREATE OR REPLACE TEMP TABLE t AS SELECT * FROM {check.parquet_dir(out)}")
    con.execute(corrupt)
    bad = str(tmp_path / "bad")
    os.makedirs(bad)
    con.execute(f"COPY t TO '{bad}/part-0.parquet' (FORMAT parquet)")
    problems = oracle.check(check.parquet_dir(bad), want)
    assert any(p.startswith(expect) for p in problems), problems


def test_check_of_a_filtered_response(gl_case):
    """Report requests are checked as the oracle filtered the same way."""
    con, oracle, want, _ = gl_case
    broker = con.execute(f"SELECT min(BrokerId) FROM {want}").fetchone()[0]
    con.execute(f"CREATE OR REPLACE TEMP TABLE resp AS SELECT * FROM {want} WHERE BrokerId = {broker}")
    assert oracle.check("resp", want, f"WHERE BrokerId = {broker}") == []
    con.execute("DELETE FROM resp WHERE GlEntryId = (SELECT max(GlEntryId) FROM resp)")
    assert oracle.check("resp", want, f"WHERE BrokerId = {broker}")


def test_manifest_matches_declarations():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert doc == metrics.manifest()
    names = [m["name"] for m in doc["end_to_end"] + doc["per_layer"]]
    assert len(names) == len(set(names)) and len(doc["per_layer"]) <= 128
    assert "setup_s" in names and max(m["bound"] for m in doc["end_to_end"]) == next(
        m["bound"] for m in doc["end_to_end"] if m["name"] == "setup_s")
    for name, _unit, _better, layer, moves in metrics.PER_LAYER + metrics.REPORT_LAYER:
        assert name.startswith(layer + ".") and moves
    assert [w["name"] for w in doc["workloads"]] == list(metrics.LISTED)


def test_declared_names_match_the_engine():
    import workloads
    from apl_commissions_etl_spark.plans.fixtures import FIXTURE_VIEWS
    from apl_commissions_etl_spark.queries.reporting import REPORTING_VIEW_QUERIES

    assert metrics.STAGES == tuple(n for n, _ in FIXTURE_VIEWS) + (
        "calc_gl_entries", "calc_traceability")
    assert metrics.VIEWS == tuple(REPORTING_VIEW_QUERIES.values())
    assert metrics.BUILDER_OUTPUTS == tuple(workloads.BUILDER_ORACLES)
    assert metrics.MODE_OUTPUTS == tuple(workloads.MODE_ORACLES)
    assert set(workloads.RUNNERS) == set(metrics.WORKLOADS)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "proposal_build",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert r.returncode != 0
    assert '"metrics"' not in r.stdout


def test_second_proposal_build_reexpands_certificates(tmp_path, monkeypatch):
    """A batch operation pays for every session cache it fills: after
    ``Bench.fresh`` the next proposal build runs the certificate
    expansion's Spark jobs again; without it they would be skipped."""
    import run
    import workloads
    from apl_commissions_etl_spark.plans import builder_fixtures

    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    b = run.Bench("proposal_build", 3, 1, trace=False)
    d = str(tmp_path / "inputs")
    gen.generate(d, 3, 60, 600, "zipf")
    expand = builder_fixtures.cert_info
    op = {}

    def counted_expand(spark, sf_dir):
        spark.sparkContext.setJobGroup(f"expand{op['i']}", "certificate expansion")
        try:
            return expand(spark, sf_dir)
        finally:
            spark.sparkContext.setJobGroup(f"op{op['i']}", "proposal build")

    monkeypatch.setattr(builder_fixtures, "cert_info", counted_expand)
    try:
        b.start()
        tracker = b.spark.sparkContext.statusTracker()
        expansion_jobs = []
        for i in range(3):
            op["i"] = i
            if i != 2:
                b.fresh()
                assert not builder_fixtures._CERT_INFO_CACHE
            workloads.proposal_build_op(b, d, str(tmp_path / f"op{i}"))
            expansion_jobs.append(len(tracker.getJobIdsForGroup(f"expand{i}")))
        assert expansion_jobs[0] > 0
        assert expansion_jobs[1] == expansion_jobs[0]
        # the check can fail: without the reset the expansion is reused
        assert expansion_jobs[2] == 0
    finally:
        b.close()


def test_end_to_end_metrics_come_from_one_phase_each():
    """``cpu_s`` is the measured operations' CPU seconds and ``setup_s``
    the set-up's; of the printed wall-clock metrics, ``run_s`` is the
    one batch operation and ``rows_per_s`` divides the rows of a phase
    by that phase's own seconds, however many operations or batches the
    phase ran; the latency tail is p67 only with ten samples beyond it."""
    import workloads

    class B:
        setup_s, setup_wall_s, peak_rss_mb = 2.0, 1.5, 0.0
        ops = [("batch 1", 5.0, 9.0, 0.0), ("batch 2", 7.0, 11.0, 0.5)]

    one = workloads.end_to_end(B(), 10.0, 300, 6.0, [6.0])
    three = workloads.end_to_end(B(), 10.0, 900, 18.0, [5.0, 6.0, 7.0])
    assert one["end_to_end"] == three["end_to_end"] == {"cpu_s": 20.0, "setup_s": 2.0}
    assert one["wall"]["rows_per_s"] == three["wall"]["rows_per_s"] == (50.0, "1/s")
    wall = {k: v for k, (v, _unit) in three["wall"].items()}
    assert wall["run_s"] == 10.0 and wall["setup_s"] == 1.5
    assert (wall["latency_p50_s"], wall["latency_tail_s"]) == (6.0, 7.0)
    lat = [float(i) for i in range(1, workloads.TAIL_MIN_SAMPLES + 1)]
    tail, which = workloads.tail_of(lat)
    assert which == "p67" and sum(x > tail for x in lat) >= 10
    assert workloads.tail_of(lat[:-1])[1] == "max"


def test_cpu_counts_the_child_and_not_other_threads():
    """``proc.cpu_s`` charges a run with its JVM child's CPU time and
    leaves out the CPU of other Python threads (the oracles)."""
    import threading
    import time

    import proc

    def burn(seconds):
        t = time.thread_time()
        while time.thread_time() - t < seconds:
            pass

    child = subprocess.Popen(
        [sys.executable, "-c", "import time\nt = time.process_time()\n"
         "while time.process_time() - t < 0.6: pass\nprint('done', flush=True)\n"
         "time.sleep(60)"], stdout=subprocess.PIPE, text=True)
    try:
        c0 = proc.cpu_s()
        side = threading.Thread(target=burn, args=(0.6,))
        side.start()
        assert child.stdout.readline().strip() == "done"
        side.join()
        used = proc.cpu_s() - c0
    finally:
        child.kill()
        child.wait()
    assert 0.5 <= used < 1.0, used


def test_printed_metrics_are_declared():
    """A full traced run prints exactly the declared per-layer metrics,
    each with its declared unit, as the last line of its output."""
    r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload",
                        "increment_then_close", "--seed", "2", "--seconds", "1", "--trace", "1"],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-2000:]
    result = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    declared = {m["name"]: m["unit"] for m in doc["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
