"""registered_once: the blocking-once guard that lets threads
register their own view families concurrently — waiters must never
proceed before the claimer's registration body has COMPLETED (the bare
needs_registration claim is claim-then-register and unsafe under
concurrency on its own)."""

from __future__ import annotations

import threading
import time
from concurrent.futures import ThreadPoolExecutor

from apl_commissions_etl_spark.sources.testdata import registered_once


class _FakeCtx:
    applicationId = "test-app-registered-once"


class _FakeSpark:
    sparkContext = _FakeCtx()


def test_waiters_block_until_registration_completes():
    spark = _FakeSpark()
    _FakeCtx.applicationId = "app-block"
    done = []
    barrier = threading.Barrier(6)

    def register():
        time.sleep(0.1)  # widen the race window
        done.append(1)

    def hit():
        barrier.wait()
        registered_once(spark, "famA", "/sf", register)
        # ANY returning caller must observe a completed registration
        assert done == [1]

    with ThreadPoolExecutor(max_workers=6) as pool:
        list(pool.map(lambda _: hit(), range(6)))
    assert done == [1], "registration body must run exactly once"


def test_failed_registration_released_and_retried():
    spark = _FakeSpark()
    _FakeCtx.applicationId = "app-retry"
    attempts = []

    def failing():
        attempts.append(1)
        raise RuntimeError("boom")

    for _ in range(2):
        try:
            registered_once(spark, "famB", "/sf", failing)
        except RuntimeError:
            pass
    assert len(attempts) == 2, "a failed claim must be released"
    ok = []
    registered_once(spark, "famB", "/sf", lambda: ok.append(1))
    assert ok == [1]
    # and now it is sealed
    registered_once(spark, "famB", "/sf", lambda: ok.append(1))
    assert ok == [1]


def test_waiter_retries_when_claimer_fails():
    spark = _FakeSpark()
    _FakeCtx.applicationId = "app-waiter-retry"
    started = threading.Event()
    release = threading.Event()
    results = []

    def slow_failing():
        started.set()
        release.wait(5)
        raise RuntimeError("claimer dies")

    def claimer():
        try:
            registered_once(spark, "famC", "/sf", slow_failing)
        except RuntimeError:
            results.append("claimer-failed")

    def waiter():
        started.wait(5)
        # enters while the claimer is mid-registration -> blocks; after
        # the claimer fails, the waiter must RETRY (and succeed)
        registered_once(spark, "famC", "/sf", lambda: results.append("ok"))

    t1 = threading.Thread(target=claimer)
    t2 = threading.Thread(target=waiter)
    t1.start(); t2.start()
    time.sleep(0.2)
    release.set()
    t1.join(5); t2.join(5)
    assert "claimer-failed" in results and "ok" in results


def test_sf_switch_reregisters():
    spark = _FakeSpark()
    _FakeCtx.applicationId = "app-sf-switch"
    calls = []
    registered_once(spark, "famD", "/sf1", lambda: calls.append("sf1"))
    registered_once(spark, "famD", "/sf2", lambda: calls.append("sf2"))
    registered_once(spark, "famD", "/sf1", lambda: calls.append("sf1b"))
    # a NEW sf_dir must re-register (stale caches invalidated); note
    # the needs_registration family slot tracks the LATEST sf, so
    # flipping back re-registers too — correct, if wasteful, for the
    # multi-SF test sessions
    assert calls == ["sf1", "sf2", "sf1b"]
