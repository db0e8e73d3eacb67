"""The session-scoped plan memo (tsengine/memo.py).

The memo reuses the *analyzed lazy plan* per (session, realpath(sf_dir),
kind, name) — never data.  These tests pin what makes that safe:

1. isolation — executing one caller's DataFrame must not finalize the
   AQE plan another caller observes (each hit is a fresh QueryExecution
   over the shared analyzed child);
2. key discipline — different sf dirs never alias, two spellings of one
   dir share one entry;
3. value identity — a hit computes exactly what a cold build does;
4. purity — every query the registry memoizes builds without a job;
5. invalidation — ``invalidate(sf_dir)`` evicts every kind for that
   sf_dir and nothing else;
6. immutable fixtures — no registered sink writes under an sf_dir, so a
   frozen listing can never go stale;
7. concurrency — builds on many driver threads, racing invalidation,
   stay correct and leave one entry per key.
"""

from __future__ import annotations

import itertools
import os
import re
import sys
import threading

from conftest import SF_DIR as SF_A
from conftest import SF_DIR_ORACLE as SF_B


def _n_exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"Exchange (?:hash|range)partitioning", plan))


def _keys(sf_dir: str) -> set[tuple[str, str]]:
    from tsengine import memo

    rp = os.path.realpath(sf_dir)
    with memo._LOCK:
        return {(k[2], k[3]) for k in memo._MEMO if k[1] == rp}


def _snapshot(root: str) -> dict[str, tuple[int, float]]:
    out: dict[str, tuple[int, float]] = {}
    for dirpath, _dirnames, filenames in os.walk(root):
        for f in filenames:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime)
    return out


def test_memo_hit_has_fresh_query_execution(spark):
    from tsengine.sources.wearable import wearable_long

    first = wearable_long(spark, SF_A)
    first.collect()  # finalizes FIRST's AQE plan in place
    again = wearable_long(spark, SF_A)
    assert again is not first
    # the hit's plan is un-executed: no Final+Initial double rendering,
    # so the single-shuffle contract still reads 1 (not 2)
    assert "isFinalPlan=true" not in (
        again._jdf.queryExecution().executedPlan().toString()
    )
    assert _n_exchanges(again) == 1


def test_memo_keys_do_not_alias_sf_dirs(spark):
    from tsengine.sources.tables import load_table

    a = load_table(spark, SF_A, "events")
    b = load_table(spark, SF_B, "events")
    assert a.count() != b.count()  # 1000 vs 10000 rows


def test_plan_pure_queries_run_zero_jobs_at_build(spark):
    """The gaming guard for the registry plan memo: every query flagged
    _PLAN_PURE must build its DataFrame without running a single Spark
    job (warm build — the first build may trigger one-off parquet
    footer reads).  A collect()/localCheckpoint/fit sneaking into a
    flagged fn would hoist real work out of the measured path; this
    test makes that a loud failure instead."""
    from tsengine import registry
    from tsengine.registry import all_queries

    qs = all_queries()
    sc = spark.sparkContext
    for name in sorted(registry._PLAN_PURE):
        qs[name].fn(spark, SF_A)  # warm: table memo + footer reads
    offenders = {}
    try:
        for name in sorted(registry._PLAN_PURE):
            grp = f"purity-pin-{name}"
            sc.setJobGroup(grp, name)
            qs[name].fn.__wrapped__(spark, SF_A)  # the real fn, not a memo hit
            jobs = sc.statusTracker().getJobIdsForGroup(grp)
            if jobs:
                offenders[name] = len(jobs)
    finally:
        # drop the thread-local group so later tests' jobs aren't tagged
        # into the last probe group
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not offenders, f"plan_pure queries ran jobs at build: {offenders}"


def test_registry_memo_hit_is_isolated_and_identical(spark):
    from tsengine.registry import all_queries

    q = all_queries()["tumbling_window_agg"]
    first = q.fn(spark, SF_A)
    rows_first = first.collect()  # finalizes FIRST's AQE plan
    again = q.fn(spark, SF_A)
    assert again is not first
    assert "isFinalPlan=true" not in (
        again._jdf.queryExecution().executedPlan().toString()
    )
    assert again.collect() == rows_first


def test_memo_hit_value_identity(spark):
    from tsengine import memo
    from tsengine.sources.wearable import wearable_long

    wearable_long(spark, SF_A)
    hit = wearable_long(spark, SF_A).orderBy("window_id", "t").collect()
    memo.invalidate(SF_A)  # force a cold rebuild of the whole plan
    cold = wearable_long(spark, SF_A).orderBy("window_id", "t").collect()
    assert hit == cold


def test_invalidate_evicts_all_memo_layers(spark):
    """invalidate(sf_dir) is the REFRESH-equivalent: it must evict the
    table, both wearable derivations and every registry query for that
    sf_dir — and only that sf_dir."""
    from tsengine import memo
    from tsengine.registry import all_queries
    from tsengine.sources import tables, wearable

    qs = all_queries()
    for sf in (SF_A, SF_B):
        tables.load_table(spark, sf, "events")
        wearable.wearable_long(spark, sf)
        wearable.wearable_wide(spark, sf)
        qs["tumbling_window_agg"].fn(spark, sf)
    kinds = {"table", "wearable_long", "wearable_wide", "query"}
    assert {kind for kind, _ in _keys(SF_A)} == kinds
    before_b = _keys(SF_B)

    memo.invalidate(SF_A + "/")  # any spelling of the dir

    assert not _keys(SF_A), "stale sf_dir entry survived"
    assert _keys(SF_B) == before_b, "unrelated sf_dir was evicted"
    # and the next call transparently rebuilds
    assert qs["tumbling_window_agg"].fn(spark, SF_A) is not None


def test_concurrent_builds_and_invalidate(spark):
    """Eight driver threads build and collect a memoized query and the
    wearable derivation on one session, under two spellings of the
    sf_dir, while a ninth thread keeps invalidating it: no exception,
    every result equals the serial one, and the memo ends with one
    entry per key."""
    from tsengine import memo
    from tsengine.registry import all_queries
    from tsengine.sources.wearable import wearable_long

    q = all_queries()["tumbling_window_agg"]

    def run(sf_dir: str) -> tuple[list, list]:
        return sorted(q.fn(spark, sf_dir).collect()), sorted(wearable_long(spark, sf_dir).collect())

    memo.invalidate(SF_A)
    serial = run(SF_A)
    serial_keys = _keys(SF_A)

    stop = threading.Event()
    errors: list[Exception] = []
    results: list[tuple[list, list]] = []

    def builder(i: int) -> None:
        try:
            results.append(run(SF_A if i % 2 else SF_A + "/"))
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    def invalidator() -> None:
        try:
            # pauses from 0 to 95 ms: some builds finish between two
            # evictions and are stored and hit, others race an eviction
            for n in itertools.count():
                if stop.wait(0.005 * (n % 20)):
                    break
                memo.invalidate(SF_A)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    inv = threading.Thread(target=invalidator)
    builders = [threading.Thread(target=builder, args=(i,)) for i in range(8)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the memo's critical sections
    try:
        inv.start()
        for t in builders:
            t.start()
        for t in builders:
            t.join(timeout=120)
    finally:
        stop.set()
        inv.join(timeout=10)
        sys.setswitchinterval(switch)

    assert not any(t.is_alive() for t in [*builders, inv]), "a thread hung"
    assert not errors, errors
    assert len(results) == 8
    assert all(r == serial for r in results)
    run(SF_A)
    run(SF_A + "/")
    assert _keys(SF_A) == serial_keys


def test_memo_counts_every_call_under_contention(tmp_path):
    """Driver-only stress on the memo's own bookkeeping (no Spark: a
    stand-in session and plan keep each call microseconds long, so the
    threads really contend): every call is either a counted hit or a
    build, whatever evictions race it, and eviction never trips over a
    concurrent store."""
    from types import SimpleNamespace

    from tsengine import memo

    class _Plan:
        def select(self, *cols):
            return _Plan()

    spark = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="stress"))
    sf_dir = str(tmp_path)
    builds = itertools.count()
    errors: list[Exception] = []
    n_threads, n_calls = 16, 2000

    def build() -> _Plan:
        next(builds)
        return _Plan()

    def caller(i: int) -> None:
        try:
            for n in range(n_calls):
                memo.memoized(spark, sf_dir, "stress", str(n % 128), build)
                if i == 0:  # one thread evicts after every call
                    memo.invalidate(sf_dir)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    hits_before = memo.hits("stress")
    threads = [threading.Thread(target=caller, args=(i,)) for i in range(n_threads)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(switch)
        memo.invalidate(sf_dir)
    assert not any(t.is_alive() for t in threads), "a thread hung"
    assert not errors, errors
    assert memo.hits("stress") - hits_before + next(builds) == n_threads * n_calls


def test_no_registered_sink_writes_under_sf_dir(spark):
    """Runs the write-path queries end-to-end and asserts the fixture
    tree is byte-untouched (sizes AND mtimes).  These queries cover
    the scratch-dir sinks: csv/json/xml/orc round trips (relational) and
    merge/compaction (merging).  Artifact publish (the knn graph) goes
    through the same module and is exercised in tests/test_artifacts.py;
    the shared root is checked statically below."""
    from tsengine.registry import all_queries

    qs = all_queries()
    before = _snapshot(SF_A)
    for name in ("results_append", "sink_metrics_log", "idempotent_write_merge"):
        qs[name].fn(spark, SF_A).count()
    assert _snapshot(SF_A) == before, "a registered sink wrote under the sf_dir"


def test_scratch_roots_outside_fixture_tree():
    """Static half of the invariant: the one at-rest root the engine
    writes under (tsengine/artifacts.py) lives outside the fixture tree,
    and neither scratch_dir nor artifact_path can relocate an output
    INTO the sf_dir it tags."""
    from tsengine import artifacts

    fixture = os.path.dirname(os.path.realpath(SF_A))
    assert not os.path.realpath(artifacts.root()).startswith(fixture), artifacts.root()
    for out in (
        artifacts.scratch_dir(SF_A, "leaf"),
        artifacts.artifact_path(SF_A, "leaf", ("events",)),
    ):
        assert not os.path.realpath(out).startswith(os.path.realpath(SF_A))
