"""At-rest storage (tsengine/artifacts.py): the content key, the atomic
publish protocol and its GC of superseded siblings.

Publish races and GC pins (ADVICE r11/r12), plus three failure modes:
two driver threads publishing one path, a build that fails mid-job, and
publishes of one family at two scale factors.
"""

from __future__ import annotations

import os
import re
import threading

import pytest
from conftest import SF_DIR, SF_DIR_ORACLE

from tsengine import artifacts

_TSENGINE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tsengine"
)


def _toy(spark, val):
    return spark.createDataFrame([(1, val)], "id long, v long")


def _leaf(tmp_path, fp):
    # the exact leaf shape artifact_path mints: family + dials, 12-hex
    # content fingerprint, 10-hex scale-factor tag
    return str(tmp_path / f"graph_k10_b8x5_f{fp:012x}_0123456789")


# ---------------------------------------------------------------------------
# content key
# ---------------------------------------------------------------------------


def test_graph_path_tracks_fixture_mtime(monkeypatch):
    """A regenerated embeddings fixture must invalidate the cache: the
    artifact path is keyed by the parquet's NANOSECOND mtime (whole
    seconds would silently serve a stale graph after a same-second
    regeneration — ADVICE r11)."""
    import types

    from tsengine.operators import similarity as sim

    p1 = sim._knn_graph_path(SF_DIR, 5)
    real = os.stat

    def fake(p, *a, **k):
        st = real(p, *a, **k)
        if str(p).endswith("embeddings.parquet"):
            # same whole second as a plausible regen, +1ns
            return types.SimpleNamespace(
                st_mode=st.st_mode, st_size=st.st_size, st_mtime_ns=st.st_mtime_ns + 1
            )
        return st

    monkeypatch.setattr(artifacts.os, "stat", fake)
    p2 = sim._knn_graph_path(SF_DIR, 5)
    assert p1 != p2


def test_only_artifacts_module_names_scratch_roots():
    """The storage decision lives in one module: no other engine module
    names a ``/tmp/tsengine_`` path or a ``TSENGINE_*_DIR`` variable."""
    offenders = []
    for dirpath, _d, files in os.walk(_TSENGINE_ROOT):
        for f in files:
            path = os.path.join(dirpath, f)
            if not f.endswith(".py") or path == artifacts.__file__:
                continue
            src = open(path).read()
            if re.search(r"/tmp/tsengine_|TSENGINE_\w*_DIR", src):
                offenders.append(path)
    assert offenders == []


# ---------------------------------------------------------------------------
# publish protocol
# ---------------------------------------------------------------------------


def test_publish_never_deletes_destination_first(spark, tmp_path):
    """Publishing onto an existing COMPLETE artifact must leave it in
    place untouched (concurrent-publisher-won semantics): at no point
    may the destination be absent — the rmtree-before-rename window
    ADVICE r11 flagged."""
    path = _leaf(tmp_path, 0x111)
    artifacts.publish(_toy(spark, 1), path)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    ino = os.stat(path).st_ino
    artifacts.publish(_toy(spark, 2), path)  # loser discards its copy
    assert os.stat(path).st_ino == ino  # original artifact untouched
    [row] = spark.read.parquet(path).collect()
    assert row.v == 1
    assert not [d for d in os.listdir(tmp_path) if ".tmp." in d]


def test_publish_replaces_incomplete_occupant(spark, tmp_path):
    """An occupant WITHOUT _SUCCESS (crashed legacy layout) is swapped
    aside-then-in, never leaving the path absent, and the aside copy
    is removed."""
    path = _leaf(tmp_path, 0x222)
    os.makedirs(path)  # incomplete: no _SUCCESS
    # non-empty, so the rename cannot trivially replace an empty dir —
    # the aside-swap branch itself must run
    open(os.path.join(path, "part-junk"), "w").close()
    artifacts.publish(_toy(spark, 7), path)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    [row] = spark.read.parquet(path).collect()
    assert row.v == 7
    assert not [d for d in os.listdir(tmp_path) if ".old." in d or ".tmp." in d]


def test_publish_reraises_unexpected_oserror(spark, tmp_path, monkeypatch):
    """An unexpected rename failure must surface, not silently discard
    the build and leave a confusing path-not-found at read time."""
    path = _leaf(tmp_path, 0x555)

    def boom(src, dst):
        raise PermissionError(13, "nope")

    monkeypatch.setattr(artifacts.os, "rename", boom)
    with pytest.raises(PermissionError):
        artifacts.publish(_toy(spark, 1), path)


def test_publish_aside_swap_loser_survives(spark, tmp_path, monkeypatch):
    """Two publishers racing a crashed (no-_SUCCESS) occupant: the
    loser's rename(path, aside) hits ENOENT because the winner swapped
    the occupant first.  The loser must retry the main rename and
    finish the publish (or adopt the winner's complete copy) — never
    crash with an unhandled FileNotFoundError (ADVICE r12)."""
    path = _leaf(tmp_path, 0x666)
    os.makedirs(path)  # incomplete occupant: non-empty, no _SUCCESS
    open(os.path.join(path, "part-junk"), "w").close()
    real_rename = os.rename
    state = {"stolen": False}

    def racing_rename(src, dst):
        if src == path and not state["stolen"]:
            # simulate the concurrent winner moving the occupant aside
            # a beat before us: our own rename then sees ENOENT
            state["stolen"] = True
            real_rename(path, f"{path}.old.winner")
            raise FileNotFoundError(2, "raced", src)
        return real_rename(src, dst)

    monkeypatch.setattr(artifacts.os, "rename", racing_rename)
    artifacts.publish(_toy(spark, 5), path)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    [row] = spark.read.parquet(path).collect()
    assert row.v == 5
    assert not [d for d in os.listdir(tmp_path) if ".tmp." in d]


def test_publish_aside_swap_loser_adopts_winner(spark, tmp_path, monkeypatch):
    """The other interleaving: the loser's final rename(tmp, path)
    fails ENOTEMPTY because the winner already published a COMPLETE
    artifact.  The loser must discard its build and return — the
    winner's artifact survives untouched."""
    path = _leaf(tmp_path, 0x777)
    os.makedirs(path)  # incomplete occupant: non-empty, no _SUCCESS
    open(os.path.join(path, "part-junk"), "w").close()
    real_rename = os.rename

    winner_tmp = f"{path}.tmp.1"  # a DIFFERENT pid's staging dir
    _toy(spark, 9).write.parquet(winner_tmp)

    def racing_rename(src, dst):
        if src == path:
            # winner swaps the occupant away AND publishes, all before
            # our aside-swap runs: our rename(path, aside) ENOENTs ...
            real_rename(path, f"{path}.old.winner")
            real_rename(winner_tmp, path)
            raise FileNotFoundError(2, "raced", src)
        return real_rename(src, dst)  # ... and rename(tmp, path) ENOTEMPTYs

    monkeypatch.setattr(artifacts.os, "rename", racing_rename)
    artifacts.publish(_toy(spark, 5), path)
    [row] = spark.read.parquet(path).collect()
    assert row.v == 9, "winner's complete artifact must survive"
    assert not [d for d in os.listdir(tmp_path) if ".tmp." in d]


def test_publish_concurrent_threads_one_artifact(spark, tmp_path):
    """Two driver threads of one process publishing one path (two graph
    audits missing the cold artifact at once) must each stage into a
    dir of their own: exactly one complete artifact with the input's
    row count, no exception, no staging dir left behind."""
    n = 200_000
    df = spark.range(n).selectExpr("id", "id * 2 AS v").repartition(8)
    # a shared staging dir broke about two races in three: run several
    for trial in range(3):
        parent = tmp_path / str(trial)
        parent.mkdir()
        path = _leaf(parent, 0x888)
        start = threading.Barrier(2)
        errors = []

        def worker():
            try:
                start.wait(timeout=60)
                artifacts.publish(df, path)
            except Exception as exc:  # reported below
                errors.append(exc)

        threads = [threading.Thread(target=worker) for _ in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert not any(t.is_alive() for t in threads), "a publisher hung"
        assert not errors, errors
        assert os.path.isfile(os.path.join(path, "_SUCCESS"))
        assert spark.read.parquet(path).count() == n
        assert os.listdir(parent) == [os.path.basename(path)]


def test_publish_failed_build_leaves_no_staging(spark, tmp_path):
    """A build that fails mid-job (a Python UDF raising on the executor)
    surfaces its error, and publish removes its staging dir: no orphan
    is left for a later GC to guess about."""
    from pyspark.sql import functions as F

    @F.udf("long")
    def explode(x):
        raise ValueError("injected kernel failure")

    df = spark.range(10).select(explode("id").alias("v"))
    with pytest.raises(Exception, match="injected kernel failure"):
        artifacts.publish(df, _leaf(tmp_path, 0x999))
    assert not [d for d in os.listdir(tmp_path) if ".tmp." in d]


# ---------------------------------------------------------------------------
# GC of superseded siblings
# ---------------------------------------------------------------------------


def test_publish_gc_prunes_superseded_mtimes(spark, tmp_path):
    """Publishing the new-fixture artifact prunes superseded siblings of
    the same dial+sf family — exactly one artifact survives (VERDICT
    r11 missing-item 2) — while a DIFFERENT dial or sf tag is left
    alone."""
    old = _leaf(tmp_path, 0x111)
    other_dial = str(tmp_path / f"graph_k10_b8x6_f{0x111:012x}_0123456789")
    other_sf = str(tmp_path / f"graph_k10_b8x5_f{0x111:012x}_aaaaaaaaaa")
    orphan_tmp = old + ".tmp.999999999"  # dead-pid staging leftover
    orphan_tok = old + ".tmp.999999999.0a1b2c3d"  # same, per-call token form
    for p in (old, other_dial, other_sf):
        artifacts.publish(_toy(spark, 1), p)
    os.makedirs(orphan_tmp)
    os.makedirs(orphan_tok)
    new = _leaf(tmp_path, 0x333)
    artifacts.publish(_toy(spark, 2), new)
    left = sorted(os.listdir(tmp_path))
    assert os.path.basename(new) in left
    assert os.path.basename(old) not in left, "superseded artifact must be GC'd"
    assert os.path.basename(orphan_tmp) not in left, "dead-pid staging dir"
    assert os.path.basename(orphan_tok) not in left, "dead-pid staging dir"
    assert os.path.basename(other_dial) in left, "different dial: not ours"
    assert os.path.basename(other_sf) in left, "different sf: not ours"


def test_publish_gc_spares_live_writers_staging(spark, tmp_path):
    """A staging dir owned by a LIVE pid (a concurrent publisher
    mid-write) must never be GC'd — deleting it would re-introduce the
    race the publish path exists to close."""
    path = _leaf(tmp_path, 0x444)
    live_tmp = f"{path}.tmp.1"  # pid 1: always alive
    os.makedirs(live_tmp)
    artifacts.publish(_toy(spark, 1), path)
    assert os.path.basename(live_tmp) in os.listdir(tmp_path)


def test_gc_spares_live_staging_of_superseded_leaf(spark, tmp_path):
    """A LIVE pid's staging dir targeting a SUPERSEDED leaf (a
    long-lived concurrent session that computed its path from the
    pre-regeneration fixture) must survive GC — only the superseded
    ARTIFACT itself is pruned (ADVICE r12 item 2)."""
    old = _leaf(tmp_path, 0x111)
    live_old_staging = f"{old}.tmp.1"  # pid 1: always alive
    dead_old_staging = f"{old}.tmp.999999999"
    artifacts.publish(_toy(spark, 1), old)
    os.makedirs(live_old_staging)
    os.makedirs(dead_old_staging)
    artifacts.publish(_toy(spark, 2), _leaf(tmp_path, 0x333))
    left = os.listdir(tmp_path)
    assert os.path.basename(old) not in left, "superseded artifact pruned"
    assert os.path.basename(live_old_staging) in left, "live writer spared"
    assert os.path.basename(dead_old_staging) not in left, "dead pid pruned"


def test_dpp_copies_of_other_scale_factors_survive(spark):
    """The DPP copy of one scale factor never deletes another's: a sweep
    at one sf may be reading its copy while a second sweep publishes at
    another, so GC stays within one sf tag."""
    from tsengine.operators.relational import dpp_pruned_scan

    for sf in (SF_DIR, SF_DIR_ORACLE):
        dpp_pruned_scan(spark, sf).collect()
    for sf in (SF_DIR, SF_DIR_ORACLE):
        path = artifacts.artifact_path(sf, "events_dpp", ("events",))
        assert os.path.isfile(os.path.join(path, "_SUCCESS")), sf
