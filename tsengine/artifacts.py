"""At-rest storage: where the engine's on-disk copies live, how they are
keyed to their fixture, and how they are published and garbage-collected.

The reference persists intermediate results as pickle and CSV files
(``unsupervised.py:379-392``, ``:485-493``).  The engine's at-rest copies
are the Spark form of those files, and this module is the only code that
knows where they go.  Everything lives under one root,
``<tempfile.gettempdir()>/tsengine``, so ``TMPDIR`` relocates all of it
and nothing is ever written under an sf_dir.  Two kinds of copy:

* scratch dirs (:func:`scratch_dir`): the write-every-call sinks (CSV,
  JSON, XML and ORC round trips, the partitioned sink, merge and
  compaction targets).  Each call overwrites its dir; the dir is keyed
  by ``realpath(sf_dir)`` like the plan memo, so two scale factors (or
  two spellings of one) never interleave one overwrite-then-read-back;
* artifacts (:func:`artifact_path`): build-once copies that later calls
  read (kNN graphs, manifests, gate flags, the DPP and bucketed copies).
  The leaf is ``<family>_f<fingerprint>_<sf tag>``: ``family`` names the
  copy and every dial it depends on, the fingerprint covers (name, size,
  ``st_mtime_ns``) of every file of the fixture tables it derives from,
  so a regenerated fixture mints a new path instead of serving a stale
  copy (nanoseconds: a same-second regeneration must still miss).

Artifacts are written by :func:`publish` (the bucketed copies excepted:
``saveAsTable`` owns their write), an atomic staged rename that never
deletes the destination first, then prunes superseded siblings:
leaves of the same family and sf tag whose fingerprint differs, plus
staging dirs whose owning process is dead.  GC matches only the leaf
grammar :func:`artifact_path` mints, so it never guesses at deletions.
"""

from __future__ import annotations

import errno
import hashlib
import os
import re
import shutil
import tempfile
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

# the artifact leaf grammar (family, fingerprint, sf tag) and the
# staging dirs publish derives from a leaf: ``.tmp.`` while writing,
# ``.old.`` for a displaced incomplete occupant, each ``.<pid>.<token>``
_LEAF_RE = re.compile(r"^(?P<family>.+)_f(?P<fp>[0-9a-f]{12})_(?P<sf>[0-9a-f]{10})$")
_STAGING_RE = re.compile(r"^(?P<leaf>.+)\.(?:tmp|old)\.(?P<pid>\d+)(?:\.[0-9a-f]+)?$")


def root() -> str:
    """The one root every at-rest copy lives under."""
    return os.path.join(tempfile.gettempdir(), "tsengine")


def _sf_tag(sf_dir: str) -> str:
    return hashlib.md5(os.path.realpath(sf_dir).encode()).hexdigest()[:10]


def scratch_dir(sf_dir: str, leaf: str) -> str:
    """The write-every-call output dir for ``leaf`` under ``sf_dir``'s
    scale factor.  ``leaf`` must be unique across the engine."""
    return os.path.join(root(), "scratch", f"{leaf}_{_sf_tag(sf_dir)}")


def artifact_path(sf_dir: str, family: str, tables: tuple[str, ...]) -> str:
    """The build-once artifact for ``family`` (name + dials) derived from
    the fixture ``tables`` of ``sf_dir``, keyed by their file content."""
    h = hashlib.md5()
    for t in tables:
        src = os.path.join(sf_dir, f"{t}.parquet")
        files = (
            [os.path.join(r, f) for r, _d, fs in sorted(os.walk(src)) for f in sorted(fs)]
            if os.path.isdir(src)
            else [src]
        )
        for p in files:
            st = os.stat(p)
            h.update(f"{t}:{os.path.basename(p)}:{st.st_size}:{st.st_mtime_ns};".encode())
    leaf = f"{family}_f{h.hexdigest()[:12]}_{_sf_tag(sf_dir)}"
    return os.path.join(root(), "artifacts", leaf)


def _committed(path: str) -> bool:
    return os.path.isfile(os.path.join(path, "_SUCCESS"))


def read_or_publish(
    spark: SparkSession,
    path: str,
    build: Callable[[], DataFrame],
    *partition_by: str,
) -> DataFrame:
    """The committed artifact at ``path``, publishing ``build()`` there
    first when it is absent.  An uncommitted copy is never reused."""
    if not _committed(path):
        publish(build(), path, *partition_by)
    return spark.read.parquet(path)


def publish(df: DataFrame, path: str, *partition_by: str) -> None:
    """Write ``df`` as parquet and move it into ``path`` atomically.

    Each call stages into its own ``<path>.tmp.<pid>.<token>``, so
    driver threads of one process publishing one path never share a
    write dir; a failed write removes its staging dir and re-raises.
    The destination is never deleted first: a rename onto a committed
    (``_SUCCESS``) artifact fails with EEXIST/ENOTEMPTY, which means a
    concurrent publisher already won with the identical deterministic
    build, so ours is discarded.  An incomplete occupant (a crashed
    layout) is renamed aside and removed only after the new artifact is
    in place, so readers see the old or the new complete state, never
    an empty path.  Unexpected OSErrors re-raise.  A successful publish
    prunes superseded siblings (:func:`_gc`)."""
    token = f"{os.getpid()}.{uuid.uuid4().hex[:8]}"
    tmp = f"{path}.tmp.{token}"
    try:
        df.write.parquet(tmp, mode="overwrite", partitionBy=list(partition_by) or None)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, path)
    except OSError as exc:
        if exc.errno not in (errno.EEXIST, errno.ENOTEMPTY):
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        if _committed(path):
            # concurrent publisher won with a bit-identical copy
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            # crashed occupant: swap it aside and move ours in.  Two
            # publishers can reach this branch at once: the loser's
            # rename(path, aside) races ENOENT (the winner swapped the
            # occupant first) and its final rename races EEXIST/ENOTEMPTY
            # (the winner already published).  Both interleavings end
            # with a complete artifact in place, so the loser discards
            # its build; any other failure re-raises.
            aside: str | None = f"{path}.old.{token}"
            try:
                os.rename(path, aside)
            except FileNotFoundError:
                aside = None
            try:
                os.rename(tmp, path)
            except OSError as exc2:
                if exc2.errno not in (errno.EEXIST, errno.ENOTEMPTY) or not _committed(path):
                    raise
                shutil.rmtree(tmp, ignore_errors=True)
            if aside is not None:
                shutil.rmtree(aside, ignore_errors=True)
    _gc(path)


def _gc(path: str) -> None:
    """Prune siblings superseded by the artifact just published at
    ``path``: same family and sf tag, other fingerprint, plus staging
    dirs of that family whose pid is dead.  A live process's staging
    dir is spared even for a superseded leaf: a long-lived concurrent
    session may be mid-write to a path it computed before the fixture
    was regenerated.  Such a session may still fail mid-read of a
    pruned superseded artifact with a FileNotFoundException: a loud
    task error, never wrong data, and its retry recomputes the path.
    That trade is deliberate: an age-gated GC would strand corpus-sized
    copies for the grace window on every fixture regeneration."""
    parent, leaf = os.path.split(path)
    m = _LEAF_RE.match(leaf)
    if not m:
        return
    try:
        siblings = os.listdir(parent)
    except OSError:
        return
    for d in siblings:
        staging = _STAGING_RE.match(d)
        sm = _LEAF_RE.match(staging["leaf"] if staging else d)
        if d == leaf or not sm or (sm["family"], sm["sf"]) != (m["family"], m["sf"]):
            continue
        if staging and _pid_alive(int(staging["pid"])):
            continue
        shutil.rmtree(os.path.join(parent, d), ignore_errors=True)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except OSError:
        return True  # EPERM etc: the process exists (or is unknowable)
    return True
