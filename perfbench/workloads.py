"""The benchmark's workloads: which registry queries run, on which data.

Each workload is a fixed list of registry query names and the input
directory they read.  The seed only shuffles the order of the queries
within each warm pass; it never changes which queries run or on what data.

``BENCHMARK.json`` lists ``headline`` and ``drains_pipelines``.  A run of
``scale_x10`` takes about 67 s on 4 cores, and all three together do not
fit the time a full round of benchmark runs may take, so ``scale_x10``
is run by name (``run.py --workload scale_x10``) and by ``smoke.py``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")

#: the data-bound headline queries: ratio >= 1.6x at the 10x tier in SCALING.md
SCALE_QUERIES = (
    "conv1d_encode",
    "gru_context",
    "fft_mag",
    "dedup_minhash_lsh",
    "tfidf_topk",
    "perplexity_filter",
    "gapfill_interpolate",
    "asof_join",
)

#: one drain of each streaming kind: built-in window state, the
#: stream-stream interval join, and applyInPandasWithState.  A drain's
#: time varies by 10-20% from run to run, so the workload repeats a few
#: drains rather than running all twelve once.
STREAM_DRAINS = (
    "stream_tumbling",
    "stream_interval_join",
    "stream_cusum",
)

#: the thread-pooled pipelines (unsup_epoch_curves, before_training_grid)
#: take 11-17 s a pass on 4 cores, which would double the length of a run;
#: the composed supervised evaluation stands in
PIPELINES = ("pipeline_supervised_eval",)


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    sf: str  # directory name under data/
    warm_pass_s: float  # nominal warm-pass length on a 4-core host
    warm_passes: int  # warm passes of a full run
    tier_copies: int = 0  # >0: run on a key-offset tier of ``sf``

    @property
    def source_dir(self) -> str:
        return os.path.join(DATA, self.sf)


def _headline() -> tuple[str, ...]:
    from bench import HEADLINE

    return tuple(HEADLINE)


def workloads() -> dict[str, Workload]:
    return {
        w.name: w
        for w in (
            Workload("headline", _headline(), "sf0.01", warm_pass_s=16.0, warm_passes=1),
            Workload("scale_x10", SCALE_QUERIES, "sf0.01", warm_pass_s=9.0, warm_passes=3,
                     tier_copies=10),
            Workload("drains_pipelines", STREAM_DRAINS + PIPELINES, "sf0.001",
                     warm_pass_s=8.0, warm_passes=2),
        )
    }
