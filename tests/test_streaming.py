"""Structured Streaming twins: parity with the batch window operators
(the correctness argument for ops the DuckDB harness can't run)."""

from __future__ import annotations

import pandas as pd
import pytest

from tsengine.registry import all_queries
from tsengine.streaming.windows import (
    metrics_log_sink,
    read_events_stream,
    run_available_now,
    tumbling_stream,
)


def _canon(df):
    p = df.toPandas()
    return p[sorted(p.columns)].sort_values(by=sorted(p.columns)).reset_index(drop=True)


def test_tumbling_stream_matches_batch(spark, sf_dir):
    ev = read_events_stream(spark, sf_dir)
    streamed = run_available_now(tumbling_stream(ev), "t_tumbling")
    batch = all_queries()["tumbling_window_agg"].fn(spark, sf_dir)
    pd.testing.assert_frame_equal(
        _canon(streamed), _canon(batch), check_dtype=False
    )


def test_metrics_log_sink_collects(spark, sf_dir):
    ev = read_events_stream(spark, sf_dir)
    log: list = []
    metrics_log_sink(tumbling_stream(ev), log)
    # trailing micro-batches may be empty in update mode; at least one
    # batch must have emitted aggregate rows
    assert len(log) >= 1 and any(n > 0 for _, n in log)


def test_dedup_stream_drops_cross_batch_duplicates(spark, sf_dir, tmp_path):
    """Every event sent twice in two separate micro-batches must come
    out exactly once — per-key state survives the trigger boundary and
    is watermark-bounded."""
    import os
    import time

    from pyspark.sql import functions as F

    from tsengine.sources.tables import load_table
    from tsengine.streaming.windows import dedup_stream

    src = load_table(spark, sf_dir, "events").toPandas()
    out = tmp_path / "dup_events"
    out.mkdir()
    for i in range(2):  # the SAME rows, twice, in mtime order
        p = out / f"copy-{i}.parquet"
        src.to_parquet(p, index=False)
        ts = time.time() - 300 + i * 60
        os.utime(p, (ts, ts))

    schema = spark.read.parquet(str(out)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(out))
    )
    # pandas wrote TIMESTAMP(NANOS): same ns->us conversion as the loaders
    if dict((f.name, f.dataType.simpleString()) for f in schema.fields)["ts"] == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    q = (
        dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_streamed")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_out = spark.sql("SELECT COUNT(*) AS n FROM dedup_streamed").collect()[0].n
    n_distinct = len(src[["user_id", "event_id"]].drop_duplicates())
    assert n_out == n_distinct > 0


def test_interval_join_stream_matches_batch(spark, sf_dir):
    """Stream-stream interval join parity: the streamed (error x
    purchase within +/-15 min) pair set must equal the same join run as
    a plain batch query.  Inner-join matches emit without waiting for
    the watermark, so AvailableNow drains the complete result."""
    from pyspark.sql import functions as F

    from tsengine.sources.tables import load_table
    from tsengine.streaming.windows import interval_join_stream

    ev = read_events_stream(spark, sf_dir)
    streamed = run_available_now(
        interval_join_stream(ev), "t_interval_join", output_mode="append"
    )

    bev = load_table(spark, sf_dir, "events")
    err = bev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_event_id"), "user_id", F.col("ts").alias("err_ts")
    )
    pur = bev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("p_event_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    batch = (
        err.join(
            pur,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("p_ts") >= F.col("err_ts") - F.expr("INTERVAL 15 MINUTES"))
            & (F.col("p_ts") <= F.col("err_ts") + F.expr("INTERVAL 15 MINUTES")),
            "inner",
        )
        .select(
            "err_event_id",
            "user_id",
            "p_event_id",
            F.round("p_value", 6).alias("p_value"),
        )
    )
    pd.testing.assert_frame_equal(_canon(streamed), _canon(batch), check_dtype=False)
    assert streamed.count() > 0


_DRAIN_CONFS = ("spark.sql.shuffle.partitions", "spark.sql.streaming.noDataMicroBatches.enabled")
_STREAM_QUERIES = sorted(
    n for n, q in all_queries().items() if q.fn.__module__ == "tsengine.streaming.queries"
)


def test_registry_has_twelve_drains():
    assert len(_STREAM_QUERIES) == 12, _STREAM_QUERIES


def test_drain_confs_scoped_to_query_start(spark, sf_dir, monkeypatch):
    """A stream copies the session conf at start, so the drain's state-
    partition and no-data-batch confs must already be restored while it
    runs: the caller's session never sees them during the drain."""
    from pyspark.sql.streaming.query import StreamingQuery

    caller = {k: spark.conf.get(k, None) for k in _DRAIN_CONFS}
    seen = []
    await_termination = StreamingQuery.awaitTermination

    def reading_confs(self, *args, **kwargs):
        seen.append({k: spark.conf.get(k, None) for k in _DRAIN_CONFS})
        return await_termination(self, *args, **kwargs)

    monkeypatch.setattr(StreamingQuery, "awaitTermination", reading_confs)
    streamed = run_available_now(tumbling_stream(read_events_stream(spark, sf_dir)), "t_scoped")
    assert seen == [caller]
    assert streamed.count() > 0


def test_concurrent_drains_leave_session_conf_unchanged(spark, sf_dir):
    """Two threads drain overlapping streams (the second starts while the
    first runs); neither may leave its state-partition count behind."""
    import threading
    import time

    queries = all_queries()
    before = spark.conf.getAll
    for _ in range(3):
        errors = []

        def drain(name, delay):
            time.sleep(delay)
            try:
                queries[name].fn(spark, sf_dir).count()
            except Exception as e:  # noqa: BLE001 - reported by the assert below
                errors.append(e)

        threads = [
            threading.Thread(target=drain, args=("stream_tumbling", 0.0)),
            threading.Thread(target=drain, args=("stream_interval_join", 0.3)),
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors
        assert spark.conf.getAll == before


def test_drain_drops_sink_view_on_every_path(spark, sf_dir):
    """Neither a successful nor a failing drain leaves its memory-sink
    temp view in the session, and the successful drain's result still
    counts after its view is gone."""
    from pyspark.sql import functions as F

    def boom(v):
        raise RuntimeError("injected kernel failure")

    views = sorted(t.name for t in spark.catalog.listTables())
    ev = read_events_stream(spark, sf_dir)
    streamed = run_available_now(tumbling_stream(ev), "t_view_ok")
    failing = tumbling_stream(ev.withColumn("value", F.udf(boom, "double")("value")))
    with pytest.raises(Exception, match="injected kernel failure"):
        run_available_now(failing, "t_view_fail")
    assert sorted(t.name for t in spark.catalog.listTables()) == views
    assert streamed.count() == all_queries()["tumbling_window_agg"].fn(spark, sf_dir).count()


@pytest.fixture(scope="module")
def drain_events(spark):
    """Streaming listener on the session: progress events by run id and
    the run ids whose terminated event has arrived."""
    import collections
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    class _DrainEvents(StreamingQueryListener):
        def __init__(self):
            self.input_rows = collections.defaultdict(list)
            self.terminated = set()
            self.cond = threading.Condition()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            with self.cond:
                self.input_rows[str(event.progress.runId)].append(event.progress.numInputRows)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.cond:
                self.terminated.add(str(event.runId))
                self.cond.notify_all()

        def wait_terminated(self, run: str, timeout: float) -> bool:
            with self.cond:
                return self.cond.wait_for(lambda: run in self.terminated, timeout)

    listener = _DrainEvents()
    spark.streams.addListener(listener)
    yield listener
    spark.streams.removeListener(listener)


@pytest.mark.parametrize("name", _STREAM_QUERIES)
def test_drain_runs_only_batches_with_data(spark, sf_dir, drain_events, monkeypatch, name):
    """Every micro-batch of a registered drain reads input rows: the
    trailing watermark-only batch is skipped."""
    from pyspark.sql.streaming.query import StreamingQuery

    runs = []
    await_termination = StreamingQuery.awaitTermination

    def recording_run(self, *args, **kwargs):
        runs.append(str(self.runId))
        return await_termination(self, *args, **kwargs)

    monkeypatch.setattr(StreamingQuery, "awaitTermination", recording_run)
    all_queries()[name].fn(spark, sf_dir).count()
    assert runs
    for run in runs:
        assert drain_events.wait_terminated(run, 60), f"no terminated event for {name} run {run}"
        with drain_events.cond:
            batches = list(drain_events.input_rows[run])
        assert batches and all(n > 0 for n in batches), (name, batches)
