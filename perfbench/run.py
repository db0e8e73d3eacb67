"""tsengine benchmark runner: one workload, one closed-loop client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

A single driver thread on ``local[$SPARK_GRAFT_CPUS]`` (default: every
core this process may use) sends the next registry query only after the
previous one finished.  Each query is timed as plan build (``Query.fn``)
plus execute (``df.write.format("noop")``, which computes every column
of every row).  The first pass is the cold pass, in the workload's own
order; the warm passes that follow, as many as ``--seconds`` holds at the
workload's nominal pass length and at most its ``warm_passes``, give the
steady numbers.  The seed only shuffles the order of the queries within
each warm pass.

Every timed execution is checked against ``fingerprints.json`` (row
count, schema and an order-insensitive content hash, see
``fingerprint.py``); exceptions, warm-up failures and mismatches count
as failures.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
passes with spans and Spark's status store read from outside (see
``tracing.py``) and prints the per-layer metrics.  The last stdout line is
the JSON result; the line before it gives the environment, the error
rate, the tail percentile with its sample count and the peak RSS, and
the full record (per-query samples, spans) goes to
``.perfbench_work/results/``.  Every scratch file of Spark, the JVM and
Python goes under ``.perfbench_work/`` too.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import hashlib  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
TAIL_BEYOND = 10  # the tail percentile keeps at least this many samples above it


def prepare_env() -> None:
    """Point every scratch location of Spark, the JVM and Python into the
    work directory, and pin the core count before Spark starts."""
    for d in ("tmp", "spark-local", "warehouse", "derby", "results"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["TSENGINE_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    extra = json.loads(os.environ.get("TSENGINE_EXTRA_CONF") or "{}")
    extra.setdefault(
        "spark.driver.extraJavaOptions",
        f"-Dderby.system.home={WORK}/derby -Djava.io.tmpdir={WORK}/tmp -XX:-UsePerfData",
    )
    os.environ["TSENGINE_EXTRA_CONF"] = json.dumps(extra)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def data_dir(w) -> str:
    """The input directory of workload ``w``, building its tier if needed."""
    if not w.tier_copies:
        return w.source_dir
    import tier

    return tier.ensure(w.source_dir, WORK, w.tier_copies)


# ---------------------------------------------------------------------------
# process tree (no psutil here: read /proc)


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                s = fh.read()
        except OSError:
            continue
        fields = s[s.rfind(")") + 2 :].split()
        if fields[0] != "Z":
            kids.setdefault(int(fields[1]), []).append(int(d))
    return kids


def tree_pids(root: int) -> list[int]:
    kids, out, todo = _proc_children(), [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """(driver + JVM, Python workers): the peak RSS of the Python driver
    plus that of the JVM, and the sum of the peaks of the live Python
    daemons and workers.  The workers are apart because how many of them
    live at once depends on task timing, which the first figure must not."""
    me = os.getpid()
    workers = sum(_hwm_kb(p) for p in tree_pids(me) if p not in (me, jvm_pid))
    return (_hwm_kb(me) + _hwm_kb(jvm_pid)) / 1024.0, workers / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
    except OSError:
        return False
    return s[s.rfind(")") + 2] != "Z"


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the JVM and wait for every child process."""
    pids = tree_pids(os.getpid())[1:]
    gateway = spark.sparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + timeout
        for pid in pids:
            while _alive(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                os.kill(pid, signal.SIGKILL)


# ---------------------------------------------------------------------------
# environment record


def _source_sha() -> str:
    h = hashlib.sha1()
    paths = [os.path.join(ROOT, "bench.py")]
    for d, _dirs, files in os.walk(os.path.join(ROOT, "tsengine")):
        paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def _git_sha() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                       capture_output=True, text=True, check=False)
    return r.stdout.strip() or None


def environment(spark, args, load_ambient: float, sf_dir: str) -> dict:
    import pyspark

    return {
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "git_sha": _git_sha(),
        "source_sha": _source_sha(),
        "seed": args.seed,
        "sf_dir": os.path.relpath(sf_dir, ROOT),
        "loadavg_1m_ambient": round(load_ambient, 2),
    }


# ---------------------------------------------------------------------------
# the closed loop


class Loop:
    """One client: builds and executes queries one at a time, counting
    attempts and failures, checking every output's fingerprint."""

    def __init__(self, spark, queries, sf_dir: str, expected: dict, tracer):
        self.spark, self.qs, self.sf_dir = spark, queries, sf_dir
        self.expected, self.tr = expected, tracer
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self.peak_rss_mb = self.worker_rss_mb = 0.0

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def warm_step(self, label: str, fn) -> None:
        self.attempted += 1
        try:
            fn()
        except Exception:  # a warm-up failure is counted, never swallowed
            self.fail(f"warm-up {label}: {traceback.format_exc(limit=3)}")

    def query(self, name: str, qid: int) -> dict | None:
        import fingerprint

        self.attempted += 1
        q = self.qs[name]
        try:
            with self.tr.span("query", qid=qid, query=name, module=q.fn.__module__):
                with self.tr.span("build"):
                    t0 = time.perf_counter()
                    df = q.fn(self.spark, self.sf_dir)
                    t1 = time.perf_counter()
                fdf, obs = fingerprint.observed(df)
                with self.tr.span("execute"):
                    t2 = time.perf_counter()
                    fdf.write.format("noop").mode("overwrite").save()
                    t3 = time.perf_counter()
            got = fingerprint.value(df, obs)
        except Exception:
            self.fail(f"{name}: {traceback.format_exc(limit=3)}")
            return None
        want = self.expected.get(name)
        if want is None or any(got[k] != want[k] for k in ("rows", "hash", "schema")):
            self.fail(f"{name}: output fingerprint {got} != recorded {want}")
        return {"query": name, "build_s": t1 - t0, "exec_s": t3 - t2,
                "query_s": (t1 - t0) + (t3 - t2)}

    def sample_rss(self) -> None:
        main, workers = peak_rss_mb(self.jvm_pid)
        self.peak_rss_mb = max(self.peak_rss_mb, main)
        self.worker_rss_mb = max(self.worker_rss_mb, workers)

    def run_pass(self, order, label: str, qids) -> dict:
        with self.tr.span("pass", label=label):
            samples = [s for s in (self.query(n, next(qids)) for n in order) if s]
        self.sample_rss()
        return {"label": label, "pass_s": sum(s["query_s"] for s in samples),
                "samples": samples}


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least
    ``TAIL_BEYOND`` samples above it (the maximum if there are fewer)."""
    xs = sorted(samples)
    n = len(xs)
    k = n - TAIL_BEYOND - 1 if n > TAIL_BEYOND else n - 1
    return xs[k], 100.0 * (k + 1) / n, n


def warm_up(loop: Loop, spark, sf_dir: str) -> None:
    """The warm-up of bench.py, less its sf0.001 pass over every query:
    JVM and parquet-reader paths, then one Arrow task per core so the
    whole Python worker pool exists before the first timed query."""
    loop.warm_step("range", lambda: spark.range(10**6).selectExpr("sum(id)").collect())
    loop.warm_step("region", lambda: spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count())

    def arrow():
        from pyspark.sql.functions import pandas_udf

        def _warm_fn(s):
            import numpy as np  # preload the kernel imports in every pooled worker

            return s + int(np.int64(1))

        ncores = spark.sparkContext.defaultParallelism
        spark.range(10**5).repartition(ncores).select(pandas_udf(_warm_fn, "long")("id")).count()

    loop.warm_step("arrow", arrow)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", help="run on this data/ directory instead (smoke test)")
    args = ap.parse_args(argv)
    # sampled before Spark starts: once it runs, Spark drives the average up
    load_ambient = os.getloadavg()[0]

    prepare_env()
    import fingerprint
    import tracing
    from workloads import workloads

    ws = workloads()
    if args.workload not in ws:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(ws)}", file=sys.stderr)
        return 2
    w = ws[args.workload]
    t_tier = time.perf_counter()
    if args.sf:
        w = dataclasses.replace(w, sf=args.sf, tier_copies=0)
    sf_dir = data_dir(w)
    tier_s = time.perf_counter() - t_tier
    expected = fingerprint.load().get(fingerprint.data_key(sf_dir), {})

    from tsengine.registry import all_queries
    from tsengine.session import get_spark

    tr = tracing.Tracer() if args.trace else tracing.NULL
    with tr.span("setup"):
        with tr.span("session.start"):
            spark = get_spark(f"perfbench-{w.name}")
        try:
            qs = all_queries()
            missing = [n for n in w.queries if n not in qs]
            if missing:
                raise KeyError(f"queries not registered: {missing}")
            loop = Loop(spark, qs, sf_dir, expected, tr)
            with tr.span("session.warmup"):
                warm_up(loop, spark, sf_dir)
        except BaseException:
            stop_spark(spark)
            raise
    setup_s = time.perf_counter() - T_PROCESS - tier_s

    try:
        env = environment(spark, args, load_ambient, sf_dir)
        rng = random.Random(args.seed)
        qids = itertools.count()
        # as many warm passes as --seconds holds, at most the workload's
        # count: a full run always measures the same work
        n_warm = max(1, min(w.warm_passes, math.ceil(args.seconds / w.warm_pass_s)))

        def order():
            names = list(w.queries)
            rng.shuffle(names)
            return names

        probe = tracing.Probe(spark, tr) if args.trace else None
        passes = []
        # the cold pass keeps the workload's own order, so the first-use
        # costs (JIT, codegen, worker start) land on the same queries every run
        cold = list(w.queries)
        if probe is None:
            passes.append(loop.run_pass(cold, "cold", qids))
            for i in range(n_warm):
                passes.append(loop.run_pass(order(), f"warm{i}", qids))
        else:
            # traced: the same cold and warm passes, each traced warm pass
            # between two untraced ones, so the trace overhead is measured
            # without counting the warm-up still going on from pass to pass
            passes.append(probe.traced(lambda: loop.run_pass(cold, "cold", qids)))
            for i in range(n_warm + 1):
                if i:
                    passes.append(probe.traced(lambda: loop.run_pass(order(), f"warm{i}", qids)))
                with tr.paused():
                    passes.append(loop.run_pass(order(), f"untraced{i}", qids))
    finally:
        stop_spark(spark)

    warm = [p for p in passes if p["label"].startswith("warm")]
    per_query = [s["query_s"] for p in warm for s in p["samples"]]
    if not per_query:
        print("perfbench: no warm query finished", file=sys.stderr)
        return 1
    tail_s, tail_pct, n = tail(per_query)
    e2e = {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (passes[0]["pass_s"], "s"),
        "steady_pass_s": (statistics.median(p["pass_s"] for p in warm), "s"),
        "query_p50_s": (statistics.median(per_query), "s"),
        "query_tail_s": (tail_s, "s"),
    }
    record = {
        "workload": w.name, "trace": args.trace, "env": env,
        "tier_s": tier_s, "query_tail_percentile": tail_pct, "query_samples": n,
        "peak_rss_mb": loop.peak_rss_mb, "worker_rss_mb": loop.worker_rss_mb,
        "error_rate": loop.failed / loop.attempted, "errors": loop.errors,
        "e2e": {k: v for k, (v, _u) in e2e.items()},
        "passes": passes,
    }
    if probe is None:
        metrics = e2e
    else:
        untraced = [p["pass_s"] for p in passes if p["label"].startswith("untraced")]
        metrics = probe.layer_metrics()
        metrics["peak_rss_mb"] = (loop.peak_rss_mb, "MB")
        metrics["arrow.worker_rss_mb"] = (loop.worker_rss_mb, "MB")
        metrics["trace.overhead"] = (
            e2e["steady_pass_s"][0] / statistics.median(untraced) - 1.0, "ratio")
        record["spans"] = tr.spans
    record["metrics"] = {k: v for k, (v, _u) in metrics.items()}
    out = os.path.join(WORK, "results", f"{w.name}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    print(json.dumps({"env": env, "error_rate": record["error_rate"],
                      "peak_rss_mb": round(loop.peak_rss_mb, 1),
                      "query_tail_percentile": round(tail_pct, 1),
                      "query_samples": n, "warm_passes": len(warm), "record": os.path.relpath(out, ROOT)}))
    print(json.dumps({
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
