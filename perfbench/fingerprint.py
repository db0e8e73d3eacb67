"""Order-insensitive output fingerprints, checked on every timed run.

A fingerprint is the row count, the schema and the 64-bit sum of an
``xxhash64`` over every row (doubles rounded to 9 decimals first, as
``tsengine.testing`` does before comparing).  The benchmark computes it
with ``DataFrame.observe`` on the same ``noop`` write it times, so every
timed execution is checked without a second pass over the data.

Record the expected values from runs that match the registered DuckDB
oracle (``tsengine.testing.compare``):

    python3 perfbench/fingerprint.py [--workload NAME]

which updates ``perfbench/fingerprints.json`` and fails if any query
does not match its oracle.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")
_MASK32 = 0xFFFFFFFF
_IDS = itertools.count()


def _canon(col, dtype):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return F.round(col.cast("double"), 9)
    if isinstance(dtype, T.ArrayType):
        return F.transform(col, lambda x: _canon(x, dtype.elementType))
    if isinstance(dtype, T.StructType):
        return F.struct(*[_canon(col[f.name], f.dataType).alias(f.name) for f in dtype.fields])
    return col


def observed(df):
    """Return ``(df_with_observation, observation)``; the observation's
    metrics become available once an action on the returned frame ends."""
    from pyspark.sql import functions as F
    from pyspark.sql.observation import Observation

    fields = sorted(df.schema.fields, key=lambda f: f.name)
    h = F.xxhash64(*[_canon(F.col(f"`{f.name}`"), f.dataType) for f in fields])
    obs = Observation(f"perfbench_fp_{next(_IDS)}")
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.shiftright(h, 32)).alias("hi"),
        F.sum(h.bitwiseAND(F.lit(_MASK32))).alias("lo"),
    )
    return out, obs


def value(df, obs) -> dict:
    """The fingerprint of ``df`` from a finished observation."""
    m = obs.get
    total = ((m["hi"] or 0) * (1 << 32) + (m["lo"] or 0)) % (1 << 64)
    return {"rows": int(m["n"]), "hash": f"{total:016x}", "schema": df.schema.simpleString()}


def load() -> dict:
    with open(FINGERPRINTS) as fh:
        return json.load(fh)


def data_key(sf_dir: str) -> str:
    """Key of an input directory in the fingerprint file: its name."""
    return os.path.basename(os.path.normpath(sf_dir))


def _record(names, sf_dir, spark, qs) -> tuple[dict, list[str]]:
    from tsengine.testing import compare, duck_connect

    out, bad = {}, []
    con = duck_connect(sf_dir)
    try:
        for name in names:
            q = qs[name]
            if not q.oracle:
                bad.append(f"{name}: no registered oracle to check against")
                continue
            df = q.fn(spark, sf_dir)
            res = compare(name, df, q.oracle, con)
            if not res.ok:
                bad.append(str(res))
                continue
            fdf, obs = observed(df)
            fdf.write.format("noop").mode("overwrite").save()
            out[name] = value(df, obs)
            print(f"  {data_key(sf_dir)} {name}: {res}", file=sys.stderr)
    finally:
        con.close()
    return out, bad


def main() -> int:
    ap = argparse.ArgumentParser(description="record output fingerprints")
    ap.add_argument("--workload", action="append", help="default: all")
    a = ap.parse_args()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import run  # noqa: E402  (sets the work-directory environment)
    from workloads import workloads

    run.prepare_env()
    from tsengine.registry import all_queries
    from tsengine.session import get_spark

    spark = get_spark("perfbench-fingerprints")
    qs = all_queries()
    table = load() if os.path.exists(FINGERPRINTS) else {}
    failures = []
    for w in workloads().values():
        if a.workload and w.name not in a.workload:
            continue
        # the smoke test runs every workload at sf0.001, so record there too
        for sf_dir in {run.data_dir(w), os.path.join(os.path.dirname(w.source_dir), "sf0.001")}:
            got, bad = _record(w.queries, sf_dir, spark, qs)
            table.setdefault(data_key(sf_dir), {}).update(got)
            failures += bad
    with open(FINGERPRINTS, "w") as fh:
        json.dump(table, fh, indent=1, sort_keys=True)
        fh.write("\n")
    run.stop_spark(spark)
    for f in failures:
        print(f, file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
