"""The benchmark's own smoke test.

Runs every workload of ``workloads.py`` (also those ``BENCHMARK.json``
does not list) for one short cold + warm pass at sf0.001, untraced and
traced, and asserts that

* exactly the end-to-end (untraced) or per-layer (traced) metrics named
  in ``BENCHMARK.json`` are emitted, each with its unit,
* nothing failed (``error_rate`` is 0),
* the span tree is well-formed: each child lies inside its parent,
  every self time is >= 0, and all spans of a query share one id.

    python3 perfbench/smoke.py [--workload NAME]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from tracing import self_times  # noqa: E402
from workloads import workloads  # noqa: E402

SLACK = 1e-6  # float rounding of time.time() between nested spans


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace),
           "--sf", "sf0.001"]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600, check=False)
    if r.returncode != 0:
        raise AssertionError(f"{cmd} exited {r.returncode}:\n{r.stderr[-4000:]}")
    lines = r.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    with open(os.path.join(ROOT, json.loads(lines[-2])["record"])) as fh:
        return {"result": result, "record": json.load(fh)}


def check_metrics(result: dict, declared: list[dict]) -> None:
    got = result["metrics"]
    assert set(got) == {m["name"] for m in declared}, f"undeclared: {set(got) - {m['name'] for m in declared}}"
    for m in declared:
        assert m["name"] in got, f"metric {m['name']} not emitted"
        assert got[m["name"]]["unit"] == m["unit"], f"{m['name']}: unit {got[m['name']]['unit']}"
        assert isinstance(got[m["name"]]["value"], (int, float)), m["name"]
    assert result["failed"] == 0 and result["correct"], f"failures: {result}"
    assert result["attempted"] >= 1


def check_spans(spans: list[dict]) -> None:
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        assert s["end"] >= s["start"], s
        p = by_id.get(s["parent"])
        if p is None:
            assert s["parent"] is None, f"dangling parent: {s}"
            continue
        assert p["start"] - SLACK <= s["start"] and s["end"] <= p["end"] + SLACK, (s, p)
        if p["qid"] is not None:
            assert s["qid"] == p["qid"], f"span {s} left query {p['qid']}"
    assert all(v >= -SLACK for v in self_times(spans).values()), "negative self time"
    queries = [s for s in spans if s["name"] == "query"]
    assert queries and len({q["qid"] for q in queries}) == len(queries), "query ids not unique"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    sys.path.insert(0, ROOT)
    names = a.workload or list(workloads())
    for name in names:
        plain = _run(name, 0)
        check_metrics(plain["result"], bench["end_to_end"])
        assert plain["record"]["error_rate"] == 0
        traced = _run(name, 1)
        check_metrics(traced["result"], bench["per_layer"])
        check_spans(traced["record"]["spans"])
        print(f"smoke {name}: ok", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
