#!/usr/bin/env python3
"""Self-test of the benchmark: every workload once at tiny sizes,
untraced then traced.

    python3 perfbench/selftest.py

Asserts that each run exits 0 with correct outputs, that the untraced
run prints every end-to-end metric of BENCHMARK.json with its unit,
that the traced run prints every per-layer metric with its unit and
reports its tracing overhead, and that the trace holds spans for every
layer the workload calls plus per-operation Spark and CPU counters.
Takes a few minutes (four Spark start-ups, one at a time).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# layer spans each workload must emit in its traced run
SPANS = {
    "query_mix": {
        "session.start", "catalog.load", "queries.build", "queries.plan", "queries.exec",
        "streaming.curation", "streaming.embgate",
    },
    "warehouse_lifecycle": {
        "session.start", "jobs.rebuild", "jobs.sanity", "jobs.append", "plans.analysis",
        "plans.freshness_report", "plans.team_pass_rates", "plans.lag_panel",
    },
}
COUNTERS = {"jobs", "stages", "tasks", "executor_run_s", "jvm_cpu_s", "py_worker_cpu_s", "driver_py_cpu_s"}
SEED = 5


def run(workload: str, trace: int) -> tuple[dict, str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(SEED),
           "--seconds", "2", "--trace", str(trace), "--size", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, f"{cmd} exited {p.returncode}:\n{p.stderr[-2000:]}"
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for wl in bench["workloads"]:
        name = wl["name"]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res, out = run(name, trace)
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, (name, trace, res)
            for m in bench[key]:
                got = res["metrics"].get(m["name"])
                assert got is not None, f"{name}: {m['name']} not printed"
                assert got["unit"] == m["unit"], f"{name}: {m['name']} unit {got['unit']} != {m['unit']}"
                assert f"{m['name']} " in out, f"{name}: {m['name']} missing from the metric table"
            assert set(res["metrics"]) == {m["name"] for m in bench[key]}, (name, sorted(res["metrics"]))
            if trace:
                assert "# tracing overhead" in out, f"{name}: no tracing overhead line"
                with open(os.path.join(ROOT, ".perfbench_out", f"trace-{name}-tiny-s{SEED}.json")) as f:
                    spans = json.load(f)["spans"]
                names = {s["name"] for s in spans}
                assert SPANS[name] <= names, f"{name}: missing spans {SPANS[name] - names}"
                assert all(s["end"] >= s["start"] and "self_s" in s for s in spans)
                ops = [s for s in spans if s["parent"] is None and "counters" in s["attrs"]]
                assert ops and all(COUNTERS <= set(s["attrs"]["counters"]) for s in ops), name
                assert all(s["op"] is not None for s in spans), name
            print(f"ok {name} trace={trace}: {len(res['metrics'])} metrics, attempted={res['attempted']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
