#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Runs one workload as a closed loop of one client on local[k] Spark,
k = min(nproc, 4), checks the outputs outside the timed region, and
prints every metric by name with its unit, then one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns the
Spark UI on, records spans around every layer call and reports the
per-layer metrics (spans are written to ``.perfbench_out/``). See
DESIGN.md for the workloads, metrics and layers.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _environment(work: str) -> None:
    """Process environment, set before the program is imported (the
    session module reads SPARK_GRAFT_CPUS at import) and before the JVM
    starts: the engine's deployment sizing, the hot-cache posture, an
    import path for Spark's Python workers that does not depend on the
    working directory, and scratch space inside the checkout."""
    k = min(os.cpu_count() or 1, 4)
    os.environ["SPARK_GRAFT_CPUS"] = str(k)
    os.environ["SPARK_GRAFT_CACHE"] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the JVM's temp files too, after any options the caller set
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={os.environ['TMPDIR']}") if o
    )
    sys.path[:0] = [ROOT, HERE]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "tiny"), default="bench",
                    help="input sizes; 'tiny' is the self-test's")
    args = ap.parse_args(argv)

    # the harness's per-run work dir (removed when the run ends)
    _environment(os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"))
    try:
        import nfl_data_pipeline_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    for var in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(os.environ[var], exist_ok=True)

    import harness
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run = harness.Run(args, ROOT)
    res = run.execute(WORKLOADS[args.workload](run))
    env = res["env"]

    print(
        f"# {args.workload} seed={args.seed} size={args.size} trace={args.trace} "
        f"nproc={env['nproc']} master={env['master']} ram_gb={env['ram_gb']} "
        f"load_start={env['load_start'][0]:.2f} load_end={env['load_end'][0]:.2f} "
        f"steady_ops={env['steady_ops']} loop_s={env['loop_s']:.1f} steal={100 * env['steal_share']:.1f}%"
    )
    if env["flagged"]:
        print(f"# FLAG: another Spark JVM was alive during this run: pids {env['other_spark_jvms']}")
    if env["steal_share"] > 0.1:
        print(f"# FLAG: the hypervisor took {100 * env['steal_share']:.0f}% of CPU time during the timed loop")
    for f in run.failures:
        print(f"# failed: {f.splitlines()[0]}")
    if args.trace:
        # every per-layer metric of BENCHMARK.json; a layer the workload
        # never calls reads 0
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            layers = json.load(f)["per_layer"]
        metrics = {m["name"]: (float(run.layer.get(m["name"], 0.0)), m["unit"]) for m in layers}
        ov = res["record"]["tracing_overhead"]
        if not ov["metrics"]:
            print("# tracing overhead: not measured (no untraced run of this workload and size "
                  "is recorded in .perfbench_out)")
        else:
            print(f"# tracing overhead vs the median of {ov['untraced_runs']} untraced runs: " + ", ".join(
                f"{k} {v['delta_pct']:+.1f}%"
                + ("" if v["resolved"] else " (unresolved: " + (
                    f"within the untraced spread of {v['spread_pct']:.0f}%)" if v["spread_pct"] is not None
                    else "fewer than 3 untraced runs)"))
                for k, v in ov["metrics"].items()))
    else:
        metrics = res["metrics"]
    for k, (v, u) in metrics.items():
        print(f"{k:34s} {v:14.6f} {u}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
