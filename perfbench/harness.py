"""One benchmark run: environment, repeated set-up, a closed loop of
one client, output checks outside the timed region, and the metrics.

A workload supplies these hooks (see ``workloads.py``):

- ``generate()``: write the seeded inputs (benchmark time, not timed);
- ``load(spark)``: the workload's set-up through the program, timed
  as part of ``setup_s`` and repeated ``SETUP_ROUNDS`` times;
  ``check_load(spark)`` checks it untimed, ``unload(spark)`` undoes it
  between rounds;
- ``warm(spark)``: untimed warm-up (JIT, Python worker pool);
- ``ops(spark, deadline)``: yields ``(op_id, fn)`` until the clock says
  stop; ``fn()`` runs the timed operation and returns a verifier that
  the harness calls after the clock stops (a falsy verdict or an
  exception counts the operation as failed);
- ``finish(spark)``: last checks and the workload's layer metrics.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time
import traceback

import probes

SETUP_ROUNDS = 3


class Run:
    def __init__(self, args, root: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.size = args.size
        self.work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.out_dir = os.path.join(root, ".perfbench_out")
        self.tracer = probes.Tracer(self.trace)
        self.latencies: list[float] = []  # the workload's steady-state ops
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layer: dict[str, float] = {}  # per-layer metrics, set by workloads
        self.op_counters: list[dict] = []  # per-op spark/cpu counters (traced)
        self.rest: probes.SparkRest | None = None
        self.cpu: probes.CpuProbe | None = None
        self.notes: dict = {}

    # ---- environment ---------------------------------------------------

    def env(self) -> dict:
        nproc = os.cpu_count() or 1
        return {
            "nproc": nproc,
            "k": int(os.environ["SPARK_GRAFT_CPUS"]),
            "ram_gb": round(probes.mem_total_gb(), 1),
            "load_start": list(os.getloadavg()),
        }

    def session(self):
        from nfl_data_pipeline_spark.session import get_spark

        # the status REST API is the traced run's stage-metric source;
        # the untraced run keeps the session's own posture (UI off)
        extra = {"spark.ui.enabled": "true"} if self.trace else None
        spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=extra)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    # ---- operations ----------------------------------------------------

    def op(self, op_id: str, fn, steady: bool = True, name: str = "op"):
        """Run one timed operation; verify it after the clock stops."""
        self.attempted += 1
        verify = None
        cpu0 = self.cpu.read() if self.cpu else None
        t0 = time.perf_counter()
        try:
            with self.tracer.operation(op_id, name) as span:
                verify = fn()
            dt = time.perf_counter() - t0
        except Exception:
            dt = time.perf_counter() - t0
            self._fail(op_id, traceback.format_exc(limit=3))
            span = None
        else:
            if steady:
                self.latencies.append(dt)
        if self.trace:
            cpu1 = self.cpu.read()
            counters = self.rest.take()
            counters.update({k: cpu1[k] - cpu0[k] for k in cpu1})
            counters["steady"] = steady
            self.op_counters.append(counters)
            if span is not None:
                span["attrs"]["counters"] = counters
        if verify is not None:
            try:
                ok = verify()
            except Exception:
                ok = False
                self.notes.setdefault("verify_errors", []).append(
                    f"{op_id}: {traceback.format_exc(limit=3)}"
                )
            if not ok:
                self._fail(op_id, "output check failed")
        return dt

    def _fail(self, op_id: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{op_id}: {why}")

    def check(self, what: str, ok: bool) -> None:
        """A check that belongs to no single operation (counts as one
        attempted operation, failed when ``ok`` is false)."""
        self.attempted += 1
        if not ok:
            self._fail(what, "output check failed")

    # ---- the run -------------------------------------------------------

    def execute(self, wl) -> dict:
        env = self.env()
        others = probes.other_spark_jvms({os.getpid()})
        os.makedirs(self.work, exist_ok=True)
        os.makedirs(self.out_dir, exist_ok=True)
        wl.generate()
        setup = []
        spark = None
        for r in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            with self.tracer.operation(f"setup-{r}", "setup"):
                with self.tracer.span("session.start"):
                    spark = self.session()
                wl.load(spark)
            setup.append(time.perf_counter() - t0)
            wl.check_load(spark)
            if r < SETUP_ROUNDS - 1:
                wl.unload(spark)
                spark.stop()
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        env["master"] = spark.sparkContext.master  # the sizing actually in force
        gateway = spark.sparkContext._gateway
        try:
            if self.trace:
                self.rest = probes.SparkRest(spark)
                self.cpu = probes.CpuProbe(jvm_pid)
                self.layer["catalog.cached_partitions"] = self.rest.cached_partitions()
            wl.warm(spark)
            ticks0 = probes.host_ticks()
            t_loop = time.perf_counter()
            for op_id, fn in wl.ops(spark, t_loop + self.seconds):
                self.op(op_id, fn, name=wl.OP_NAME)
            loop_s = time.perf_counter() - t_loop
            steal = probes.steal_share(ticks0, probes.host_ticks())
            wl.finish(spark)
            self.layer["process.peak_rss_mb"] = probes.peak_rss_mb(
                [os.getpid(), jvm_pid, *probes.descendants(jvm_pid)]
            )
        finally:
            proc = getattr(gateway, "proc", None)
            spark.stop()
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        if self.trace:
            for name in ("session.start", "catalog.load"):  # medians of the set-up rounds
                d = self.tracer.durations(name)
                self.layer[f"{name}_s"] = statistics.median(d) if d else 0.0
            self._layer_from_counters()
        n = len(self.latencies)
        metrics = {
            "setup_s": (statistics.median(setup), "s"),
            "op_p50_s": (statistics.median(self.latencies) if n else 0.0, "s"),
            "ops_per_s": (n / sum(self.latencies) if n else 0.0, "1/s"),
            "ops_ok_ratio": ((self.attempted - self.failed) / max(1, self.attempted), "ratio"),
        }
        env.update(
            load_end=list(os.getloadavg()),
            other_spark_jvms=others,
            steal_share=steal,
            flagged=bool(others),
            steady_ops=n,
            loop_s=loop_s,
            setup_rounds_s=setup,
        )
        record = {
            "workload": self.workload,
            "seed": self.seed,
            "trace": self.trace,
            "size": self.size,
            "config": wl.cfg,
            "env": env,
            "metrics": {k: v[0] for k, v in metrics.items()},
            "layer": self.layer,
            "latencies_s": self.latencies,
            "failures": self.failures,
            "notes": self.notes,
        }
        tag = f"{self.workload}-{self.size}-s{self.seed}"
        with open(os.path.join(self.out_dir, f"run-{tag}-t{int(self.trace)}.json"), "w") as f:
            json.dump(record, f, indent=1)
        if self.trace:
            record["tracing_overhead"] = self._overhead(metrics, wl.cfg)
            self.tracer.dump(os.path.join(self.out_dir, f"trace-{tag}.json"), record)
        shutil.rmtree(self.work, ignore_errors=True)
        return {"metrics": metrics, "env": env, "record": record}

    def _overhead(self, metrics: dict, cfg: dict) -> dict:
        """End-to-end difference between this traced run and the median
        of the untraced runs of the same workload and sizes recorded in
        this checkout (any seed). A difference no larger than those
        runs' own spread (IQR over median) is marked unresolved; with
        fewer than three runs there is no spread to resolve it against."""
        runs = []
        for path in glob.glob(os.path.join(self.out_dir, f"run-{self.workload}-{self.size}-s*-t0.json")):
            with open(path) as f:
                rec = json.load(f)
            if rec.get("config") == cfg:
                runs.append(rec["metrics"])
        out = {"untraced_runs": len(runs), "metrics": {}}
        if not runs:
            return out
        for k in ("op_p50_s", "ops_per_s", "setup_s"):
            vals = [r[k] for r in runs]
            med = statistics.median(vals)
            if not med:
                continue
            spread = None
            if len(vals) >= 3:
                q1, _, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / med
            delta = (metrics[k][0] - med) / med
            out["metrics"][k] = {
                "untraced_median": med, "traced": metrics[k][0], "delta_pct": 100.0 * delta,
                "spread_pct": None if spread is None else 100.0 * spread,
                "resolved": spread is not None and abs(delta) > spread,
            }
        return out

    def _layer_from_counters(self) -> None:
        steady = [c for c in self.op_counters if c["steady"]]
        n = max(1, len(steady))
        for k in probes.SparkRest.FIELDS:
            self.layer[f"spark.{k}"] = sum(c[k] for c in steady) / n
        self.layer["spark.jvm_cpu_s"] = sum(c["jvm_cpu_s"] for c in steady) / n
        self.layer["spark.py_worker_cpu_s"] = sum(c["py_worker_cpu_s"] for c in steady) / n
        self.layer["driver.py_cpu_s"] = sum(c["driver_py_cpu_s"] for c in steady) / n

    def span_mean(self, name: str) -> float:
        """Mean duration of the named span over the timed loop's
        operations (set-up and warm-up spans excluded)."""
        d = [
            s["end"] - s["start"]
            for s in self.tracer.spans
            if s["name"] == name and s["op"] and not s["op"].startswith(("setup", "warm"))
        ]
        return statistics.fmean(d) if d else 0.0
