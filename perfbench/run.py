"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. It starts one ``local[4]`` Spark
session, sets the workload up several times (writing seeded inputs to a
fresh directory each time), discards warm-up operations, then runs
operations one after another (closed loop, one client) for ``--seconds``
and checks every output. It prints a readable table, then one JSON line:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SETUP_REPS = 2
WARMUP = 1
MIN_OPS = 2
# a traced run measures traced, plain, plain, traced operations, so a
# warm-up trend that is linear cancels out of the tracing overhead
MIN_OPS_TRACED = 4
DRIVER_MEMORY = "4g"

END_TO_END = {"setup_s": "s", "op_s_p50": "s", "cpu_s": "s", "peak_exec_mem_mb": "MB"}
PER_LAYER = {
    "plans.build_s": "s", "plans.build_jobs": "count",
    "sql.build_s": "s", "sql.build_jobs": "count", "driver.cpu_s": "s",
    "kernel.rows_in": "rows", "kernel.mb_to_py": "MB", "kernel.mb_from_py": "MB",
    "kernel.task_s": "s", "kernel.py_cpu_s": "s",
    "skew.cache_mb": "MB",
    "exchange.count": "count", "exchange.write_mb": "MB", "exchange.read_mb": "MB",
    "exchange.fetch_wait_s": "s",
    "jvm.task_s": "s", "jvm.cpu_s": "s", "jvm.gc_s": "s", "jvm.jit_cpu_s": "s",
    "jvm.sort_s": "s", "jvm.spill_mb": "MB",
    "scan.rows": "rows", "scan.mb": "MB", "scan.s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count", "sched.idle_s": "s",
    "preagg.generations": "count", "preagg.state_mb": "MB", "preagg.write_amp": "ratio",
    "trace.overhead_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["backfill", "ingest_serve"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def start_spark(run_dir: Path):
    from openmldb_spark.session import SessionConfig, get_spark

    tmp = run_dir / "tmp"
    # compiler threads that never exit keep the JIT's CPU countable
    # (meter.tree_cpu_s)
    java_options = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                    "-XX:-UseDynamicNumberOfCompilerThreads")
    # the short-lived JVM that spark-submit starts to build the command
    os.environ["SPARK_LAUNCHER_OPTS"] = java_options
    return get_spark(SessionConfig(
        master="local[4]", app_name="perfbench", shuffle_partitions=4,
        driver_memory=DRIVER_MEMORY, ui_enabled=True, local_dir=str(run_dir / "spark-local"),
        extra={
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000000", "spark.sql.ui.retainedExecutions": "100000",
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            "spark.driver.extraJavaOptions": java_options,
        }))


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — still running: force it
            proc.kill()
            proc.wait(timeout=30)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[str, float] | None:
    """Highest percentile with at least 10 samples beyond it."""
    n = len(xs)
    if n < 11:
        return None
    k = n - 10  # samples at or below the percentile
    return f"p{100 * k // n}", sorted(xs)[k - 1]


class Runner:
    def __init__(self, args, run_dir: Path):
        self.args = args
        self.run_dir = run_dir
        self.ops: list[dict] = []
        self.warmups: list[dict] = []
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def run(self) -> dict:
        from perfbench.meter import SparkStatus, Tracer
        from perfbench.workloads import WORKLOADS

        args = self.args
        t0 = time.perf_counter()
        self.spark = start_spark(self.run_dir)
        session_s = time.perf_counter() - t0
        try:
            self.status = SparkStatus(self.spark)
            self.tracer = Tracer(self.spark, enabled=False)
            cls = WORKLOADS[args.workload]
            reps = []
            for k in range(SETUP_REPS):
                wl = cls(self.spark, args.seed, self.tracer)
                rep_dir = self.run_dir / f"setup-{k}"
                # state the engine keeps in temporary dirs lands in this rep's dir
                (rep_dir / "tmp").mkdir(parents=True)
                tempfile.tempdir = str(rep_dir / "tmp")
                t0 = time.perf_counter()
                with self.tracer.span("setup", rep=k):
                    wl.setup(str(rep_dir))
                reps.append(time.perf_counter() - t0)
            self.wl = wl
            t0 = time.perf_counter()
            wl.prepare_checks()
            self.phases = {"checks_prep": time.perf_counter() - t0}
            t0 = time.perf_counter()
            for i in range(WARMUP):
                self.one_op(i, measured=False)
            start = time.perf_counter()
            self.phases["warmup"] = start - t0
            i = WARMUP
            min_ops = MIN_OPS_TRACED if args.trace else MIN_OPS
            while time.perf_counter() - start < args.seconds or i < WARMUP + min_ops:
                self.one_op(i, measured=True)
                i += 1
            measured_s = time.perf_counter() - start
            return self.report(session_s, reps, measured_s)
        finally:
            if args.trace:
                self.tracer.dump(str(ROOT / ".perfbench" / f"trace-{args.workload}-{args.seed}.json"),
                                 {"workload": args.workload, "seed": args.seed,
                                  "ops": self.warmups + self.ops})
            stop_spark(self.spark)

    def one_op(self, i: int, measured: bool) -> None:
        from perfbench.meter import op_summary, preagg_state, self_cpu_s, steal_s, tree_cpu_s

        traced = bool(self.args.trace) and measured and len(self.ops) % 4 in (0, 3)
        self.tracer.enabled = traced
        state0 = preagg_state(tempfile.gettempdir())
        cpu0, py0, jit0 = tree_cpu_s()
        drv0, steal0 = self_cpu_s(), steal_s()
        self.attempted += 1
        try:
            with self.tracer.span("op", i=i, measured=measured) as root:
                res = self.wl.op(i)
        except Exception:  # noqa: BLE001 — an op that raises counts as failed
            self.failed += 1
            self.errors.append(traceback.format_exc())
            print(self.errors[-1], file=sys.stderr)
            return
        cpu1, py1, jit1 = tree_cpu_s()
        drv1, steal1 = self_cpu_s(), steal_s()
        groups = self.tracer.groups(root)
        rec = {"i": i, "traced": traced, "wall": res["wall"],
               "cpu_s": (cpu1 - cpu0) - (jit1 - jit0), "jit_s": jit1 - jit0,
               "steal_s": steal1 - steal0,
               **{k: v for k, v in res.items() if k in ("fresh", "request")},
               **op_summary(self.status, groups)}
        if traced:
            rec["layers"] = self.layers(root, groups, py1 - py0, drv1 - drv0, state0,
                                        res.get("inserted_bytes", 0))
            rec["layers"]["jvm.jit_cpu_s"] = rec["jit_s"]
        wrong = self.wl.check(res["result"])
        rec["wrong_rows"] = wrong
        if wrong:
            self.failed += 1
            self.errors.append(f"op {i}: {wrong} wrong rows")
        (self.ops if measured else self.warmups).append(rec)

    def layers(self, root, groups, py_cpu, drv_cpu, state0, inserted) -> dict:
        from perfbench.meter import layer_metrics, preagg_state

        tr = self.tracer
        build = tr.children(root, "plans.build")
        sql = tr.children(root, "sql.build")
        gens, size = preagg_state(tempfile.gettempdir())
        out = layer_metrics(self.status, groups, (root["start"], root["end"]))
        out.update({
            "plans.build_s": sum(s["end"] - s["start"] for s in build),
            "plans.build_jobs": float(len(self.status.jobs({s["group"] for s in build}))),
            "sql.build_s": sum(s["end"] - s["start"] for s in sql),
            "sql.build_jobs": float(len(self.status.jobs({s["group"] for s in sql}))),
            "driver.cpu_s": drv_cpu,
            "kernel.py_cpu_s": py_cpu,
            "skew.cache_mb": self.status.cached_bytes() / 1e6,
            "preagg.generations": float(gens),
            "preagg.state_mb": size / 1e6,
            "preagg.write_amp": (size - state0[1]) / inserted if inserted else 0.0,
        })
        return out

    def report(self, session_s: float, reps: list[float], measured_s: float) -> dict:
        ops, name = self.ops, self.args.workload
        walls = [o["wall"] for o in ops]
        e2e = {
            "setup_s": session_s + median(reps),
            "op_s_p50": median(walls),
            "cpu_s": median([o["cpu_s"] for o in ops]),
            "peak_exec_mem_mb": median([o["peak_mb"] for o in ops]),
        }
        extra = {"fail_frac": self.failed / self.attempted,
                 "rows_per_s": median([self.wl.rows_per_op / w for w in walls])}
        if name == "ingest_serve":
            requests = [o["request"] for o in ops]
            t = tail(requests)
            extra["fresh_s_p50"] = median([o["fresh"] for o in ops])
            extra["request_s_p50"] = median(requests)
            extra["request_s_tail"] = (f"{t[0]} = {t[1]:.4f}" if t
                                       else f"n/a (n={len(requests)} < 11)")
        print(f"# perfbench workload={name} seed={self.args.seed} ops={len(ops)} "
              f"measured={measured_s:.1f}s session={session_s:.2f}s "
              f"setup_reps={[round(r, 2) for r in reps]} "
              + " ".join(f"{k}={v:.1f}s" for k, v in self.phases.items()))
        for k, v in {**e2e, **extra}.items():
            unit = END_TO_END.get(k, {"fail_frac": "ratio", "rows_per_s": "rows/s"}.get(k, "s"))
            print(f"#   {k:<18} {v if isinstance(v, str) else round(v, 4)} {unit}")
        for o in self.warmups + ops:
            print(f"#   op {o['i']:>3} wall={o['wall']:.3f}s cpu={o['cpu_s']:.2f}s "
                  f"jit={o['jit_s']:.2f}s steal={o['steal_s']:.2f}s "
                  f"jobs={o['jobs']} stages={o['stages']} peak={o['peak_mb']:.1f}MB"
                  f"{' traced' if o['traced'] else ''}{' warm-up' if o in self.warmups else ''} "
                  f"wrong={o['wrong_rows']} jobs by span: {o['jobs_by_span']}")
        if self.args.trace:
            traced = [o for o in ops if o["traced"]]
            plain = [o["wall"] for o in ops if not o["traced"]]
            metrics = {k: median([o["layers"][k] for o in traced])
                       for k in PER_LAYER if k != "trace.overhead_s"}
            metrics["trace.overhead_s"] = median([o["wall"] for o in traced]) - median(plain)
            for k, v in metrics.items():
                print(f"#   {k:<22} {v:.4f} {PER_LAYER[k]}")
            units = PER_LAYER
        else:
            metrics, units = e2e, END_TO_END
        return {"correct": self.failed == 0, "attempted": self.attempted, "failed": self.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "openmldb_spark" / "__init__.py").is_file():
        print(f"perfbench: no openmldb_spark package under {ROOT}", file=sys.stderr)
        return 2
    # the engine and its Python workers import the package from this checkout
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    run_dir = ROOT / ".perfbench" / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    (run_dir / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    tempfile.tempdir = str(run_dir / "tmp")
    try:
        result = Runner(args, run_dir).run()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
