"""One benchmark run in a fresh Spark session: set up a workload, run
its operation in a closed loop for the given seconds, check every
output and write the result JSON. ``run.py`` starts this module in a
child process and owns its cleanup; run ``run.py``, not this.

Closed loop: one caller, one operation at a time, on ``local[<cores>]``.
Before each operation the loop settles the session outside the timed
window (Python GC, synchronous unpersist of what the previous operation
left cached, JVM GC), as the repository's ``bench.py`` does.

With ``trace=0`` every operation is untraced and the result carries the
end-to-end metrics. With ``trace=1`` the operations alternate traced and
untraced, starting traced; the per-layer metrics are medians over the
traced ones and ``trace.overhead_s`` is the traced median wall minus
the untraced one.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time
import traceback

from perfbench import trace as tr
from perfbench.workloads import WORKLOADS, Sizes

# untimed operations after set-up: the first operation of a fresh JVM
# compiles the fit's generated code and starts the Python workers, and
# runs about twice as long as the next ones
WARMUPS = 1
# at least this many timed operations per run, even past the deadline
MIN_OPS = 2

END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "1/s",
    "cpu_s": "s",
    "driver_rss_mb": "MB",
}
_FIELD_UNITS = {
    "wall_s": "s",
    "jobs": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "cpu_s": "s",
    "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB",
    "spill_mb": "MB",
    "failed_tasks": "count",
    "driver_rows": "rows",
}
_COUNT_UNITS = {
    "kernels.hdbscan_kernel.hierarchy_s": "s",
    "operators.sampling.sample_rows": "rows",
    "operators.nearest.rows": "rows",
    "kernels.contract_kernel.retained_rows": "rows",
    "plans.predict.rows": "rows",
    "plans.predict.reference_rows": "rows",
}
PER_LAYER_UNITS = {
    **{f"{L}.{f}": _FIELD_UNITS[f] for L in tr.LAYERS for f in tr.LAYER_FIELDS},
    **{c: _COUNT_UNITS.get(c, "count") for c in tr.COUNTS},
    "spark.busy_cores": "cores",
    "jvm.gc_s": "s",
    "jvm.jit_s": "s",
    "host.steal_s": "s",
    "trace.overhead_s": "s",
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str):
    """A local session whose scratch files all live under ``work``."""
    from pyspark.sql import SparkSession

    n = str(cores())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", n)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # as bench.py: the fit loop generates more distinct codegen
        # classes than the default 100-entry cache holds, and shuffle
        # cleanup runs inside the settle window, not mid-operation
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=30)


def settle(spark) -> None:
    gc.collect()
    sc = spark.sparkContext
    for rdd in sc._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    sc._jvm.System.gc()


class Loop:
    """Runs the timed operations of one workload and keeps their records."""

    def __init__(self, spark, workload):
        self.spark = spark
        self.sc = spark.sparkContext
        self.wl = workload
        self.pid = os.getpid()
        self.jvm = tr.JvmClock(self.sc)
        self.records: list[dict] = []
        self.failed = 0
        self.problems: list[str] = []

    def op(self, index: int, traced: bool) -> dict:
        settle(self.spark)
        group = f"perfbench-op{index}"
        self.sc.setJobGroup(group, f"perfbench {self.wl.kind} op {index}")
        tr.reset_peak_rss()
        gc0, jit0, steal0 = self.jvm.gc_s(), self.jvm.jit_s(), tr.steal_s()
        rec = self._traced(group) if traced else self._untraced()
        rec.update(
            gc_s=self.jvm.gc_s() - gc0,
            jit_s=self.jvm.jit_s() - jit0,
            steal_s=tr.steal_s() - steal0,
            rss_mb=tr.peak_rss_mb(),
            traced=traced,
        )
        self.sc.setJobGroup("", "")
        problems = rec.pop("problems")
        if problems:
            self.failed += 1
            self.problems.extend(problems)
            print(f"# op {index}: FAILED {problems}", file=sys.stderr)
        print(
            f"# op {index}{' traced' if traced else ''}: {rec['wall_s']:.3f}s"
            f" cpu={rec['cpu_s']:.1f}s gc={rec['gc_s']:.2f}s"
            f" jit={rec['jit_s']:.2f}s steal={rec['steal_s']:.2f}s",
            file=sys.stderr,
        )
        return rec

    def _checked(self, run):
        try:
            out = run()
        except Exception as exc:  # an operation that raises counts as failed
            traceback.print_exc()
            return None, [f"{type(exc).__name__}: {exc}"]
        return out, self.wl.check(out)

    def _untraced(self) -> dict:
        cpu0 = tr.tree_cpu_s(self.pid)
        t0 = time.perf_counter()
        out, problems = self._checked(lambda: self.wl.run())
        wall = time.perf_counter() - t0
        return {"wall_s": wall, "cpu_s": tr.tree_cpu_s(self.pid) - cpu0, "problems": problems}

    def _traced(self, group: str) -> dict:
        log = tr.PhaseLog(sys.stderr, self.pid)
        probes = tr.Probes()
        fit_done: list[tuple[float, float]] = []

        def mark():
            fit_done.append((time.time(), tr.tree_cpu_s(self.pid)))

        probes.install()
        os.environ["SPARK_GRAFT_PROFILE"] = "1"
        sys.stderr = log
        cpu0 = tr.tree_cpu_s(self.pid)
        t0 = time.time()
        try:
            out, problems = self._checked(lambda: self.wl.run(mark))
        finally:
            t_end = time.time()
            cpu_end = tr.tree_cpu_s(self.pid)
            sys.stderr = log._out
            del os.environ["SPARK_GRAFT_PROFILE"]
            probes.remove()
        if not fit_done:  # the program raised before returning
            fit_done.append((t_end, cpu_end))
        jobs = tr.collect_jobs(self.sc, group)
        if self.wl.kind == "fit":
            windows = tr.fit_windows(
                t0, log, fit_done[0][0], t_end, (cpu0, fit_done[0][1], cpu_end)
            )
            rows = tr.fit_driver_rows(log)
            if out is not None:
                rows["plans.mrhdbscan"] = rows.get("plans.mrhdbscan", 0) + self.wl.driver_rows(out)
        else:
            windows = [(t0, t_end, "plans.predict", "predict", cpu_end - cpu0)]
            rows = {"plans.predict": self.wl.driver_rows(out) if out is not None else 0}
        owner = tr.attribute(windows, jobs)
        layers = tr.layer_metrics(windows, jobs, owner, rows)
        wall = t_end - t0
        counts = dict.fromkeys(tr.COUNTS, 0.0)
        if self.wl.kind == "fit":
            counts.update(
                {
                    "plans.mrhdbscan.iterations": out["iterations"] if out else 0,
                    "plans.mrhdbscan.subsets": tr.tick_count(log, "sizes"),
                    "operators.sampling.sample_rows": tr.tick_count(log, "sample collect"),
                    "operators.nearest.rows": probes.nearest_rows,
                    "operators.nearest.dist_evals": probes.nearest_dist_evals,
                    "kernels.hdbscan_kernel.leaf_subsets": probes.leaf_subsets,
                    "kernels.hdbscan_kernel.pair_dists": probes.pair_dists,
                    "kernels.hdbscan_kernel.hierarchy_s": probes.hierarchy_s,
                    "kernels.hdbscan_kernel.hierarchy_verts": probes.hierarchy_verts,
                    "kernels.contract_kernel.retained_rows": tr.tick_count(
                        log, "global reduced collect"
                    ),
                }
            )
        else:
            counts.update(
                {
                    "plans.predict.rows": self.wl.rows,
                    "plans.predict.reference_rows": self.wl.reference_rows,
                    "plans.predict.dist_evals": float(self.wl.rows)
                    * self.wl.reference_rows
                    * self.wl.dim,
                }
            )
        run_s = sum(st["run_s"] for job in jobs for st in job["stages"])
        return {
            "wall_s": wall,
            "cpu_s": cpu_end - cpu0,
            "layers": layers,
            "counts": counts,
            "busy_cores": run_s / wall,
            "windows": windows,
            "jobs": jobs,
            "owner": owner,
            "problems": problems,
        }

    def run(self, seconds: float, trace: bool) -> None:
        deadline = time.perf_counter() + seconds
        i = 0
        while i < MIN_OPS or time.perf_counter() < deadline:
            self.records.append(self.op(i, traced=trace and i % 2 == 0))
            i += 1


def end_to_end(records: list[dict], rows: int, setup_s: float) -> dict:
    wall = statistics.median(r["wall_s"] for r in records)
    values = {
        "setup_s": setup_s,
        "wall_s": wall,
        "rows_per_s": rows / wall,
        "cpu_s": statistics.median(r["cpu_s"] for r in records),
        "driver_rss_mb": statistics.median(r["rss_mb"] for r in records),
    }
    return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}


def per_layer(records: list[dict]) -> dict:
    traced = [r for r in records if r["traced"]]
    plain = [r for r in records if not r["traced"]]
    values = {}
    for name in tr.LAYERS:
        for f in tr.LAYER_FIELDS:
            key = f"{name}.{f}"
            values[key] = statistics.median(r["layers"][key] for r in traced)
    for c in tr.COUNTS:
        values[c] = statistics.median(r["counts"][c] for r in traced)
    values["spark.busy_cores"] = statistics.median(r["busy_cores"] for r in traced)
    values["jvm.gc_s"] = statistics.median(r["gc_s"] for r in records)
    values["jvm.jit_s"] = statistics.median(r["jit_s"] for r in records)
    values["host.steal_s"] = statistics.median(r["steal_s"] for r in records)
    values["trace.overhead_s"] = statistics.median(
        r["wall_s"] for r in traced
    ) - (statistics.median(r["wall_s"] for r in plain) if plain else 0.0)
    return {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in values.items()}


def run(spark, workload: str, seed: int, seconds: float, trace: bool, work: str,
        sizes: Sizes, started: float) -> tuple[dict, Loop]:
    t_inputs = time.perf_counter()
    wl = WORKLOADS[workload](spark, work, workload, seed, sizes)
    t_warm = time.perf_counter()
    for _ in range(WARMUPS):
        settle(spark)
        wl.run()
    setup_s = time.perf_counter() - started
    print(
        f"# setup {setup_s:.2f}s: session {t_inputs - started:.2f}s,"
        f" inputs {t_warm - t_inputs:.2f}s, warm-up {started + setup_s - t_warm:.2f}s",
        file=sys.stderr,
    )
    loop = Loop(spark, wl)
    loop.run(seconds, trace)
    metrics = per_layer(loop.records) if trace else end_to_end(loop.records, wl.rows, setup_s)
    if wl.ari is not None:
        print(f"# ari {wl.ari:.4f}", file=sys.stderr)
    attempted = len(loop.records)
    result = {
        "correct": loop.failed == 0,
        "attempted": attempted,
        "failed": loop.failed,
        "metrics": metrics,
    }
    return result, loop


def main(argv=None) -> int:
    started = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True, help="scratch directory of this run")
    args = ap.parse_args(argv)
    import bubbles  # noqa: F401  (fail before starting Spark when it is missing)

    spark = start_session(args.work)
    try:
        result, _loop = run(
            spark, args.workload, args.seed, args.seconds, bool(args.trace),
            args.work, Sizes(), started,
        )
    finally:
        stop_session(spark)
    with open(os.path.join(args.work, "result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
