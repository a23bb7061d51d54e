"""Per-layer attribution for the benchmark's traced run.

A traced fit runs with ``SPARK_GRAFT_PROFILE=1``, so ``fit`` prints one
``## fit <phase>: <s>s`` line to stderr at the end of each phase. Those
lines are the phase boundaries: ``PhaseLog`` stamps each one with the
wall clock and the CPU time of the whole process tree. A phase maps to
the layer named after the module that does its work (``phase_layer``).

Spark jobs come from the status store of the driver (it works with the
UI off). A job belongs to the phase in which it was submitted; its
stages give executor run time, shuffle bytes, spill and failed tasks.
Inside the bubble-model phase, jobs that end in a shuffle write are the
``bubble_aggregate`` exchanges (``operators.bubble_agg``); the job that
runs the model kernel ends in a result stage (``kernels.bubble_kernel``).

``Probes`` wraps three calls of the fit loop from outside, without
changing them, to count work: the leaf binning (leaf subsets and
Σc² pair distances), the nearest-representative assignment (rows and
distance evaluations) and the driver hierarchy build (seconds and
vertices).

Which end-to-end metric each layer's numbers should move, and where
(BENCHMARK.json lists metrics without this mapping):

==========================  ==============================  =====================
layer / metric              end-to-end metric               workload
==========================  ==============================  =====================
operators.sampling          wall_s                          fit_lineitem_4d;
                                                            absent from predict
operators.nearest           wall_s, cpu_s                   fit_lineitem_4d
                                                            (light; heavy on
                                                            fit_blobs_64d)
operators.bubble_agg,       wall_s                          fit_lineitem_4d
kernels.bubble_kernel
kernels.hdbscan_kernel      wall_s, cpu_s                   fit_lineitem_4d
kernels.contract_kernel,    wall_s, driver_rss_mb           fit_lineitem_4d
plans.mrhdbscan
plans.predict               wall_s, rows_per_s, cpu_s       predict_lineitem_4d
                                                            only
jvm.jit_s                   setup_s                         all
jvm.gc_s, host.steal_s      wall_s (noise, not work)        all
spark.busy_cores            wall_s relative to cpu_s        all
trace.overhead_s            none (traced minus untraced)    all
==========================  ==============================  =====================
"""

from __future__ import annotations

import bisect
import os
import re
import sys
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
MB = 1024.0 * 1024.0

LAYERS = (
    "plans.mrhdbscan",
    "operators.sampling",
    "operators.nearest",
    "operators.bubble_agg",
    "kernels.bubble_kernel",
    "kernels.hdbscan_kernel",
    "kernels.contract_kernel",
    "plans.predict",
)
LAYER_FIELDS = (
    "wall_s",
    "jobs",
    "tasks",
    "executor_run_s",
    "cpu_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "failed_tasks",
    "driver_rows",
)
COUNTS = (
    "plans.mrhdbscan.iterations",
    "plans.mrhdbscan.subsets",
    "operators.sampling.sample_rows",
    "operators.nearest.rows",
    "operators.nearest.dist_evals",
    "kernels.hdbscan_kernel.leaf_subsets",
    "kernels.hdbscan_kernel.pair_dists",
    "kernels.hdbscan_kernel.hierarchy_s",
    "kernels.hdbscan_kernel.hierarchy_verts",
    "kernels.contract_kernel.retained_rows",
    "plans.predict.rows",
    "plans.predict.reference_rows",
    "plans.predict.dist_evals",
)

# fit phase label (the text between "## fit " and the colon, with the
# "it<k> " prefix and any "(...)" detail removed) -> layer; every other
# phase (ingest, sizes, big checkpoint, relabel, reduced collect) is
# the plan's own work
_PHASE_LAYER = (
    ("sample collect", "operators.sampling"),
    ("assign checkpoint", "operators.nearest"),
    ("bubble model", "kernels.bubble_kernel"),
    ("exact leaves", "kernels.hdbscan_kernel"),
    ("global hierarchy", "kernels.hdbscan_kernel"),
    ("global contract checkpoint", "kernels.contract_kernel"),
    ("global bin map", "kernels.contract_kernel"),
)
_TICK = re.compile(r"^## fit (.+): -?[0-9.]+s$")
# phases whose "(<n> ...)" detail counts rows brought to the driver
_COLLECTS = ("sizes", "sample collect", "global reduced collect", "global bin map")


def phase_name(label: str) -> str:
    name = re.sub(r"^it\d+ ", "", label)
    return re.sub(r"\s*\(.*$", "", name).strip()


def phase_layer(label: str) -> str:
    name = phase_name(label)
    for prefix, layer in _PHASE_LAYER:
        if name.startswith(prefix):
            return layer
    return "plans.mrhdbscan"


# ---------------------------------------------------------------- /proc
def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # the command name is parenthesised and may hold spaces
            return f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return None


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds of ``root_pid`` and all its descendants: the driver,
    the JVM and the Python daemon and workers the JVM forks. Reaped
    children are counted through their parent's cutime/cstime."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        st = _stat_fields(int(entry))
        if st is None:
            continue
        pid = int(entry)
        stats[pid] = st
        children.setdefault(int(st[1]), []).append(pid)
    total = 0
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        st = stats.get(pid)
        if st is None:
            continue
        # fields after the name: state ppid ... utime(11) stime(12)
        # cutime(13) cstime(14)
        total += int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
        todo.extend(children.get(pid, ()))
    return total / CLK_TCK


def steal_s() -> float:
    with open("/proc/stat") as f:
        vals = f.readline().split()[1:]
    return (int(vals[7]) if len(vals) > 7 else 0) / CLK_TCK


def reset_peak_rss() -> None:
    """Reset this process's peak RSS (VmHWM). Where the kernel does not
    allow it, the peak stays the process's peak since start."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc/self/status")


class JvmClock:
    """Cumulative JVM garbage-collection and JIT-compilation seconds."""

    def __init__(self, sc):
        self._mf = sc._jvm.java.lang.management.ManagementFactory

    def gc_s(self) -> float:
        beans = self._mf.getGarbageCollectorMXBeans()
        return sum(
            max(0, beans.get(i).getCollectionTime()) for i in range(beans.size())
        ) / 1000.0

    def jit_s(self) -> float:
        return self._mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0


# ---------------------------------------------------------------- phases
class PhaseLog:
    """Stand-in for ``sys.stderr`` during a traced fit: passes every
    write through and records each phase boundary as
    (time, label, process-tree CPU seconds)."""

    def __init__(self, out, root_pid: int):
        self._out = out
        self._pid = root_pid
        self._buf = ""
        self.marks: list[tuple[float, str, float]] = []

    def write(self, s: str) -> int:
        self._out.write(s)
        self._buf += s
        while "\n" in self._buf:
            line, self._buf = self._buf.split("\n", 1)
            self._line(line.rstrip())
        return len(s)

    def _line(self, line: str) -> None:
        m = _TICK.match(line)
        if m:
            self.marks.append((time.time(), m.group(1), tree_cpu_s(self._pid)))

    def flush(self) -> None:
        self._out.flush()

    def __getattr__(self, name):
        return getattr(self._out, name)


class Probes:
    """Work counters around calls of the fit loop (see module doc)."""

    def __init__(self):
        self.leaf_subsets = 0
        self.pair_dists = 0.0
        self.nearest_rows = 0
        self.nearest_dist_evals = 0.0
        self.hierarchy_s = 0.0
        self.hierarchy_verts = 0
        self._undo: list = []

    def install(self) -> None:
        import bubbles.kernels.hdbscan_kernel as hk
        import bubbles.plans.mrhdbscan as mr

        self._wrap(mr, "_lpt_bins", self._lpt_bins)
        self._wrap(mr, "nearest_representative_bulk", self._nearest)
        self._wrap(hk, "build_hierarchy", self._hierarchy)

    def remove(self) -> None:
        while self._undo:
            mod, name, orig = self._undo.pop()
            setattr(mod, name, orig)

    def _wrap(self, mod, name: str, make) -> None:
        orig = getattr(mod, name, None)
        if orig is None:  # renamed or gone: leave that counter at 0
            return
        self._undo.append((mod, name, orig))
        setattr(mod, name, make(orig))

    def _lpt_bins(self, orig):
        def wrapper(items, weights, n_bins):
            # fit bins its leaf subsets by c²; the recursive contraction
            # reuses the packer for other weights
            if sys._getframe(1).f_code.co_name == "fit":
                self.leaf_subsets += len(items)
                self.pair_dists += float(sum(weights[s] for s in items))
            return orig(items, weights, n_bins)

        return wrapper

    def _nearest(self, orig):
        def wrapper(points, samples_by_subset, *args, **kwargs):
            # the caller's per-subset point counts, read without a job
            sizes = sys._getframe(1).f_locals.get("sizes") or {}
            for s, (ids, feats) in samples_by_subset.items():
                c = int(sizes.get(s, 0))
                self.nearest_rows += c
                self.nearest_dist_evals += float(c) * len(ids) * feats.shape[1]
            return orig(points, samples_by_subset, *args, **kwargs)

        return wrapper

    def _hierarchy(self, orig):
        def wrapper(u, v, w, vertex_weights, *args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(u, v, w, vertex_weights, *args, **kwargs)
            finally:
                self.hierarchy_s += time.perf_counter() - t0
                self.hierarchy_verts += len(vertex_weights)

        return wrapper


# ---------------------------------------------------------------- jobs
def collect_jobs(sc, group: str) -> list[dict]:
    """Jobs of a job group with their stages, from the status store.
    A stage shared by several jobs counts once, in the first job that
    ran it; stages skipped because their output existed count nowhere."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    seen: set[int] = set()
    jobs = []
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        jd = store.job(jid)
        sub = jd.submissionTime()
        stages = []
        it = jd.stageIds().iterator()
        while it.hasNext():
            sid = int(it.next())
            if sid in seen:
                continue
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            seen.add(sid)
            stages.append(
                {
                    "id": sid,
                    "tasks": int(st.numTasks()),
                    "failed_tasks": int(st.numFailedTasks()),
                    "run_s": st.executorRunTime() / 1000.0,
                    "cpu_s": st.executorCpuTime() / 1e9,
                    "shuffle_write_mb": st.shuffleWriteBytes() / MB,
                    "shuffle_read_mb": st.shuffleReadBytes() / MB,
                    "spill_mb": st.diskBytesSpilled() / MB,
                }
            )
        jobs.append(
            {
                "id": int(jid),
                "t": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "end": (
                    jd.completionTime().get().getTime() / 1000.0
                    if jd.completionTime().isDefined()
                    else None
                ),
                "stages": stages,
            }
        )
    return jobs


def attribute(windows: list[tuple], jobs: list[dict]) -> dict[int, str]:
    """job id -> layer. ``windows`` are (start, end, layer, label) and
    tile the operation in time order; a job goes to the window in which
    it was submitted (clamped to the first or last window)."""
    ends = [w[1] for w in windows]
    out = {}
    for job in jobs:
        t = job["t"] if job["t"] is not None else windows[-1][1]
        i = min(bisect.bisect_left(ends, t), len(windows) - 1)
        layer = windows[i][2]
        if layer == "kernels.bubble_kernel" and job["stages"]:
            last = max(job["stages"], key=lambda s: s["id"])
            if last["shuffle_write_mb"] > 0:
                layer = "operators.bubble_agg"
        out[job["id"]] = layer
    return out


def fit_windows(t0: float, log: PhaseLog, t_fit: float, t_end: float, cpu):
    """(start, end, layer, label, cpu_s) windows of a traced fit:
    one per phase line, then the model build up to the return of
    ``fit`` and the label materialization, both the plan's own work.
    ``cpu`` is the process-tree CPU at t0, t_fit and t_end."""
    out = []
    prev_t, prev_cpu = t0, cpu[0]
    for t, label, c in log.marks:
        out.append((prev_t, t, phase_layer(label), label, c - prev_cpu))
        prev_t, prev_cpu = t, c
    out.append((prev_t, t_fit, "plans.mrhdbscan", "model build", cpu[1] - prev_cpu))
    out.append((t_fit, t_end, "plans.mrhdbscan", "label materialize", cpu[2] - cpu[1]))
    return out


def layer_metrics(windows, jobs, owner: dict[int, str], driver_rows: dict) -> dict:
    """Per-layer metric values of one traced operation."""
    m = {f"{L}.{f}": 0.0 for L in LAYERS for f in LAYER_FIELDS}
    for start, end, layer, _label, cpu in windows:
        m[f"{layer}.wall_s"] += end - start
        m[f"{layer}.cpu_s"] += cpu
    for job in jobs:
        L = owner[job["id"]]
        m[f"{L}.jobs"] += 1
        for st in job["stages"]:
            m[f"{L}.tasks"] += st["tasks"]
            m[f"{L}.failed_tasks"] += st["failed_tasks"]
            m[f"{L}.executor_run_s"] += st["run_s"]
            m[f"{L}.shuffle_write_mb"] += st["shuffle_write_mb"]
            m[f"{L}.shuffle_read_mb"] += st["shuffle_read_mb"]
            m[f"{L}.spill_mb"] += st["spill_mb"]
    # the aggregation exchanges ran inside the bubble-model window:
    # move their wall (job span) and CPU (pure JVM work, so the stage
    # CPU time is all of it) from the kernel to operators.bubble_agg
    for job in jobs:
        if owner[job["id"]] != "operators.bubble_agg":
            continue
        span = (job["end"] or job["t"] or 0.0) - (job["t"] or 0.0)
        cpu = sum(st["cpu_s"] for st in job["stages"])
        m["operators.bubble_agg.wall_s"] += span
        m["kernels.bubble_kernel.wall_s"] -= span
        m["operators.bubble_agg.cpu_s"] += cpu
        m["kernels.bubble_kernel.cpu_s"] -= cpu
    for layer, rows in driver_rows.items():
        m[f"{layer}.driver_rows"] += rows
    return m


def _detail(label: str) -> int:
    """The leading number of a phase line's "(<n> ...)" detail, or 0."""
    m = re.search(r"\((\d+) ", label)
    return int(m.group(1)) if m else 0


def fit_driver_rows(log: PhaseLog) -> dict[str, int]:
    """Rows each layer collected to the driver, from the phase lines."""
    out: dict[str, int] = {}
    for _t, label, _c in log.marks:
        if phase_name(label) in _COLLECTS:
            layer = phase_layer(label)
            out[layer] = out.get(layer, 0) + _detail(label)
    return out


def tick_count(log: PhaseLog, name: str) -> int:
    """Sum of the "(<n> ...)" detail of every phase line called ``name``."""
    return sum(_detail(label) for _t, label, _c in log.marks if phase_name(label) == name)
