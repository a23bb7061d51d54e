"""Benchmark command. Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: fit_lineitem_4d, fit_blobs_64d, predict_lineitem_4d (see
perfbench/workloads.py). The run starts one Spark session in a child
process (perfbench/bench.py), sets the workload up from the seed, runs
its operation in a closed loop for ``--seconds`` and checks every
output. The last line of standard output is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Progress goes to standard error.

All scratch files (inputs, the saved model, Spark's local directories)
live in ``.perfbench_work/`` under the checkout and are removed at the
end. This process makes itself the subreaper of everything the run
starts (the JVM, the PySpark daemon and its workers), so it can stop
and wait for all of them, whatever the child leaves behind. The exit
code is 0 only when the run produced a result.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# a run must end within 180 s; leave room to stop what it started
CHILD_TIMEOUT_S = 165
PR_SET_CHILD_SUBREAPER = 36


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(entry))
    return out


def _reap_all(grace_s: float = 10.0) -> None:
    """Stop every remaining descendant and wait until each has ended:
    SIGTERM first, SIGKILL after ``grace_s``."""
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        while True:  # collect whatever has already exited
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        kids = _children(me)
        if not kids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # a terminated run still stops and waits for what it started
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    # the PySpark workers import bubbles from the checkout too
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    env["TMPDIR"] = os.path.join(work, "tmp")
    cmd = [
        sys.executable, "-m", "perfbench.bench",
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--work", work,
    ]
    result = None
    try:
        child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr)
        try:
            code = child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"# run exceeded {CHILD_TIMEOUT_S}s, stopping it", file=sys.stderr)
            child.kill()
            child.wait()
            code = -1
        path = os.path.join(work, "result.json")
        if code == 0 and os.path.exists(path):
            with open(path) as f:
                result = json.load(f)
    finally:
        _reap_all()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    if result is None:
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
