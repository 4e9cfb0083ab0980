"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload {tail,replay,analytics} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. This parent process owns run isolation and
the process-tree measurements; the workload itself runs in a child Python
process (``perfbench/worker.py``) so that:

- everything the run writes (broker state, checkpoints, ``metadatadir``,
  the Spark warehouse, ``TMPDIR``, Spark local dirs, JVM temp files) lands
  under one per-run root inside the checkout, removed at exit;
- Spark's Python workers can import the engine (``PYTHONPATH``);
- peak RSS covers the whole tree: driver, JVM and Python workers;
- a hung run is killed as a process group within the time limit, and every
  process of the group has ended before this one exits.

stdout carries exactly two lines: a ``detail`` line (workload-specific
figures, load average, leftovers) and, last, the result object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``. Spark's own
output goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
ENGINE = os.path.join(CHECKOUT, "messikinesisprovider_spark")
sys.path.insert(0, CHECKOUT)
sys.dont_write_bytecode = True  # leave nothing in the checkout

from perfbench.common import WORKLOADS  # noqa: E402

TIME_LIMIT_S = 170  # the contract allows 180 s per run
SAMPLE_S = 0.2
PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")
TICKS = os.sysconf("SC_CLK_TCK")
MIN_AGE_S = 0.5


def _tree_rss_mb(pgid: int) -> float:
    """Summed RSS of every live process in the process group `pgid`.

    A child the JVM spawns (it shells out to ``readlink``) reads the JVM's
    whole RSS until it execs a few milliseconds later; counting it made
    peaks jump by 1.5 GB at random. Processes younger than MIN_AGE_S are
    left out of the sample; a long-lived one is counted from its next."""
    with open("/proc/uptime") as f:
        now_ticks = float(f.read().split()[0]) * TICKS
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended between listdir and read
        # stat fields 5 (pgrp), 22 (start time in ticks) and 24 (rss pages)
        if int(fields[2]) == pgid and now_ticks - int(fields[19]) >= MIN_AGE_S * TICKS:
            total += int(fields[21])
    return total * PAGE_BYTES / 2**20


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _stop_group(proc: subprocess.Popen) -> None:
    """SIGKILL the worker's whole process group, reap the worker and return
    once none of the group is left. Nothing in it needs a graceful exit: the
    run's state lives under its root, removed next, and a SIGTERM kept the
    JVM alive 1.7 s longer at every exit."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 10.0
    while time.time() < deadline and _group_alive(proc.pid):
        time.sleep(0.05)


def _run_worker(args, root: str):
    """Run worker.py in `root` as its own process group; return (result or
    None, exit code, peak tree RSS in MB, load average at start)."""
    shutil.rmtree(root, ignore_errors=True)
    tmp = os.path.join(root, "tmp")
    for d in (tmp, os.path.join(root, "local"), os.path.join(root, "work")):
        os.makedirs(d)
    pythonpath = os.environ.get("PYTHONPATH")
    env = dict(
        os.environ,
        PYTHONPATH=CHECKOUT + (os.pathsep + pythonpath if pythonpath else ""),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(root, "local"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        PYTHONDONTWRITEBYTECODE="1",
    )
    out_path = os.path.join(root, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--root", root, "--out", out_path,
    ]
    load_start = os.getloadavg()
    proc = subprocess.Popen(
        cmd, cwd=os.path.join(root, "work"), env=env, start_new_session=True,
        stdin=subprocess.DEVNULL, stdout=sys.stderr, stderr=sys.stderr,
    )
    peak_mb = 0.0
    deadline = time.time() + TIME_LIMIT_S
    try:
        while proc.poll() is None:
            peak_mb = max(peak_mb, _tree_rss_mb(proc.pid))
            if time.time() > deadline:
                print("perfbench: time limit reached, stopping the run", file=sys.stderr)
                break
            time.sleep(SAMPLE_S)
    finally:
        _stop_group(proc)
    try:
        with open(out_path) as f:
            result = json.load(f)
    except (OSError, ValueError):
        result = None
    return result, proc.returncode, peak_mb, load_start


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(ENGINE):
        print(f"perfbench: engine package not found at {ENGINE}", file=sys.stderr)
        return 2

    def terminate(signum, frame):
        raise SystemExit(128 + signum)  # runs the finally blocks: stop the group, remove the root

    signal.signal(signal.SIGTERM, terminate)
    root = os.path.join(CHECKOUT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    try:
        result, returncode, peak_mb, load_start = _run_worker(args, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(root))  # only when no other run is live
        except OSError:
            pass
    if returncode != 0 or result is None:
        print(f"perfbench: workload exited with {returncode}", file=sys.stderr)
        return 1

    detail = result["detail"]
    detail["loadavg_start"] = [round(v, 2) for v in load_start]
    detail["loadavg_end"] = [round(v, 2) for v in os.getloadavg()]
    detail["peak_rss_mb"] = round(peak_mb, 1)
    metrics = result["metrics"]
    if not args.trace:
        metrics["peak_rss_mb"] = {"value": peak_mb, "unit": "MB"}
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
