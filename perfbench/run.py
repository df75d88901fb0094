"""Benchmark entry point: runs one workload in a child process and prints
one JSON result line.

    python3 perfbench/run.py --workload social_batch --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the repository. The child
(``perfbench/worker.py``) starts the engine's Spark session, times the
workload and checks its outputs; this process samples the child's and its
JVM's resident memory from outside, enforces a deadline, and stops every
process the child left behind. The last line on stdout is::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Everything the run writes goes under ``.perfbench/`` in the checkout.
Exit code 0 only when every output matched its reference.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("social_batch", "social_stream")
# The child must finish well inside the 180 s a run may take.
DEADLINE_S = 165.0
PAGE = os.sysconf("SC_PAGE_SIZE")


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _stat(pid: str) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state is [0])."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rfind(")") + 2 :].split()


def _java_children(pid: int) -> list[int]:
    out = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        st = _stat(p)
        if st is None or int(st[1]) != pid:
            continue
        try:
            with open(f"/proc/{p}/comm") as fh:
                if fh.read().strip() == "java":
                    out.append(int(p))
        except OSError:
            continue
    return out


class RssSampler(threading.Thread):
    """Peak of (driver Python RSS + JVM RSS), sampled every 50 ms."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        jvms: list[int] = []
        while not self._stop_evt.wait(0.05):
            if not jvms or not all(os.path.exists(f"/proc/{j}") for j in jvms):
                jvms = _java_children(self.pid)
            total = _rss_bytes(self.pid) + sum(_rss_bytes(j) for j in jvms)
            self.peak = max(self.peak, total)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


def _session_pids(sid: int) -> list[int]:
    out = []
    for p in os.listdir("/proc"):
        if p.isdigit():
            st = _stat(p)
            # field 6 of stat is the session id; a zombie has already ended
            if st is not None and int(st[3]) == sid and st[0] != "Z":
                out.append(int(p))
    return out


def _stop_session(sid: int) -> None:
    """SIGTERM then SIGKILL every process of the child's session and wait
    until none is left (the JVM and Python workers the child started)."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        pids = _session_pids(sid)
        if not pids:
            return
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + grace
        while time.monotonic() < end and _session_pids(sid):
            time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "eth_dspa_2019_spark")):
        print(
            "perfbench: no eth_dspa_2019_spark package next to perfbench/; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_path = os.path.join(work, "result.json")
    ncpu = len(os.sched_getaffinity(0))  # what nproc reports
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(ncpu),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYTHONDONTWRITEBYTECODE="1",
        PYTHONHASHSEED="0",
    )
    env.pop("SPARK_DRIVER_MEMORY", None)  # the engine's default driver heap
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--work", work,
        "--out", out_path,
    ]
    # worker stdout goes to our stderr: our stdout carries only the result
    child = subprocess.Popen(
        cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True
    )
    sampler = RssSampler(child.pid)
    sampler.start()
    try:
        rc = child.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        rc = None
    sampler.stop()
    _stop_session(child.pid)
    if rc is None:
        child.wait()
        print(f"perfbench: worker exceeded {DEADLINE_S:.0f} s", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 3

    try:
        with open(out_path) as fh:
            result = json.load(fh)
    except (OSError, ValueError):
        result = None
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or result is None:
        print(f"perfbench: worker failed (exit {rc})", file=sys.stderr)
        return 4

    if args.trace:
        result["metrics"]["harness.peak_rss_mb"] = {
            "value": sampler.peak / 2**20,
            "unit": "MB",
        }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
