"""Benchmark entry point.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. Everything the run
writes (event files, Spark's local files, temp files, the event log) goes
under ``.perfbench/<workload>/`` in the checkout and is
replaced on the next run. The measurement itself runs in a child process
(``harness.py``) in its own process group; this launcher pins the
execution setup through the child's environment, enforces a deadline,
and stops every process of the group before it exits. The last line of
standard output is the result JSON; it is printed only when the child
succeeded.
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
WORKLOADS = ("curation", "hotpath")
DEADLINE_S = 170


def _stop_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, the whole process group; wait until empty."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "cognitive_score_bigdata_spark", "session.py")):
        print(
            "run.py: no cognitive_score_bigdata_spark package in the current "
            "directory; run from the root of a repository checkout",
            file=sys.stderr,
        )
        return 2

    work = os.path.join(root, ".perfbench", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([root, HERE]),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "tmp"),
        TZ="UTC",
    )
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    env.pop("SPARK_GRAFT_MASTER", None)
    cmd = [
        sys.executable,
        os.path.join(HERE, "harness.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
    ]
    proc = subprocess.Popen(
        cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True, start_new_session=True
    )
    # a SIGTERM unwinds through the finally below, which stops the group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    try:
        out, _ = proc.communicate(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        print(f"run.py: {args.workload} exceeded {DEADLINE_S} s", file=sys.stderr)
        out = None
    finally:
        _stop_group(proc.pid)
        proc.wait()

    lines = (out or "").strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"run.py: harness failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        print(f"run.py: last harness line is not JSON: {lines[-1][:200]}", file=sys.stderr)
        return 1
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
