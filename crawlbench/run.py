"""Crawl-engine benchmark: run one workload in a fresh process.

    python3 crawlbench/run.py --workload bulk_round --seed 1 --seconds 15 --trace 0

Run from the repository root. The Spark driver runs in a child process
(``driver.py``) in its own process group, so the JVM and every Python
worker it forks are stopped and waited for before this script exits.
Warehouses, Spark scratch space and temporary files live under
``crawlbench/.work``; traces from ``--trace 1`` stay there as
``trace-<workload>-seed<seed>.json``.

The last line of stdout is the result object; any failure to produce one
exits non-zero without printing it.
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
ROOT = os.path.dirname(HERE)
WORKLOADS = ("bulk_round", "expand_rounds")
DRIVER_MEM = "2g"
TIMEOUT_S = 170


def group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                if os.getpgid(int(name)) == pgid:
                    return True
            except ProcessLookupError:
                continue
    return False


def stop_group(pgid: int) -> None:
    """SIGKILL whatever is left of the child's process group and wait
    until every member has exited."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 10
    while group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description="crawl-engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for pkg in ("swmaestro_crawler_spark", "oracle"):
        if not os.path.isfile(os.path.join(ROOT, pkg, "__init__.py")):
            print(f"crawlbench: package {pkg!r} not found under {ROOT}", file=sys.stderr)
            return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_CPUS", None)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYTHONDONTWRITEBYTECODE="1",
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        TMPDIR=tmp,
    )
    cmd = [
        sys.executable,
        os.path.join(HERE, "driver.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--work", work,
    ]
    child = subprocess.Popen(
        cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True, start_new_session=True
    )
    try:
        out, _ = child.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop_group(child.pid)
        child.communicate()
        print(f"crawlbench: run exceeded {TIMEOUT_S}s", file=sys.stderr)
        return 1
    finally:
        stop_group(child.pid)
        shutil.rmtree(work, ignore_errors=True)

    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if child.returncode != 0 or not isinstance(result, dict):
        sys.stderr.write(out[-4000:])
        print(
            f"crawlbench: driver exited {child.returncode} without a result",
            file=sys.stderr,
        )
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
