"""Recompute the pinned output digests of every workload input set.

    PYTHONPATH=. python3 crawlbench/pin.py [--check]

Run from the repository root. In one Spark session, set up like the one
``run.py`` starts, each workload's measured round runs for every input set
(``--seed`` mod ``driver.INPUT_SETS``), and the ``crawl_order``, ``seen``
and ``spans`` digests are written to ``pins.json``. A digest that differs from one
already pinned is reported and the file is left unchanged; ``--check``
only compares. Takes ~30 min on a 4-core host.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

import checks
import driver
import run

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("bulk_round", "expand_rounds")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--check", action="store_true", help="compare only, write nothing")
    args = ap.parse_args()

    with open(checks.PINS) as f:
        pins = json.load(f)
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="pin-", dir=os.path.join(HERE, ".work"))
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    os.environ.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYTHONDONTWRITEBYTECODE="1",
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_DRIVER_MEM=run.DRIVER_MEM,
        TMPDIR=work,
    )
    b = driver.Bench(
        argparse.Namespace(workload=WORKLOADS[0], seed=0, seconds=0, work=work)
    )
    b.start()
    diffs = []
    try:
        for workload in WORKLOADS:
            for seed in range(driver.INPUT_SETS):
                b.workload, b.seed = workload, seed
                crawl, _ = b.prepare(f"{workload}-{seed}")
                b.execute(crawl)
                got, errs = checks.verify(crawl.cat, crawl.cfg)
                if errs:
                    diffs.append(f"{workload} seed {seed}: {errs}")
                old = pins.setdefault(workload, {}).setdefault(str(seed), got)
                if old != got:
                    diffs.append(f"{workload} seed {seed}: pinned {old}, got {got}")
                b.log(f"{workload} seed {seed}: {got}")
                shutil.rmtree(crawl.cat.warehouse, ignore_errors=True)
    finally:
        b.spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    for d in diffs:
        b.log(f"MISMATCH {d}")
    if diffs:
        return 1
    if not args.check:
        with open(checks.PINS, "w") as f:
            json.dump(pins, f, indent=1, sort_keys=False)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
