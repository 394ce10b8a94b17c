"""Crawl-engine benchmark driver: one workload, one fresh Spark process.

Started by ``run.py`` with the checkout root as working directory and on
PYTHONPATH. The closed loop has one client: the driver submits the next
crawl round only when the previous one returned. Every input comes from
``--seed``: the synthetic web's seed list (``CrawlConfig.synth_seed``)
and the salt of the bulk frontier generator.

Prints one JSON object as the last line of stdout: end-to-end metrics
with ``--trace 0``, per-layer metrics (from a separate traced replay)
with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import dataclasses
import gc
import json
import math
import os
import shutil
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from swmaestro_crawler_spark.config import CrawlConfig, spark_builder
from swmaestro_crawler_spark.operators.seen import empty_bloom
from swmaestro_crawler_spark.plans.crawl import Crawl
from swmaestro_crawler_spark.plans.round import RoundResult, run_round
from swmaestro_crawler_spark.schema import ROBOTS
from swmaestro_crawler_spark.sources.synth_web import make_seeds

import checks
import replay
from probes import PeakRss, SparkWork, Tracer, dir_usage, median, totals

MB = float(1 << 20)
# one shuffle and frontier partition per core of a 4-core host, as bench.py
# runs 32 on local[32]; the engine's default 32 on 4 cores made rounds
# 1.6-2.7x slower and runs too long for the budget (README.md, "Partition
# counts")
PARTITIONS = 4

# bulk_round: one steady-state round over a JVM-generated frontier
BULK_ROWS = 50_000
BULK_HOSTS = 5_000
BULK_ROUND_SECONDS = 5.0  # binds on ~1,600 hosts: ~27% of rows admitted

# expand_rounds: an expanding crawl over watch pages that share a small
# per-host id pool, so from round 1 on many links are duplicates or pages
# already fetched. Round 0 runs in set-up; round 1 is measured.
EXPAND_SEEDS = 1_000
EXPAND_HOSTS = 500
EXPAND_ROUNDS = 2
EXPAND_WATCH_POOL = 256

# the once-per-run oracle cross-check (also the JVM and worker warm-up):
# watch-page seeds on a small shared pool, so its second round runs
# frontier dedup, bloom positives and the exact seen confirm
ORACLE_SEEDS = 8
ORACLE_ROUNDS = 2
ORACLE_WATCH_POOL = 8

# --seed picks one of this many input sets (seed mod INPUT_SETS); the
# output digests of every one are pinned in pins.json (see pin.py)
INPUT_SETS = 32

REVISIT_ROUND = 1000  # far enough ahead that every known page is due

# the steps of a round that block the next round (plans.round timings)
CRITICAL_STEPS = (
    "read+plan",
    "admission_scores",
    "fetch_scratch_write",
    "spans_write",
    "bookkeeping_critical",
)


def base_cfg(wh: str, **kw) -> CrawlConfig:
    return CrawlConfig(
        frontier_partitions=PARTITIONS,
        warehouse=wh,
        **kw,
    )


def bulk_cfg(wh: str, seed: int) -> CrawlConfig:
    return base_cfg(
        wh,
        round_seconds=BULK_ROUND_SECONDS,
        per_host_cap=10_000_000,
        max_rounds=1,
        max_depth=1,  # depth-1 rows: no expansion, a pure bulk round
        synth_n_hosts=BULK_HOSTS,
        synth_seed=seed,
    )


def expand_cfg(wh: str, seed: int) -> CrawlConfig:
    return base_cfg(
        wh,
        max_rounds=EXPAND_ROUNDS,
        max_depth=4,
        synth_n_hosts=EXPAND_HOSTS,
        synth_watch_pool=EXPAND_WATCH_POOL,
        synth_seed=seed,
    )


def oracle_cfg(wh: str, seed: int) -> CrawlConfig:
    return CrawlConfig(
        round_seconds=6.0,
        max_rounds=ORACLE_ROUNDS,
        max_depth=3,
        frontier_partitions=PARTITIONS,
        seen_buckets=16,
        bloom_bits=1 << 18,
        synth_n_hosts=20,
        synth_fail_prob=0.15,
        synth_watch_pool=ORACLE_WATCH_POOL,
        synth_seed=seed,
        warehouse=wh,
    )


def bulk_frontier(spark, seed: int):
    """FRONTIER rows generated JVM-side (codegen only), shaped like
    tools/bench_scaling.synth_frontier with ``seed`` as the hash salt:
    log-uniform host skew (~Zipf s=1; host0000 holds ~8% of rows), URLs
    already canonical so url_hash = xxhash64(url), every row unseen."""
    df = spark.range(0, BULK_ROWS, 1, 8)
    u = (
        F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(1 << 48)).cast("double") + 0.5
    ) / float(1 << 48)
    hidx = F.least(
        F.lit(BULK_HOSTS - 1),
        (F.floor(F.exp(u * math.log(BULK_HOSTS))) - 1).cast("long"),
    ).cast("int")
    host = F.concat_ws(
        "", F.lit("host"), F.lpad(hidx.cast("string"), 4, "0"), F.lit(".example.com")
    )
    url = F.concat_ws(
        "", F.lit("http://"), host, F.lit("/p/"), F.lower(F.lpad(F.hex("id"), 12, "0"))
    )
    return df.select(
        url.alias("url"),
        F.xxhash64(url).alias("url_hash"),
        host.alias("host"),
        F.lit(1).cast("int").alias("depth"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 1)), F.lit(100_000)).alias("seq"),
        F.lit(0).cast("int").alias("round"),
        F.lit(0).cast("int").alias("attempt"),
        F.lit(None).cast("string").alias("parent"),
    )


def watch_seeds(cfg: CrawlConfig, n: int) -> list[dict]:
    """``make_seeds`` ranked seed rows, each pointed at a watch page of
    its host's shared id pool (the id space watch-page links draw from)."""
    seeds = make_seeds(cfg, n)
    for s in seeds:
        head, vid = s["url"].rsplit("/ch/", 1)
        s["url"] = f"{head}/w/{int(vid, 16) % cfg.synth_watch_pool:012x}"
    return seeds


def critical_s(timings: dict) -> float:
    return sum(timings.get(k, 0.0) for k in CRITICAL_STEPS)


class Bench:
    def __init__(self, args) -> None:
        self.workload = args.workload
        self.seed = args.seed % INPUT_SETS
        self.seconds = args.seconds
        self.work = os.path.abspath(args.work)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self._fail_lock = threading.Lock()  # the oracle check fails from a thread

    def log(self, msg: str) -> None:
        print(f"[crawlbench] {msg}", file=sys.stderr, flush=True)

    def fail(self, ops: int, msgs: list[str]) -> None:
        with self._fail_lock:
            self.failed += ops
        for m in msgs:
            self.log(f"CHECK FAILED: {m}")

    def wh(self, name: str) -> str:
        path = os.path.join(self.work, "wh", name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    # -- session + warm-up ---------------------------------------------------
    def start(self) -> float:
        t0 = time.perf_counter()
        local = os.path.join(self.work, "local")
        spec = spark_builder(
            "crawlbench",
            master=f"local[{len(os.sched_getaffinity(0))}]",
            shuffle_partitions=PARTITIONS,
        )
        conf = {
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            # client compiler only, with the tiered compiler's code cache
            # size: see README.md, "Load model"
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
                f"-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m "
                f"-Dderby.system.home={self.work}"
            ),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }
        for k, v in conf.items():
            spec = spec.config(k, v)
        self.spark = spec.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sw = SparkWork(self.spark)
        return time.perf_counter() - t0

    def warm_up(self) -> None:
        """Once per run: round 0 of a tiny crawl that ``finish_oracle``
        checks against the sequential reference oracle. It runs every
        crawl layer once, so it is also the (unmeasured) warm-up of the
        JVM and the Python worker pool."""
        self.attempted += 1
        cfg = oracle_cfg(self.wh("oracle"), self.seed)
        self.oracle_seeds = watch_seeds(cfg, ORACLE_SEEDS)
        try:
            self.oracle = checks.oracle_crawl(self.spark, cfg, self.oracle_seeds, 1)
        except Exception:  # a crash is a failed check, reported with its trace
            self.oracle = None
            self.fail(1, ["oracle cross-check raised:\n" + traceback.format_exc()])

    def finish_oracle(self) -> None:
        """The rest of the oracle cross-check: its later rounds (where
        duplicate and already-seen rows appear) and the comparison."""
        if self.oracle is None:  # its warm-up round failed and was counted
            return
        try:
            errs = checks.check_oracle(self.oracle, self.oracle_seeds, ORACLE_ROUNDS)
        except Exception:
            errs = ["oracle cross-check raised:\n" + traceback.format_exc()]
        if errs:
            self.fail(1, errs)

    def set_up(self, name: str):
        """The warm-up crawl, overlapped with the first bootstrap (both
        are latency-bound); returns ``prepare``'s result and the wall time
        until both are done."""
        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=1) as ex:
            warm = ex.submit(self.warm_up)
            prepared = self.prepare(name)
            warm.result()
        return prepared, time.perf_counter() - t0

    # -- workload set-up and operations -------------------------------------
    def collect_garbage(self) -> None:
        """Release what earlier operations left behind (Python handles,
        then the JVM objects they pinned, whose shuffle files and
        broadcasts Spark's cleaner then removes) before the next
        operation is timed, so it does not pay for its predecessor."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def prepare(self, name: str):
        """Fresh warehouse in the state before the measured round: the
        inputs bootstrapped, and for expand_rounds its round 0 run.
        Returns (crawl, pending rows)."""
        if self.workload == "bulk_round":
            cfg = bulk_cfg(self.wh(name), self.seed)
            crawl = Crawl(self.spark, cfg)
            crawl.bootstrap(frontier=bulk_frontier(self.spark, self.seed))
        else:
            cfg = expand_cfg(self.wh(name), self.seed)
            crawl = Crawl(self.spark, cfg)
            crawl.bootstrap(self.spark.createDataFrame(watch_seeds(cfg, EXPAND_SEEDS)))
            crawl.run(None, rounds=EXPAND_ROUNDS - 1)
        return crawl, crawl.cat.row_count("pending")

    def execute(self, crawl: Crawl) -> RoundResult:
        """The measured operation, one round: ``run_round`` for
        bulk_round, ``Crawl.run`` resuming at round 1 for expand_rounds."""
        if self.workload == "bulk_round":
            robots = crawl.cat.read("robots", ROBOTS)
            bloom = empty_bloom(crawl.cfg.bloom_bits)
            return run_round(self.spark, crawl.cat, crawl.cfg, 0, robots, bloom)
        (res,) = crawl.run(None, rounds=EXPAND_ROUNDS)
        return res

    def verify(self, crawl: Crawl, first: dict | None) -> tuple[dict, list[str]]:
        try:
            got, errs = checks.verify(crawl.cat, crawl.cfg)
        except Exception:  # a crash in a check is a failed check, with its trace
            return first, ["output checks raised:\n" + traceback.format_exc()]
        errs += checks.check_pins(self.workload, self.seed, got)
        if first is not None and got != first:
            errs.append(f"digests differ between iterations: {got} vs {first}")
        return got, errs

    # -- trace 0: end-to-end metrics -----------------------------------------
    def measure(self, session_s: float) -> dict:
        rss = PeakRss()
        walls, rows, crit, added, pages = [], [], [], [], []
        first = None
        (crawl, pending_rows), setup_s = self.set_up("it0")
        self.log(f"session {session_s:.2f}s, warm-up + bootstrap {setup_s:.2f}s")
        # whole operations, at least one, while the next one is expected
        # to end within the run's measuring time; the oracle cross-check
        # finishes while the last one's outputs are checked
        ex = ThreadPoolExecutor(max_workers=1)
        oracle = None
        while oracle is None:
            i = len(walls)
            if i:
                crawl, pending_rows = self.prepare(f"it{i}")
            bytes0 = dir_usage(crawl.cat.warehouse)[0]
            self.attempted += 1
            self.collect_garbage()
            rss.start()
            t0 = time.perf_counter()
            try:
                res = self.execute(crawl)
            except Exception:
                rss.stop()
                self.fail(1, ["operation raised:\n" + traceback.format_exc()])
                break
            walls.append(time.perf_counter() - t0)
            rss.stop()
            added.append(dir_usage(crawl.cat.warehouse)[0] - bytes0)
            # frontier rows disposed of: every pending row entering the
            # round, duplicates and seen-filtered rows included
            rows.append(pending_rows)
            pages.append(res.fetched_ok)
            crit.append(critical_s(res.timings))
            steps = {k: round(v, 2) for k, v in res.timings.items()}
            self.log(
                f"iteration {i}: round {res.round} wall {walls[-1]:.2f}s "
                f"rows {rows[-1]} pages {pages[-1]} critical {crit[-1]:.2f}s {steps}"
            )
            if sum(walls) + median(walls) > self.seconds:
                oracle = ex.submit(self.finish_oracle)
            got, errs = self.verify(crawl, first)
            first = first or got
            self.log(f"digests {got}")
            if errs:
                self.fail(1, errs)
        (oracle or ex.submit(self.finish_oracle)).result()
        ex.shutdown()
        return {
            "setup_s": (session_s + setup_s, "s"),
            "urls_per_s": (sum(rows) / sum(walls) if walls else 0.0, "URL/s"),
            "round_critical_s": (median(crit), "s"),
            "peak_rss_mb": (rss.peak / MB, "MB"),
            "storage_bytes_per_page": (sum(added) / max(1, sum(pages)), "B/page"),
            "success_rate": (1.0 - self.failed / self.attempted, "ratio"),
        }

    # -- trace 1: per-layer metrics ------------------------------------------
    def trace(self) -> dict:
        """Untraced ``run_round`` and traced replay of the same round from
        two copies of one warehouse state, then a traced revisit sweep."""
        (base, _), _ = self.set_up("base")
        copies = {}
        for side in ("untraced", "traced"):
            path = self.wh(side)
            shutil.copytree(base.cat.warehouse, path)
            crawl = Crawl(self.spark, dataclasses.replace(base.cfg, warehouse=path))
            r, bloom, _ = crawl.resume_or_bootstrap(None)
            copies[side] = (crawl, r, bloom)

        self.attempted += 1
        self.collect_garbage()
        crawl, r, bloom = copies["untraced"]
        jobs0 = self.sw.jobs()
        self.sw.snapshot()
        t0 = time.perf_counter()
        res = run_round(
            self.spark, crawl.cat, crawl.cfg, r, crawl.cat.read("robots", ROBOTS), bloom
        )
        untraced_s = time.perf_counter() - t0
        round_work = totals(self.sw.snapshot())
        round_jobs = self.sw.jobs() - jobs0

        self.collect_garbage()
        crawl_t, r, bloom = copies["traced"]
        tr = Tracer(self.sw)
        bytes0, files0 = dir_usage(crawl_t.cat.warehouse)
        t0 = time.perf_counter()
        c = replay.replay_round(tr, self.spark, crawl_t.cat, crawl_t.cfg, r, bloom)
        traced_s = time.perf_counter() - t0
        bytes1, files1 = dir_usage(crawl_t.cat.warehouse)
        errs = []
        for t in ("crawl_order", "seen", "pending"):
            a, b = crawl.cat.logical_digest(t), crawl_t.cat.logical_digest(t)
            if a != b:
                errs.append(f"traced replay {t} digest {b} != run_round {a}")
        if errs:
            self.fail(1, errs)

        self.attempted += 1
        rv = replay.replay_revisit(tr, self.spark, crawl_t.cat, crawl_t.cfg, REVISIT_ROUND)
        if rv["errors"]:
            self.fail(1, rv["errors"])
        self.finish_oracle()

        run = totals(self.sw.all_stages())
        t = res.timings
        d = tr.dur
        commit_times = [d(n) for n in replay.COMMITS]
        fetch_work = tr.stage_totals("fetch.stage")
        m = {
            "round.read_plan_s": (t.get("read+plan", 0.0), "s"),
            "round.fetch_write_s": (t.get("fetch_scratch_write", 0.0), "s"),
            "round.spans_commit_s": (t.get("spans_write", 0.0), "s"),
            "round.bookkeeping_critical_s": (t.get("bookkeeping_critical", 0.0), "s"),
            "round.bk_pending_s": (t.get("bk_pending", 0.0), "s"),
            "round.bk_order_s": (t.get("bk_order", 0.0), "s"),
            "round.bk_seen_s": (t.get("bk_seen", 0.0), "s"),
            "round.bk_bloom_s": (t.get("bk_bloom", 0.0), "s"),
            "round.bk_dead_s": (t.get("bk_dead", 0.0), "s"),
            "round.deferred_wait_s": (t.get("bookkeeping_deferred", 0.0), "s"),
            "round.spark_jobs": (round_jobs, "count"),
            "round.spark_tasks": (round_work["tasks"], "count"),
            "politeness.dedup_s": (d("politeness.dedup"), "s"),
            "politeness.robots_s": (d("politeness.robots"), "s"),
            "politeness.admit_s": (d("politeness.admit"), "s"),
            "politeness.rows_in": (c["rows_in"], "count"),
            "politeness.dup_rows": (c["rows_in"] - c["deduped"], "count"),
            "politeness.excluded": (c["excluded"], "count"),
            "politeness.admitted": (c["admitted"], "count"),
            "politeness.deferred": (c["deferred"], "count"),
            "politeness.shuffle_bytes": (
                tr.stage_totals(
                    "politeness.dedup", "politeness.robots", "politeness.admit"
                )["shuffle_write"],
                "B",
            ),
            "politeness.task_skew": (tr.skew("politeness.admit"), "ratio"),
            "seen.probe_s": (d("seen.probe"), "s"),
            "seen.confirm_s": (d("seen.confirm"), "s"),
            "seen.bloom_build_s": (d("seen.bloom_build"), "s"),
            "seen.bloom_positives": (c["bloom_positives"], "count"),
            "seen.confirmed_seen": (c["confirmed_seen"], "count"),
            "seen.useful_ratio": (
                c["confirmed_seen"] / c["bloom_positives"] if c["bloom_positives"] else 0.0,
                "ratio",
            ),
            "seen.shuffle_bytes": (
                tr.stage_totals("seen.probe", "seen.confirm")["shuffle_write"],
                "B",
            ),
            "fetch.stage_s": (d("fetch.stage"), "s"),
            "fetch.pages": (c["pages"], "count"),
            "fetch.ok": (c["ok"], "count"),
            "fetch.transient": (c["transient"], "count"),
            "fetch.fatal": (c["fatal"], "count"),
            "fetch.us_per_page": (fetch_work["run_s"] * 1e6 / max(1, c["pages"]), "us"),
            "fetch.bytes_written": (c["fetch_bytes"], "B"),
            "fetch.task_skew": (tr.skew("fetch.stage"), "ratio"),
            "catalog.commits": (len(commit_times), "count"),
            "catalog.commit_s": (median(commit_times), "s"),
            "catalog.read_s": (d("catalog.read"), "s"),
            "catalog.bytes_written": (bytes1 - bytes0, "B"),
            "catalog.files_written": (files1 - files0, "count"),
            "canonical.links": (c["links"], "count"),
            "canonical.links_s": (d("canonical.links"), "s"),
            "revisit.schedule_s": (d("revisit.schedule"), "s"),
            "revisit.admit_fetch_s": (rv["admit_fetch_s"], "s"),
            "revisit.revalidate_s": (rv["revalidate_s"], "s"),
            "revisit.due": (rv["due"], "count"),
            "revisit.not_modified": (rv["not_modified"], "count"),
            "revisit.observation_bytes": (rv["observation_bytes"], "B"),
            "spark.jobs": (self.sw.jobs(), "count"),
            "spark.tasks": (run["tasks"], "count"),
            "spark.executor_run_s": (run["run_s"], "s"),
            "spark.shuffle_write_bytes": (run["shuffle_write"], "B"),
            "spark.gc_s": (run["gc_s"], "s"),
            "trace.untraced_round_s": (untraced_s, "s"),
            "trace.traced_round_s": (traced_s, "s"),
            "trace.overhead_s": (traced_s - untraced_s, "s"),
        }
        out = os.path.join(self.work, "..", f"trace-{self.workload}-seed{self.seed}.json")
        with open(out, "w") as f:
            json.dump(
                {
                    "workload": self.workload,
                    "seed": self.seed,
                    "round": r,
                    "spans": tr.dump(),
                    "self_s": tr.self_times(),
                    "counts": c,
                    "revisit": {k: v for k, v in rv.items() if k != "errors"},
                    "untraced_timings": t,
                    "metrics": {k: v[0] for k, v in m.items()},
                },
                f,
                indent=1,
            )
        self.log(f"trace written to {os.path.normpath(out)}")
        return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("bulk_round", "expand_rounds"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    args = ap.parse_args()

    b = Bench(args)
    session_s = b.start()
    metrics = b.trace() if args.trace else b.measure(session_s)
    b.spark.stop()
    print(
        json.dumps(
            {
                "correct": b.failed == 0,
                "attempted": b.attempted,
                "failed": b.failed,
                "metrics": {
                    k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
                },
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
