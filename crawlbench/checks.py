"""Output checks. Failures come back as messages (an empty list = pass)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from swmaestro_crawler_spark.catalog import Catalog
from swmaestro_crawler_spark.config import CrawlConfig
from swmaestro_crawler_spark.schema import CRAWL_ORDER, ROBOTS, SPANS_DOC

DIGEST_TABLES = ("crawl_order", "seen", "spans")
PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


def verify(cat: Catalog, cfg: CrawlConfig) -> tuple[dict[str, str], list[str]]:
    """Layout-invariant value digests of the tables the crawl must get
    exactly right (crawl order, URL-seen membership, span documents),
    plus the invariant checks."""
    return {t: cat.logical_digest(t) for t in DIGEST_TABLES}, check_invariants(cat, cfg)


def check_pins(workload: str, seed: int, got: dict[str, str]) -> list[str]:
    """Digests against the values pinned for this workload and seed (a
    seed with no pinned values fails)."""
    with open(PINS) as f:
        want = json.load(f).get(workload, {}).get(str(seed))
    if not want:
        return [f"no digests pinned for {workload} seed {seed}"]
    return [
        f"{t} digest {got[t]} != pinned {want.get(t)}"
        for t in DIGEST_TABLES
        if got[t] != want.get(t)
    ]


def check_invariants(cat: Catalog, cfg: CrawlConfig) -> list[str]:
    """No (round, host) pair over its crawl-delay budget, and the span
    documents are exactly the fetched-ok URLs. The budget is computed here
    from its definition, min(per_host_cap, max(1, floor(round_seconds /
    crawl_delay))), not with the engine's own expression."""
    order = cat.read("crawl_order", CRAWL_ORDER)
    delays = cat.read("robots", ROBOTS).select("host", "crawl_delay_s")
    budget = F.least(
        F.lit(cfg.per_host_cap),
        F.greatest(
            F.lit(1),
            F.floor(F.lit(cfg.round_seconds) / F.coalesce("crawl_delay_s", F.lit(1.0))),
        ),
    )
    over_budget = (
        order.groupBy("round", "host")
        .count()
        .join(delays, "host", "left")
        .filter(F.col("count") > budget)
    )
    ok_urls = order.filter(F.col("ok")).select(F.col("url").alias("doc_id"))
    docs = cat.read("spans", SPANS_DOC).select("doc_id")
    over = over_budget.count()
    missing = ok_urls.exceptAll(docs).count()
    extra = docs.exceptAll(ok_urls).count()
    errors = []
    if over:
        errors.append(f"{over} (round, host) pairs over their crawl-delay budget")
    if missing or extra:
        errors.append(
            f"spans doc_ids != fetched-ok urls ({missing} missing, {extra} extra)"
        )
    return errors


def oracle_crawl(spark, cfg: CrawlConfig, seeds: list[dict], rounds: int):
    """The first ``rounds`` rounds of the tiny cross-check crawl, through
    ``Crawl.run``; ``check_oracle`` finishes it."""
    from swmaestro_crawler_spark.plans.crawl import Crawl

    crawl = Crawl(spark, cfg)
    crawl.run(spark.createDataFrame(seeds), rounds=rounds)
    return crawl


def check_oracle(crawl, seeds: list[dict], rounds: int) -> list[str]:
    """Resume the tiny crawl to ``rounds`` rounds; it must equal the
    sequential reference oracle: crawl order, seen membership and
    fingerprints."""
    from oracle.reference_oracle import run_oracle
    from swmaestro_crawler_spark.schema import SEEN

    crawl.run(None, rounds=rounds)
    want = run_oracle(seeds, crawl.cfg, rounds=rounds)
    rows = crawl.cat.read("crawl_order", CRAWL_ORDER).orderBy("round", "ord").collect()
    order = [(r.round, r.ord, r.url, r.host, r.depth, r.ok) for r in rows]
    seen = {r.url_hash: r.fingerprint for r in crawl.cat.read("seen", SEEN).collect()}
    errors = []
    if order != want.crawl_order:
        errors.append(
            f"oracle crawl order differs ({len(order)} vs {len(want.crawl_order)} rows)"
        )
    if set(seen) != want.seen or seen != want.fingerprints:
        errors.append(f"oracle seen set differs ({len(seen)} vs {len(want.seen)})")
    return errors
