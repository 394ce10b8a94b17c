"""Traced replay: one crawl round, then one conditional revisit sweep,
driven layer by layer through the operators' public functions.

Each call is forced (persist + count, or its own action) inside a span,
so a span's time is that layer's work and the status-store stages that
finish inside it are its Spark work. The replay mirrors
``plans.round.run_round_critical`` step for step with the same operators
and commits, minus the concurrency, the playlist cutoff and the deferred
bookkeeping (dead letters, metrics, lineage). Its crawl_order and seen
commits are therefore checked against an untraced ``run_round`` from the
same warehouse state.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

from swmaestro_crawler_spark.catalog import Catalog
from swmaestro_crawler_spark.config import CrawlConfig
from swmaestro_crawler_spark.functions.canonical import with_canonical
from swmaestro_crawler_spark.operators.fetch import FETCHED, fetch_stage_direct
from swmaestro_crawler_spark.operators.politeness import (
    dedup_frontier,
    priority_order,
    split_admitted,
    split_robots_excluded,
)
from swmaestro_crawler_spark.operators.seen import (
    as_seen_rows,
    bloom_probe,
    build_bloom_distributed,
)
from swmaestro_crawler_spark.plans.revisit import revisit_frontier, run_revisit
from swmaestro_crawler_spark.plans.round import (
    FRONTIER_COLS,
    _part_by_hash,
    with_global_ord,
)
from swmaestro_crawler_spark.schema import FRONTIER, ROBOTS, SEEN
from swmaestro_crawler_spark.sources.synth_web import SPANSEP

from probes import Tracer, dir_usage

COMMITS = (
    "catalog.commit_fetched",
    "catalog.commit_spans",
    "catalog.commit_seen",
    "catalog.commit_pending",
    "catalog.commit_crawl_order",
)


def replay_round(
    tr: Tracer, spark, cat: Catalog, cfg: CrawlConfig, r: int, bloom: np.ndarray
) -> dict:
    """Round ``r`` of the crawl in ``cat``, one traced span per layer
    call. Returns the counts taken at the span boundaries."""
    c: dict = {}
    cached = []

    def keep(df):
        cached.append(df.persist())
        return df

    with tr.span("round"):
        with tr.span("catalog.read"):
            pending = cat.read("pending", FRONTIER)
            seen = cat.read("seen", SEEN)
            robots = cat.read("robots", ROBOTS)
            c["rows_in"] = cat.row_count("pending")

        with tr.span("politeness.dedup"):
            deduped = keep(dedup_frontier(pending))
            c["deduped"] = deduped.count()

        with tr.span("politeness.robots"):
            allowed, excluded, joined = split_robots_excluded(deduped, robots)
            keep(joined)
            c["excluded"] = excluded.count()
            c["allowed"] = c["deduped"] - c["excluded"]

        bitmap_bc = spark.sparkContext.broadcast(bloom.tobytes())
        with tr.span("seen.probe"):
            probed = keep(bloom_probe(allowed, bitmap_bc, cfg.bloom_hashes))
            c["bloom_positives"] = probed.filter(F.col("maybe_seen")).count()

        with tr.span("seen.confirm"):
            # the exact tier of operators.seen.filter_unseen: only the
            # probe positives meet the seen table
            positives = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
            negatives = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
            unseen = keep(
                negatives.unionByName(
                    positives.join(seen.select("url_hash"), "url_hash", "left_anti")
                )
            )
            c["unseen"] = unseen.count()
            c["confirmed_seen"] = c["allowed"] - c["unseen"]

        with tr.span("politeness.admit"):
            admitted, deferred = split_admitted(unseen, robots, cfg)
            admitted = keep(admitted.withColumn("fingerprint", F.hash(F.col("url"))))
            deferred = keep(deferred.select(*FRONTIER_COLS))
            c["admitted"] = admitted.count()
            c["deferred"] = deferred.count()

        with tr.span("fetch.stage"):
            stage = cat.new_stage("fetched")
            fetch_stage_direct(admitted, cfg, r, stage).agg(F.sum("rows")).first()
        c["fetch_bytes"] = dir_usage(stage)[0]

        with tr.span("catalog.commit_fetched"):
            sid_fetch = cat.overwrite_stage("fetched", stage, meta={"round": r})

        fetched = cat.read("fetched", FETCHED)
        resolved = fetched.filter(F.col("ok") | (F.col("status_code") == 301))
        with tr.span("trace.count_fetched"):
            row = fetched.agg(
                F.count(F.lit(1)).alias("pages"),
                F.sum(F.col("ok").cast("long")).alias("ok"),
                F.sum((F.col("status_code") == 500).cast("long")).alias("transient"),
                F.sum(
                    (~F.col("ok") & ~F.col("status_code").isin(500, 301)).cast("long")
                ).alias("fatal"),
            ).first()
            c.update({k: int(row[k] or 0) for k in ("pages", "ok", "transient", "fatal")})

        with tr.span("catalog.commit_spans"):
            cat.append_files(
                "spans",
                "fetched",
                sid_fetch,
                meta={"round": r},
                column_map={"doc_id": "url", "round": "fetch_round"},
                row_filter="ok",
            )

        with tr.span("seen.bloom_build"):
            bloom |= build_bloom_distributed(
                resolved.select("url_hash"), bloom.shape[0] * 64, cfg.bloom_hashes
            )

        with tr.span("catalog.commit_seen"):
            cat.append(
                "seen",
                _part_by_hash(
                    as_seen_rows(resolved, cfg.seen_buckets, r), cfg.frontier_partitions
                ),
                meta={"round": r},
            )

        with tr.span("canonical.links"):
            links = keep(
                resolved.filter(F.col("depth") < cfg.max_depth)
                .select(
                    F.col("url").alias("parent"),
                    F.col("depth").alias("parent_depth"),
                    F.posexplode(
                        F.when(F.col("links") == "", F.array().cast("array<string>"))
                        .otherwise(F.split(F.col("links"), SPANSEP))
                    ).alias("seq", "url"),
                )
                .transform(with_canonical)
            )
            c["links"] = links.count()

        with tr.span("catalog.commit_pending"):
            retries = (
                fetched.filter(F.col("status_code") == 500)
                .withColumn("attempt", F.col("attempt") + 1)
                .withColumn("round", F.lit(r + 1).cast("int"))
                .filter(F.col("attempt") < cfg.max_attempts)
                .select(*FRONTIER_COLS)
            )
            new_links = links.select(
                "url",
                "url_hash",
                "host",
                (F.col("parent_depth") + 1).cast("int").alias("depth"),
                F.col("seq").cast("long").alias("seq"),
                F.lit(r + 1).cast("int").alias("round"),
                F.lit(0).cast("int").alias("attempt"),
                "parent",
            )
            cat.overwrite(
                "pending",
                _part_by_hash(
                    deferred.unionByName(retries).unionByName(new_links),
                    cfg.frontier_partitions,
                ).sortWithinPartitions("url_hash", "attempt", "depth", "seq", "parent"),
                meta={"round": r + 1},
            )

        with tr.span("catalog.commit_crawl_order"):
            ranked, handle = with_global_ord(
                fetched.select("url", "host", "depth", "seq", "url_hash", "ok"),
                priority_order(),
                cfg.frontier_partitions,
                deterministic_layout=True,
            )
            cat.append(
                "crawl_order",
                ranked.select(
                    F.lit(r).cast("int").alias("round"),
                    "ord",
                    "url",
                    "host",
                    "depth",
                    "ok",
                ),
                meta={"round": r},
            )
            handle.unpersist()

    for df in cached:
        df.unpersist()
    bitmap_bc.unpersist()
    return c


def replay_revisit(
    tr: Tracer, spark, cat: Catalog, cfg: CrawlConfig, now_round: int
) -> dict:
    """One conditional revisit sweep with everything due: the schedule
    (``revisit_frontier``) forced on its own, then ``run_revisit``, whose
    own stage timings split admission+fetch from revalidation."""
    obs_dir = os.path.join(cat.warehouse, "observations")
    obs_bytes0 = dir_usage(obs_dir)[0]
    obs_rows0 = cat.row_count("observations")
    spans_before = cat.logical_digest("spans")
    with tr.span("revisit"):
        with tr.span("revisit.schedule"):
            due = revisit_frontier(cat, now_round).count()
        with tr.span("revisit.sweep"):
            res = run_revisit(spark, cat, cfg, now_round, conditional=True)
    t = res["timings"]
    res.update(
        due=due,
        admit_fetch_s=t.get("admit_fetch_write", 0.0) + t.get("counts", 0.0),
        revalidate_s=t.get("revalidate_observations", 0.0)
        + t.get("revalidate_changed", 0.0),
        observation_bytes=dir_usage(obs_dir)[0] - obs_bytes0,
        observation_rows=cat.row_count("observations") - obs_rows0,
    )
    errors = []
    if res["modified"] != 0:
        errors.append(f"revisit modified {res['modified']} pages of a static web")
    if cat.logical_digest("spans") != spans_before:
        errors.append("revisit changed the spans table")
    if res["observation_rows"] != res["refetched_ok"]:
        errors.append(
            f"revisit wrote {res['observation_rows']} observation rows "
            f"for {res['refetched_ok']} refetched pages"
        )
    res["errors"] = errors
    return res

