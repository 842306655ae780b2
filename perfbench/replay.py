"""Layer replay: one committed crawl round, re-run layer by layer.

The crawl round fuses its layers into a few Spark jobs, so their costs
cannot be read apart from the real round.  The replay calls each layer's
public function in the round's order on the round's committed inputs and
materializes the result at every boundary, inside a span and under a job
description named after the layer.  Its span sum is reported next to the
real round's wall time; the two differ by the fusion the replay undoes.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import functions as F

from kit_spark.crawl import (CANDIDATE_SCHEMA, FRONTIER_SCHEMA, SEEN_SCHEMA,
                             SparkCrawlConfig)
from kit_spark.functions.canon import with_canon
from kit_spark.functions.robots_udfs import (ROBOTS_CACHE_SCHEMA,
                                             gate_allowed_relational,
                                             make_compile_udf)
from kit_spark.operators.fetch import fetch_and_verify
from kit_spark.operators.frontier import (admit_candidates,
                                          politeness_schedule,
                                          sequence_schedule)
from kit_spark.operators.sitemap_expand import expand_sitemaps_df
from kit_spark.sources.tables import SnapshotStore, bucketed_by_url

from tracing import Tracer, labelled

LAYERS = ("canon", "admit", "robots", "sitemap", "gate", "politeness",
          "sequence", "fetch", "commit")


def replay_round(spark, store, state_snapshot: str, frames: dict,
                 cfg: SparkCrawlConfig, tracer: Tracer, scratch: str) -> dict:
    """Replay the round that started from driver_state ``state_snapshot``.
    Returns the per-layer counts; times are the tracer's ``replay.*``
    spans.  Writes only under ``scratch``."""
    sc = spark.sparkContext
    out: dict = {}
    state = {r["table"]: r["snapshot"]
             for r in store.read("driver_state", state_snapshot).collect()}

    def table(name, schema):
        if name in state:
            return store.read(name, state[name])
        return spark.createDataFrame([], schema)

    @contextmanager
    def layer(name):
        label = f"replay.{name}"
        with tracer.span(label) as span, labelled(sc, label):
            yield span

    docs = frames["robots_docs"]
    sitemap_docs = frames["sitemap_docs"]
    if cfg.broadcast_fixture_tables:
        docs, sitemap_docs = F.broadcast(docs), F.broadcast(sitemap_docs)
    cached = []

    def keep(df):
        cached.append(df.cache())
        return df

    with tracer.span("replay.round"):
        with layer("read"):
            candidates = keep(table("candidates", CANDIDATE_SCHEMA))
            frontier = keep(table("frontier", FRONTIER_SCHEMA))
            url_seen = keep(table("url_seen", SEEN_SCHEMA))
            robots_cache = keep(table("robots_cache", ROBOTS_CACHE_SCHEMA))
            for df in (frontier, url_seen, robots_cache):
                df.count()
            out["admit.rows_in"] = candidates.count()

        with layer("canon"):
            out["canon.rows"] = keep(with_canon(candidates)).count()

        with layer("admit"):
            admitted = keep(admit_candidates(candidates, url_seen))
            out["admit.rows_out"] = admitted.count()

        with layer("robots"):
            compile_udf = make_compile_udf(cfg.user_agent, cfg.optimal)
            new_hosts = (admitted.select("host_key").distinct()
                         .join(robots_cache.select("host_key"), "host_key",
                               "left_anti"))
            robots_new = keep(
                new_hosts.join(docs, "host_key", "left")
                .withColumn("access_state",
                            F.coalesce("access_state", F.lit("unavailable")))
                .withColumn("__r", compile_udf(F.col("access_state"),
                                               F.col("body")))
                .select("host_key", "access_state",
                        *[F.col(f"__r.{c}").alias(c) for c in
                          ("user_agent", "always", "rules", "crawl_delay",
                           "sitemaps")]))
            out["robots.hosts_compiled"] = robots_new.count()
            robots_all = robots_cache.unionByName(robots_new)

        with layer("sitemap"):
            entries = keep(expand_sitemaps_df(robots_new, sitemap_docs))
            out["sitemap.entries"] = entries.count()

        with layer("gate"):
            gated = keep(gate_allowed_relational(admitted.join(
                robots_all.select("host_key", "always", "rules"),
                "host_key", "left")))
            out["gate.rows"] = gated.count()
            allowed = gated.where(F.col("allowed")).select(
                "url_canon", "host_key", "match_path", "priority")
            out["gate.denied"] = out["gate.rows"] - allowed.count()

        with layer("politeness"):
            # pending goes through parquet, as the frontier table does at
            # scale, so the plan shows how often politeness scans it
            pending_dir = os.path.join(scratch, "pending")
            (frontier.unionByName(allowed)
             .join(robots_all.select("host_key", "crawl_delay"),
                   "host_key", "left")
             .write.mode("overwrite").parquet(pending_dir))
            pending = spark.read.parquet(pending_dir)
            out["politeness.pending_rows"] = pending.count()
            selected = politeness_schedule(
                pending, cfg.round_seconds, cfg.default_delay,
                cfg.salt_buckets, skew_threshold=cfg.skew_threshold)
            plan = selected._jdf.queryExecution().executedPlan().toString()
            out["politeness.pending_scans"] = plan.count(pending_dir)
            selected = keep(selected)
            out["politeness.selected_rows"] = selected.count()

        with layer("sequence"):
            schedule_rows = keep(sequence_schedule(selected).select(
                F.lit(0).alias("round"), "seq", "url_canon", "host_key",
                "priority"))
            out["sequence.rows"] = schedule_rows.count()

        with layer("fetch"):
            fetch_log = keep(fetch_and_verify(
                schedule_rows, frames["images"],
                broadcast_images=cfg.broadcast_fixture_tables))
            agg = fetch_log.agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.when(F.col("fetch_ok"), 1).otherwise(0)).alias("ok"),
                F.sum("fetched_bytes").alias("bytes")).collect()[0]
            out["fetch.rows"] = int(agg["rows"])
            out["fetch.ok_rows"] = int(agg["ok"] or 0)
            out["fetch.bytes"] = int(agg["bytes"] or 0)

        with layer("commit"):
            target = SnapshotStore(spark, os.path.join(scratch, "store"))
            target.append("schedule", schedule_rows)
            target.append("url_seen", bucketed_by_url(
                admitted.select("url_canon"), cfg.seen_buckets))
            target.append("robots_cache", robots_new)
            target.write("frontier", pending.drop("crawl_delay").join(
                schedule_rows.select("url_canon"), "url_canon", "left_anti"))
            target.append("fetch_log", fetch_log)
    for df in cached:
        df.unpersist()
    return out
