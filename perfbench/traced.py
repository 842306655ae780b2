"""The traced run: per-layer metrics from spans and Spark's event log.

The whole run has the event log on (uncompressed, not rolling).  After
the untraced window the measured round runs twice more: through a
``TracingStore`` (a span and a job description per round and per store
call), and untraced again.  It is then replayed layer by layer from the
same committed inputs, and the context stops before the log is read.

``trace.overhead_frac`` compares the traced run of the round with the
mean of the untraced runs on either side of it (the window's last step
and the run after), which cancels the warm-up still going on from one
run to the next.  It is the cost of spans, job descriptions and the
store wrapper; every run here pays for the event log, whose own cost
shows as the difference between this run's window and a ``--trace 0``
run.
"""
from __future__ import annotations

import glob
import json
import os
import statistics

from replay import LAYERS, replay_round
from run import CORES, EVENT_LOG, OUT, WORK
from tracing import (LabelStats, Tracer, TracingStore, chain_length,
                     fold_event_log, union_length)

COMMIT_TABLES = ("schedule", "url_seen", "frontier", "candidates",
                 "fetch_log", "robots_cache", "metrics", "lineage",
                 "driver_state")
TASK_UNITS = {"executor_s": "s", "shuffle_read_bytes": "B",
              "shuffle_write_bytes": "B", "spill_bytes": "B",
              "tasks": "count", "task_skew": "ratio"}


def traced_run(bench, untraced: list[dict]) -> tuple[dict, dict]:
    """Returns (per-layer metrics, info); ``untraced`` is the window."""
    spark, store = bench.spark, bench.store
    before = untraced[-1:]
    tracer = bench.tracer = Tracer()
    traced = bench.window(steps=1, wrap=lambda s: TracingStore(s, tracer))
    bench.tracer = tracer.root = None  # the replay is not part of a round
    after = bench.window(steps=1)
    if not (before and traced and after):
        raise RuntimeError(f"a traced-run round failed: {bench.failures}")
    counts = replay_round(spark, store, bench.pre_state, bench.inputs,
                          bench.driver(store).config, tracer,
                          os.path.join(WORK, "replay"))
    state = {r["table"]: r["snapshot"]
             for r in store.read("driver_state").collect()}
    chain = chain_length(store, "url_seen", state.get("url_seen"))
    bench.stop_spark()  # finalizes the event log
    (log_path,) = glob.glob(os.path.join(EVENT_LOG, "*"))
    with open(log_path) as fh:
        log = fold_event_log(fh)

    metrics = round_metrics(traced, log, tracer)
    metrics.update(replay_metrics(counts, tracer, log, traced))
    metrics["tables.chain_len.url_seen"] = (chain, "count")
    baseline = statistics.fmean(r["s"] for r in before + after)
    metrics["trace.overhead_frac"] = (traced[0]["s"] / baseline - 1, "ratio")

    os.makedirs(OUT, exist_ok=True)
    spans_path = os.path.join(OUT, f"trace-{bench.name}-{bench.seed}.json")
    with open(spans_path, "w") as fh:
        json.dump({"spans": tracer.to_json(),
                   "labels": {str(k): {**vars(v), "task_ms": len(v.task_ms)}
                              for k, v in log.labels.items()}}, fh)
    info = {"spans": spans_path,
            "untraced_round_s": [r["s"] for r in untraced + after],
            "traced_round_s": [r["s"] for r in traced],
            "span_self_s": self_time_by_name(tracer)}
    return metrics, info


def self_time_by_name(tracer: Tracer) -> dict:
    out: dict[str, float] = {}
    for span in tracer.spans:
        out[span.name] = out.get(span.name, 0.0) + tracer.self_time(span)
    return out


def round_metrics(traced: list[dict], log, tracer: Tracer) -> dict:
    """crawl.* and tables.* as medians over the traced rounds.  A job
    belongs to the round during which it was submitted."""
    per = {k: [] for k in ("jobs", "stages", "tasks", "gap", "busy", "read")}
    commit = {t: [] for t in COMMIT_TABLES}
    for rec in traced:
        lo, hi = rec["start"] * 1000, rec["end"] * 1000
        jobs = [j for j in log.jobs.values() if lo <= j.submit_ms <= hi]
        busy = union_length([(j.submit_ms, min(j.end_ms or hi, hi))
                             for j in jobs])
        per["jobs"].append(len(jobs))
        per["stages"].append(sum(j.stages for j in jobs))
        per["tasks"].append(sum(j.tasks for j in jobs))
        per["gap"].append((hi - lo - busy) / 1000)
        per["busy"].append(sum(j.executor_ms for j in jobs)
                           / ((hi - lo) * CORES))
        spans = [s for s in tracer.spans
                 if s.name.startswith("tables.") and s.end is not None
                 and rec["start"] <= s.start <= rec["end"]]
        per["read"].append(sum(s.duration for s in spans
                               if s.attrs["op"] == "read"))
        for t in COMMIT_TABLES:
            commit[t].append(sum(s.duration for s in spans
                                 if s.attrs["op"] != "read"
                                 and s.attrs["table"] == t))
    med = statistics.median
    out = {
        "crawl.round_s": (med(r["s"] for r in traced), "s"),
        "crawl.spark_jobs": (med(per["jobs"]), "count"),
        "crawl.spark_stages": (med(per["stages"]), "count"),
        "crawl.spark_tasks": (med(per["tasks"]), "count"),
        "crawl.driver_gap_s": (med(per["gap"]), "s"),
        "crawl.executor_busy_frac": (med(per["busy"]), "ratio"),
        "tables.read_s": (med(per["read"]), "s"),
        "tables.bytes_written": (med(r["bytes"] for r in traced), "B"),
        "tables.files_written": (med(r["files"] for r in traced), "count"),
    }
    for t in COMMIT_TABLES:
        out[f"tables.commit_s.{t}"] = (med(commit[t]), "s")
    return out


def replay_metrics(counts: dict, tracer: Tracer, log,
                   traced: list[dict]) -> dict:
    """Layer metrics from the replay's spans, counts and Spark tasks."""
    layer_s = {span.name[len("replay."):]: tracer.self_time(span)
               for span in tracer.spans
               if span.name.startswith("replay.")
               and span.name != "replay.round"}

    def ratio(a, b):
        return a / b if b else 0.0

    c = counts
    out = {
        "canon.rows": (c["canon.rows"], "count"),
        "canon.s": (layer_s["canon"], "s"),
        "admit.rows_in": (c["admit.rows_in"], "count"),
        "admit.rows_out": (c["admit.rows_out"], "count"),
        "admit.fresh_ratio": (ratio(c["admit.rows_out"], c["admit.rows_in"]),
                              "ratio"),
        "admit.s": (layer_s["admit"], "s"),
        "robots.hosts_compiled": (c["robots.hosts_compiled"], "count"),
        "robots.compile_s": (layer_s["robots"], "s"),
        "gate.rows": (c["gate.rows"], "count"),
        "gate.denied_ratio": (ratio(c["gate.denied"], c["gate.rows"]),
                              "ratio"),
        "gate.s": (layer_s["gate"], "s"),
        "sitemap.entries": (c["sitemap.entries"], "count"),
        "sitemap.s": (layer_s["sitemap"], "s"),
        "politeness.pending_rows": (c["politeness.pending_rows"], "count"),
        "politeness.selected_rows": (c["politeness.selected_rows"], "count"),
        "politeness.pending_scans": (c["politeness.pending_scans"], "count"),
        "politeness.s": (layer_s["politeness"], "s"),
        "sequence.rows": (c["sequence.rows"], "count"),
        "sequence.s": (layer_s["sequence"], "s"),
        "fetch.rows": (c["fetch.rows"], "count"),
        "fetch.ok_rows": (c["fetch.ok_rows"], "count"),
        "fetch.bytes": (c["fetch.bytes"], "B"),
        "fetch.s": (layer_s["fetch"], "s"),
        "fetch.rows_per_s": (ratio(c["fetch.rows"], layer_s["fetch"]), "1/s"),
    }
    for layer in LAYERS:
        st = log.labels.get(f"replay.{layer}") or LabelStats()
        values = {"executor_s": st.executor_ms / 1000,
                  "shuffle_read_bytes": st.shuffle_read_bytes,
                  "shuffle_write_bytes": st.shuffle_write_bytes,
                  "spill_bytes": st.spill_bytes, "tasks": st.tasks,
                  "task_skew": st.task_skew}
        for k, unit in TASK_UNITS.items():
            out[f"{layer}.{k}"] = (values[k], unit)
    replay_sum = sum(layer_s.values())
    round_wall = statistics.median(r["s"] for r in traced)
    out["replay.sum_s"] = (replay_sum, "s")
    out["replay.round_wall_s"] = (round_wall, "s")
    out["replay.gap_s"] = (round_wall - replay_sum, "s")
    return out
