"""Crawl-engine benchmark: one seeded workload through ``CrawlDriver``.

    python3 perfbench/run.py --workload crawl_zipf --seed 1 --seconds 10 \
        --trace 0

Runs from the root of a source checkout.  The workload is generated from
``--seed``, crawled by ``kit_spark.crawl.CrawlDriver`` over a
``SnapshotStore`` on ``session.get_spark`` (``local[4]``), and every timed
round is checked against the oracle.  The last line of standard output is
one JSON object: ``correct``, ``attempted`` and ``failed`` (an operation
is one timed round; it fails when it raises or its output differs from
the oracle) and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  The line before it carries the
figures that are not gated (window wall, tail percentile, failures).
Exit code 1 when any round failed, 2 when the program cannot be imported.
Runs in one checkout must not overlap: they share ``.bench_work/``.

``--trace 1`` runs with Spark's event log on.  After the untraced window
it runs the measured round again through a ``TracingStore`` and once
more untraced, replays it layer by layer and folds the event log (see
``traced.py``).  Spans are written to ``.bench_out/``.  Everything else
the run writes goes under ``.bench_work/``, which it removes on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
EVENT_LOG = os.path.join(WORK, "eventlog")
CORES = 4
MEASURED_ROUND = 1   # round 0 is set-up; every timed step runs round 1
SETUP_REPEATS = 3
# A round takes 8-14 s on a 4-core VM and the first timed one still carries
# warm-up, so one step alone is too noisy to gate on; every metric is a
# median over at least this many steps.
MIN_STEPS = 2


def _isolate() -> None:
    """Keep every file the run creates inside the checkout and let Spark's
    Python workers import the package from it."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # every JVM spark-submit starts (launcher and driver): scratch files in
    # the checkout, and no hsperfdata file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)


def store_size(root: str) -> tuple[int, int]:
    """(bytes, files) under ``root``."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            total += os.path.getsize(os.path.join(dirpath, name))
            files += 1
    return total, files


class Bench:
    """One workload: set-up, timed steps, checks and end-to-end metrics.

    Set-up crawls round 0, which carries the cold first-round costs (JIT,
    Python UDF workers) and, for seen_heavy, fills url_seen.  Each timed step is one
    ``CrawlDriver.run`` call that advances round ``MEASURED_ROUND``
    through the driver_state resume path.  Before every step after the
    first, driver_state is pointed back at the pre-round snapshots — the
    state a crawl resumes from after a torn round — so every step does the
    same work and is checked against the same expectation.
    """

    def __init__(self, workload: str, seed: int) -> None:
        from workloads import GENERATORS

        self.name = workload
        self.seed = seed
        self.generate = GENERATORS[workload]
        self.spark = None
        self.tracer = None
        self.failures: dict[int, str] = {}   # step number -> reason
        self.steps = 0

    # -- session and inputs ----------------------------------------------

    def start_spark(self, event_log: str | None = None):
        from kit_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(WORK, "spark"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # below the package's 12g default to stay small on a shared
            # host; at 3g the heap ran ~75% full and G1 collected mixed
            # generations every round
            "spark.driver.memory": "6g",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": event_log,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        self.spark = get_spark("perfbench", cores=CORES, extra_conf=conf)
        return self.spark

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    @staticmethod
    def shutdown_jvm() -> None:
        """End the JVM the Spark gateway started and wait for it."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def prepare_inputs(self):
        """Generate the workload, derive the oracle's expectations and build
        the input DataFrames — the repeatable part of set-up."""
        import checks

        w = self.generate(self.seed)
        expect = (checks.expected_oracle if self.name == "crawl_zipf"
                  else checks.expected_set_difference)
        return w, expect(w, MEASURED_ROUND + 1), self.frames(w)

    def frames(self, w) -> dict:
        from kit_spark.functions.images import IMAGES_SCHEMA
        from kit_spark.sources.synth import WebFixture

        spark = self.spark
        cols = [f.name for f in IMAGES_SCHEMA.fields]
        rows = WebFixture(image_meta=w.image_meta).image_rows()
        return {
            "images": spark.createDataFrame(
                [tuple(r[c] for c in cols) for r in rows], IMAGES_SCHEMA),
            "robots_docs": spark.createDataFrame(
                [(h, a, b) for h, (a, b) in w.web.robots.items()],
                "host_key string, access_state string, body binary"),
            "sitemap_docs": spark.createDataFrame(
                list(w.web.sitemap_bodies.items()) or [("", "")],
                "sitemap_url string, body string"),
            "links": spark.createDataFrame(
                [(s, d) for s, ds in w.web.links.items() for d in ds],
                "src_url string, dst_url string"),
        }

    def driver(self, store):
        from kit_spark.crawl import CrawlDriver, SparkCrawlConfig
        from workloads import DEFAULT_DELAY, ROUND_SECONDS

        f = self.inputs
        return CrawlDriver(self.spark, store, f["images"], f["robots_docs"],
                           f["sitemap_docs"], f["links"],
                           SparkCrawlConfig(round_seconds=ROUND_SECONDS,
                                            default_delay=DEFAULT_DELAY,
                                            max_rounds=MEASURED_ROUND + 1))

    def open_store(self):
        from kit_spark.sources.tables import SnapshotStore

        self.store = SnapshotStore(self.spark, os.path.join(WORK, "store"))
        return self.store

    # -- set-up ----------------------------------------------------------

    def setup(self, event_log: str | None = None) -> float:
        """Session start + median of the repeated input preparation + the
        set-up rounds.  Returns setup_s."""
        t0 = time.perf_counter()
        self.start_spark(event_log)
        session_s = time.perf_counter() - t0
        reps = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            self.workload, self.expected, self.inputs = self.prepare_inputs()
            reps.append(time.perf_counter() - t)
        t = time.perf_counter()
        driver = self.driver(self.open_store())
        driver.config.max_rounds = MEASURED_ROUND
        driver.run(self.workload.seeds)
        self.pre_state = self.store.current_snapshot("driver_state")
        self.rewind = False
        state_s = time.perf_counter() - t
        self.setup_parts = {"session_s": session_s, "inputs_s": reps,
                            "state_s": state_s}
        return session_s + statistics.median(reps) + state_s

    # -- timed steps -----------------------------------------------------

    def step(self, driver) -> dict | None:
        """One timed round, then (untimed) its check."""
        from checks import round_failure
        from tracing import labelled

        if self.rewind:
            self.store.write("driver_state",
                             self.store.read("driver_state", self.pre_state))
        self.rewind = True
        self.steps += 1
        before = store_size(self.store.root)
        t0 = time.time()
        try:
            if self.tracer is None:
                driver.run()
            else:
                with self.tracer.span("crawl.round") as span, \
                        labelled(self.spark.sparkContext, "crawl.round"):
                    self.tracer.root = span.id  # commit threads hang here
                    driver.run()
        except Exception as exc:  # a raising round is a failed operation
            self.failures[self.steps] = f"raised {type(exc).__name__}: {exc}"
            return None
        t1 = time.time()
        after = store_size(self.store.root)
        out = self.round_output()
        why = round_failure(MEASURED_ROUND, out, self.expected)
        if why:
            self.failures[self.steps] = why
        return {"start": t0, "end": t1, "s": t1 - t0,
                "bytes": after[0] - before[0], "files": after[1] - before[1],
                "out": out}

    def window(self, seconds: float | None = None, steps: int | None = None,
               wrap=None) -> list[dict]:
        """Timed steps until ``seconds`` of round time have passed and at
        least ``MIN_STEPS`` steps ran, or exactly ``steps`` steps.  A step
        that raises ends the window."""
        driver = self.driver(wrap(self.store) if wrap else self.store)
        recs: list[dict] = []
        while True:
            rec = self.step(driver)
            if rec is None:
                return recs
            recs.append(rec)
            if steps is not None:
                if len(recs) >= steps:
                    return recs
            elif (len(recs) >= MIN_STEPS
                  and sum(r["s"] for r in recs) >= seconds):
                return recs

    def round_output(self):
        """The measured round's outputs, read straight from the parquet
        deltas it committed (no Spark job)."""
        import pyarrow.parquet as pq

        from checks import RoundOutput

        def rows(table, snapshot):
            return pq.read_table(
                os.path.join(self.store.root, table, snapshot)).to_pylist()

        state = {r["table"]: r["snapshot"] for r in rows(
            "driver_state", self.store.current_snapshot("driver_state"))}
        schedule = sorted(((r["round"], r["seq"], r["url_canon"])
                           for r in rows("schedule", state["schedule"])),
                          key=lambda t: t[1])
        (m,) = rows("metrics", state["metrics"])
        return RoundOutput(
            schedule=schedule,
            admitted={r["url_canon"]
                      for r in rows("url_seen", state["url_seen"])},
            scheduled=m["scheduled"], fetched_ok=m["fetched_ok"],
            fetch_failed=m["fetch_failed"],
            candidates_in=m["candidates_in"])

    # -- end-to-end ------------------------------------------------------

    def end_to_end(self, recs: list[dict], setup_s: float):
        """Every step does the same work, so each metric is the median of
        its per-step values."""
        from tracing import percentile, supported_percentile

        med = statistics.median
        times = [r["s"] for r in recs]
        metrics = {
            "setup_s": (setup_s, "s"),
            "round_p50_s": (med(times), "s"),
            "scheduled_per_s": (med(r["out"].scheduled / r["s"]
                                    for r in recs), "1/s"),
            "candidates_per_s": (med(r["out"].candidates_in / r["s"]
                                     for r in recs), "1/s"),
            "store_bytes_per_url": (med(r["bytes"] / len(r["out"].admitted)
                                        for r in recs), "B"),
        }
        tail = supported_percentile(len(times))
        info = {"wall_s": {"value": sum(times), "unit": "s"},
                "round_s": times, "steps": len(times),
                "tail_percentile": tail,
                "round_tail_s": ({"value": percentile(times, tail),
                                  "unit": "s"}
                                 if tail and tail > 50 else None),
                "scheduled": recs[0]["out"].scheduled,
                "candidates": recs[0]["out"].candidates_in,
                "admitted": len(recs[0]["out"].admitted),
                "setup": self.setup_parts}
        return metrics, info


def as_result(correct: bool, attempted: int, failed: int,
              metrics: dict) -> dict:
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True,
                        choices=("crawl_zipf", "seen_heavy"))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import kit_spark  # noqa: F401  (the program under test)
    except ImportError as exc:
        print(f"perfbench: cannot import kit_spark from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    _isolate()

    bench = Bench(args.workload, args.seed)
    marks = [("start", time.perf_counter())]
    try:
        setup_s = bench.setup(EVENT_LOG if args.trace else None)
        marks.append(("setup", time.perf_counter()))
        recs = bench.window(seconds=args.seconds)
        marks.append(("window", time.perf_counter()))
        if not recs:  # the first step raised: nothing was measured
            print(f"perfbench: {bench.failures}", file=sys.stderr)
            return 1
        if args.trace:
            from traced import traced_run

            metrics, info = traced_run(bench, recs)
            marks.append(("trace", time.perf_counter()))
        else:
            metrics, info = bench.end_to_end(recs, setup_s)
    finally:
        bench.stop_spark()
        bench.shutdown_jvm()
        shutil.rmtree(WORK, ignore_errors=True)
    marks.append(("teardown", time.perf_counter()))
    attempted, failed = bench.steps, len(bench.failures)
    info.update(
        failed_frac={"value": failed / attempted, "unit": "ratio"},
        failures=bench.failures,
        workload={"name": bench.name, "seed": bench.seed,
                  "sizes": bench.workload.sizes},
        phase_s={name: t - marks[i][1]
                 for i, (name, t) in enumerate(marks[1:])})
    print(json.dumps(info, default=str))
    print(json.dumps(as_result(failed == 0, attempted, failed, metrics)))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
