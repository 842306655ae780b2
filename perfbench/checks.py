"""Expected per-round outputs and the comparison that counts failed rounds.

Everything here is plain Python: expectations come from the oracle crawler
(``kit_py.crawler.crawl``) and ``kit_py.urls`` canonical forms, and the
engine's outputs arrive as lists and sets collected from its tables.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from kit_spark.kit_py.crawler import crawl
from kit_spark.kit_py.urls import parse_url

from workloads import Workload

ScheduleRow = tuple[int, int, str]  # (round, seq, url_canon)


@dataclass
class Expected:
    schedule: dict[int, list[ScheduleRow]] = field(default_factory=dict)
    admitted: dict[int, set[str]] = field(default_factory=dict)


@dataclass
class RoundOutput:
    schedule: list[ScheduleRow]
    admitted: set[str]
    scheduled: int
    fetched_ok: int
    fetch_failed: int
    candidates_in: int = 0


def _by_round(schedule, rounds: int) -> dict[int, list[ScheduleRow]]:
    out: dict[int, list[ScheduleRow]] = {r: [] for r in range(rounds)}
    for s in schedule:
        if s.round < rounds:
            out[s.round].append((s.round, s.seq, s.url_canon))
    return out


def expected_oracle(w: Workload, rounds: int) -> Expected:
    """Schedule and URL-seen delta of rounds ``0..rounds-1`` from the oracle
    crawler.  ``crawl(max_rounds=m)`` has admitted exactly what the engine
    has after its rounds ``0..m-1``, so round r's delta is the difference
    of consecutive runs."""
    exp = Expected()
    prev: set[str] = set()
    for m in range(1, rounds + 1):
        res = crawl(w.seeds, w.web, w.oracle_config(m))
        exp.admitted[m - 1] = res.url_seen - prev
        prev = res.url_seen
    exp.schedule = _by_round(res.schedule, rounds)
    return exp


def canonical(raw: str) -> str | None:
    parsed = parse_url(raw)
    if parsed is None or parsed.scheme not in ("http", "https"):
        return None
    return parsed.canonical()


def expected_set_difference(w: Workload, rounds: int) -> Expected:
    """``seen_heavy``: each round admits the canonical forms of its link
    batch minus everything seen before it.

    The schedule comes from the oracle run on the crawl-host seeds alone:
    bulk seeds sit on hosts that disallow ``/``, so they never reach a
    schedule.  They are generated in canonical form, so together with the
    crawl seeds they are the seen set round 0 leaves, without re-parsing."""
    bulk = w.seeds[:w.sizes["bulk_urls"]]
    crawl_seeds = w.seeds[len(bulk):]
    res = crawl(crawl_seeds, w.web, w.oracle_config(rounds))
    exp = Expected(schedule=_by_round(res.schedule, rounds))
    seen = set(bulk) | {canonical(u) for u in crawl_seeds}
    exp.admitted[0] = set(seen)
    for r in range(1, rounds):
        batch = {canonical(link)
                 for _, _, url in exp.schedule[r - 1]
                 for link in w.web.links.get(url, ())}
        batch.discard(None)
        exp.admitted[r] = batch - seen
        seen |= exp.admitted[r]
    return exp


def round_failure(r: int, got: RoundOutput, exp: Expected) -> str | None:
    """Why round ``r`` differs from the expectation, or None."""
    if got.schedule != exp.schedule.get(r):
        return "schedule differs from the oracle"
    if got.admitted != exp.admitted.get(r):
        return "url_seen delta differs from the oracle"
    if got.fetched_ok + got.fetch_failed != got.scheduled:
        return "metrics: fetched_ok + fetch_failed != scheduled"
    if got.scheduled != len(got.schedule):
        return "metrics: scheduled != schedule rows"
    return None
