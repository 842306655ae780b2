"""Seeded workload generators for the crawl-engine benchmark.

Each generator is a pure function of its seed: it returns the seed list,
the synthetic web and the image specs the crawl reads.  Nothing here starts
Spark; ``run.py`` turns a ``Workload`` into DataFrames, so the program under
test only ever sees the generated inputs.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

from kit_spark.kit_py.crawler import CrawlConfig, SyntheticWeb
from kit_spark.sources.synth import synth_web

#: the round length every workload crawls with (seconds of politeness
#: budget per host per round)
ROUND_SECONDS = 240.0
DEFAULT_DELAY = 10.0


@dataclass
class Workload:
    name: str
    seed: int
    seeds: list[str]
    web: SyntheticWeb
    image_meta: list[dict] = field(default_factory=list)
    sizes: dict = field(default_factory=dict)

    def oracle_config(self, max_rounds: int) -> CrawlConfig:
        return CrawlConfig(user_agent="kitbot", round_seconds=ROUND_SECONDS,
                           default_delay=DEFAULT_DELAY,
                           max_rounds=max_rounds, optimal=True)


# -- crawl_zipf ---------------------------------------------------------------

ZIPF_SITES = 96     # independent synth_web clusters in one crawl
ZIPF_HOSTS = 4      # hosts per cluster (Zipf page counts, a mega-host each)
ZIPF_PAGES = 20     # pages per cluster
SEEDED_HOSTS = ("https://h0.", "https://h1.")  # the rest are found by links


def _relabel(text: str, site: int) -> str:
    """Move a ``synth_web`` cluster under its own domain.  Both spellings
    the generator uses are rewritten, so messy raw forms still
    canonicalize onto the relabelled host."""
    return (text.replace("example.com", f"s{site}.example.com")
            .replace("EXAMPLE.com", f"s{site}.EXAMPLE.com"))


def crawl_zipf(seed: int) -> Workload:
    """A multi-round crawl of ``ZIPF_SITES`` ``synth_web`` Zipf clusters:
    robots access-state and crawl-delay mix, sitemaps, messy links, and
    pages that are images the fetch step decodes and verifies.

    Only each cluster's two head hosts are seeded; the others are found
    through links, so later rounds still compile robots and expand
    sitemaps for new hosts.  One cluster's work per round swings with its
    random robots body; a union of many keeps each round's size steady
    from seed to seed."""
    seeds: list[str] = []
    web = SyntheticWeb()
    images: dict[str, dict] = {}
    for site in range(ZIPF_SITES):
        fx = synth_web(seed=seed * 1000 + site, n_hosts=ZIPF_HOSTS,
                       total_pages=ZIPF_PAGES)
        seeds += [_relabel(u, site) for u in fx.seeds
                  if u.startswith(SEEDED_HOSTS)]
        for host, (access, body) in fx.web.robots.items():
            if body is not None:
                body = _relabel(body.decode(), site).encode()
            web.robots[_relabel(host, site)] = (access, body)
        for url, body in fx.web.sitemap_bodies.items():
            web.sitemap_bodies[_relabel(url, site)] = _relabel(body, site)
        for url, out in fx.web.links.items():
            web.links[_relabel(url, site)] = [_relabel(u, site) for u in out]
        # image specs are pure functions of image_id, so clusters that
        # reuse an id describe the same image
        images.update((m["image_id"], m) for m in fx.image_meta)
    return Workload("crawl_zipf", seed, seeds, web,
                    image_meta=[images[k] for k in sorted(images)],
                    sizes={"sites": ZIPF_SITES,
                           "hosts": ZIPF_SITES * ZIPF_HOSTS,
                           "pages": ZIPF_SITES * ZIPF_PAGES,
                           "seeds": len(seeds)})


# -- seen_heavy ---------------------------------------------------------------

SEEN_BULK_HOSTS = 64
SEEN_BULK_URLS = 60_000
SEEN_CRAWL_HOSTS = 8
SEEN_BUDGET = 8            # pages per crawl host per round
SEEN_LINKS_PER_PAGE = 15   # besides the chain link
SEEN_DUP_SHARE = 0.5       # share of extra links that are already seen
SEEN_CHAIN = 4             # rounds before a crawl host runs dry

_CRAWL_DELAY = ROUND_SECONDS / SEEN_BUDGET


def _bulk_url(host: int, rng: random.Random) -> str:
    return f"https://b{host}.example.org/d/{rng.getrandbits(48):012x}.html"


def _messy(url: str, rng: random.Random) -> str:
    """A raw form of ``url`` that canonicalizes back to it."""
    kind = rng.randrange(4)
    if kind == 0:
        return url.replace("https://b", "https://B").replace(".org", ".ORG")
    if kind == 1:
        return url.replace(".org/", ".org:443/")
    if kind == 2:
        return url.replace("/d/", "/d/../d/")
    return url


def seen_heavy(seed: int) -> Workload:
    """Link batches probed against a URL-seen set ~60x their size.

    Round 0's seeds are ``SEEN_BULK_URLS`` pages on hosts whose robots
    disallow ``/``: they enter ``url_seen`` and leave the frontier.  A few
    crawl hosts then schedule exactly ``SEEN_BUDGET`` pages per round; each
    page links to the next page of its chain plus ``SEEN_LINKS_PER_PAGE``
    bulk-host URLs, ``SEEN_DUP_SHARE`` of them already seen (in raw forms
    that canonicalize to a seen URL) and the rest new.  Every round thus
    admits a fixed-size batch; only the URLs themselves depend on the seed.
    """
    rng = random.Random(seed)
    web = SyntheticWeb()
    bulk = [_bulk_url(i % SEEN_BULK_HOSTS, rng) for i in range(SEEN_BULK_URLS)]
    for h in range(SEEN_BULK_HOSTS):
        web.robots[f"https://b{h}.example.org:443"] = (
            "successful", b"User-agent: *\nDisallow: /\n")
    seeds = list(bulk)
    n_dup = round(SEEN_LINKS_PER_PAGE * SEEN_DUP_SHARE)
    for c in range(SEEN_CRAWL_HOSTS):
        base = f"https://c{c}.example.net"
        web.robots[f"{base}:443"] = (
            "successful",
            f"User-agent: *\nDisallow: /private/\n"
            f"Crawl-delay: {_CRAWL_DELAY:g}\n".encode())
        pages = [f"{base}/p/{i:05d}.html"
                 for i in range((SEEN_CHAIN + 1) * SEEN_BUDGET)]
        seeds += pages[:SEEN_BUDGET]
        for i, page in enumerate(pages):
            out = pages[i + SEEN_BUDGET:i + SEEN_BUDGET + 1]
            out += [_messy(rng.choice(bulk), rng) for _ in range(n_dup)]
            out += [_bulk_url(rng.randrange(SEEN_BULK_HOSTS), rng)
                    for _ in range(SEEN_LINKS_PER_PAGE - n_dup)]
            web.links[page] = out
    batch = SEEN_CRAWL_HOSTS * SEEN_BUDGET * (1 + SEEN_LINKS_PER_PAGE)
    return Workload("seen_heavy", seed, seeds, web,
                    sizes={"bulk_urls": SEEN_BULK_URLS,
                           "bulk_hosts": SEEN_BULK_HOSTS,
                           "crawl_hosts": SEEN_CRAWL_HOSTS,
                           "candidates_per_round": batch,
                           "dup_share": SEEN_DUP_SHARE})


GENERATORS = {"crawl_zipf": crawl_zipf, "seen_heavy": seen_heavy}
