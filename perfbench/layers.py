"""Tracing and per-layer metrics for ``--trace 1`` runs.

Spans and counts are recorded by the benchmark around its own calls into
each layer's public functions; the program itself is not instrumented.
The layer probes below run after the timed crawl, on its final state:

* ``plans.crawl``: the ``stages`` every ``run_wave()`` returns, summed, and
  the wave counters;
* ``operators.portals`` / ``functions``: ``parse()`` over a seeded sample of
  the pages the timed crawl fetched, in this process;
* ``operators.politeness``: ``tag_batch`` (forced by a count) and
  ``robots_filter`` over the final frontier;
* ``operators.seen`` / ``operators.cuckoo``: sketches built from the final
  seen set and probed with the sampled pages' links;
* the Spark block manager: storage memory sampled after every wave.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import statistics
import time
from collections import Counter

PARSE_SAMPLE = 400  # pages per parse probe
PROBE_REPEATS = 2  # timed repeats per probe; the fastest is kept
CUCKOO_BUCKETS = 1 << 19  # CrawlEngine's own cuckoo sketch size


class Span:
    __slots__ = ("id", "name", "parent", "start", "end")

    def __init__(self, sid, name, parent, start):
        self.id, self.name, self.parent = sid, name, parent
        self.start, self.end = start, None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans (name, start, end, parent) and counts.  Disabled,
    it still times each span (the caller reads ``.seconds``) but keeps
    nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self._stack: list[int] = []
        self._origin = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent, time.perf_counter())
        if self.enabled:
            self.spans.append(sp)
            self._stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if self.enabled:
                self._stack.pop()

    def count(self, name: str, n: int = 1) -> None:
        if self.enabled:
            self.counts[name] += n

    def to_json(self) -> dict:
        return {
            "spans": [{"id": s.id, "name": s.name, "parent": s.parent,
                       "start": s.start - self._origin,
                       "end": s.end - self._origin} for s in self.spans],
            "counts": dict(self.counts),
        }


def write_trace(path: str, tracer: Tracer, extra: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({**extra, **tracer.to_json()}, f, indent=1)


def _fastest(fn) -> tuple:
    """(seconds, result) of the fastest of ``PROBE_REPEATS`` calls."""
    best = None
    for _ in range(PROBE_REPEATS):
        t0 = time.perf_counter()
        result = fn()
        dt = time.perf_counter() - t0
        if best is None or dt < best[0]:
            best = (dt, result)
    return best


def _sample_parses(ref: dict, waves: int, seed: int) -> list:
    """Seeded sample of (seed_id, url, kind, meta) the crawl parsed."""
    pool = [(sid, url, kind, meta)
            for sid in sorted(ref["seeds"])
            for url, kind, meta, depth, _n in ref["seeds"][sid]["parses"]
            if depth < waves]
    return random.Random(seed).sample(pool, min(PARSE_SAMPLE, len(pool)))


def parse_probe(fix: str, ref: dict, wl: dict, seed: int, tracer) -> tuple:
    """Portal ``parse()`` over the sample, in this process.  Returns
    (metrics, links of the sampled pages)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from scrapy_crawler_german_real_estate_sites_spark.operators.portals import (
        get_portal,
    )
    from scrapy_crawler_german_real_estate_sites_spark.operators.portals.base import (
        SeedCtx,
    )

    sample = _sample_parses(ref, wl["waves"], seed)
    urls = sorted({u for _s, u, _k, _m in sample})
    pages = pq.read_table(os.path.join(fix, "pages.parquet"),
                          columns=["url", "text"])
    pages = pages.filter(pc.is_in(pages.column("url"),
                                  value_set=pa.array(urls)))
    body = dict(zip(pages.column("url").to_pylist(),
                    pages.column("text").to_pylist()))
    seeds = {r["seed_id"]: r for r in
             pq.read_table(os.path.join(fix, "seeds.parquet")).to_pylist()}
    viertel = {int(r["id"]): tuple(r["stadtviertel"]) for r in
               pq.read_table(os.path.join(fix, "stadte.parquet")).to_pylist()}

    def ctx(sid):
        s = seeds[sid]
        return SeedCtx(seed_id=sid, portal=s["portal"],
                       stadtid=int(s["stadtid"]), stadtname=s["stadtname"],
                       haus=int(s["haus"]), kaufen=int(s["kaufen"]),
                       url=s["url"], chatid=s.get("chatid"), hour=wl["hour"],
                       stadtviertel=viertel.get(int(s["stadtid"]), ()))

    calls = [(get_portal(seeds[sid]["portal"]), kind, body[url], url, meta,
              ctx(sid)) for sid, url, kind, meta in sample]
    links, items = [], 0
    walls = []
    for rep in range(PROBE_REPEATS):
        with tracer.span("parse.sample") as sp:
            for portal, kind, b, url, meta, c in calls:
                try:
                    pr = portal.parse(kind, b, url, dict(meta), c)
                except Exception:  # noqa: BLE001 — the engine counts it as no output
                    continue
                if rep == 0:
                    items += len(pr.items)
                    links.extend(lk.url for lk in pr.links)
        walls.append(sp.seconds)
    tracer.count("parse.pages", len(calls))
    n = max(1, len(calls))
    return ({"parse.us_per_page": min(walls) / n * 1e6,
             "parse.items_per_page": items / n,
             "parse.links_per_page": len(links) / n}, links)


def politeness_probe(engine, wl, rounds, tracer) -> dict:
    from checks import token_capacity
    from scrapy_crawler_german_real_estate_sites_spark.operators import politeness

    pending = engine.pending
    state = engine._state_df()

    def tag():
        with tracer.span("politeness.tag_batch"):
            politeness.tag_batch(
                pending, state, engine.robots, engine.iteration,
                iter_seconds=wl["iter_seconds"],
                token_scale=engine.token_scale).count()

    def robots():
        with tracer.span("politeness.robots_filter"):
            allowed, blocked = politeness.robots_filter(
                pending.select("url", "netloc"), engine.robots)
            allowed.count()
            blocked.count()

    waves = [m for r in rounds for m in r["waves"]]
    capacity = token_capacity(engine, wl["iter_seconds"])
    return {
        "politeness.tag_batch_s": _fastest(tag)[0],
        "politeness.robots_filter_s": _fastest(robots)[0],
        "politeness.token_fill": (sum(m.get("selected", 0) for m in waves)
                                  / (len(waves) * capacity)),
    }


def sketch_probe(engine, links, prior, rounds, seed, tracer) -> dict:
    import pandas as pd

    from scrapy_crawler_german_real_estate_sites_spark.operators import (
        cuckoo as cuckoo_ops,
    )
    from scrapy_crawler_german_real_estate_sites_spark.operators import (
        seen as seen_ops,
    )

    seen_df = engine.seen.select("url")
    seen_urls = {r.url for r in seen_df.distinct().collect()}
    cand = pd.Series([u.split("?")[0] for u in links], dtype=object)
    exact = cand.isin(seen_urls)
    n = max(1, len(cand))
    tracer.count("seen.candidates", len(cand))

    def build_bloom():
        with tracer.span("seen.build_bloom"):
            return seen_ops.build_bloom(seen_df)

    out = {}
    out["seen.bloom_build_s"], bloom = _fastest(build_bloom)
    with tracer.span("seen.bloom_probe") as sp:
        maybe = bloom.might_contain_series(cand)
    out["seen.bloom_probe_us_per_url"] = sp.seconds / n * 1e6
    out["seen.maybe_seen_ratio"] = float(maybe.mean()) if len(cand) else 0.0
    absent = int((~exact).sum())
    out["seen.bloom_fp_rate"] = (int((maybe & ~exact).sum()) / absent
                                 if absent else 0.0)

    if prior is not None:  # the second run's own sketch build and purge
        out["cuckoo.build_s"] = prior.build_s
        sketch = engine.cuckoo
        out["cuckoo.purge_s"] = statistics.median(r["purge_s"] for r in rounds)
        out["cuckoo.deleted"] = rounds[-1]["deleted"]
    else:  # the same operations on a sketch of this crawl's seen set
        def build_cuckoo():
            with tracer.span("cuckoo.build"):
                return cuckoo_ops.build_cuckoo(seen_df,
                                               n_buckets=CUCKOO_BUCKETS)

        out["cuckoo.build_s"], sketch = _fastest(build_cuckoo)
        dead = random.Random(seed).sample(sorted(seen_urls),
                                          len(seen_urls) // 10)
        with tracer.span("cuckoo.delete_many") as sp:
            out["cuckoo.deleted"] = sketch.delete_many(dead)
        out["cuckoo.purge_s"] = sp.seconds
    out["cuckoo.load"] = sketch.load
    with tracer.span("cuckoo.probe") as sp:
        sketch.contains_series(cand)
    out["cuckoo.probe_us_per_url"] = sp.seconds / n * 1e6
    return out


def crawl_stats(rounds) -> dict:
    waves = [m for r in rounds for m in r["waves"]]
    stages = Counter()
    for m in waves:
        stages.update(m.get("stages", {}))
    per_round = len(rounds)
    out = {
        "crawl.init_s": statistics.median(r["init_s"] for r in rounds),
        # links_robots and dedup only build plans; their work runs inside
        # the frontier job, so the three are reported together
        "crawl.frontier_s": (stages["frontier"] + stages["links_robots"]
                             + stages["dedup"]) / per_round,
        "crawl.seen_fold_s": stages["seen"] / per_round,
    }
    for st in ("select", "parse", "state", "outputs"):
        out[f"crawl.{st}_s"] = stages[st] / per_round
    out["crawl.waves"] = len(waves) / per_round
    for key in ("selected", "fetched", "items", "inserted", "new_links"):
        out[f"crawl.{key}"] = sum(m.get(key, 0) for m in waves) / per_round
    growth = [(r["block_mb"][-1] - r["block_mb_init"]) / len(r["waves"])
              for r in rounds]
    out["blocks.mb_per_wave"] = statistics.median(growth)
    return out


def per_layer(wl, engine, rounds, ref, prior, fix, seed, session_s,
              warmup_s, tracer) -> dict:
    out = crawl_stats(rounds)
    with tracer.span("probe.parse"):
        parse, links = parse_probe(fix, ref, wl, seed, tracer)
    out.update(parse)
    with tracer.span("probe.politeness"):
        out.update(politeness_probe(engine, wl, rounds, tracer))
    with tracer.span("probe.sketches"):
        out.update(sketch_probe(engine, links, prior, rounds, seed, tracer))
    out["tables.session_s"] = session_s
    out["warmup_s"] = warmup_s
    return {name: {"value": out[name], "unit": unit}
            for name, unit in UNITS.items()}


# every per-layer metric with its unit (the order BENCHMARK.json lists them)
UNITS = {
    "crawl.init_s": "s", "crawl.select_s": "s", "crawl.parse_s": "s",
    "crawl.state_s": "s", "crawl.seen_fold_s": "s", "crawl.frontier_s": "s",
    "crawl.outputs_s": "s",
    "crawl.waves": "count", "crawl.selected": "count",
    "crawl.fetched": "count", "crawl.items": "count",
    "crawl.inserted": "count", "crawl.new_links": "count",
    "parse.us_per_page": "us", "parse.items_per_page": "count",
    "parse.links_per_page": "count",
    "politeness.tag_batch_s": "s", "politeness.robots_filter_s": "s",
    "politeness.token_fill": "ratio",
    "seen.bloom_build_s": "s", "seen.bloom_probe_us_per_url": "us",
    "seen.maybe_seen_ratio": "ratio", "seen.bloom_fp_rate": "ratio",
    "cuckoo.build_s": "s", "cuckoo.purge_s": "s", "cuckoo.deleted": "count",
    "cuckoo.load": "ratio", "cuckoo.probe_us_per_url": "us",
    "blocks.mb_per_wave": "MB",
    "tables.session_s": "s", "warmup_s": "s",
}
