"""Benchmark inputs and golden references.

Inputs are the program's own deterministic synthetic web
(``sources/synth.generate``).  A workload crawls the seeds of the first
``cities`` cities of a tier; ``--seed`` permutes the seed table's rows, which
the engine's output must not depend on.

The golden reference for a city subset is the sequential simulator
(``plans/simulator.simulate``) over that subset, recorded with the BFS depth
of every fetch.  With unbounded politeness, wave ``k`` of the engine fetches
exactly the pages at depth ``k``, so the reference gives the exact expected
fetches, items and seen set after any number of waves.  The depth is
recovered by observing the simulator through its three collaborators: the
``pages`` mapping (one ``get`` per queue pop), ``get_portal`` (one parse per
fetched page) and ``check_dup`` (one call per dup-checked link).
"""

from __future__ import annotations

import gzip
import json
import os
import random
import shutil
from collections import deque

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")
REF_VERSION = 1


def fixture_dir(tier: str) -> str:
    """Generate (or reuse) a synthetic tier under the benchmark's cache."""
    from scrapy_crawler_german_real_estate_sites_spark.sources import synth

    return synth.generate(tier, os.path.join(CACHE_DIR, "fixtures", tier))


def subset_dir(tier: str, cities: int) -> str:
    """A fixture dir holding the tier's tables with the seeds of the first
    ``cities`` cities only (pages, robots and dimension tables unchanged)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = fixture_dir(tier)
    dst = os.path.join(CACHE_DIR, "subsets", f"{tier}-c{cities}")
    stamp = os.path.join(dst, "_subset.json")
    with open(os.path.join(src, "_manifest.json")) as f:
        want = {"fixture": json.load(f), "cities": cities}
    if os.path.exists(stamp):
        with open(stamp) as f:
            if json.load(f) == want:
                return dst
    os.makedirs(dst, exist_ok=True)
    _copy_tables(src, dst)
    stadte = pq.read_table(os.path.join(src, "stadte.parquet"))
    ids = sorted(stadte.column("id").to_pylist())[:cities]
    seeds = pq.read_table(os.path.join(src, "seeds.parquet"))
    keep = pa.array(ids, type=seeds.schema.field("stadtid").type)
    seeds = seeds.filter(pc.is_in(seeds.column("stadtid"), value_set=keep))
    pq.write_table(seeds, os.path.join(dst, "seeds.parquet"))
    with open(stamp, "w") as f:
        json.dump(want, f)
    return dst


def _copy_tables(src: str, dst: str) -> None:
    for name in ("pages", "robots", "stadte"):
        shutil.copyfile(os.path.join(src, f"{name}.parquet"),
                        os.path.join(dst, f"{name}.parquet"))


def permuted_dir(base: str, seed: int, out: str) -> str:
    """Copy of fixture dir ``base`` whose seeds table rows are shuffled by
    ``seed`` (every other table copied unchanged)."""
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    _copy_tables(base, out)
    seeds = pq.read_table(os.path.join(base, "seeds.parquet"))
    order = list(range(seeds.num_rows))
    random.Random(seed).shuffle(order)
    pq.write_table(seeds.take(order), os.path.join(out, "seeds.parquet"))
    return out


# --------------------------------------------------------------------------
# depth-recording simulator run


class _Recorder:
    """Mirrors the simulator's per-seed FIFO queue with BFS depths."""

    def __init__(self):
        self.seeds = {}  # seed_id -> {"fetches", "parses", "checked"}
        self.cur = None
        self.queue = None
        self.frame = None  # (depth, links, dup results) of the last parse
        self.depth = None

    def start_seed(self, seed_id):
        self._flush()
        self.cur = self.seeds.setdefault(
            seed_id, {"fetches": [], "parses": [], "checked": []})
        self.queue = deque([0])

    def pop(self) -> int:
        self._flush()
        self.depth = self.queue.popleft()
        return self.depth

    def fetched(self, url):
        self.cur["fetches"].append((url, self.depth))

    def parsed(self, kind, url, meta, pr):
        self.cur["parses"].append(
            (url, kind, meta, self.depth, 0 if pr is None else len(pr.items)))
        self.frame = (self.depth, [] if pr is None or pr.stop_seed
                      else list(pr.links), [])

    def dup_checked(self, url, dup):
        self.frame[2].append(dup)
        self.cur["checked"].append(url)

    def _flush(self):
        if self.frame is None:
            return
        depth, links, dups = self.frame
        dups = iter(dups)
        for link in links:
            if link.dup_check and next(dups):
                continue
            self.queue.append(depth + 1)
        self.frame = None


class _Pages(dict):
    """The simulator's web: one ``get`` per queue pop.  Pages at depth
    ``max_depth`` or deeper read as missing, which stops the crawl there
    without changing anything it did above that depth."""

    def __init__(self, data, rec, max_depth):
        super().__init__(data)
        self.rec = rec
        self.max_depth = max_depth

    def get(self, url, default=None):
        depth = self.rec.pop()
        if self.max_depth is not None and depth >= self.max_depth:
            return default
        body = super().get(url, default)
        if body is not None:
            self.rec.fetched(url)
        return body


def simulate_with_depth(fix_dir: str, hour: int = 7, prior=frozenset(),
                        max_depth: int = None) -> dict:
    """Run the golden simulator over ``fix_dir`` and return, per seed, the
    fetches ``[url, depth]``, items ``[page_url, item_json, seen_url,
    depth]`` and parses ``[url, kind, meta, depth, n_items]`` in simulator
    order.

    ``prior``: URLs a previous run inserted; every dup check also tests
    them (the simulator has no such input, so this is how a second run of
    the day is simulated).  ``max_depth``: simulate only the pages above
    that BFS depth."""
    import pyarrow.parquet as pq

    from scrapy_crawler_german_real_estate_sites_spark.plans import simulator
    from scrapy_crawler_german_real_estate_sites_spark.plans.simulator import (
        canonical_item_text,
    )

    rec = _Recorder()
    real_get_portal, real_check_dup = simulator.get_portal, simulator.check_dup

    class _Portal:
        def __init__(self, mod):
            self.mod = mod

        def parse(self, kind, body, url, meta, ctx):
            try:
                pr = self.mod.parse(kind, body, url, meta, ctx)
            except Exception:
                rec.parsed(kind, url, meta, None)
                raise
            rec.parsed(kind, url, meta, pr)
            return pr

    seeds = pq.read_table(os.path.join(fix_dir, "seeds.parquet")).to_pylist()
    seed_iter = iter(seeds)

    def get_portal(name):
        rec.start_seed(next(seed_iter)["seed_id"])
        return _Portal(real_get_portal(name))

    def check_dup(seen, url):
        dup = real_check_dup(seen, url) or simulator.strip_query(url) in prior
        rec.dup_checked(url, dup)
        return dup

    pages = pq.read_table(os.path.join(fix_dir, "pages.parquet"),
                          columns=["url", "text"])
    pages_map = _Pages(zip(pages.column("url").to_pylist(),
                           pages.column("text").to_pylist()), rec, max_depth)
    stadte = pq.read_table(os.path.join(fix_dir, "stadte.parquet")).to_pylist()
    simulator.get_portal, simulator.check_dup = get_portal, check_dup
    try:
        res = simulator.simulate(pages_map, seeds, stadte, hour=hour)
    finally:
        simulator.get_portal, simulator.check_dup = real_get_portal, real_check_dup
    rec._flush()

    out = {}
    for sid, r in rec.seeds.items():
        out[sid] = {"fetches": r["fetches"], "items": [],
                    "parses": r["parses"]}
    # items and their pipeline effects are 1:1 and in parse order; each
    # parse contributes its items (the last one of a seed possibly cut
    # short by the item budget)
    pending = {sid: deque((u, d, n) for u, _k, _m, d, n in r["parses"] if n)
               for sid, r in rec.seeds.items()}
    for (sid, url, item, _kind), (_doc, seen_url, _alert, _fail) in zip(
            res.items, res.effects):
        q = pending[sid]
        page, depth, n = q[0]
        if page != url:
            raise RuntimeError(f"item of {url} out of parse order ({page})")
        q[0] = (page, depth, n - 1)
        if n == 1:
            q.popleft()
        out[sid]["items"].append(
            [url, canonical_item_text(item), seen_url, depth])
    # restricting the web to a seed subset, and the engine's any-other-seed
    # dup rule, agree with the sequential simulator only while no seed ever
    # dup-checks a URL that another seed inserts
    owner = {}
    for sid, r in out.items():
        for _u, _j, seen_url, _d in r["items"]:
            if seen_url is not None:
                owner.setdefault(seen_url, sid)
    for sid, r in rec.seeds.items():
        for url in r["checked"]:
            if owner.get(simulator.strip_query(url), sid) != sid:
                raise RuntimeError(f"{sid} dup-checks {url}, which another "
                                   "seed inserts: seeds are not independent")
    return out


def reference_path(tier: str, cities: int, hour: int) -> str:
    return os.path.join(CACHE_DIR, "refs",
                        f"{tier}-c{cities}-h{hour}-v{REF_VERSION}.json.gz")


def build_reference(tier: str, cities: int, hour: int) -> None:
    """Simulate the city subset's full crawl and cache the reference."""
    path = reference_path(tier, cities, hour)
    ref = {"tier": tier, "cities": cities, "hour": hour,
           "seeds": simulate_with_depth(subset_dir(tier, cities), hour)}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with gzip.open(path + ".tmp", "wt", encoding="utf-8") as f:
        json.dump(ref, f)
    os.replace(path + ".tmp", path)


def load_reference(tier: str, cities: int, hour: int) -> dict:
    with gzip.open(reference_path(tier, cities, hour), "rt",
                   encoding="utf-8") as f:
        return json.load(f)
