"""Output checks, run after the timed window on the last round's engine.

* ``drain``: after ``waves`` unbounded waves the engine has fetched exactly
  the simulator's pages of BFS depth < ``waves``: per seed, the
  ``(url, item_json)`` sequence of ``items_df()`` ordered by
  ``(fifo_seq, item_idx)`` is byte-identical to the simulator's items of
  those pages, the seen set is equal, and so are the fetch and item counts
  (``refs.py`` explains the depths).
* ``recrawl``: ``purge_seen`` deletes exactly ``|dead & seen|`` sketch
  entries and the prior rows left in the seen set are the prior set minus
  the dead URLs.  Politeness-bound waves fetch a prefix of every seed's
  FIFO order, so per seed the item sequence is a byte-identical prefix of
  the simulator's second run (its dup checks also test the surviving prior
  URLs; simulated anew for the run's purge sample), the run's inserts are
  exactly what those prefixes insert, and every wave obeys the token bound
  ``selected <= sum over netlocs of ceil(iter_seconds / crawl_delay_s) *
  max_concurrent * token_scale``.  Some inserts are URLs the prior run
  inserted too, reached again through links the portals never dup-check.
"""

from __future__ import annotations

import math
from collections import defaultdict


def engine_items(engine) -> dict:
    """seed_id -> [(url, item_json)] in (fifo_seq, item_idx) order."""
    rows = (engine.items_df()
            .select("seed_id", "fifo_seq", "item_idx", "url", "item_json")
            .collect())
    per = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r.seed_id, r.fifo_seq, r.item_idx)):
        per[r.seed_id].append((r.url, r.item_json))
    return dict(per)


def seen_rows(engine) -> list:
    return sorted((r.url, r.seed_id, r.fifo_seq) for r in
                  engine.seen.select("url", "seed_id", "fifo_seq").collect())


def token_capacity(engine, iter_seconds: float) -> int:
    """Largest batch the per-netloc token buckets allow in one wave."""
    return sum(int(math.ceil(iter_seconds / float(r.crawl_delay_s))
                   * int(r.max_concurrent) * engine.token_scale)
               for r in engine.robots.select("crawl_delay_s",
                                             "max_concurrent").collect())


def snapshot(engine, wl) -> dict:
    """What the checks read from an engine, taken before it is closed."""
    return {"items": engine_items(engine), "seen": seen_rows(engine),
            "capacity": token_capacity(engine, wl["iter_seconds"])}


def _totals(rec: dict, key: str) -> int:
    return sum(m.get(key, 0) for m in rec["waves"])


def compare_to_reference(snap, rec, ref_seeds, waves, seen) -> list:
    """Exact comparison with the simulator's pages of depth < ``waves``:
    per-seed item sequences, fetch and item counts, and ``seen`` (the URLs
    this run inserted) against the simulator's inserts."""
    problems = []
    got = snap["items"]
    want_items, want_seen, want_fetches = {}, set(), 0
    for sid, s in ref_seeds.items():
        want_fetches += sum(1 for _u, d in s["fetches"] if d < waves)
        items = [(u, js) for u, js, _seen, d in s["items"] if d < waves]
        if items:
            want_items[sid] = items
        want_seen.update(su for _u, _js, su, d in s["items"]
                         if d < waves and su is not None)
    if set(got) != set(want_items):
        problems.append(f"seeds with items differ: {len(got)} vs "
                        f"{len(want_items)} expected")
    bad = [sid for sid in want_items if got.get(sid) != want_items[sid]]
    if bad:
        problems.append(f"{len(bad)} seeds' item sequences differ from the "
                        f"simulator (first {bad[0]})")
    if seen != want_seen:
        problems.append(f"seen set differs: {len(seen)} vs {len(want_seen)}")
    if _totals(rec, "fetched") != want_fetches:
        problems.append(f"fetched {_totals(rec, 'fetched')} != simulator "
                        f"{want_fetches}")
    n_items = sum(len(v) for v in want_items.values())
    if _totals(rec, "items") != n_items:
        problems.append(f"items {_totals(rec, 'items')} != simulator {n_items}")
    return problems


def check_prefix(snap, rec, ref_seeds, seen) -> list:
    """Politeness-bound waves fetch a prefix of every seed's FIFO order:
    per seed, the item sequence must be a byte-identical prefix of the
    simulator's, ``seen`` (this run's inserts) exactly what those prefixes
    insert, and every wave within the token bound."""
    problems = []
    want_seen = set()
    for sid, items in snap["items"].items():
        want = ref_seeds[sid]["items"][:len(items)]
        if items != [(u, js) for u, js, _su, _d in want]:
            problems.append(f"{sid}: items are not a prefix of the simulator's")
            break
        want_seen.update(su for _u, _js, su, _d in want if su is not None)
    if seen != want_seen:
        problems.append(f"seen set differs from the simulator prefixes: "
                        f"{len(seen)} vs {len(want_seen)}")
    cap = snap["capacity"]
    for m in rec["waves"]:
        if not 0 < m.get("selected", 0) <= cap:
            problems.append(f"wave {m['iteration']} selected "
                            f"{m.get('selected')} outside (0, {cap}]")
    if _totals(rec, "items") != sum(len(v) for v in snap["items"].values()):
        problems.append("wave item counts disagree with items_df()")
    return problems


def check_recrawl(snap, rec, prior, ref) -> list:
    """``ref``: the simulator's second run, whose dup checks also test the
    surviving prior URLs."""
    rows = snap["seen"]
    dead_in_seen = set(prior.dead) & set(prior.urls)
    problems = []
    if rec["deleted"] != len(dead_in_seen):
        problems.append(f"purge deleted {rec['deleted']} sketch entries, "
                        f"expected |dead & seen| = {len(dead_in_seen)}")
    survivors = {u for u, _s, f in rows if f == -1}
    if survivors != set(prior.urls) - dead_in_seen:
        problems.append("surviving prior set is not prior minus dead")
    inserts = {u for u, _s, f in rows if f != -1}
    return problems + check_prefix(snap, rec, ref["seeds"], inserts)


def run_checks(name, wl, snap, rec, ref, prior=None) -> list:
    """Returns a list of failed-check descriptions (empty: all passed).
    ``ref`` is the simulator reference of this run (for ``recrawl`` the
    second run's)."""
    if name == "drain":
        return compare_to_reference(snap, rec, ref["seeds"], wl["waves"],
                                    {u for u, _s, _f in snap["seen"]})
    return check_recrawl(snap, rec, prior, ref)
