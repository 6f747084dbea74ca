"""Crawl benchmark: one workload of ``plans/crawl.py:CrawlEngine`` per process.

    python3 perfbench/run.py --workload drain --seed 1 --seconds 20 --trace 0

Runs in a fresh process at ``local[<cores>]``: builds (once) and loads the
synthetic inputs and golden references, starts the session, warms up, runs
the workload's timed crawl, checks its outputs and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-layer metrics and
writes the spans to ``perfbench/.traces/``.

    python3 perfbench/run.py --refs   # recompute every cached reference

See perfbench/README.md for the workloads, metrics and checks.
"""

from __future__ import annotations

import time

T_IMPORT = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

import checks  # noqa: E402
import layers  # noqa: E402
import refs  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
WORK_DIR = os.path.join(BENCH_DIR, ".work")
TRACE_DIR = os.path.join(BENCH_DIR, ".traces")

# One timed round = engine construction + the first ``waves`` waves of the
# workload's crawl over the seeds of the first ``cities`` cities of the tier.
WORKLOADS = {
    # the north-star throughput path: unbounded politeness, bloom seen set
    "drain": {"tier": "sf0.01", "cities": 30, "waves": 2, "hour": 7,
              "iter_seconds": 1e6, "seen_filter": "bloom"},
    # the reference's real regime: the day's second, politeness-bound run
    # against the first run's seen set (cuckoo sketch) after a purge
    "recrawl": {"tier": "sf0.001", "cities": 15, "waves": 2, "hour": 17,
                "iter_seconds": 600.0, "seen_filter": "cuckoo",
                "prior_hour": 7, "purge_share": 0.10, "stray_share": 0.01},
}


def process_start() -> float:
    """Wall-clock time this process started (10 ms resolution), falling
    back to the time this module was imported."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        age = (time.clock_gettime(time.CLOCK_BOOTTIME)
               - ticks / os.sysconf("SC_CLK_TCK"))
        return time.time() - age
    except (OSError, ValueError, IndexError, AttributeError):
        return T_IMPORT


def host_sizing() -> tuple[int, str]:
    """(task threads, driver heap) for this host: every core the process
    may run on, and a quarter of RAM clamped to 2..8 GB."""
    cpus = len(os.sched_getaffinity(0))
    mem_mb = 8192
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_mb = int(line.split()[1]) // 1024
    except OSError:
        pass
    heap_mb = max(2048, min(8192, mem_mb // 4))
    return cpus, f"{heap_mb}m"


def configure_env() -> tuple[int, str]:
    cpus, heap = host_sizing()
    tmp = os.path.join(WORK_DIR, "tmp")
    local = os.path.join(WORK_DIR, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = tmp
    if REPO_ROOT not in sys.path:
        sys.path.insert(0, REPO_ROOT)
    return cpus, heap


def start_session(cpus: int):
    from scrapy_crawler_german_real_estate_sites_spark.sources.tables import (
        get_spark,
    )

    java_opts = (f"-Djava.io.tmpdir={os.path.join(WORK_DIR, 'tmp')} "
                 f"-XX:ErrorFile={os.path.join(WORK_DIR, 'hs_err_pid%p.log')}")
    spark = get_spark(
        app="perfbench", cpus=str(cpus), shuffle_partitions=cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false",
                    "spark.driver.extraJavaOptions": java_opts})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def block_mb(spark) -> float:
    """Block-manager storage memory in use, summed over executors (MB)."""
    status = spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
    it = status.valuesIterator()
    used = 0
    while it.hasNext():
        pair = it.next()
        used += pair._1() - pair._2()
    return used / 2**20


class Prior:
    """The second run's starting seen set: the first run's seen set as
    prior-run rows (``fifo_seq = -1``) with a cuckoo sketch over it, and the
    seeded dead-URL sample the liveness purge removes."""

    def __init__(self, ref: dict, wl: dict, seed: int):
        owner = {}
        fetched = set()
        for sid in sorted(ref["seeds"]):
            s = ref["seeds"][sid]
            fetched.update(u for u, _d in s["fetches"])
            for _page, _js, seen_url, _d in s["items"]:
                if seen_url is not None:
                    owner.setdefault(seen_url, sid)
        self.owner = owner
        self.urls = sorted(owner)
        rng = random.Random(seed)
        dead = rng.sample(self.urls, round(wl["purge_share"] * len(self.urls)))
        # dead URLs that were never inserted (fetched listing pages): the
        # purge must skip them
        strays = sorted(fetched - set(owner))
        dead += rng.sample(strays, round(wl["stray_share"] * len(self.urls)))
        self.dead = dead
        self.survivors = frozenset(self.urls) - frozenset(dead)

    def load(self, spark, tracer) -> None:
        """Materialize the seen rows and dead URLs and build the sketch."""
        from pyspark.sql import functions as F

        from scrapy_crawler_german_real_estate_sites_spark.operators.cuckoo import (
            build_cuckoo,
        )

        self.seen_df = spark.createDataFrame(
            [(u, self.owner[u]) for u in self.urls],
            "url string, seed_id string",
        ).withColumn("fifo_seq", F.lit(-1).cast("long")).localCheckpoint(
            eager=True)
        self.dead_df = spark.createDataFrame(
            [(u,) for u in self.dead], "url string").localCheckpoint(eager=True)
        with tracer.span("cuckoo.build") as sp:
            sketch = build_cuckoo(self.seen_df.select("url"),
                                  n_buckets=layers.CUCKOO_BUCKETS)
        self.build_s = sp.seconds
        self.sketch = (sketch.to_bytes(), sketch.n_buckets, sketch.slots)

    def install(self, engine) -> int:
        """Give ``engine`` this prior seen set and purge the dead URLs;
        returns the sketch entries deleted."""
        from scrapy_crawler_german_real_estate_sites_spark.operators.cuckoo import (
            CuckooFilter,
        )

        if engine.cuckoo.n_buckets != self.sketch[1]:
            raise RuntimeError("the engine's cuckoo size changed; update "
                               "layers.CUCKOO_BUCKETS")
        engine.seen = self.seen_df
        engine.cuckoo = CuckooFilter.from_bytes(*self.sketch)
        return engine.purge_seen(self.dead_df)


def crawl_round(spark, wl: dict, fix: str, prior, tracer) -> tuple:
    """One timed round: ``CrawlEngine(...)`` (plus, for a second run, the
    prior seen set and its purge) and the workload's waves.  Returns the
    engine (still open) and the round's record."""
    from scrapy_crawler_german_real_estate_sites_spark.plans.crawl import (
        CrawlEngine,
    )

    rec = {"waves": [], "wave_s": [], "block_mb": []}
    t0 = time.perf_counter()
    with tracer.span("crawl.init") as sp:
        eng = CrawlEngine(spark, fix, hour=wl["hour"],
                          iter_seconds=wl["iter_seconds"],
                          seen_filter=wl["seen_filter"])
    rec["init_s"] = sp.seconds
    rec["block_mb_init"] = block_mb(spark)
    if prior is not None:
        with tracer.span("cuckoo.purge") as sp:
            rec["deleted"] = prior.install(eng)
        rec["purge_s"] = sp.seconds
    for k in range(wl["waves"]):
        with tracer.span("crawl.run_wave") as sp:
            m = eng.run_wave()
        tracer.count("crawl.selected", m.get("selected", 0))
        tracer.count("crawl.fetched", m.get("fetched", 0))
        rec["waves"].append(m)
        rec["wave_s"].append(sp.seconds)
        rec["block_mb"].append(block_mb(spark))
        if k == 0:
            rec["first_wave_s"] = time.perf_counter() - t0
        if m.get("selected", 0) == 0:
            break
    rec["wall_s"] = time.perf_counter() - t0
    return eng, rec


def warm_up(spark, cpus: int) -> None:
    """Start one Python worker per task slot with the engine's parse modules
    imported, and run a shuffle.  A crawl wave on a tiny input would warm
    more, but costs a whole wave of work on top of these start-up costs."""
    from pyspark.sql import functions as F

    def load(batches):
        from scrapy_crawler_german_real_estate_sites_spark.operators.portals import (
            get_portal, implemented_portals,
        )

        for name in implemented_portals():
            get_portal(name)
        yield from batches

    n = 4 * cpus
    (spark.range(0, n, numPartitions=n).mapInPandas(load, "id long")
     .groupBy((F.col("id") % cpus).alias("k")).count().collect())


def build_inputs(name: str, rebuild: bool = False) -> None:
    """Generate the tiers and simulator references ``name`` needs (cached
    under perfbench/.cache; ``rebuild`` recomputes the references)."""
    import refs

    wl = WORKLOADS[name]
    key = (wl["tier"], wl["cities"], wl.get("prior_hour", wl["hour"]))
    refs.subset_dir(wl["tier"], wl["cities"])
    if rebuild or not os.path.exists(refs.reference_path(*key)):
        refs.build_reference(*key)


def end_to_end(rounds: list, setup_s: float) -> dict:
    med = statistics.median
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "urls_per_s": {"value": med([sum(m.get("fetched", 0) for m in r["waves"])
                                     / r["wall_s"] for r in rounds]),
                       "unit": "URLs/s"},
        "first_wave_s": {"value": med([r["first_wave_s"] for r in rounds]),
                         "unit": "s"},
        "wave_p50_s": {"value": med([s for r in rounds for s in r["wave_s"]]),
                       "unit": "s"},
        "peak_state_mb": {"value": med([max(r["block_mb"]) for r in rounds]),
                          "unit": "MB"},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--refs", action="store_true",
                    help="recompute every cached simulator reference and exit")
    args = ap.parse_args(argv)
    if not args.refs and not args.workload:
        ap.error("--workload is required")
    t_start = process_start()
    if not os.path.isdir(os.path.join(
            REPO_ROOT, "scrapy_crawler_german_real_estate_sites_spark")):
        print("perfbench: the crawl engine package is not next to the "
              "benchmark; run from a full checkout", file=sys.stderr)
        return 2
    cpus, heap = configure_env()
    if args.refs:
        for name in WORKLOADS:
            build_inputs(name, rebuild=True)
        return 0

    wl = WORKLOADS[args.workload]
    tracer = layers.Tracer(enabled=bool(args.trace))
    # first run in a checkout: generating tiers and references is a build
    # step, kept out of setup_s
    t_build = time.time()
    build_inputs(args.workload)
    build_s = time.time() - t_build

    ref = refs.load_reference(wl["tier"], wl["cities"],
                              wl.get("prior_hour", wl["hour"]))
    fix = refs.permuted_dir(
        refs.subset_dir(wl["tier"], wl["cities"]), args.seed,
        os.path.join(WORK_DIR, f"input-{args.workload}"))
    prior = Prior(ref, wl, args.seed) if "prior_hour" in wl else None

    with tracer.span("tables.session") as sp_session:
        spark = start_session(cpus)
    try:
        with tracer.span("warmup") as sp_warm:
            warm_up(spark, cpus)
        if prior is not None:
            prior.load(spark, tracer)
        setup_s = time.time() - t_start - build_s

        # timed window: whole rounds while the next one is expected to fit
        rounds, engine = [], None
        t_win = time.perf_counter()
        while True:
            if engine is not None:
                engine.close()
                spark.catalog.clearCache()
            with tracer.span("crawl.round"):
                engine, rec = crawl_round(spark, wl, fix, prior, tracer)
            rounds.append(rec)
            elapsed = time.perf_counter() - t_win
            if elapsed + max(r["wall_s"] for r in rounds) > args.seconds:
                break

        t_checks = time.time()
        engine_snap = checks.snapshot(engine, wl)
        if prior is not None:  # the simulator's second run of the day
            with tracer.span("checks.simulate"):
                ref = {"seeds": refs.simulate_with_depth(
                    fix, hour=wl["hour"], prior=prior.survivors,
                    max_depth=wl["waves"])}
        metrics = end_to_end(rounds, setup_s)
        if args.trace:
            e2e = metrics
            metrics = layers.per_layer(
                wl, engine, rounds, ref, prior, fix, args.seed,
                session_s=sp_session.seconds, warmup_s=sp_warm.seconds,
                tracer=tracer)
        engine.close()
        with tracer.span("checks"):
            problems = checks.run_checks(args.workload, wl, engine_snap,
                                         rounds[-1], ref, prior)
        for p in problems:
            print(f"perfbench: check failed: {p}", file=sys.stderr)
        if args.trace:
            layers.write_trace(
                os.path.join(TRACE_DIR, f"{args.workload}-seed{args.seed}.json"),
                tracer, {"workload": args.workload, "seed": args.seed,
                         "cpus": cpus, "heap": heap, "end_to_end": e2e,
                         "per_layer": metrics, "checks": problems})
        attempted = sum(m.get("selected", 0) for r in rounds for m in r["waves"])
        failed = attempted - sum(m.get("fetched", 0)
                                 for r in rounds for m in r["waves"])
    finally:
        stop_session(spark)
    print(f"perfbench: {args.workload} seed {args.seed}: build {build_s:.1f}s "
          f"session {sp_session.seconds:.1f}s warm-up {sp_warm.seconds:.1f}s "
          f"setup {setup_s:.1f}s, {len(rounds)} round(s) of "
          f"{[round(r['wall_s'], 1) for r in rounds]}s, checks "
          f"{time.time() - t_checks:.1f}s, total {time.time() - t_start:.1f}s",
          file=sys.stderr)
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
