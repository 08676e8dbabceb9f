"""The two benchmark workloads, their correctness gates and their metrics.

Both drive the package only through its public surface
(``plans.throughput.fetch_parse_wave``, ``plans.crawl.CrawlEngine.run``,
``sources.livefetch.live_fetch``); the traced run additionally wraps the
engine's per-round step to delimit rounds.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import urllib.request
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

from inputs import BulkInputs, LiveInputs
from spans import EventLog, RssSampler, Tracer

from web_scraper_v1_spark import fixtures as fx

# Sizes are set by the run budget: every run starts a JVM and pays ~20 s of
# first-use cost in its warm-up, and a crawl round costs ~25 s on 4 cores
# whatever its size (see perfbench/README.md).
# bulk_wave: a generate_pages corpus of ~1.6 KB pages over 200 hosts
BULK_PAGES, BULK_HOSTS, FILLER_LINES = 40_000, 200, 43
# live_crawl: 50 skewed hosts (host 0 holds ~30% of the pages); every seed
# arrives in round 0 and the budget defers part of host 0 to round 1
LIVE_PAGES, LIVE_HOSTS, LIVE_SEEDS = 20_000, 50, 300
LIVE_HOST_BUDGET, LIVE_ROUNDS = 40, 1
# a same-region round trip: the fetch then holds a ~27 s round for ~3 s; a
# delay long enough for the fetch to dominate would not fit the run budget
LIVE_DELAY_MS = 40.0
WARM_PAGES = 4_000

END_TO_END_UNITS = {"setup_s": "s", "urls_per_s": "1/s", "round_p50_s": "s",
                    "peak_rss_mb": "MiB"}
PER_LAYER_UNITS = {
    "state.resume_s": "s",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "round.samples": "count",
    "trace.round_p50_s": "s",
    "crawl.round_self_s": "s",
    "crawl.jobs_per_round": "count",
    "crawl.stages_per_round": "count",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "seen.load_s": "s",
    "seen.add_s": "s",
    "seen.rebroadcast_bytes": "bytes",
    "seen.bloom_pass_share": "ratio",
    "seen.probe_python_s": "s",
    "frontier.topk_busy_s": "s",
    "ordering.prefix_sum_s": "s",
    "snapshots.write_s": "s",
    "snapshots.files_per_round": "count",
    "snapshots.bytes_per_round": "bytes",
    "snapshots.read_s": "s",
    "wave.parse_stage_busy_s": "s",
    "wave.shuffle_bytes": "bytes",
    "wave.join_skew": "ratio",
    "extraction.python_s": "s",
    "wave.parse_features_python_s": "s",
    "wave.urls_per_s_1core": "1/s",
    "wave.scaling_eff": "ratio",
    "livefetch.fetch_busy_s": "s",
    "livefetch.fetch_python_s": "s",
    "livefetch.fetch_wall_s": "s",
    "livefetch.requests_per_connection": "ratio",
    "livefetch.requests_per_fetch": "ratio",
    "livefetch.error_share.timeout": "ratio",
    "livefetch.error_share.refused": "ratio",
    "livefetch.error_share.transport": "ratio",
    "livefetch.error_share.non200": "ratio",
}


def build_inputs(work: str) -> None:
    """Generates the seed-independent universes once per checkout (the
    benchmark's build step), so later runs only derive seeded lists."""
    BulkInputs(work, 0, BULK_PAGES, BULK_HOSTS, FILLER_LINES).ensure()
    BulkInputs(work, 0, WARM_PAGES, BULK_HOSTS, FILLER_LINES).ensure()
    LiveInputs(work, 0, LIVE_PAGES, LIVE_HOSTS, FILLER_LINES,
               LIVE_SEEDS).ensure()


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Bench:
    """Run-wide state: settings, the Spark session, the tracer and the RSS
    sampler."""

    def __init__(self, work: str, conf: dict, seed: int, seconds: float,
                 traced: bool):
        self.work, self.seed, self.seconds, self.traced = (
            work, seed, seconds, traced)
        self.conf = dict(conf)
        self.cores = len(os.sched_getaffinity(0))
        self.scratch = os.path.join(work, "runs", str(os.getpid()))
        shutil.rmtree(self.scratch, ignore_errors=True)
        os.makedirs(self.scratch)
        self.evlog_dir = os.path.join(self.scratch, "eventlog")
        if traced:
            os.makedirs(self.evlog_dir)
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.evlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = None
        self.tracer: Tracer | None = None
        self.rss = RssSampler()
        self.layer: dict[str, float] = {}

    # -- session ----------------------------------------------------------
    def start(self, cores: int) -> float:
        from web_scraper_v1_spark.session import build_session

        t0 = time.monotonic()
        self.spark = build_session(f"perfbench_{cores}", cores=cores,
                                   extra_conf=self.conf)
        return time.monotonic() - t0

    def stop(self) -> str | None:
        """Stops the session; returns its event log path when traced."""
        if self.spark is None:
            return None
        app = self.spark.sparkContext.applicationId
        self.spark.stop()
        self.spark = None
        return os.path.join(self.evlog_dir, app) if self.traced else None

    def warmup(self) -> float:
        """One small untimed wave through the same public path, so the
        timed section starts with warm JVM code and Python workers."""
        from web_scraper_v1_spark.plans import throughput
        from web_scraper_v1_spark.sources.corpus import (
            SEEDS_SCHEMA, read_pages)

        warm = BulkInputs(self.work, 0, WARM_PAGES, BULK_HOSTS, FILLER_LINES)
        t0 = time.monotonic()
        out = throughput.fetch_parse_wave(
            self.spark,
            self.spark.read.schema(SEEDS_SCHEMA).parquet(warm.seeds_path),
            read_pages(self.spark, warm.corpus_dir),
            seen=_seen_df(self.spark, warm.seen_path),
            parse_features=True,
        )
        out.write.mode("overwrite").parquet(
            os.path.join(self.scratch, "warm_results"))
        return time.monotonic() - t0

    def setup(self) -> float:
        """Session start (JVM launch, package shipping) plus the warm-up.
        Done once per run: a second set-up in the same JVM would be warm,
        and restarting the SparkContext breaks PySpark's accumulator
        server."""
        start = self.start(self.cores)
        warm = self.warmup()
        self.layer["session.start_s"] = start
        self.layer["session.warmup_s"] = warm
        return start + warm

    def close(self) -> None:
        """Stops the session, then the JVM and its Python workers, waiting
        until each has ended, and removes the run's scratch state."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            pids = self.rss.descendants()
            gateway.shutdown()
            # the JVM exits when its standard input closes
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
            _wait_gone(pids)
        shutil.rmtree(self.scratch, ignore_errors=True)

    def dump_spans(self, workload: str) -> None:
        self.tracer.dump(os.path.join(
            self.work, "traces", f"{workload}_seed{self.seed}.json"))

    def instrument(self) -> Tracer:
        self.tracer = tracer = Tracer()
        _install_spans(tracer, self.spark.sparkContext)
        return tracer

    def result(self, e2e: dict, correct: bool, attempted: int,
               failed: int) -> dict:
        if self.traced:
            names = PER_LAYER_UNITS
            vals = {k: self.layer.get(k, 0.0) for k in names}
        else:
            names = END_TO_END_UNITS
            vals = e2e
        return {
            "correct": bool(correct),
            "attempted": int(max(1, attempted)),
            "failed": int(failed),
            "metrics": {
                k: {"value": float(vals[k]), "unit": names[k]} for k in names
            },
        }


def _running(pid: int) -> bool:
    """Whether ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _wait_gone(pids: list[int], timeout_s: float = 30.0) -> None:
    """Waits until every pid has exited, killing those still running after
    ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    killed = False
    while True:
        alive = [p for p in pids if _running(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {alive} did not exit")
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            killed, deadline = True, time.monotonic() + 10
        time.sleep(0.05)


def _seen_df(spark, path: str):
    from pyspark.sql import functions as F

    from web_scraper_v1_spark.functions import urls as U

    canon = U.canonicalize(F.col("url"))
    return spark.read.parquet(path).select(
        U.url_hash(canon).alias("url_hash"), canon.alias("url"))


# -- spans ----------------------------------------------------------------
def _install_spans(tracer: Tracer, sc) -> None:
    """Wraps the public calls into each layer (and the crawl engine's
    per-round step) so every call records a span and every Spark job it
    launches carries the span's tag."""
    from web_scraper_v1_spark.operators import seen as seen_mod
    from web_scraper_v1_spark.plans import crawl as crawl_mod
    from web_scraper_v1_spark.plans import throughput as tp_mod
    from web_scraper_v1_spark.sources import snapshots as snap_mod

    def remember_filter(span, args, kwargs, result):
        seen_set = args[0]
        cands = args[1] if len(args) > 1 else kwargs["candidates"]
        bloom = None
        if getattr(seen_set, "_nonempty", False) and seen_set.use_bloom:
            bloom = copy.deepcopy(seen_set.bloom)
        span["probe"] = (cands, bloom)

    def productive(span, args, kwargs, result):
        span["productive"] = result is not None

    for owner, attr, name, hook in (
        (crawl_mod.CrawlEngine, "run", "crawl.run", None),
        (crawl_mod.CrawlEngine, "_run_round", "crawl.round", productive),
        (crawl_mod, "prepare_seeds", "frontier.prepare_seeds", None),
        (crawl_mod, "apply_robots", "frontier.apply_robots", None),
        (crawl_mod, "per_host_topk", "frontier.per_host_topk", None),
        (crawl_mod, "global_prefix_sum", "ordering.global_prefix_sum", None),
        (crawl_mod, "extract_receiver_response", "extraction.extract", None),
        (tp_mod, "fetch_parse_wave", "throughput.fetch_parse_wave", None),
        (tp_mod, "prepare_seeds", "frontier.prepare_seeds", None),
        (tp_mod, "extract_receiver_response", "extraction.extract", None),
        (seen_mod.SeenSet, "load", "seen.load", None),
        (seen_mod.SeenSet, "add", "seen.add", None),
        (seen_mod.SeenSet, "set_exact", "seen.set_exact", None),
        (seen_mod.SeenSet, "filter_new", "seen.filter_new", remember_filter),
        (snap_mod.SnapshotStore, "write_snapshot", "snapshots.write", None),
        (snap_mod.SnapshotStore, "commit_round", "snapshots.commit", None),
        (snap_mod.SnapshotStore, "read", "snapshots.read", None),
    ):
        tracer.wrap(owner, attr, name, hook)

    broadcast = sc.broadcast

    def counted_broadcast(value):
        if tracer.stack:
            span = tracer.spans[tracer.stack[-1]]
            span["broadcast_bytes"] = (span.get("broadcast_bytes", 0)
                                       + getattr(value, "nbytes", 0))
        return broadcast(value)

    sc.broadcast = counted_broadcast


def _bloom_pass_share(tracer: Tracer, spans) -> float:
    """Share of filter_new candidates that the Bloom prefilter clears, so
    they skip the exact anti-join. Probes run after the timed section."""
    cleared = total = 0
    for s in spans:
        cands, bloom = s.get("probe", (None, None))
        if bloom is None:
            continue
        keys = np.asarray(
            [r[0] for r in cands.select("url_hash").collect()], dtype=np.int64)
        total += len(keys)
        cleared += int((~bloom.contains(keys)).sum())
        s["probe"] = None
    return cleared / total if total else 0.0


def _unit_metrics(bench: Bench, log: EventLog, units: list[dict]) -> None:
    """Per-unit (crawl round or bulk wave) layer metrics, as medians."""
    tr = bench.tracer
    acc = {k: [] for k in (
        "jobs", "stages", "self", "shuffle", "skew", "gc", "spill",
        "parse_busy", "extract", "features", "fetch_busy", "fetch",
        "probe", "topk", "bcast")}
    for u in units:
        ids = tr.subtree(u["id"])
        stages = log.stages_of(ids)
        acc["jobs"].append(len(log.jobs_of(ids)))
        acc["stages"].append(len(stages))
        acc["self"].append(tr.self_time(u["id"]))
        acc["shuffle"].append(log.sum(stages, "shuffle_w"))
        acc["skew"].append(log.skew(stages))
        acc["gc"].append(log.sum(stages, "gc_s"))
        acc["spill"].append(log.sum(stages, "spill"))
        acc["parse_busy"].append(log.node_busy_s(
            stages, "parse_receiver_response_udf", "parse_features_udf"))
        acc["extract"].append(
            log.python_s(stages, "parse_receiver_response_udf"))
        acc["features"].append(log.python_s(stages, "parse_features_udf"))
        acc["fetch_busy"].append(log.node_busy_s(stages, "MapInPandas"))
        acc["fetch"].append(log.python_s(stages, "MapInPandas"))
        acc["probe"].append(log.python_s(stages, "_contains"))
        acc["topk"].append(log.node_busy_s(stages, "Sort [host#"))
        acc["bcast"].append(sum(tr.spans[i].get("broadcast_bytes", 0)
                                for i in ids))
    m = bench.layer
    m["round.samples"] = len(units)
    m["trace.round_p50_s"] = _median([u["end"] - u["start"] for u in units])
    m["crawl.jobs_per_round"] = _median(acc["jobs"])
    m["crawl.stages_per_round"] = _median(acc["stages"])
    m["crawl.round_self_s"] = _median(acc["self"])
    m["wave.shuffle_bytes"] = _median(acc["shuffle"])
    m["wave.join_skew"] = _median(acc["skew"])
    m["spark.gc_s"] = _median(acc["gc"])
    m["spark.spill_bytes"] = _median(acc["spill"])
    m["wave.parse_stage_busy_s"] = _median(acc["parse_busy"])
    m["extraction.python_s"] = _median(acc["extract"])
    m["wave.parse_features_python_s"] = _median(acc["features"])
    m["livefetch.fetch_busy_s"] = _median(acc["fetch_busy"])
    m["livefetch.fetch_python_s"] = _median(acc["fetch"])
    m["seen.probe_python_s"] = _median(acc["probe"])
    m["frontier.topk_busy_s"] = _median(acc["topk"])
    m["seen.rebroadcast_bytes"] = _median(acc["bcast"])


def _span_total(tracer: Tracer, ids: set[int], name: str) -> float:
    return sum(tracer.spans[i]["end"] - tracer.spans[i]["start"]
               for i in ids if tracer.spans[i]["name"] == name)


# -- bulk_wave --------------------------------------------------------------
def _fits(t_start: float, last: float, seconds: float) -> bool:
    """Whether one more unit of work, as long as the last one, still ends
    inside the measurement window."""
    return time.monotonic() - t_start + last <= seconds


def _waves(bench: Bench, inp: BulkInputs, seconds: float,
           tracer: Tracer | None):
    """Timed waves, as many as fit in ``seconds`` and at least one: each
    runs one unbudgeted fetch_parse_wave over the seen table (the wave
    loads its own seen set) and writes its output (every column) as
    parquet, the wave's results table, read back by the check."""
    from web_scraper_v1_spark.plans import throughput
    from web_scraper_v1_spark.sources.corpus import SEEDS_SCHEMA, read_pages

    spark = bench.spark
    seeds = spark.read.schema(SEEDS_SCHEMA).parquet(inp.seeds_path)
    pages = read_pages(spark, inp.corpus_dir)
    seen = _seen_df(spark, inp.seen_path)
    waves, units = [], []
    results = os.path.join(bench.scratch, "wave_results")
    t_start = time.monotonic()
    while not waves or _fits(t_start, waves[-1], seconds):
        sid = tracer.begin("bench.wave") if tracer else None
        t0 = time.monotonic()
        out = throughput.fetch_parse_wave(spark, seeds, pages, seen=seen,
                                          parse_features=True)
        out.write.mode("overwrite").parquet(results)
        waves.append(time.monotonic() - t0)
        if tracer:
            tracer.end(sid)
            units.append(tracer.spans[sid])
    return waves, units, results


def _check_wave(inp: BulkInputs, results: str) -> tuple[int, int, int]:
    """(rows expected, rows wrong, rows parsed): every eligible page must
    come back exactly once with its golden text, and nothing else."""
    want = inp.expected_text()
    table = pq.read_table(results, columns=["url", "text"])
    got = {}
    dup = 0
    for url, text in zip(table.column("url").to_pylist(),
                         table.column("text").to_pylist()):
        dup += url in got
        got[url] = text
    wrong = dup + sum(1 for u, t in want.items() if got.get(u) != t)
    wrong += sum(1 for u in got if u not in want)
    return len(want) + sum(1 for u in got if u not in want), wrong, len(want)


def bulk_wave(bench: Bench) -> dict:
    inp = BulkInputs(bench.work, bench.seed, BULK_PAGES, BULK_HOSTS,
                     FILLER_LINES)
    inp.ensure()
    try:
        setup_s = bench.setup()
        tracer = bench.instrument() if bench.traced else None
        bench.rss.start()
        waves, units, results = _waves(bench, inp, bench.seconds, tracer)
        peak = bench.rss.stop()
        attempted, failed, parsed = _check_wave(inp, results)
        urls_per_s = parsed / _median(waves)
        if bench.traced:
            bench.layer["seen.bloom_pass_share"] = _bloom_pass_share(
                tracer, tracer.spans)
            loads = [_span_total(tracer, tracer.subtree(u["id"]), "seen.load")
                     for u in units]
            bench.layer["seen.load_s"] = _median(loads)
            bench.layer["state.resume_s"] = _median(loads)
            log_path = bench.stop()
            _unit_metrics(bench, EventLog(log_path), units)
            # the single-core leg for the scaling ratio, same inputs
            bench.start(1)
            bench.warmup()
            waves1, _, _ = _waves(bench, inp, 0, None)
            one = parsed / _median(waves1)
            bench.layer["wave.urls_per_s_1core"] = one
            bench.layer["wave.scaling_eff"] = urls_per_s / (bench.cores * one)
            bench.dump_spans("bulk_wave")
    finally:
        bench.close()
    return bench.result(
        {"setup_s": setup_s, "urls_per_s": urls_per_s,
         "round_p50_s": _median(waves), "peak_rss_mb": peak},
        failed == 0, attempted, failed)


# -- live_crawl -------------------------------------------------------------
class LoopbackWeb:
    """The loopback web process: started before timing, killed on exit."""

    def __init__(self, bodies_path: str, seed: int):
        here = os.path.dirname(os.path.abspath(__file__))
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(here, "web.py"), bodies_path,
             str(LIVE_HOSTS), str(LIVE_DELAY_MS), str(seed)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        )
        line = self.proc.stdout.readline().decode().split()
        if len(line) != 2 or line[0] != "READY":
            self.close()
            raise RuntimeError("loopback web did not start")
        self.port = int(line[1])

    def stats(self) -> dict:
        url = f"http://127.0.0.1:{self.port}/__stats"
        with urllib.request.urlopen(url, timeout=10) as resp:
            return json.loads(resp.read())

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


def _crawl(bench: Bench, mat: dict, run_dir: str, tracer: Tracer | None):
    """One crawl leg and its resume: an engine runs LIVE_ROUNDS rounds and
    stops; a fresh engine on the same store then resumes, which loads the
    committed state (manifest, snapshots, Bloom rebuild) and stops at the
    same round limit. Returns the round stats, the makespan, the resume's
    state-load time and the resumed engine."""
    from pyspark.sql import functions as F

    from web_scraper_v1_spark.plans.crawl import CrawlEngine
    from web_scraper_v1_spark.sources.corpus import (
        ROBOTS_SCHEMA, SEEDS_SCHEMA)
    from web_scraper_v1_spark.sources.livefetch import (
        chrome_ua_column, live_fetch)

    spark = bench.spark
    seeds = spark.read.schema(SEEDS_SCHEMA).parquet(mat["seeds_path"])
    robots = spark.read.schema(ROBOTS_SCHEMA).parquet(mat["robots_path"])

    def fetcher(wave):
        sid = tracer.begin("livefetch.live_fetch") if tracer else None
        df = live_fetch(wave.withColumn(
            "user_agent", chrome_ua_column(F.col("canonical_url"))))
        if tracer:
            tracer.end(sid)
        return df

    def engine():
        return CrawlEngine(spark, run_dir, batch_size=LIVE_SEEDS,
                           host_budget=LIVE_HOST_BUDGET, discover_links=True,
                           max_depth=1, fetcher=fetcher)

    t0 = time.monotonic()
    stats = engine().run(seeds, robots=robots, max_rounds=LIVE_ROUNDS)
    t1 = time.monotonic()
    resumed = engine()
    rest = resumed.run(seeds, robots=robots, max_rounds=LIVE_ROUNDS)
    t2 = time.monotonic()
    resume_s = (t2 - t1) - sum(s.duration_s for s in rest)
    return stats + rest, t2 - t0, resume_s, resumed


def _check_crawl(engine, mat: dict) -> tuple[int, int]:
    """(URL operations, failures) against fixtures.simulate_crawl on the
    same inputs: the trace, the seen set and the extracted text, read from
    the snapshots the resumed engine's store has committed. Every URL that
    is missing, duplicated, extra or different in any of them counts once."""
    sim = fx.simulate_crawl(
        mat["seeds"], mat["pages"], batch_size=LIVE_SEEDS,
        host_budget=LIVE_HOST_BUDGET, robots=mat["robots"],
        discover_links=True, max_depth=1, max_rounds=LIVE_ROUNDS)
    cols = ("seq", "round", "url", "attempt", "outcome")
    want = Counter(tuple(t[c] for c in cols) for t in sim.trace)
    trace = _committed(engine, "trace")
    got = Counter(zip(*(trace[c] for c in cols)))
    bad_urls = {row[2] for row in (want - got) + (got - want)}
    seen = Counter(_committed(engine, "seen")["url"])
    bad_urls |= {u for u in sim.seen_urls | set(seen) if seen[u] != 1
                 or u not in sim.seen_urls}
    golden = {fx.canonicalize_url(p["url"]): p["text"] for p in mat["pages"]}
    expected = {t["url"]: golden[t["url"]] for t in sim.trace
                if t["outcome"] == fx.OUTCOME_FETCHED}
    results = _committed(engine, "results")
    texts: dict[str, list[str]] = {}
    for url, ua, ip, fh in zip(results["url"], results["user_agent"],
                               results["ip_address"],
                               results["forwarded_host"]):
        texts.setdefault(url, []).append("\n".join([ua, ip, fh]))
    bad_urls |= {u for u in expected.keys() | texts.keys()
                 if texts.get(u) != [expected.get(u)]}
    attempted = len({row[2] for row in want + got}) + len(
        expected.keys() | texts.keys())
    return attempted, len(bad_urls)


def _committed(engine, table: str) -> dict[str, list]:
    """A table's committed snapshot rows, column by column."""
    cols: dict[str, list] = {}
    for path in engine.store.committed_paths(table):
        part = pq.read_table(path).to_pydict()
        for k, v in part.items():
            cols.setdefault(k, []).extend(v)
    return cols


def live_crawl(bench: Bench) -> dict:
    inp = LiveInputs(bench.work, bench.seed, LIVE_PAGES, LIVE_HOSTS,
                     FILLER_LINES, LIVE_SEEDS)
    inp.ensure()
    web = LoopbackWeb(inp.bodies_path, bench.seed)
    try:
        mat = inp.materialize(web.port)
        bench.rss.exclude.add(web.proc.pid)
        setup_s = bench.setup()
        tracer = bench.instrument() if bench.traced else None
        before = web.stats()
        bench.rss.start()
        rounds, makespans, resumes, n = [], [], [], 0
        t_start = time.monotonic()
        while n == 0 or _fits(t_start, makespans[-1], bench.seconds):
            run_dir = os.path.join(bench.scratch, f"crawl{n}")
            stats, makespan, resume_s, engine = _crawl(
                bench, mat, run_dir, tracer)
            rounds.extend(stats)
            makespans.append(makespan)
            resumes.append(resume_s)
            n += 1
        peak = bench.rss.stop()
        after = web.stats()
        fetched = sum(s.fetched for s in rounds)
        kinds: dict[str, int] = {}
        for s in rounds:
            for k, v in s.failure_kinds.items():
                kinds[k] = kinds.get(k, 0) + v
        transport = sum(v for k, v in kinds.items()
                        if k in ("timeout", "refused", "transport"))
        attempted, failed = _check_crawl(engine, mat)
        failed += transport
        if bench.traced:
            bench.layer["state.resume_s"] = _median(resumes)
            _crawl_layers(bench, tracer, engine, rounds, before, after,
                          kinds)
            bench.dump_spans("live_crawl")
    finally:
        bench.close()
        web.close()
    return bench.result(
        {"setup_s": setup_s, "urls_per_s": fetched / sum(makespans),
         "round_p50_s": _median([s.duration_s for s in rounds]),
         "peak_rss_mb": peak},
        failed == 0, attempted, failed)


def _crawl_layers(bench, tracer, engine, rounds, before, after,
                  kinds) -> None:
    m = bench.layer
    spans = tracer.spans
    m["seen.bloom_pass_share"] = _bloom_pass_share(tracer, spans)
    runs = [s for s in spans if s["name"] == "crawl.run"]
    resumed = runs[1::2]
    round_ids = set()
    for s in spans:
        if s["name"] == "crawl.round":
            round_ids |= tracer.subtree(s["id"])
    load = [_span_total(tracer, tracer.subtree(r["id"]) - round_ids,
                        "seen.load") for r in resumed]
    reads = [_span_total(tracer, tracer.subtree(r["id"]) - round_ids,
                         "snapshots.read") for r in resumed]
    m["seen.load_s"] = _median(load)
    m["snapshots.read_s"] = _median(reads)
    # rounds that did work (an empty round returns no stats)
    units = [s for s in spans if s["name"] == "crawl.round"
             and s.get("end") is not None and s.get("productive")]
    per = {"seen.add_s": "seen.add", "ordering.prefix_sum_s":
           "ordering.global_prefix_sum", "snapshots.write_s":
           "snapshots.write"}
    for metric, name in per.items():
        m[metric] = _median([_span_total(tracer, tracer.subtree(u["id"]),
                                         name) for u in units])
    files, nbytes = _snapshot_sizes(engine.store.run_dir)
    m["snapshots.files_per_round"] = _median(files)
    m["snapshots.bytes_per_round"] = _median(nbytes)
    requests = after["requests"] - before["requests"]
    conns = after["connections"] - before["connections"]
    m["livefetch.requests_per_connection"] = requests / conns if conns else 0.0
    m["livefetch.fetch_wall_s"] = (
        (after["busy_s"] - before["busy_s"]) / len(rounds) if rounds else 0.0)
    sent = sum(s.wave_size for s in rounds)
    m["livefetch.requests_per_fetch"] = requests / sent if sent else 0.0
    for kind in ("timeout", "refused", "transport", "non200"):
        m[f"livefetch.error_share.{kind}"] = (
            kinds.get(kind, 0) / requests if requests else 0.0)
    log_path = bench.stop()
    _unit_metrics(bench, EventLog(log_path), units)


def _snapshot_sizes(run_dir: str) -> tuple[list[int], list[int]]:
    """Files and bytes each committed round wrote, over all tables."""
    files: dict[str, int] = {}
    nbytes: dict[str, int] = {}
    for table in os.listdir(run_dir):
        tdir = os.path.join(run_dir, table)
        if not os.path.isdir(tdir):
            continue
        for snap in os.listdir(tdir):
            if not snap.startswith("round="):
                continue
            for dirpath, _, names in os.walk(os.path.join(tdir, snap)):
                for n in names:
                    files[snap] = files.get(snap, 0) + 1
                    nbytes[snap] = nbytes.get(snap, 0) + os.path.getsize(
                        os.path.join(dirpath, n))
    return list(files.values()), list(nbytes.values())
