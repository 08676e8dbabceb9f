"""Crawl-order trace parity, seen-set equality, and checkpoint/resume.

The golden trace is the sequential reference-loop simulation
(fixtures.simulate_crawl — FIFO + batch barriers + retry-then-drop, per
SURVEY.md §7 hard part (a)); the engine must reproduce it exactly, and its
final URL-seen membership must equal the no-dedup reference run's
membership (north rule)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from web_scraper_v1_spark import fixtures as fx
from web_scraper_v1_spark.plans.crawl import CrawlEngine
from web_scraper_v1_spark.sources.corpus import (
    read_pages,
    read_robots,
    read_seeds,
)

TRACE_COLS = ["seq", "round", "identity_epoch", "url", "host", "attempt", "outcome"]


def _trace_df_to_rows(df) -> list[dict]:
    pdf = df.select(*TRACE_COLS).orderBy("seq").toPandas()
    return pdf.to_dict("records")


def _assert_trace_equal(engine_trace: list[dict], sim_trace: list[dict]):
    assert len(engine_trace) == len(sim_trace)
    for got, want in zip(engine_trace, sim_trace):
        assert got == want, f"\ngot:  {got}\nwant: {want}"


@pytest.fixture(scope="module")
def corpus_frames(spark, corpus_dir):
    return (
        read_seeds(spark, corpus_dir),
        read_pages(spark, corpus_dir),
        read_robots(spark, corpus_dir),
    )


@pytest.fixture(scope="module")
def py_fixtures():
    pages = fx.generate_pages(1000, 10)
    seeds = fx.generate_seeds(60, 1000, 10)
    robots = fx.generate_robots(10)
    return seeds, pages, robots


def test_trace_parity_reference_defaults(
    spark, tmp_path, corpus_frames, py_fixtures
):
    """batch_size=3, retry 3, no politeness, no robots — the transmitter
    constants (cmd/transmitter/main.go:176-177,160)."""
    seeds_df, pages_df, _ = corpus_frames
    seeds, pages, _ = py_fixtures
    eng = CrawlEngine(
        spark, str(tmp_path / "run1"), batch_size=3, retry_limit=3
    )
    eng.run(seeds_df, pages_df)
    sim = fx.simulate_crawl(seeds, pages, batch_size=3, retry_limit=3)
    _assert_trace_equal(_trace_df_to_rows(eng.trace()), sim.trace)
    # final URL-seen membership == reference (no-dedup) run membership
    ref = fx.simulate_crawl(seeds, pages, batch_size=3, retry_limit=3, dedup=False)
    engine_seen = {r.url for r in eng.seen().collect()}
    assert engine_seen == ref.seen_urls
    # results: every fetched url has byte-identical extracted text
    golden = {
        fx.canonicalize_url(p["url"]): p["text"] for p in pages
    }
    for row in eng.results().collect():
        want = golden[row.url]
        got = "\n".join([row.user_agent, row.ip_address, row.forwarded_host])
        assert got == want, row.url


def test_trace_parity_with_politeness_and_robots(
    spark, tmp_path, corpus_frames, py_fixtures
):
    seeds_df, pages_df, robots_df = corpus_frames
    seeds, pages, robots = py_fixtures
    eng = CrawlEngine(
        spark,
        str(tmp_path / "run2"),
        batch_size=10,
        retry_limit=3,
        host_budget=2,
    )
    eng.run(seeds_df, pages_df, robots=robots_df)
    sim = fx.simulate_crawl(
        seeds, pages, batch_size=10, retry_limit=3, host_budget=2, robots=robots
    )
    _assert_trace_equal(_trace_df_to_rows(eng.trace()), sim.trace)
    engine_seen = {r.url for r in eng.seen().collect()}
    assert engine_seen == sim.seen_urls


def test_trace_parity_with_crawl_delay_budgets(
    spark, tmp_path, corpus_frames, py_fixtures
):
    """North-rule crawl-delay token buckets: per-host per-round budget =
    max(1, floor(round_duration_s / robots.crawl_delay_s)) — heterogeneous
    across hosts (fixture delays are 1..5 s), over-budget tasks defer."""
    seeds_df, pages_df, robots_df = corpus_frames
    seeds, pages, robots = py_fixtures
    eng = CrawlEngine(
        spark,
        str(tmp_path / "run_delay"),
        batch_size=20,
        retry_limit=3,
        round_duration_s=4.0,
    )
    eng.run(seeds_df, pages_df, robots=robots_df)
    sim = fx.simulate_crawl(
        seeds, pages, batch_size=20, retry_limit=3, robots=robots,
        round_duration_s=4.0,
    )
    # the fixture delays must actually produce heterogeneous budgets
    budgets = {max(1, int(4.0 // r["crawl_delay_s"])) for r in robots}
    assert len(budgets) > 1
    _assert_trace_equal(_trace_df_to_rows(eng.trace()), sim.trace)
    engine_seen = {r.url for r in eng.seen().collect()}
    assert engine_seen == sim.seen_urls


def test_trace_parity_fractional_crawl_delay(
    spark, tmp_path, corpus_frames, py_fixtures
):
    """Sub-second / decimal crawl delays: both engine and simulator must
    compute the token budget as floor of the TRUE quotient. (Python's
    float floor-division diverges: 2.0 // 0.4 == 4.0 but
    floor(2.0 / 0.4) == 5 — a silent one-task-per-round trace divergence
    if either side uses //.)"""
    import math

    seeds_df, pages_df, _ = corpus_frames
    seeds, pages, _ = py_fixtures
    delays = [0.4, 0.25, 1.1, 0.4, 2.5, 0.2, 1.3, 0.4, 0.7, 3.0]
    robots = [
        {
            "host": f"host{h}.example.com",
            "crawl_delay_s": delays[h],
            "disallow_prefixes": [],
            "fetched_ts": fx.EPOCH,
        }
        for h in range(10)
    ]
    # the chosen delays must include a //-vs-floor(/) divergence
    assert any(
        int(2.0 // d) != math.floor(2.0 / d) for d in delays
    )
    from web_scraper_v1_spark.sources.corpus import ROBOTS_SCHEMA

    robots_df = spark.createDataFrame(robots, ROBOTS_SCHEMA)
    eng = CrawlEngine(
        spark,
        str(tmp_path / "run_fdelay"),
        batch_size=20,
        retry_limit=3,
        round_duration_s=2.0,
    )
    eng.run(seeds_df, pages_df, robots=robots_df)
    sim = fx.simulate_crawl(
        seeds, pages, batch_size=20, retry_limit=3, robots=robots,
        round_duration_s=2.0,
    )
    _assert_trace_equal(_trace_df_to_rows(eng.trace()), sim.trace)
    assert {r.url for r in eng.seen().collect()} == sim.seen_urls


def test_trace_parity_mixed_priorities(
    spark, tmp_path, corpus_frames, py_fixtures
):
    """Priority-aware ordering: seeds with priority 1 (every 17th fixture
    seed) run after priority-0 seeds within the same round, both in wave
    selection and in the trace sequence."""
    seeds_df, pages_df, _ = corpus_frames
    seeds, pages, _ = py_fixtures
    assert {s["priority"] for s in seeds} == {0, 1}
    eng = CrawlEngine(
        spark, str(tmp_path / "run_prio"), batch_size=30, host_budget=3,
    )
    eng.run(seeds_df, pages_df)
    sim = fx.simulate_crawl(
        seeds, pages, batch_size=30, host_budget=3
    )
    _assert_trace_equal(_trace_df_to_rows(eng.trace()), sim.trace)


def test_trace_parity_link_discovery(
    spark, tmp_path, corpus_frames, py_fixtures
):
    """Frontier growth (SURVEY.md §2 O2): fetched pages' Link: lines are
    extracted at parse time, canonicalized, deduped against everything ever
    enqueued, and enqueued for the next round at depth+1 — the trace must
    equal the simulator's and must actually contain discovered URLs."""
    seeds_df, pages_df, _ = corpus_frames
    seeds, pages, _ = py_fixtures
    eng = CrawlEngine(
        spark,
        str(tmp_path / "run_links"),
        batch_size=30,
        discover_links=True,
        max_depth=2,
    )
    stats = eng.run(seeds_df, pages_df)
    sim = fx.simulate_crawl(
        seeds, pages, batch_size=30, discover_links=True, max_depth=2
    )
    _assert_trace_equal(_trace_df_to_rows(eng.trace()), sim.trace)
    # discovery actually grew the frontier
    seed_cus = {fx.canonicalize_url(s["url"]) for s in seeds}
    traced = {t["url"] for t in sim.trace}
    assert traced - seed_cus, "no URLs were discovered — fixture too sparse"
    assert sum(st.discovered for st in stats) > 0
    assert {r.url for r in eng.seen().collect()} == sim.seen_urls
    # depth is live: committed frontier rows carry depth >= 1
    depths = {r.depth for r in eng.frontier().collect()}
    assert depths and depths <= {1, 2} and 1 in depths


def test_link_discovery_survives_invalid_utf8_body(spark, tmp_path):
    """A fetched body with an invalid UTF-8 byte between its field lines
    and its Link: lines: the round commits, the page is fetched, and its
    link is discovered (the byte reads as U+FFFD). The whole trace
    matches the simulator's."""
    from web_scraper_v1_spark.sources.corpus import PAGES_SCHEMA, SEEDS_SCHEMA

    pages = fx.generate_pages(40, 4)
    seeds = fx.generate_seeds(11, 40, 4)
    seeded = {fx.canonicalize_url(s["url"]) for s in seeds}
    page = next(
        p for p in pages
        if fx.canonicalize_url(p["url"]) in seeded
        and any(fx.canonicalize_url(t) not in seeded for t in p["outlinks"])
    )
    fields, sep, links = page["html"].partition(b"\n" + fx.LINK_PREFIX.encode())
    page["html"] = fields + b"\nfooter \xff" + sep + links
    cols = [f.name for f in PAGES_SCHEMA]
    pages_df = spark.createDataFrame(
        [tuple(p[c] for c in cols) for p in pages], PAGES_SCHEMA
    )
    seeds_df = spark.createDataFrame(
        [tuple(s[f.name] for f in SEEDS_SCHEMA) for s in seeds], SEEDS_SCHEMA
    )
    eng = CrawlEngine(
        spark,
        str(tmp_path / "run_bad_utf8"),
        batch_size=30,
        discover_links=True,
        max_depth=2,
    )
    stats = eng.run(seeds_df, pages_df)
    sim = fx.simulate_crawl(
        seeds, pages, batch_size=30, discover_links=True, max_depth=2
    )
    trace = _trace_df_to_rows(eng.trace())
    _assert_trace_equal(trace, sim.trace)
    cu = fx.canonicalize_url(page["url"])
    assert {"url": cu, "outcome": fx.OUTCOME_FETCHED} in [
        {"url": t["url"], "outcome": t["outcome"]} for t in trace
    ]
    traced = {t["url"] for t in trace}
    new_links = {fx.canonicalize_url(t) for t in page["outlinks"]} - seeded
    assert new_links <= traced
    assert sum(st.discovered for st in stats) > 0


def test_host_bucket_partitioning_prunes_and_preserves_parity(
    spark, tmp_path, corpus_frames, py_fixtures
):
    """host_buckets=B writes seen/processed/frontier snapshots partitioned
    by pmod(xxhash64(host), B); a per-host read carries a PartitionFilter
    (prunes to one bucket dir per snapshot instead of a full scan), and
    the crawl semantics are completely unchanged."""
    seeds_df, pages_df, _ = corpus_frames
    seeds, pages, _ = py_fixtures
    eng = CrawlEngine(
        spark,
        str(tmp_path / "run_hb"),
        batch_size=10,
        host_budget=2,
        host_buckets=8,
    )
    eng.run(seeds_df, pages_df)
    sim = fx.simulate_crawl(seeds, pages, batch_size=10, host_budget=2)
    _assert_trace_equal(_trace_df_to_rows(eng.trace()), sim.trace)
    assert {r.url for r in eng.seen().collect()} == sim.seen_urls

    # layout: bucket dirs inside each committed snapshot
    snap = sorted((tmp_path / "run_hb" / "processed").iterdir())[0]
    assert any(d.name.startswith("host_bucket=") for d in snap.iterdir())

    # pruned per-host read: partition filter present, values exact
    host = "host0.example.com"
    df = eng.host_processed(host)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "host_bucket" in pf and "dynamicpruning" not in pf
    want = {
        t["url"]
        for t in sim.trace
        if t["host"] == host and t["outcome"] in ("fetched", "dropped")
    }
    assert {r.url for r in df.collect()} == want


def test_resume_with_link_discovery(spark, tmp_path, corpus_frames, py_fixtures):
    """queue_seq assignment for discoveries survives resume (committed
    frontier snapshots + next_queue_seq lineage)."""
    seeds_df, pages_df, _ = corpus_frames
    kwargs = dict(batch_size=30, discover_links=True, max_depth=2)
    full = CrawlEngine(spark, str(tmp_path / "dfull"), **kwargs)
    full.run(seeds_df, pages_df)

    partial = CrawlEngine(spark, str(tmp_path / "dpart"), **kwargs)
    partial.run(seeds_df, pages_df, max_rounds=2)
    resumed = CrawlEngine(spark, str(tmp_path / "dpart"), **kwargs)
    resumed.run(seeds_df, pages_df)

    _assert_trace_equal(
        _trace_df_to_rows(resumed.trace()), _trace_df_to_rows(full.trace())
    )


def test_resume_from_checkpoint_identical_final_state(
    spark, tmp_path, corpus_frames, py_fixtures
):
    """Kill at round k, resume, final state identical to an uninterrupted
    run (north rule: resumable from Iceberg-style snapshots)."""
    seeds_df, pages_df, _ = corpus_frames
    seeds, pages, _ = py_fixtures

    full = CrawlEngine(spark, str(tmp_path / "full"), batch_size=5)
    full.run(seeds_df, pages_df)

    partial = CrawlEngine(spark, str(tmp_path / "partial"), batch_size=5)
    partial.run(seeds_df, pages_df, max_rounds=3)  # "crash" after round 2
    assert partial.store.last_round() == 2

    resumed = CrawlEngine(spark, str(tmp_path / "partial"), batch_size=5)
    stats = resumed.run(seeds_df, pages_df)
    assert stats and stats[0].round == 3  # picked up where it left off

    a = _trace_df_to_rows(full.trace())
    b = _trace_df_to_rows(resumed.trace())
    _assert_trace_equal(b, a)
    assert {r.url for r in full.seen().collect()} == {
        r.url for r in resumed.seen().collect()
    }


def test_orphan_snapshots_ignored_and_cleaned(spark, tmp_path, corpus_frames):
    """A crash mid-round leaves uncommitted snapshot dirs; readers never see
    them and the next engine instance removes them."""
    seeds_df, pages_df, _ = corpus_frames
    eng = CrawlEngine(spark, str(tmp_path / "orph"), batch_size=5)
    eng.run(seeds_df, pages_df, max_rounds=2)
    n_trace = eng.trace().count()
    # simulate a crash: write a snapshot dir without committing
    fake = seeds_df.limit(3).selectExpr(
        "cast(1 as long) seq", "cast(99 as int) round",
        "cast(99 as int) identity_epoch", "url",
        "url as host", "cast(1 as int) attempt", "'fetched' as outcome",
    )
    eng.store.write_snapshot(fake, "trace", 99)
    eng2 = CrawlEngine(spark, str(tmp_path / "orph"), batch_size=5)
    assert eng2.trace().count() == n_trace
    assert not (tmp_path / "orph" / "trace" / "round=00000099").exists()


@pytest.mark.parametrize("crash_at", ["publish", "commit"])
def test_crash_between_round_write_and_commit(
    spark, tmp_path, monkeypatch, corpus_frames, py_fixtures, crash_at
):
    """A crash after the round's single write and before its manifest
    commit — mid-publish (one table renamed out of the staging dir, the
    rest still staged) or after the whole publish — leaves debris that
    readers never see and that clean_orphans() removes; the resumed crawl
    then matches the simulator's trace, seen set and results."""
    import os

    from web_scraper_v1_spark.plans.crawl import TRACE_SCHEMA
    from web_scraper_v1_spark.sources.snapshots import SnapshotStore

    seeds_df, pages_df, _ = corpus_frames
    seeds, pages, _ = py_fixtures
    kwargs = dict(
        batch_size=30, discover_links=True, max_depth=2
    )
    run_dir = tmp_path / f"crash_{crash_at}"
    eng = CrawlEngine(spark, str(run_dir), **kwargs)
    eng.run(seeds_df, pages_df, max_rounds=1)
    n_trace = eng.trace().count()

    class Crash(Exception):
        pass

    spark.catalog.clearCache()
    with monkeypatch.context() as m:
        if crash_at == "commit":
            def commit_round(*args, **kwargs):
                raise Crash

            m.setattr(eng.store, "commit_round", commit_round)
        else:
            real_rename, renamed = os.rename, []

            def rename(src, dst):
                if renamed:
                    raise Crash
                renamed.append(dst)
                real_rename(src, dst)

            m.setattr(os, "rename", rename)
        with pytest.raises(Crash):
            eng.run(seeds_df, pages_df, max_rounds=2)
    # the crashed run released the seeds frame it cached
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    debris = sorted(run_dir.rglob("round=00000001"))
    assert any(p.parent.name == "trace" for p in debris)
    if crash_at == "publish":
        assert any(p.parent.name == "_staging" for p in debris)
    # readers see round 0 only
    store = SnapshotStore(str(run_dir))
    assert store.last_round() == 0
    assert store.read(spark, "trace", TRACE_SCHEMA).count() == n_trace
    removed = {os.path.normpath(p) for p in store.clean_orphans()}
    assert {os.path.normpath(str(p)) for p in debris} <= removed
    assert not list(run_dir.rglob("round=00000001"))

    resumed = CrawlEngine(spark, str(run_dir), **kwargs)
    stats = resumed.run(seeds_df, pages_df)
    assert stats[0].round == 1
    sim = fx.simulate_crawl(
        seeds, pages, batch_size=30, discover_links=True, max_depth=2
    )
    _assert_trace_equal(_trace_df_to_rows(resumed.trace()), sim.trace)
    assert {r.url for r in resumed.seen().collect()} == sim.seen_urls
    golden = {fx.canonicalize_url(p["url"]): p["text"] for p in pages}
    results = resumed.results().collect()
    assert sorted(r.url for r in results) == sorted(sim.seen_urls)
    for row in results:
        got = "\n".join([row.user_agent, row.ip_address, row.forwarded_host])
        assert got == golden[row.url], row.url


def test_round_job_budget(spark, tmp_path, monkeypatch, corpus_frames):
    """One corpus-mode round of the fixture crawl (link discovery on) runs
    within a fixed Spark job budget: the plan is computed once, the
    lineage is cut after fetch+parse, one prefix-sum pass sequences the
    trace and the discovered links, one write lands all five tables and
    the Bloom add is a driver-side insert. The round runs 19 jobs; the
    budget of 20 leaves one for AQE stage-timing jitter. The same round
    ran 35 jobs when each phase re-planned the lineage, each table had its
    own write, sequencing took two prefix-sum passes and the Bloom add its
    own treeAggregate."""
    seeds_df, pages_df, _ = corpus_frames
    # frames another test left cached would change which jobs
    # materialize what
    spark.catalog.clearCache()
    sc = spark.sparkContext
    group = "test-round-job-budget"
    real = CrawlEngine._run_round

    def grouped(self, *args, **kwargs):
        sc.setJobGroup(group, "one crawl round")
        try:
            return real(self, *args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(CrawlEngine, "_run_round", grouped)
    eng = CrawlEngine(
        spark, str(tmp_path / "jobs"), batch_size=30,
        discover_links=True, max_depth=2,
    )
    stats = eng.run(seeds_df, pages_df, max_rounds=1)
    assert stats and stats[0].discovered > 0
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= 20, n_jobs


def test_lineage_metrics_recorded(spark, tmp_path, corpus_frames):
    seeds_df, pages_df, _ = corpus_frames
    eng = CrawlEngine(spark, str(tmp_path / "lin"), batch_size=7)
    stats = eng.run(seeds_df, pages_df)
    rounds = eng.store.rounds()
    assert len(rounds) == len(stats) > 0
    for meta in rounds:
        assert meta["attempts"] == meta["seq_end"] - meta["seq_start"] + 1
        assert "partition_histogram" in meta
        assert meta["identity_epoch"] == meta["round"]
        assert meta["duration_s"] >= 0
    # seq ranges tile the trace contiguously
    seqs = sorted((m["seq_start"], m["seq_end"]) for m in rounds)
    for (s1, e1), (s2, _e2) in zip(seqs, seqs[1:]):
        assert s2 == e1 + 1
    assert seqs[0][0] == 0


def test_bloom_prefilter_exactness(spark):
    """Bloom must have zero false negatives; filter_new output must equal
    plain exact anti-join output."""
    from web_scraper_v1_spark.operators.seen import SeenSet

    base = spark.range(0, 5000).selectExpr(
        "xxhash64(concat('u', id)) as url_hash", "concat('u', id) as url"
    )
    cand = spark.range(2500, 9000).selectExpr(
        "xxhash64(concat('u', id)) as url_hash", "concat('u', id) as url"
    )
    with_bloom = SeenSet(spark, n_bits=1 << 16, use_bloom=True)
    with_bloom.load(base)
    exact = SeenSet(spark, use_bloom=False)
    exact.load(base)
    got = sorted(r.url for r in with_bloom.filter_new(cand).collect())
    want = sorted(r.url for r in exact.filter_new(cand).collect())
    assert got == want
    assert len(got) == 4000  # ids 5000..8999


def test_sharded_bloom_bounded_broadcasts_at_frontier_scale():
    """North-rule scale check (pure math + numpy, no Spark): at a 10^10-URL
    frontier no single broadcast / driver-merge unit may exceed the shard
    bound, and sharding must not change membership semantics."""
    import numpy as np

    from web_scraper_v1_spark.operators.seen import ShardedBloom

    n_shards, bits_per_shard = ShardedBloom.plan(
        n_keys=10_000_000_000, fpp=0.01, max_shard_bytes=128 << 20
    )
    assert bits_per_shard // 8 <= 128 << 20  # each broadcast <= 128 MiB
    total_bits = n_shards * bits_per_shard
    assert total_bits >= 9.5 * 10_000_000_000  # >= ~9.6 bits/key for 1% fpp
    assert n_shards >= 64

    # semantics: sharded == per-shard independent blooms, zero false negs
    sb = ShardedBloom(n_shards=8, bits_per_shard=1 << 12)
    keys = np.arange(0, 4000, dtype=np.int64) * 2_654_435_761
    sb.add(keys)
    assert sb.contains(keys).all()
    fresh = np.arange(4000, 8000, dtype=np.int64) * 2_654_435_761
    fp = sb.contains(fresh).mean()
    assert fp < 0.25  # 4k keys over 8 x 4096 bits: fpp small but nonzero


def test_cuckoo_plan_bounded_and_membership():
    """North-rule sizing for the keyed-delete option (pure numpy): at a
    10^10-URL frontier no per-shard table exceeds the broadcast bound, and
    membership has zero false negatives / bounded false positives."""
    import numpy as np

    from web_scraper_v1_spark.operators.seen import ShardedCuckoo

    n_shards, buckets = ShardedCuckoo.plan(
        n_keys=10_000_000_000, max_shard_bytes=128 << 20
    )
    assert buckets * ShardedCuckoo.SLOTS * 2 <= 128 << 20
    assert n_shards * buckets * ShardedCuckoo.SLOTS >= 10_000_000_000
    ck = ShardedCuckoo(n_shards=8, buckets_per_shard=1 << 10)
    keys = np.arange(0, 20_000, dtype=np.int64) * 2_654_435_761
    ck.add(keys)  # ~61% load across 8 x 1024 x 4 slots
    assert ck.contains(keys).all()  # zero false negatives
    fresh = np.arange(20_000, 60_000, dtype=np.int64) * 2_654_435_761
    assert ck.contains(fresh).mean() < 0.01  # fp ~ 8/65536 per key


def test_cuckoo_exactness_under_churn_with_deletes(spark):
    """The north rule names a 'bloom/cuckoo URL-seen set'; the cuckoo kind
    must support KEYED delete (recrawl invalidation of specific URLs
    mid-generation, which rotating Bloom generations cannot express) and
    stay exact vs the plain anti-join under insert/delete churn: after
    every round, filter_new == exact anti-join on the current seen table,
    and a deleted URL is immediately re-crawlable."""
    from web_scraper_v1_spark.operators.seen import SeenSet

    def urls(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "xxhash64(concat('u', id)) as url_hash", "concat('u', id) as url"
        )

    ss = SeenSet(
        spark, filter_kind="cuckoo", n_shards=8,
        cuckoo_buckets_per_shard=1 << 10,
    )
    ss.load(urls(0, 3000))
    exact = SeenSet(spark, use_bloom=False)
    exact.load(urls(0, 3000))

    # churn round 1: add a wave, then invalidate a slice for recrawl
    ss.add(urls(3000, 5000))
    exact.add(urls(3000, 5000))
    ss.delete_keys(urls(1000, 1500))
    exact._seen_df = exact._seen_df.join(
        urls(1000, 1500), ["url_hash", "url"], "left_anti"
    )

    cand = urls(500, 7000)
    got = sorted(r.url for r in ss.filter_new(cand).collect())
    want = sorted(r.url for r in exact.filter_new(cand).collect())
    assert got == want
    # the invalidated URLs are re-crawlable, the rest still blocked
    assert "u1200" in got and "u700" not in got and "u4200" not in got

    # churn round 2: re-crawl the invalidated slice, delete another
    ss.add(urls(1000, 1500))
    exact.add(urls(1000, 1500))
    ss.delete_keys(urls(4000, 4100))
    exact._seen_df = exact._seen_df.join(
        urls(4000, 4100), ["url_hash", "url"], "left_anti"
    )
    got2 = sorted(r.url for r in ss.filter_new(cand).collect())
    want2 = sorted(r.url for r in exact.filter_new(cand).collect())
    assert got2 == want2
    assert "u1200" not in got2 and "u4050" in got2


def test_bloom_prefilter_actually_skips_join_work(spark):
    from web_scraper_v1_spark.operators.seen import (
        SeenSet,
        bloom_contains_col,
    )

    base = spark.range(0, 2000).selectExpr(
        "xxhash64(concat('u', id)) as url_hash", "concat('u', id) as url"
    )
    ss = SeenSet(spark, n_bits=1 << 20, use_bloom=True)
    ss.load(base)
    cand = spark.range(2000, 42000).selectExpr(
        "xxhash64(concat('u', id)) as url_hash", "concat('u', id) as url"
    )
    flagged = cand.select(
        bloom_contains_col(spark, ss.bloom, F.col("url_hash")).alias("m")
    )
    n_maybe = flagged.filter("m").count()
    # all 40k candidates are new; the false-positive slice that reaches the
    # exact join must be small (1<<20 bits / 2k keys -> fpp << 1%)
    assert n_maybe < 400


def test_aimd_fold_cap_and_floor(spark):
    """The AIMD recurrence's saturation branches, forced directly: seven
    consecutive error rounds must cap at 60 s (1000*2^7 would be 128 s);
    seven healthy rounds must floor at 100 ms (1000-7*250 would be
    negative)."""
    from pyspark.sql import functions as F

    from web_scraper_v1_spark.queries import AIMD_FOLD_SQL

    rows = spark.sql(
        """
        SELECT 'all_err' AS host,
               transform(sequence(0, 6),
                         r -> struct(cast(r as int) as round,
                                     cast(10 as bigint) as err_cnt,
                                     cast(10 as bigint) as fetches))
                 AS rounds
        UNION ALL
        SELECT 'healthy',
               transform(sequence(0, 6),
                         r -> struct(cast(r as int) as round,
                                     cast(0 as bigint) as err_cnt,
                                     cast(10 as bigint) as fetches))
        """
    )
    got = {
        r["host"]: r["delays"]
        for r in rows.select(
            "host", F.expr(AIMD_FOLD_SQL).alias("delays")
        ).collect()
    }
    assert got["all_err"] == [2000, 4000, 8000, 16000, 32000, 60000, 60000]
    assert got["healthy"] == [750, 500, 250, 100, 100, 100, 100]
