"""Snapshot compaction and TTL-recrawl semantics (O16 parity: the TTL
cache's expiry + periodic cleanup, in_memory.go:51-109, as Iceberg-style
maintenance and an engine recrawl policy)."""

from __future__ import annotations

from pyspark.sql import types as T

from web_scraper_v1_spark.plans.crawl import CrawlEngine
from web_scraper_v1_spark.sources.corpus import read_pages, read_robots, read_seeds
from web_scraper_v1_spark.sources.snapshots import SnapshotStore

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.StringType(), False),
    ]
)


def test_compaction_preserves_contents_and_resumability(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "run"))
    for r in range(3):
        df = spark.createDataFrame([(r * 10 + i, f"v{r}-{i}") for i in range(5)], SCHEMA)
        path = store.write_snapshot(df, "seen", r)
        store.commit_round(r, {"seen": path}, meta={"n": 5})
    before = sorted(tuple(x) for x in store.read(spark, "seen", SCHEMA).collect())
    assert len(store.committed_paths("seen")) == 3

    # a live (lazy) reader built BEFORE compaction must stay valid after it
    live = store.read(spark, "seen", SCHEMA)

    dest = store.compact(spark, "seen", SCHEMA)
    assert dest is not None
    assert store.committed_paths("seen") == [dest]
    after = sorted(tuple(x) for x in store.read(spark, "seen", SCHEMA).collect())
    assert after == before
    # deferred deletion: the superseded dirs still exist, so the pre-compact
    # plan can still execute (mid-crawl compaction safety)
    assert sorted(tuple(x) for x in live.collect()) == before
    # round/lineage metadata untouched -> resume state preserved
    assert [m["round"] for m in store.rounds()] == [0, 1, 2]

    # a fresh reader (resume) cleans the now-unreferenced old dirs as orphans
    store2 = SnapshotStore(str(tmp_path / "run"))
    removed = store2.clean_orphans()
    assert len(removed) == 3 and all("round=" in p for p in removed)
    assert store2.clean_orphans() == []
    again = sorted(tuple(x) for x in store2.read(spark, "seen", SCHEMA).collect())
    assert again == before
    # idempotent no-op on a single-snapshot table
    assert store2.compact(spark, "seen", SCHEMA) is None


def test_compaction_of_host_bucket_partitioned_table(spark, tmp_path, corpus_dir):
    """compact() on a host-bucket-partitioned table must union the
    snapshot dirs correctly (multi-root partitioned reads), keep the
    partitioned layout in the compacted dir, and preserve both contents
    and the per-host partition-pruned read path."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from web_scraper_v1_spark.plans.crawl import PROCESSED_SCHEMA

    pages = read_pages(spark, corpus_dir)
    seeds = read_seeds(spark, corpus_dir).limit(40)
    eng = CrawlEngine(
        spark, str(tmp_path / "run_hbc"), batch_size=10, host_buckets=4
    )
    eng.run(seeds, pages)
    assert len(eng.store.committed_paths("processed")) > 1
    before = sorted(tuple(x) for x in eng.processed().collect())

    bucketed = T.StructType(
        list(PROCESSED_SCHEMA.fields)
        + [T.StructField("host_bucket", T.IntegerType(), True)]
    )
    dest = eng.store.compact(spark, "processed", bucketed)
    assert dest is not None
    # compacted dir keeps the bucket layout
    import os

    assert any(
        d.startswith("host_bucket=") for d in os.listdir(dest)
    )
    after = sorted(tuple(x) for x in eng.processed().collect())
    assert after == before
    # per-host pruned read still prunes post-compaction
    hp = eng.host_processed("host0.example.com")
    plan = hp._sc._jvm.PythonSQLUtils.explainString(
        hp._jdf.queryExecution(), "formatted"
    )
    assert "host_bucket" in plan.split("PartitionFilters:")[1].split("]")[0]
    assert hp.count() > 0


def test_reopen_with_mismatched_host_buckets_rejected(spark, tmp_path, corpus_dir):
    """A store written flat cannot be reopened bucketed (and vice versa):
    mixed layouts would read flat snapshots with host_bucket=null and the
    per-host pruned reader would silently drop their rows. The engine
    fails fast at open instead."""
    import pytest

    pages = read_pages(spark, corpus_dir)
    seeds = read_seeds(spark, corpus_dir).limit(6)
    run = str(tmp_path / "run_mismatch")
    CrawlEngine(spark, run, batch_size=10).run(seeds, pages)
    with pytest.raises(ValueError, match="host_buckets"):
        CrawlEngine(spark, run, batch_size=10, host_buckets=4)

    run_b = str(tmp_path / "run_mismatch_b")
    CrawlEngine(spark, run_b, batch_size=10, host_buckets=4).run(seeds, pages)
    with pytest.raises(ValueError, match="host_buckets"):
        CrawlEngine(spark, run_b, batch_size=10)
    # matching config reopens fine
    CrawlEngine(spark, run_b, batch_size=10, host_buckets=4)


def test_resume_skips_stream_rounds_in_lineage(spark, tmp_path, corpus_dir):
    """stream_to_snapshots commits rounds carrying only stream meta
    ({stream_table, batch_id, rows}) into the same store as engine crawl
    rounds; resume must take seq state from the latest ENGINE round while
    the round counter advances past the stream rounds."""
    pages = read_pages(spark, corpus_dir)
    seeds = read_seeds(spark, corpus_dir).limit(6)
    run = str(tmp_path / "run_streammix")
    eng = CrawlEngine(spark, run, batch_size=10)
    stats = eng.run(seeds, pages)
    last_engine = max(s.round for s in stats)

    # a stream batch lands after the crawl rounds (no engine keys)
    store = SnapshotStore(run)
    df = spark.createDataFrame([(1, "a")], SCHEMA)
    path = store.write_snapshot(df, "results_stream", last_engine + 3)
    store.commit_round(
        last_engine + 3,
        {"results_stream": path},
        meta={"stream_table": "results_stream", "batch_id": 0, "rows": 1},
    )

    eng2 = CrawlEngine(spark, run, batch_size=10)
    next_round, next_seq, _ = eng2._load_state()
    assert next_round == last_engine + 4  # past the stream round
    assert next_seq == max(s.seq_end for s in stats) + 1  # from engine round

    # a store holding ONLY stream rounds resumes with fresh seq state
    run2 = str(tmp_path / "run_streamonly")
    store2 = SnapshotStore(run2)
    p2 = store2.write_snapshot(df, "results_stream", 0)
    store2.commit_round(
        0, {"results_stream": p2},
        meta={"stream_table": "results_stream", "batch_id": 0, "rows": 1},
    )
    eng3 = CrawlEngine(spark, run2, batch_size=10)
    assert eng3._load_state() == (1, 0, None)


def test_ttl_recrawl_refetches_after_expiry(spark, tmp_path, corpus_dir):
    pages = read_pages(spark, corpus_dir)
    seeds = read_seeds(spark, corpus_dir).limit(6)
    engine = CrawlEngine(
        spark,
        str(tmp_path / "run_ttl"),
        batch_size=100,  # all seeds arrive in round 0
        recrawl_after=2,
    )
    engine.run(seeds, pages, robots=None, max_rounds=3)
    trace = engine.trace().collect()
    fetched = [r for r in trace if r.outcome == "fetched"]
    by_round = {}
    for r in fetched:
        by_round.setdefault(r.round, set()).add(r.url)
    # round 0 fetches; round 1 nothing pending; at round 2 the round-0
    # entries have aged out (round > r - ttl fails) and are refetched
    assert 0 in by_round and 2 in by_round
    assert by_round[2] == by_round[0]
    assert 1 not in by_round


def test_bloom_generations_keep_fpp_bounded_under_recrawl_churn(spark):
    """Deletable-filter requirement (north rule 'bloom/cuckoo'): under a
    long recrawl horizon, TTL-expired keys must actually LEAVE the
    approximate filter. With rotating generations, at most two window
    bitmaps are live and older ones are dropped whole, so the bit-fill
    (hence fpp) stays bounded; a non-rotating filter saturates
    monotonically."""
    import numpy as np

    from web_scraper_v1_spark.operators.seen import SeenSet

    ttl = 2
    rotating = SeenSet(spark, n_bits=1 << 15, use_bloom=True, ttl_rounds=ttl)
    eternal = SeenSet(spark, n_bits=1 << 15, use_bloom=True)

    def fill(ss):
        gens = ss._gens.values()
        bits = sum(
            int(np.unpackbits(g.bits2d.view(np.uint8)).sum()) for g in gens
        )
        words = sum(g.bits2d.size for g in gens)
        return bits / (words * 64)

    n_rounds, per_round = 12, 1500
    for r in range(n_rounds):
        batch = spark.range(r * per_round, (r + 1) * per_round).selectExpr(
            "xxhash64(concat('u', id)) as url_hash",
            "concat('u', id) as url",
        )
        rotating.expire(r)
        rotating.add(batch, round_id=r)
        eternal.add(batch)
        assert len(rotating._gens) <= 2  # live window spans <= 2 generations
    # the rotating filter's live bitmaps hold <= 2*ttl rounds of keys
    # (expected fill 1-exp(-5*3000/32768) ~ 0.37); the eternal one holds
    # all 12 rounds (~0.94, fpp -> useless)
    assert fill(rotating) < 0.5
    assert fill(eternal) > 0.85
    # zero false negatives: the newest generation contains its rounds' keys
    recent = spark.range(
        (n_rounds - 1) * per_round, n_rounds * per_round
    ).selectExpr("xxhash64(concat('u', id)) as k").toPandas()["k"]
    last_gen = rotating._gens[max(rotating._gens)]
    assert last_gen.contains(recent.to_numpy()).all()


def test_ttl_recrawl_trace_parity_over_long_horizon(spark, tmp_path, corpus_dir):
    """Recrawl correctness is unchanged by generation rotation: URLs
    refetch exactly every ttl rounds across several rotations."""
    pages = read_pages(spark, corpus_dir)
    seeds = read_seeds(spark, corpus_dir).limit(4)
    engine = CrawlEngine(
        spark,
        str(tmp_path / "run_ttl_long"),
        batch_size=100,
        recrawl_after=2,
    )
    engine.run(seeds, pages, robots=None, max_rounds=7)
    fetched = [r for r in engine.trace().collect() if r.outcome == "fetched"]
    by_round = {}
    for r in fetched:
        by_round.setdefault(r.round, set()).add(r.url)
    # fetches land exactly at rounds 0, 2, 4, 6 (every ttl), same URL set
    assert sorted(by_round) == [0, 2, 4, 6]
    assert by_round[2] == by_round[0] == by_round[4] == by_round[6]


def test_no_ttl_means_no_refetch(spark, tmp_path, corpus_dir):
    pages = read_pages(spark, corpus_dir)
    seeds = read_seeds(spark, corpus_dir).limit(6)
    engine = CrawlEngine(spark, str(tmp_path / "run_nottl"), batch_size=100)
    engine.run(seeds, pages, robots=None, max_rounds=6)
    fetched = [r for r in engine.trace().collect() if r.outcome == "fetched"]
    urls = [r.url for r in fetched]
    assert len(urls) == len(set(urls))  # each URL fetched at most once


def test_time_travel_read_as_of(spark, tmp_path):
    """Iceberg VERSION-AS-OF analog: read_as_of(r) sees exactly the
    snapshots rounds <= r committed; compaction expires that history and
    read_as_of then refuses loudly instead of answering wrong."""
    store = SnapshotStore(str(tmp_path / "run_tt"))
    for r in range(3):
        df = spark.createDataFrame(
            [(r * 10 + i, f"v{r}-{i}") for i in range(4)], SCHEMA
        )
        store.commit_round(
            r, {"seen": store.write_snapshot(df, "seen", r)}, meta={}
        )
    def keys(df):
        return sorted(row.k for row in df.collect())

    assert keys(store.read_as_of(spark, "seen", SCHEMA, 0)) == [0, 1, 2, 3]
    assert keys(store.read_as_of(spark, "seen", SCHEMA, 1)) == [
        0, 1, 2, 3, 10, 11, 12, 13,
    ]
    assert keys(store.read_as_of(spark, "seen", SCHEMA, 2)) == keys(
        store.read(spark, "seen", SCHEMA)
    )
    store.compact(spark, "seen", SCHEMA, delete_now=True)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="compacted/expired"):
        store.read_as_of(spark, "seen", SCHEMA, 1)


def test_rollback_then_resume_reproduces_reference_trace(
    spark, tmp_path, corpus_dir
):
    """The operations undo button: run a crawl to completion, roll the
    run back to round 1, resume — the resumed engine must re-crawl rounds
    2+ and land on the IDENTICAL final trace/seen state (same guarantee
    as crash-resume, but operator-initiated)."""
    from web_scraper_v1_spark import fixtures as fx
    from web_scraper_v1_spark.sources.snapshots import SnapshotStore as SS

    pages = read_pages(spark, corpus_dir)
    seeds = read_seeds(spark, corpus_dir).limit(12)
    run = str(tmp_path / "run_rb")
    eng = CrawlEngine(spark, run, batch_size=3, retry_limit=3)
    eng.run(seeds, pages)
    full = [
        tuple(r)
        for r in eng.trace().orderBy("seq").collect()
    ]
    assert {m["round"] for m in eng.store.rounds()} >= {0, 1, 2}

    store = SS(run)
    dropped = store.rollback(1)
    assert [m["round"] for m in store.rounds()] == [0, 1]
    assert all(m["round"] > 1 for m in dropped)
    # the dropped rounds' snapshot dirs are now orphans
    removed = SS(run).clean_orphans()
    assert removed

    eng2 = CrawlEngine(spark, run, batch_size=3, retry_limit=3)
    eng2.run(seeds, pages)
    resumed = [
        tuple(r)
        for r in eng2.trace().orderBy("seq").collect()
    ]
    assert resumed == full


def test_rollback_refuses_across_compaction(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "run_rbc"))
    for r in range(3):
        df = spark.createDataFrame([(r, f"v{r}")], SCHEMA)
        store.commit_round(
            r, {"seen": store.write_snapshot(df, "seen", r)}, meta={}
        )
    store.compact(spark, "seen", SCHEMA)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="across compaction"):
        store.rollback(1)
