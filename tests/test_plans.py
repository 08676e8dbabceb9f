"""Physical-plan quality gates: the properties that make the engine viable
at 100 TB are asserted on the optimized plans, not just trusted.

* predicate pushdown reaches the parquet scan (PushedFilters);
* column pruning keeps ReadSchema to what the query needs;
* the small dimension side of the fetch-as-join is BroadcastHashJoin
  (the 100 TB fact side must never shuffle for it);
* aggregations are map-side partial (partial_* before the Exchange);
* the big-wave frontier x pages join is a shuffle join ON THE JOIN KEY only
  (no extra exchanges).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from web_scraper_v1_spark import queries as Q

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark):
    df = Q.queries()["filter_predicate"](spark, SF)
    plan = plan_of(df)
    assert "PushedFilters:" in plan
    assert "o_totalprice" in plan.split("PushedFilters:")[1].split("\n")[0]


def test_column_pruning(spark):
    df = Q.queries()["scan_project"](spark, SF)
    plan = plan_of(df)
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "c_name" in read_schema
    # unused columns must not be read
    assert "c_nationkey" not in read_schema


def test_broadcast_join_small_dim(spark):
    df = Q.queries()["broadcast_join"](spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_partial_aggregation(spark):
    df = Q.queries()["groupby_agg"](spark, SF)
    plan = plan_of(df)
    # map-side combine before the exchange
    assert "partial_sum" in plan or "partial_count" in plan


def test_crawl_slice_broadcasts_wave(spark):
    """The politeness-bounded wave is broadcast against the corpus — the
    corpus side (100 TB at scale) must not shuffle for the fetch join."""
    df = Q.queries()["crawl_slice"](spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan


def test_unbounded_wave_is_never_broadcast(spark, tmp_path):
    """With no politeness budget the selected wave can be the ENTIRE
    pending frontier — the engine must NOT hint a broadcast of it (a
    config-dependent OOM at 10^10 URLs). Auto-broadcast is disabled here
    so any BroadcastExchange in the plan could only come from a hint."""
    from web_scraper_v1_spark.plans.crawl import CrawlEngine

    wave = spark.range(0, 1000).selectExpr(
        "concat('https://h', id % 7, '.com/p/', id) as canonical_url",
        "id as queue_seq",
    )
    pages = spark.range(0, 1000).selectExpr(
        "concat('https://h', id % 7, '.com/p/', id) as canonical_url",
        "cast(concat('body', id) as binary) as html",
    )
    unbounded = CrawlEngine(spark, str(tmp_path / "wj_unbounded"))
    bounded = CrawlEngine(spark, str(tmp_path / "wj_bounded"), host_budget=3)
    assert not unbounded.broadcast_wave
    assert bounded.broadcast_wave
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan_u = plan_of(unbounded._wave_join(pages, wave))
        plan_b = plan_of(bounded._wave_join(pages, wave))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastExchange" not in plan_u
    # the budget-bounded wave is still hint-broadcast (corpus never shuffles)
    assert "BroadcastHashJoin" in plan_b
    df = Q.queries()["anti_join_seen"](spark, SF)
    plan = plan_of(df)
    assert "LeftAnti" in plan


def _python_eval_nodes(df) -> list[str]:
    """Python-evaluation operators of ``df``'s physical plan, one per node."""
    tree = df._jdf.queryExecution().executedPlan().toString()
    return [
        line for line in tree.splitlines()
        if "ArrowEvalPython" in line or "BatchEvalPython" in line
    ]


def test_parse_runs_no_per_row_python(spark, tmp_path, monkeypatch, corpus_dir):
    """No per-row Python on the parse path: extraction is a native
    expression in both the bulk wave and the crawl round, so the wave's
    only Python node is the batch-vectorized ``parse_features_udf`` (and
    only when asked for), and the round's plans carry no Python parse."""
    from web_scraper_v1_spark.plans.crawl import CrawlEngine
    from web_scraper_v1_spark.plans.throughput import fetch_parse_wave
    from web_scraper_v1_spark.sources.corpus import read_pages, read_seeds

    seeds, pages = read_seeds(spark, corpus_dir), read_pages(spark, corpus_dir)
    with_features = _python_eval_nodes(
        fetch_parse_wave(spark, seeds, pages, parse_features=True)
    )
    assert len(with_features) == 1, with_features
    assert "ArrowEvalPython" in with_features[0]
    assert "parse_features_udf" in with_features[0]
    assert _python_eval_nodes(fetch_parse_wave(spark, seeds, pages)) == []

    # every plan a corpus round cuts its lineage at, the fetch+parse
    # task rows among them
    checkpointed = []
    df_type = type(pages)
    real = df_type.localCheckpoint

    def recording(self, *args, **kwargs):
        checkpointed.append(plan_of(self))
        return real(self, *args, **kwargs)

    monkeypatch.setattr(df_type, "localCheckpoint", recording)
    eng = CrawlEngine(spark, str(tmp_path / "round"), batch_size=30)
    assert eng.run(seeds, pages, max_rounds=1)
    parse_plans = [p for p in checkpointed if "user_agent" in p]
    assert parse_plans
    for plan in checkpointed:
        assert "parse_receiver_response_udf" not in plan
    for plan in parse_plans:
        assert "ArrowEvalPython" not in plan, plan


def test_global_prefix_sum_has_no_single_partition_stage(spark):
    """Trace sequencing must never execute a single-partition global sort:
    the prefix sum is range-partitioned + per-partition windows + a driver
    prefix of per-partition totals (operators/ordering.py)."""
    from web_scraper_v1_spark.operators import ordering
    from web_scraper_v1_spark.operators.ordering import global_prefix_sum

    df = spark.range(0, 10_000).selectExpr(
        "id as queue_seq", "cast(id % 3 as int) as priority",
        "cast(1 + id % 4 as int) as n_attempts",
    )
    out = global_prefix_sum(
        df, ("priority", "queue_seq"), F.col("n_attempts"), "_start",
        num_partitions=8,
    )
    plan = plan_of(out)
    assert "SinglePartition" not in plan
    assert "Window" in plan  # the per-partition windows are still windows

    # value parity vs the naive global-window cumsum
    rows = {
        (r.priority, r.queue_seq): r._start for r in out.collect()
    }
    ordered = sorted(rows, key=lambda t: t)
    acc = 0
    for prio, seq in ordered:
        assert rows[(prio, seq)] == acc, (prio, seq)
        acc += 1 + seq % 4
    ordering.release_cached()


def test_whole_stage_codegen_relational(spark):
    """The relational core runs inside whole-stage codegen spans (the
    formatted mode hides codegen ids under AdaptiveSparkPlan, so ask for
    the codegen explain explicitly)."""
    df = Q.queries()["groupby_agg"](spark, SF)
    df.collect()  # let AQE finalize stages
    executed = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark operators fused into WholeStageCodegen stage n
    assert "*(" in executed


def test_sessionize_single_shuffle(spark):
    """Sessionization's whole pipeline — lag window, running-sum window,
    (user_id, session_num) aggregation — must run on ONE exchange: the
    windows share the hash-by-user_id sort, and
    HashPartitioning(user_id) satisfies the aggregation's clustering on
    (user_id, session_num) (subset rule), so no second shuffle appears.
    At 100 TB the only data movement is the initial repartition by user."""
    plan = plan_of(Q.queries()["sessionize"](spark, SF))
    assert plan.count("Exchange (") == 1, plan
    # map-side partial aggregation before the final one
    assert "partial_min" in plan or "partial_count" in plan


def test_decontaminate_broadcasts_eval_side_only(spark):
    """Decontamination's train-side shingle stream must flow scan ->
    explode -> broadcast hash join with NO exchange before the join (the
    eval relation is the broadcast); the only data shuffle is the
    (train, eval) aggregation over actual contamination hits."""
    plan = plan_of(Q.queries()["decontaminate"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    # exactly one broadcast (eval shingles) and one shuffle (final agg)
    assert plan.count("BroadcastExchange (") == 1, plan
    assert plan.count("Arguments: hashpartitioning") == 1, plan
    # the shuffle is the aggregation's, fed by a partial aggregate
    assert "partial_count" in plan


def test_dedup_stream_batch_single_shuffle(spark):
    """The watermark-dedup batch twin moves data ONCE (hash by url for
    the collect_list agg); the greedy TTL fold runs over the per-url
    occurrence arrays with no further exchange — at 100 TB the operator
    costs one shuffle of (url, ts) pairs, nothing else."""
    plan = plan_of(Q.queries()["dedup_stream_batch"](spark, SF))
    assert plan.count("Exchange (") == 1, plan
    assert "partial_collect_list" in plan or "collect_list" in plan


def test_decontaminate_hashed_equals_string_plan(spark):
    """The xxhash64-shingle decontamination (the >=10^7-shingle
    eval-suite shape: 8 B/key broadcast instead of ~50 B strings) must
    return exactly the string plan's rows — hashing changes the join key
    width, never the values — and keep the same broadcast-eval-only
    plan shape with the hash computed before the join (no extra
    exchange)."""
    string_rows = sorted(
        tuple(r)
        for r in Q.queries()["decontaminate"](spark, SF).collect()
    )
    hashed_rows = sorted(
        tuple(r)
        for r in Q.queries()["decontaminate_hashed"](spark, SF).collect()
    )
    assert hashed_rows == string_rows
    assert len(hashed_rows) > 0

    plan = plan_of(Q.queries()["decontaminate_hashed"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("BroadcastExchange (") == 1, plan
    assert plan.count("Arguments: hashpartitioning") == 1, plan
    assert "xxhash64" in plan


def test_unigram_surprisal_token_stream_never_shuffles(spark):
    """The scoring pass reads the token stream once: vocab (TakeOrdered
    top-K) and the one-row total reach it as broadcasts, so the only
    exchanges are the map-side-combined token-count aggregation (model
    training) and the final (doc_id) aggregation — nothing repartitions
    the 100 TB token stream itself for scoring."""
    plan = plan_of(Q.queries()["unigram_surprisal"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial_count" in plan  # map-side combine before every exchange


def test_segment_dedup_single_scan(spark):
    """The corpus is tokenized and exploded ONCE: corpus-wide segment
    counts come from a count window over the segment partitioning, so
    the plan has exactly one parquet scan and two hash exchanges (seg,
    then doc_id) — no join-back re-scan, no cartesian shape."""
    plan = plan_of(Q.queries()["segment_dedup"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # formatted explain prints each node twice (tree + details): one
    # scan node == two mentions
    assert plan.count("Scan parquet") == 2, plan
    assert plan.count("Arguments: hashpartitioning") == 2, plan


def test_segment_dedup_hashed_exchange_key_width(spark):
    """The skew-guarded variant's exchanges are keyed on the 8-byte
    xxhash64(seg), never on the segment STRING: the string is hashed in
    the scan-side projection, counts are a map-side-partial groupBy (the
    reduce side of a boilerplate segment receives partial rows, not
    occurrences), and the join-back is an AQE-skew-splittable equi-join
    — no count window over raw segments anywhere."""
    plan = plan_of(Q.queries()["segment_dedup_hashed"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    # every hash exchange keys on seg_h or doc_id — none on seg#
    assert "hashpartitioning(seg#" not in plan, plan
    assert "hashpartitioning(seg_h#" in plan, plan
    # two-phase count: map-side partial before the exchange
    assert "partial_count" in plan, plan
    # the string variant's count window is gone from this plan
    assert "Window" not in plan, plan


def test_recrawl_delta_generation_join_on_key(spark):
    """The generation diff is a full-outer equi-join on the url key plus
    one tiny per-host aggregation — two exchanges of generation rows,
    one of host rows, nothing else."""
    plan = plan_of(Q.queries()["recrawl_delta"](spark, SF))
    assert "FullOuter" in plan, plan
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Arguments: hashpartitioning") == 3, plan


def test_registry_contract_consistency():
    """The driver-contract wiring cannot silently drift: every bench
    headline name resolves in the registry, every registered query has an
    oracle, and the driver contract is the crawl-system subset, which fits
    the driver harness's 50-query window, so every contract entry is
    checked every round whatever the export order."""
    import __spark_entry__ as E
    import bench

    qs = Q.queries()
    assert set(bench.HEADLINE) <= set(qs), set(bench.HEADLINE) - set(qs)
    assert set(Q.oracle_sql()) == set(qs)  # every query oracle-gated
    contract = E.queries()
    assert set(contract) == Q.CRAWL_SYSTEM <= set(qs)
    assert list(contract) == [n for n in qs if n in Q.CRAWL_SYSTEM]
    assert set(E.oracle_sql()) == set(contract)
    assert len(contract) <= 50, len(contract)


def test_every_package_module_is_reachable_from_an_entry_point():
    """No dead modules: importing the driver contract (which loads the
    whole query registry) and the crawl-path entry points (the engine, the
    bulk wave, both fetch sources — corpus and live HTTP — and the results
    stream) loads every ``.py`` file in the package. A module only a test
    or a lazy import reaches fails this. Runs in a fresh interpreter so
    modules loaded by earlier tests cannot mask a dead one."""
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    pkg = repo / "web_scraper_v1_spark"
    probe = (
        "import sys, __spark_entry__\n"
        "import web_scraper_v1_spark.plans.crawl\n"
        "import web_scraper_v1_spark.plans.throughput\n"
        "import web_scraper_v1_spark.sources.corpus\n"
        "import web_scraper_v1_spark.sources.livefetch\n"
        "import web_scraper_v1_spark.streaming.results_stream\n"
        "print('\\n'.join(sys.modules))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=repo,
        capture_output=True,
        text=True,
        check=True,
        timeout=120,
    ).stdout
    loaded = set(out.split())
    modules = set()
    for path in pkg.rglob("*.py"):
        parts = path.relative_to(repo).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        modules.add(".".join(parts))
    assert modules - loaded == set(), sorted(modules - loaded)


def test_no_unreferenced_top_level_names():
    """No orphaned definitions: every module-level function, class or
    assigned name in the package (dunders aside) is named somewhere in
    the repo's ``.py`` files outside its own definition. ``@_q`` registry
    queries are exempt: the registry reaches them by name. A helper left
    behind when its last caller is deleted fails this."""
    import ast
    import re
    from collections import Counter
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    word = re.compile(r"\w+")
    sources = {
        path: path.read_text(encoding="utf-8")
        for path in repo.rglob("*.py")
        if not any(
            p.startswith(".") for p in path.relative_to(repo).parts
        )
    }
    everywhere = Counter()
    for text in sources.values():
        everywhere.update(word.findall(text))

    def registered(node):
        return any(
            isinstance(d, ast.Call) and getattr(d.func, "id", None) == "_q"
            for d in getattr(node, "decorator_list", ())
        )

    orphans = []
    for path, text in sources.items():
        if repo / "web_scraper_v1_spark" not in path.parents:
            continue
        lines = text.splitlines()
        for node in ast.parse(text).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = getattr(node, "targets", None) or [node.target]
                names = [
                    n.id for t in targets for n in ast.walk(t)
                    if isinstance(n, ast.Name)
                ]
            else:
                continue
            if registered(node):
                continue
            first = min(
                [d.lineno for d in getattr(node, "decorator_list", ())]
                + [node.lineno]
            )
            own = Counter(
                word.findall("\n".join(lines[first - 1:node.end_lineno]))
            )
            for name in names:
                if name.startswith("__") and name.endswith("__"):
                    continue
                if everywhere[name] <= own[name]:
                    orphans.append(f"{path.relative_to(repo)}::{name}")
    assert orphans == [], orphans


def test_shuffle_shards_never_single_partition(spark):
    """The epoch reshuffle is a per-shard window sort behind one hash
    exchange on the shard key — never a global (SinglePartition) sort."""
    plan = plan_of(Q.queries()["shuffle_shards"](spark, SF))
    assert "SinglePartition" not in plan, plan
    assert "Window" in plan
    assert plan.count("Arguments: hashpartitioning") == 1, plan


def test_pack_sequences_single_shard_exchange(spark):
    """Sequence packing shares shuffle_shards' scale shape: one hash
    exchange on the shard key, per-shard window work, no global sort."""
    plan = plan_of(Q.queries()["pack_sequences"](spark, SF))
    assert "SinglePartition" not in plan, plan
    assert plan.count("Arguments: hashpartitioning") == 1, plan


def test_dsir_select_bucket_join_is_broadcast(spark):
    """The <=256-row bucket table must broadcast onto the compacted
    per-(doc,bucket) counts — a shuffle join here would re-exchange the
    whole feature stream at 100 TB — and the top-k is TakeOrdered, not a
    global sort. Both feature passes read the persisted compact frame
    (InMemoryTableScan), so the token stream is hashed exactly once."""
    plan = plan_of(Q.queries()["dsir_select"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "InMemoryTableScan" in plan, plan


def test_domain_frequency_cap_single_exchange(spark):
    """host_cnt and the md5 rank come from the SAME window partitioning:
    exactly one hash exchange (keyed by host), no groupBy-count +
    join-back double scan."""
    plan = plan_of(Q.queries()["domain_frequency_cap"](spark, SF))
    assert plan.count("Arguments: hashpartitioning") == 1, plan
    assert "CartesianProduct" not in plan, plan
    assert "Join" not in plan, plan


def test_dup_span_stats_no_joinback_rescan(spark):
    """Gram document-frequency is the dense_rank/max window pair, not a
    groupBy + join-back: the corpus tokenizes once into the persisted
    marked frame (both downstream reads are InMemoryTableScans) and the
    only joins left are the per-doc totals x runs merge (broadcastable
    at any scale: one row per doc)."""
    plan = plan_of(Q.queries()["dup_span_stats"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "InMemoryTableScan" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_mixture_token_budget_single_exchange(spark):
    """The greedy budget fill is one cumulative window per source
    partition: a single hash exchange, no global sort, no SinglePartition
    stage (the cut is per-source, never corpus-wide)."""
    plan = plan_of(Q.queries()["mixture_token_budget"](spark, SF))
    assert plan.count("Arguments: hashpartitioning") == 1, plan
    assert "SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dup_span_remove_no_rescan_no_smj(spark):
    """Duplication and ownership both come from windows over the one gram
    exchange (no groupBy + join-back); the cover join is an equi-join on
    (doc_id, tp) — no cartesian, no sort-merge join forced by a
    mis-shaped key, no single-partition stage."""
    plan = plan_of(Q.queries()["dup_span_remove"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_gopher_filter_single_stage_no_shuffle(spark):
    """Every Gopher statistic folds over the in-row token array: the whole
    filter is one codegen'd map over the scan — no exchange, no explode
    blow-up, no Python."""
    plan = plan_of(Q.queries()["gopher_quality_filter"](spark, SF))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "codegen id" in plan, plan


def test_quality_classifier_broadcast_model(spark):
    """Linear-model inference ships the 256-row weight table to the data:
    the weight join must be broadcast-hash (a shuffle join would
    re-exchange the whole compacted feature stream at 100 TB) and both
    aggregations map-side partial."""
    plan = plan_of(Q.queries()["quality_classifier"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_blocklist_filter_broadcasts_list_side(spark):
    """The blocklist joins the URL stream as broadcast-hash keyed by host
    — the 100 TB fact side must never shuffle for the cheapest cut in
    the pipeline."""
    plan = plan_of(Q.queries()["url_blocklist_filter"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_selection_manifest_composition_shape(spark):
    """The selection capstone composes five stages without inventing new
    shuffle shapes: broadcast joins for the small sides, window exchanges
    for cap/budget, no cartesian, no single-partition stage, and no
    sort-merge join forced anywhere."""
    plan = plan_of(Q.queries()["selection_manifest"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_bigram_surprisal_stream_never_shuffles_for_scoring(spark):
    """Like unigram_surprisal: scoring reaches the bigram stream only as
    broadcasts (top-K vocab via TakeOrdered, continuation counts, one-row
    total) — no sort-merge join repartitions the 100 TB stream."""
    plan = plan_of(Q.queries()["bigram_surprisal"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial_count" in plan, plan


def test_crawl_budget_alloc_broadcast_alloc_table(spark):
    """The allocation table returns to the frontier as a broadcast-hash
    join; the only corpus-wide exchange is the per-host selection window.
    SinglePartition appears only on host-cardinality/one-row tables (the
    largest-remainder rank over |hosts| rows), never on the corpus."""
    plan = plan_of(Q.queries()["crawl_budget_alloc"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_crawl_budget_alloc_largest_remainder_exact(spark):
    """Allocations match a pure-Python largest-remainder reference and sum
    to exactly B=200 — the exact-int64 div/mod arithmetic cannot drift."""
    rows = Q.queries()["crawl_budget_alloc"](spark, SF).collect()
    alloc_by_host = {}
    per_host_rns = {}
    for r in rows:
        alloc_by_host[r.host] = r.alloc
        per_host_rns.setdefault(r.host, []).append(r.rn)
    # python reference from the same docs table
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    import collections

    s = collections.Counter()
    n_docs = collections.Counter()
    for r in docs:
        host = r.doc_id % 37
        s[host] += len(r.text.strip().lower().split())
        n_docs[host] += 1
    S = sum(s.values())
    base = {h: (200 * v) // S for h, v in s.items()}
    rem = {h: (200 * v) % S for h, v in s.items()}
    leftover = 200 - sum(base.values())
    order = sorted(s, key=lambda h: (-rem[h], h))
    ref = {
        h: base[h] + (1 if i < leftover else 0)
        for i, h in enumerate(order)
    }
    assert sum(ref.values()) == 200
    # hosts absent from the result got a zero allocation; present hosts
    # carry exactly the reference allocation
    for h, a in alloc_by_host.items():
        assert a == ref[h], (h, a, ref[h])
    for h in set(ref) - set(alloc_by_host):
        assert ref[h] == 0, (h, ref[h])
    # each host keeps its first min(alloc, available) URLs, ranks 1..k
    for h, rns in per_host_rns.items():
        k = min(ref[h], n_docs[h])
        assert sorted(rns) == list(range(1, k + 1))
    assert sum(len(v) for v in per_host_rns.values()) == sum(
        min(ref[h], n_docs[h]) for h in ref
    )


def test_bigram_pairs_lambda_reads_bound_array(spark):
    """Regression gate for the O(tokens^2) inlining bug: the pair
    transform's element_at lambda must read the materialized `arr`
    attribute, never the split expression itself — inlined, every
    element access re-runs the regex tokenization (measured 13.8 s vs
    2.0 s warm at sf0.1)."""
    import re

    plan = plan_of(Q.queries()["bigram_surprisal"](spark, SF))
    assert "arr#" in plan, plan
    heads = re.findall(r"transform\(.*?lambdafunction", plan)
    assert heads and not any("split(" in h for h in heads), plan


def test_url_trap_detect_single_exchange(spark):
    """Trap counting and representative ranking share ONE hash exchange
    on (host, template) — the count window and the rank window must not
    each repartition."""
    plan = plan_of(Q.queries()["url_trap_detect"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, plan
    assert "hashpartitioning(host" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_frontier_compact_combinable_agg_no_window(spark):
    """Snapshot compaction folds latest-state-per-url with a map-side
    partial max_by AGGREGATE — never a row_number window (which would
    sort every url's generation run) and never more than the one
    url-keyed exchange."""
    plan = plan_of(Q.queries()["frontier_compact"](spark, SF))
    assert "Window" not in plan, plan
    assert "partial_max_by" in plan, plan
    assert "SinglePartition" not in plan, plan
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, plan


def test_hll_distinct_sketch_sized_exchanges(spark):
    """The HLL plan's aggregates are all map-side partial (the exchange
    carries register rows, never raw keys) and the exact-count
    comparison side joins back as a BROADCAST."""
    plan = plan_of(Q.queries()["hll_distinct"](spark, SF))
    assert "partial_max" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_sus_sample_no_single_partition_global_cumsum(spark):
    """The token-weighted systematic sampler's GLOBAL cumulative sum
    must ride the two-phase global_prefix_sum (range partition +
    per-bucket windows + driver offsets), never a global-ORDER-BY
    window: every Window is hash-partitioned, and the only
    SinglePartition exchange is the scalar corpus-total aggregate
    (whose exchange carries one partial-sum row per task — a one-row
    stat, scale-safe by construction)."""
    from web_scraper_v1_spark.operators import ordering

    plan = plan_of(Q.queries()["sus_sample"](spark, SF))
    assert plan.count("SinglePartition") == 1, plan
    assert "Window" in plan, plan
    assert "rangepartitioning" in plan, plan  # phase 1 of the prefix sum
    assert "hashpartitioning(_pid" in plan, plan  # phase 2 windows
    ordering.release_cached()


def test_rendezvous_shard_zero_shuffle(spark):
    """HRW assignment is a per-row array expression: the whole query
    (both the W=16 and W=20 argmaxes) must compile to a single scan
    stage with NO exchange of any kind."""
    df = Q.queries()["rendezvous_shard"](spark, SF)
    plan = plan_of(df)
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree, plan
    assert "Generate" not in tree, plan  # no explode either


def test_script_detect_zero_shuffle(spark):
    """Script classification is per-row regex arithmetic in-scan: the
    plan must contain no Exchange at all and stay in codegen."""
    plan = plan_of(Q.queries()["script_detect"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree, plan
    # '*' prefixes mark operators fused into a WholeStageCodegen stage
    assert "codegen id" in plan, plan


def test_wfq_schedule_single_host_exchange(spark):
    """WFQ's only exchange is the per-host cumulative window; wave
    assignment is arithmetic — no global sort, no SinglePartition."""
    plan = plan_of(Q.queries()["wfq_schedule"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, plan
    assert "hashpartitioning(host" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_soft404_single_scan_single_exchange(spark):
    """Dup-counting is a count window over the ONE (host, body-hash)
    exchange — a single corpus scan (no self-join that would re-pay the
    scan + md5 + phrase regex on a probe side), the url_trap_detect
    shape."""
    plan = plan_of(Q.queries()["soft404_detect"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, plan
    assert tree.count("Scan parquet") == 1, plan
    assert "hashpartitioning(host" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_canonical_select_argmax_aggregate_not_window(spark):
    """The per-cluster canonical argmax must be a map-side-combinable
    min(struct) aggregate; the only windows in the plan belong to the
    upstream component computation, never to a per-cluster sort of the
    labeled corpus (partial_min proves the combine)."""
    from web_scraper_v1_spark.operators import dedup as DD

    try:
        plan = plan_of(Q.queries()["canonical_select"](spark, SF))
        assert "partial_min" in plan, plan
        assert "SinglePartition" not in plan, plan
    finally:
        # plan construction executes the pair/component jobs, which
        # persist the posting-list frame — don't leak it into the rest
        # of the session (the ordering.release_cached() convention)
        DD.release_cached()


def test_ccnet_buckets_no_single_partition_rank(spark):
    """The global surprisal rank must ride the two-phase prefix sum
    (range partitioning), never a SinglePartition ORDER-BY window; the
    tercile count n arrives as a broadcast one-row aggregate."""
    from web_scraper_v1_spark.operators import ordering

    import re

    try:
        plan = plan_of(Q.queries()["ccnet_buckets"](spark, SF))
        # phase 1 + phase 2 of the prefix sum are present
        assert "rangepartitioning" in plan, plan
        assert "hashpartitioning(_pid" in plan, plan
        # the tercile count arrives broadcast
        assert "BroadcastExchange" in plan, plan
        # every SinglePartition exchange is a scalar/top-K aggregate
        # (vocab limit, n_total, n) — NONE may feed a Sort/Window pair
        # (that would be the global-ORDER-BY rank this test forbids)
        tree = plan.split("\n\n")[0]
        single_ids = {
            m.group(1)
            for m in re.finditer(r"\((\d+)\) Exchange", plan)
            if "SinglePartition"
            in plan.split(f"({m.group(1)}) Exchange")[1].split("(")[0]
        }
        lines = tree.split("\n")
        for i, ln in enumerate(lines):
            m = re.search(r"(?:Sort) \((\d+)\)", ln)
            if not m:
                continue
            # the exchange directly under a Sort must not be 1-partition
            for nxt in lines[i + 1 : i + 2]:
                em = re.search(r"Exchange \((\d+)\)", nxt)
                if em:
                    assert em.group(1) not in single_ids, plan
    finally:
        ordering.release_cached()


def test_canonical_link_collapse_single_scan_single_exchange(spark):
    """rel=canonical extraction is in-scan regex; the only exchange is
    the count window on canonical_url (the soft404 shape)."""
    plan = plan_of(Q.queries()["canonical_link_collapse"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, plan
    assert tree.count("Scan parquet") == 1, plan
    assert "SinglePartition" not in plan, plan


def test_runtime_bloom_filter_join_injects_on_selective_dim(spark):
    """Catalyst's runtime bloom-filter join (a free win the reference
    cannot express): a selective filter on the small side of a
    shuffle join injects might_contain(xxhash64(key)) into the fact
    scan, so at 100 TB most frontier rows are dropped before the
    exchange. Sandbox tables sit below the default creation/application
    size thresholds, so the test lowers them explicitly — at production
    scale the defaults fire on their own."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".creationSideThreshold": "100MB",
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        fact = spark.read.parquet(f"{SF}/lineitem.parquet")
        dim = spark.read.parquet(f"{SF}/orders.parquet").filter(
            F.col("o_totalprice") > 500000
        )
        j = fact.join(dim, fact.l_orderkey == dim.o_orderkey).select(
            "l_orderkey", "o_totalprice"
        )
        plan = plan_of(j)
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_skew_join_splits_hot_key_partitions(spark):
    """AQE's runtime skew-join handling (the second half of the north
    rule's skew story next to explicit salting): a hot join key must be
    re-planned as SortMergeJoin(skew=true) at runtime. Sandbox-scale
    inputs sit under the default skew thresholds, so the test lowers
    them; at 100 TB one hot host crosses the defaults on its own."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        left = (
            spark.range(0, 200000)
            .select((F.col("id") * 0).alias("k"), F.col("id").alias("v"))
            .union(
                spark.range(0, 20000).select(
                    (F.col("id") % 1000).alias("k"), F.col("id").alias("v")
                )
            )
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k").select(F.sum(F.col("v") + F.col("w")))
        j.collect()  # AQE re-plans at runtime; inspect the executed plan
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_containment_pairs_never_cartesian(spark):
    """The directed-containment candidate generation is a posting-list
    equi-join keyed by shingle — any corpus-side cartesian/nested-loop
    shape would be quadratic at scale."""
    plan = plan_of(Q.queries()["containment_dedup"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
