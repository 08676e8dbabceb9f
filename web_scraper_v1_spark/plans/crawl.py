"""The crawl engine: a driver-side round loop where each round is one Spark
job pipeline — the declarative replacement for the reference's transmitter
loop (/root/reference/cmd/transmitter/main.go:173-218):

    frontier pending  (seeds ∪ discovered, ⟕anti processed,
                       sharded-Bloom-prefiltered)
      → robots broadcast-join (disallow prefixes + crawl_delay_s)
      → per-host window top-k ordered by (priority, queue_seq), budget =
        min(host_budget, crawl-delay token budget), salted vs skew
        [the plan: every pending row tagged selected | deferred | blocked,
         computed once]
      → "fetch" = semi-join of the page corpus against the wave (O7: the
         sandbox fetch is a join; a live fetch is pooled HTTP in
         mapInPandas), met by the wave in one left join
      → native extraction expression (O8, byte-identical)
      → retry expansion (O6: deterministic failures take retry_limit
         attempts, exhausted -> dropped)
        [the task rows: lineage cut by a local checkpoint — nothing after
         this point re-plans or re-runs the fetch]
      → one accounting aggregation (outcome counts, bytes, deferred)
      → link discovery (O2 frontier growth: Link: lines → canonicalize →
        dedup vs all-enqueued → next-round frontier rows at depth+1)
      → ONE prefix-sum pass over task rows ∪ fresh links: trace seqs and
        discovered queue_seqs together
      → ONE write of the trace / processed / seen / results / frontier
        snapshots, then the manifest commit
      → driver-side Bloom add of the round's keys

Batch barriers (queue.go:64-71 / worker_manager.go:131-138) become Spark
action boundaries: one committed round == one drained batch. The identity
epoch counter increments once per round where the reference rotates Tor
identity (main.go:201-218) — control plane only, recorded in lineage. Each
phase's jobs carry the description ``crawl r=<round> <phase>`` (phases
select/fetch, account, sequence, write, seen-add), so Spark's event log
names the phase of every job.

Crash safety / resume: all writes land as uncommitted snapshot dirs and are
published atomically by the manifest commit at the end of the round; a rerun
resumes from the last committed round and reproduces the identical final
state (pytest-gated).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from web_scraper_v1_spark.functions import urls as U
from web_scraper_v1_spark.functions.extraction import extract_receiver_response
from web_scraper_v1_spark.operators import ordering
from web_scraper_v1_spark.operators.frontier import (
    apply_robots,
    per_host_topk,
    prepare_seeds,
)
from web_scraper_v1_spark.operators.ordering import global_prefix_sum
from web_scraper_v1_spark.operators.seen import SeenSet
from web_scraper_v1_spark.sources.snapshots import TABLE_COL, SnapshotStore

TRACE_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("round", T.IntegerType(), False),
        T.StructField("identity_epoch", T.IntegerType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), True),
        T.StructField("attempt", T.IntegerType(), False),
        T.StructField("outcome", T.StringType(), False),
    ]
)

SEEN_SCHEMA = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("round", T.IntegerType(), False),
    ]
)

RESULTS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("user_agent", T.StringType(), True),
        T.StructField("ip_address", T.StringType(), True),
        T.StructField("forwarded_host", T.StringType(), True),
        T.StructField("round", T.IntegerType(), False),
    ]
)

PROCESSED_SCHEMA = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("round", T.IntegerType(), False),
        T.StructField("outcome", T.StringType(), False),
    ]
)

# the growing frontier (SURVEY.md §1.3 schema): seed tasks are derived
# deterministically from the seeds input each run; DISCOVERED tasks are
# committed here so queue_seq assignment survives resume
FRONTIER_COLS = (
    "queue_seq",
    "priority",
    "depth",
    "canonical_url",
    "url_hash",
    "host",
    "path",
    "arrival_round",
)

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("queue_seq", T.LongType(), False),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("canonical_url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), True),
        T.StructField("path", T.StringType(), True),
        T.StructField("arrival_round", T.IntegerType(), False),
    ]
)

# the columns of a round's single snapshot write: every table's, by name
# (a name shared by two tables has one type)
ROUND_LOG_FIELDS = {
    f.name: f.dataType
    for schema in (
        TRACE_SCHEMA, PROCESSED_SCHEMA, SEEN_SCHEMA, RESULTS_SCHEMA,
        FRONTIER_SCHEMA,
    )
    for f in schema.fields
}

# engine-side twin of fixtures.LINK_PREFIX link lines: one capture per
# ``Link: <url>`` body line (the parser ignores unknown prefixes, so link
# lines never affect byte-identical extraction)
LINK_LINE_RX = r"(?m)^Link: (.*)$"


@dataclass
class RoundStats:
    """One committed round's lineage. ``duration_s`` spans the round from
    its start up to just before the manifest commit: planning, fetch,
    parse, accounting, sequencing and the snapshot write. The commit and
    the Bloom add that follow it fall outside."""

    round: int
    wave_size: int
    fetched: int
    dropped: int
    robots_blocked: int
    deferred: int
    attempts: int
    bytes_fetched: int
    seq_start: int
    seq_end: int
    duration_s: float
    discovered: int = 0
    # failure-mode attribution (error_kind -> count): timeout/refused/
    # transport/non200 in live mode, miss in corpus mode, parse for
    # status-200 bodies the extractor rejected (job_processor.go:126-132)
    failure_kinds: dict = field(default_factory=dict)


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        run_dir: str,
        batch_size: int = 3,
        retry_limit: int = 3,
        host_budget: int | None = None,
        recrawl_after: int | None = None,
        round_duration_s: float | None = None,
        discover_links: bool = False,
        max_depth: int | None = None,
        host_buckets: int | None = None,
        fetcher=None,
    ):
        self.spark = spark
        self.store = SnapshotStore(run_dir)
        self.store.clean_orphans()
        self.batch_size = batch_size
        self.retry_limit = retry_limit
        self.host_budget = host_budget
        # TTL semantics (in_memory.go:51-61): a processed URL older than
        # ``recrawl_after`` rounds expires from the live seen view, so it
        # re-enters pending and is refetched — the engine's recrawl policy.
        # The Bloom rotates per-window GENERATIONS under this policy
        # (operators/seen.py): expired rounds' bits are dropped with their
        # generation, so the prefilter's fpp stays bounded over an
        # arbitrarily long recrawl horizon; exactness is preserved by the
        # exact join against the TTL-filtered live set either way.
        self.recrawl_after = recrawl_after
        # North-rule crawl-delay token buckets: when set, each host's
        # per-round budget is max(1, floor(round_duration_s /
        # robots.crawl_delay_s)) — a round models this many seconds of
        # politeness-limited fetching; combined with ``host_budget`` via min.
        self.round_duration_s = round_duration_s
        # Frontier growth (SURVEY.md §2 O2: "unionByName of new discoveries
        # into the frontier table"): fetched pages' ``Link:`` lines become
        # next-round tasks at depth+1; ``max_depth`` bounds the expansion.
        self.discover_links = discover_links
        self.max_depth = max_depth
        # Wave-join strategy (SURVEY.md §2 O7). The wave side of the
        # fetch-join is broadcast ONLY when a politeness budget provably
        # bounds it: with ``host_budget=k`` the wave is <= k rows per host.
        # With no budget the wave can be the ENTIRE pending frontier
        # (per_host_topk selects everything) — broadcasting that is a
        # driver/executor OOM at 10^10 URLs, so the unbounded config uses a
        # shuffle equi-join instead (the skinny-join shape of
        # plans/throughput.py; Spark's runtime bloom-filter join prunes the
        # corpus scan from the wave side). A real deployment would also
        # compare k * n_distinct_hosts against the broadcast threshold.
        self.broadcast_wave = host_budget is not None
        # Host-bucket partitioning (north rule: partitioning handled
        # explicitly): when set, the seen/processed/frontier snapshots are
        # written partitionBy(host_bucket = pmod(xxhash64(host), B)), so a
        # per-host reader (host_processed) prunes to 1/B of each snapshot's
        # files instead of full-scanning the table — at 10^10 URLs the
        # difference between listing one bucket directory and 10^10 rows.
        self.host_buckets = host_buckets
        # A store written with one partitioning cannot be reopened with
        # another: mixed flat/partitioned snapshot dirs would read the flat
        # rows with host_bucket=null, and host_processed's bucket-equality
        # filter would silently drop them from per-host history. Fail fast
        # instead (the Iceberg analog: partition-spec evolution is an
        # explicit migration, not an open-time flag flip).
        for table in ("seen", "processed", "frontier"):
            if not self.store.committed_paths(table):
                continue
            existing = self.store.partition_column(table)
            wanted = "host_bucket" if host_buckets else None
            if existing != wanted:
                raise ValueError(
                    f"store at {run_dir!r} has '{table}' snapshots "
                    f"partitioned by {existing!r} but the engine was opened "
                    f"with host_buckets={host_buckets!r}; reopen with the "
                    "matching config or compact/migrate the store first"
                )
        # Live-fetch seam (O7): ``fetcher`` maps the selected wave
        # DataFrame to (canonical_url, status, html, error_kind), with
        # error_kind set on every status != 200 row — e.g.
        # sources/livefetch.live_fetch over real HTTP. None = sandbox
        # fetch-as-join against the page corpus passed to run(). Either
        # way a missing/failed row (join miss or status != 200,
        # job_processor.go:130-132) retries then drops identically.
        self.fetcher = fetcher
        self.processed_set = SeenSet(spark, ttl_rounds=recrawl_after)

    # -- state ------------------------------------------------------------
    def _load_state(self) -> tuple[int, int, int | None]:
        """Returns (next_round, next_seq, next_queue_seq) from committed
        lineage (next_queue_seq None on a fresh run)."""
        rounds = self.store.rounds()
        if not rounds:
            return 0, 0, None
        # Stream batches committed by streaming.stream_to_snapshots
        # interleave with engine rounds in the same store but carry only
        # {stream_table, batch_id, rows} meta — resume state must come
        # from the latest round that has engine keys, while the round
        # counter still advances past stream rounds.
        next_round = max(m["round"] for m in rounds) + 1
        engine_rounds = [m for m in rounds if "seq_end" in m]
        if not engine_rounds:
            return next_round, 0, None
        last = max(engine_rounds, key=lambda m: m["round"])
        return next_round, last["seq_end"] + 1, last.get("next_queue_seq")

    # seen/processed/frontier are host-bucket-partitioned when
    # self.host_buckets is set; general readers drop the partition column,
    # per-host readers (host_processed) prune on it instead
    def _bucket_expr(self, host_col):
        return F.pmod(F.xxhash64(host_col), F.lit(self.host_buckets)).cast(
            "int"
        )

    def _bucketed_schema(self, schema: T.StructType) -> T.StructType:
        return T.StructType(
            list(schema.fields)
            + [T.StructField("host_bucket", T.IntegerType(), True)]
        )

    def _read_bucketed(self, table: str, schema: T.StructType) -> DataFrame:
        if not self.host_buckets:
            return self.store.read(self.spark, table, schema)
        return self.store.read(
            self.spark, table, self._bucketed_schema(schema)
        ).drop("host_bucket")

    def trace(self) -> DataFrame:
        return self.store.read(self.spark, "trace", TRACE_SCHEMA)

    def seen(self) -> DataFrame:
        return self._read_bucketed("seen", SEEN_SCHEMA)

    def results(self) -> DataFrame:
        return self.store.read(self.spark, "results", RESULTS_SCHEMA)

    def processed(self) -> DataFrame:
        return self._read_bucketed("processed", PROCESSED_SCHEMA)

    def host_processed(self, host: str) -> DataFrame:
        """Per-host processed history WITHOUT a full table scan: the
        host_bucket partition filter (constant-folded from the literal
        host) prunes the read to one bucket directory per snapshot; the
        exact host equality then filters within the bucket. Falls back to
        a plain filtered scan when bucketing is off."""
        if not self.host_buckets:
            df = self.store.read(self.spark, "processed", PROCESSED_SCHEMA)
            return df.filter(U.host(F.col("url")) == host)
        df = self.store.read(
            self.spark, "processed", self._bucketed_schema(PROCESSED_SCHEMA)
        )
        return (
            df.filter(F.col("host_bucket") == self._bucket_expr(F.lit(host)))
            .filter(U.host(F.col("url")) == host)
            .drop("host_bucket")
        )

    def frontier(self) -> DataFrame:
        """Committed DISCOVERED frontier rows (seed rows are re-derived
        from the seeds input each run)."""
        return self._read_bucketed("frontier", FRONTIER_SCHEMA)

    def _processed_live(self, r: int) -> DataFrame:
        """The seen view effective for round ``r``: everything processed,
        minus TTL-expired rows when a recrawl policy is set."""
        df = self.processed()
        if self.recrawl_after is not None:
            df = df.filter(F.col("round") > r - self.recrawl_after)
        return df.select("url_hash", "url")

    # -- run ---------------------------------------------------------------
    def run(
        self,
        seeds: DataFrame,
        pages: DataFrame | None = None,
        robots: DataFrame | None = None,
        max_rounds: int = 10_000,
    ) -> list[RoundStats]:
        if pages is None and self.fetcher is None:
            raise ValueError("need a pages corpus or a fetcher")
        prepared = (
            prepare_seeds(seeds, self.batch_size)
            .select(*FRONTIER_COLS)
            .cache()
        )
        # released on every exit: a round that raises must not leave the
        # seeds frame in the session's cache
        try:
            max_arrival = (
                prepared.agg(F.max("arrival_round")).collect()[0][0] or 0
            )
            # the fetch universe, canonical-keyed; urls are unique by
            # corpus construction (one row per page). With a live fetcher
            # the corpus is the network — pages is unused.
            pages_prepared = None
            if pages is not None:
                pages_prepared = pages.select(
                    U.canonicalize(F.col("url")).alias("canonical_url"),
                    F.col("html"),
                )

            next_round, next_seq, next_queue_seq = self._load_state()
            if next_queue_seq is None:
                # enqueue counter starts after the raw seed ordinals (dup
                # seeds consume ordinals too — the simulator's enumerate
                # order)
                next_queue_seq = seeds.count() if self.discover_links else 0
            if self.discover_links and next_round > 0:
                m = (
                    self.frontier().agg(F.max("arrival_round")).collect()[0][0]
                )
                if m is not None:
                    max_arrival = max(max_arrival, m)
            self.processed_set.load(
                self._processed_live(next_round), round_id=next_round
            )

            stats: list[RoundStats] = []
            r = next_round
            while r < max_rounds:
                if r != next_round:
                    # refresh the exact seen side for THIS round from
                    # committed snapshots (keeps the logical plan flat across
                    # rounds, and applies TTL expiry even across empty
                    # rounds); the bloom is maintained incrementally inside
                    # _run_round, and expired generations are dropped here
                    # (deletable-filter path)
                    self.processed_set.set_exact(self._processed_live(r))
                    self.processed_set.expire(r)
                enqueued_all = prepared
                if self.discover_links:
                    enqueued_all = prepared.unionByName(self.frontier())
                pending = self.processed_set.filter_new(
                    enqueued_all.filter(
                        F.col("arrival_round") <= F.lit(r)
                    ).withColumn("url", F.col("canonical_url"))
                )
                st = self._run_round(
                    r, next_seq, pending, pages_prepared, robots,
                    enqueued_all=enqueued_all, next_queue_seq=next_queue_seq,
                )
                if st is None:
                    if r > max_arrival and self.recrawl_after is None:
                        break
                    # empty round before all seeds have arrived (or between
                    # a fetch and its TTL expiry under a recrawl policy):
                    # commit nothing, advance; with recrawl_after set,
                    # max_rounds is the crawl horizon (matches the
                    # simulator's empty-batch no-op)
                    r += 1
                    continue
                stats.append(st)
                next_seq = st.seq_end + 1
                next_queue_seq += st.discovered
                if st.discovered:
                    max_arrival = max(max_arrival, r + 1)
                r += 1
            return stats
        finally:
            prepared.unpersist()

    def _wave_join(
        self, pages_prepared: DataFrame | None, selected: DataFrame
    ) -> DataFrame:
        """The fetch (O7), met by the wave: every selected row, plus html,
        page_bytes, ``_ok`` and ``error_kind`` from its fetch row (null
        when it has none — absent from the corpus, or dropped by a custom
        fetcher). ``_ok`` marks a usable response (a corpus hit, or a live
        status 200); ``error_kind`` attributes a live failure (timeout |
        refused | transport | non200 — the reference logs the error class,
        job_processor.go:126-132).

        Corpus mode fetches by a semi-join of the corpus against the
        wave's keys, live mode by mapping the wave through the fetcher.
        Both the wave's keys and the fetch rows are broadcast only when
        ``self.broadcast_wave`` (see __init__): the corpus never shuffles,
        and otherwise every join shuffles on canonical_url (the runtime
        bloom-filter join prunes the corpus scan from the wave side)."""
        if self.fetcher is None:
            keys = selected.select("canonical_url")
            fetched = pages_prepared.join(
                F.broadcast(keys) if self.broadcast_wave else keys,
                "canonical_url",
                "left_semi",
            ).select(
                "canonical_url",
                "html",
                F.lit(True).alias("_ok"),
                F.lit(None).cast("string").alias("error_kind"),
            )
        else:
            # one partition per task slot, each host's URLs in one
            # partition: a task fetches its hosts at once but each host's
            # URLs one at a time, so no host has two requests in flight
            fetched = self.fetcher(
                selected.repartition(
                    self.spark.sparkContext.defaultParallelism, "host"
                )
            )
            ok = F.col("status") == F.lit(200)
            fetched = fetched.select(
                "canonical_url",
                "html",
                ok.alias("_ok"),
                F.when(~ok, F.col("error_kind")).alias("error_kind"),
            )
        fetched = fetched.withColumn("page_bytes", F.octet_length("html"))
        if not self.broadcast_wave:
            return selected.join(fetched, "canonical_url", "left")
        # a bounded wave parses in one partition per task slot: a few
        # rows need no more tasks than there are slots
        slots = self.spark.sparkContext.defaultParallelism
        return selected.coalesce(slots).join(
            F.broadcast(fetched), "canonical_url", "left"
        )

    def _run_round(
        self,
        r: int,
        seq_base: int,
        pending: DataFrame,
        pages_prepared: DataFrame | None,
        robots: DataFrame | None,
        enqueued_all: DataFrame | None = None,
        next_queue_seq: int = 0,
    ) -> RoundStats | None:
        try:
            return self._round_body(
                r, seq_base, pending, pages_prepared, robots, enqueued_all,
                next_queue_seq,
            )
        finally:
            self.spark.sparkContext.setJobDescription(None)
            ordering.release_cached()

    def _round_body(
        self, r, seq_base, pending, pages_prepared, robots, enqueued_all,
        next_queue_seq,
    ) -> RoundStats | None:
        t0 = time.monotonic()
        sc = self.spark.sparkContext

        def phase(name: str) -> None:
            # names each job in Spark's event log by its round and phase
            sc.setJobDescription(f"crawl r={r} {name}")

        # -- plan: robots, then the per-host top-k wave, computed ONCE. One
        # locally checkpointed frame holds every pending row with its state
        # (selected | deferred | blocked); the branches below are filters
        # of it and never re-plan its lineage.
        phase("select/fetch")
        checked = apply_robots(pending, robots)
        budget_col = None
        if self.round_duration_s is not None:
            # crawl-delay token budget, constant per host (null delay ->
            # null -> unlimited from this term; host_budget still caps)
            checked = checked.withColumn(
                "_budget",
                F.when(
                    F.col("crawl_delay_s").isNotNull(),
                    F.greatest(
                        F.lit(1),
                        F.floor(
                            F.lit(float(self.round_duration_s))
                            / F.col("crawl_delay_s")
                        ).cast("int"),
                    ),
                ),
            )
            budget_col = "_budget"
        ranked = per_host_topk(
            checked.filter(~F.col("robots_blocked")),
            self.host_budget,
            order_cols=("priority", "queue_seq"),
            budget_col=budget_col,
        )
        task_cols = (
            "queue_seq", "priority", "depth", "canonical_url", "url_hash",
            "host",
        )
        planned = (
            ranked.select(
                *task_cols,
                F.when(F.col("selected"), F.lit("selected"))
                .otherwise(F.lit("deferred"))
                .alias("_state"),
            )
            .unionByName(
                checked.filter(F.col("robots_blocked")).select(
                    *task_cols, F.lit("blocked").alias("_state")
                )
            )
            .localCheckpoint(eager=False)
        )
        selected = planned.filter(F.col("_state") == "selected")

        # -- fetch + parse, then cut the lineage: every later action plans
        # over this flat frame, and a live fetch can never be re-sent by a
        # re-planned action or an evicted cache.
        joined = self._wave_join(pages_prepared, selected)
        r_col = F.col("r")
        hit = F.coalesce(F.col("_ok"), F.lit(False))
        ok = hit & ~r_col["parse_error"]
        # a failure finalizes after retry_limit attempts (deterministic
        # sandbox: every retry fails identically), worker.go:81-95
        fetch_rows = joined.withColumn(
            "r", extract_receiver_response(F.col("html"))
        ).select(
            *task_cols,
            F.when(ok, F.lit("fetched"))
            .otherwise(F.lit("failing"))
            .alias("outcome_kind"),
            F.when(ok, F.lit(1))
            .otherwise(F.lit(self.retry_limit))
            .alias("n_attempts"),
            r_col["user_agent"].alias("user_agent"),
            r_col["ip_address"].alias("ip_address"),
            r_col["forwarded_host"].alias("forwarded_host"),
            F.when(hit, F.col("page_bytes")).alias("page_bytes"),
            # corpus mode: a miss has one cause, absence from the corpus
            F.when(hit, F.when(r_col["parse_error"], F.lit("parse")))
            .otherwise(
                F.coalesce(
                    "error_kind",
                    F.lit("miss" if self.fetcher is None else "transport"),
                )
            )
            .alias("error_kind"),
            # outlink discovery source: JVM-side regex over the body (link
            # lines are ignored by the byte-parity extractor); an invalid
            # UTF-8 sequence reads as U+FFFD, as in the extractor
            *(
                [
                    F.regexp_extract_all(
                        F.make_valid_utf8(F.col("html").cast("string")),
                        F.lit(LINK_LINE_RX),
                        1,
                    ).alias("outlinks")
                ]
                if self.discover_links
                else []
            ),
        )
        blocked_rows = planned.filter(F.col("_state") == "blocked").select(
            *task_cols,
            F.lit("blocked").alias("outcome_kind"),
            F.lit(1).alias("n_attempts"),
        )
        task_rows = fetch_rows.unionByName(
            blocked_rows, allowMissingColumns=True
        )
        if self.broadcast_wave:
            # every later job over the flat frame runs this few tasks
            task_rows = task_rows.coalesce(sc.defaultParallelism)
        task_rows = task_rows.localCheckpoint(eager=True)

        # -- ONE accounting aggregation: outcome counts, attempt and byte
        # sums, the per-partition histogram and the deferred count from a
        # single grouped collect over (kind, partition) — <= kinds x
        # partitions rows, driver-tiny.
        phase("account")
        accounting = task_rows.select(
            "outcome_kind",
            "error_kind",
            F.col("n_attempts").cast("long").alias("att"),
            F.coalesce("page_bytes", F.lit(0)).cast("long").alias("bytes"),
        ).unionByName(
            planned.filter(F.col("_state") == "deferred").select(
                F.lit("deferred").alias("outcome_kind"),
                F.lit(None).cast("string").alias("error_kind"),
                F.lit(0).cast("long").alias("att"),
                F.lit(0).cast("long").alias("bytes"),
            )
        )
        agg = (
            accounting.groupBy(
                "outcome_kind",
                "error_kind",
                F.spark_partition_id().alias("pid"),
            )
            .agg(
                F.count("*").alias("n"),
                F.sum("att").alias("att"),
                F.sum("bytes").alias("bytes"),
            )
            .collect()
        )
        by_kind: dict[str, int] = {}
        failure_kinds: dict[str, int] = {}
        part_hist: dict[str, int] = {}
        n_attempts = n_bytes = 0
        for row in agg:
            by_kind[row.outcome_kind] = by_kind.get(row.outcome_kind, 0) + row.n
            if row.error_kind is not None:
                failure_kinds[row.error_kind] = (
                    failure_kinds.get(row.error_kind, 0) + row.n
                )
            if row.outcome_kind != "deferred":
                part_hist[str(row.pid)] = (
                    part_hist.get(str(row.pid), 0) + row.n
                )
                n_attempts += row.att
                n_bytes += row.bytes
        n_deferred = by_kind.get("deferred", 0)
        n_fetched = by_kind.get("fetched", 0)
        n_dropped = by_kind.get("failing", 0)
        n_blocked = by_kind.get("blocked", 0)
        n_tasks = n_fetched + n_dropped + n_blocked
        if n_tasks == 0:
            return None

        # -- sequencing, ONE prefix-sum pass: the round's task rows (kind
        # 0, (priority, queue_seq) order, each occupying n_attempts
        # consecutive trace seqs) and its freshly discovered links (kind
        # 1, parent-trace order, one enqueue slot each) share a global
        # exclusive prefix sum, computed shuffle-parallel
        # (operators/ordering.py — no single-partition sort even when the
        # wave is the whole unbudgeted frontier). The per-kind totals give
        # the discovery count.
        phase("sequence")
        seq_in = task_rows.select(
            "*",
            F.lit(0).alias("_kind"),
            F.col("priority").alias("_o1"),
            F.col("queue_seq").alias("_o2"),
            F.lit(0).alias("_o3"),
            F.col("n_attempts").alias("_weight"),
        )
        if self.discover_links:
            seq_in = seq_in.drop("outlinks").unionByName(
                self._discover(task_rows, enqueued_all),
                allowMissingColumns=True,
            )
        prefixed, totals = global_prefix_sum(
            seq_in,
            ("_kind", "_o1", "_o2", "_o3"),
            F.col("_weight"),
            "_start",
            totals_by="_kind",
        )
        n_discovered = totals.get(1, 0)

        # -- the round's five tables, written by ONE Spark write (invisible
        # until the manifest commit below). One projection turns each
        # sequenced row into its output rows — n_attempts trace rows plus a
        # processed/seen/results row for a task, a frontier row for a link
        # — as superset-schema structs, exploded into one frame; seen/
        # processed/frontier are host-bucket-partitioned when enabled. The
        # projection is SQL text: one planner call instead of a few hundred
        # Column calls, each a driver round trip.
        phase("write")
        bucketed = ("processed", "seen", "frontier")
        if self.host_buckets:
            prefixed = prefixed.select(
                "*",
                self._bucket_expr(U.host(F.col("canonical_url"))).alias(
                    "_url_bucket"
                ),
                self._bucket_expr(F.col("host")).alias("_host_bucket"),
            )

        def row(table: str, bucket: str = "NULL", **cols: str) -> str:
            fields = [f"'{TABLE_COL}', '{table}'"] + [
                f"'{n}', CAST({cols.get(n, 'NULL')} AS {t.simpleString()})"
                for n, t in ROUND_LOG_FIELDS.items()
            ]
            if self.host_buckets:
                fields.append(f"'host_bucket', CAST({bucket} AS INT)")
            return f"named_struct({', '.join(fields)})"

        outcome = (
            "CASE WHEN outcome_kind = 'fetched' THEN 'fetched'"
            " WHEN outcome_kind = 'blocked' THEN 'robots_blocked'"
        )
        trace = row(
            "trace",
            seq=f"{seq_base} + _start + a - 1",
            round=str(r),
            identity_epoch=str(r),
            url="canonical_url",
            host="host",
            attempt="a",
            outcome=f"{outcome} WHEN a < {self.retry_limit} THEN 'failed'"
            " ELSE 'dropped' END",
        )
        tasks = [
            row(
                "processed", "_url_bucket", url_hash="url_hash",
                url="canonical_url", round=str(r),
                outcome=f"{outcome} ELSE 'dropped' END",
            ),
            "IF(outcome_kind = 'fetched', "
            + row(
                "seen", "_url_bucket", url_hash="url_hash",
                url="canonical_url", round=str(r),
            )
            + ", NULL)",
            "IF(outcome_kind = 'fetched', "
            + row(
                "results", url="canonical_url", user_agent="user_agent",
                ip_address="ip_address", forwarded_host="forwarded_host",
                round=str(r),
            )
            + ", NULL)",
        ]
        tables = ["trace", "processed", "seen", "results"]
        links = "array()"
        if self.discover_links:
            links = "array(" + row(
                "frontier",
                "_host_bucket",
                queue_seq=f"{next_queue_seq - totals.get(0, 0)} + _start",
                priority="0",
                depth="depth",
                canonical_url="canonical_url",
                url_hash="url_hash",
                host="host",
                path="path",
                arrival_round=str(r + 1),
            ) + ")"
            tables.append("frontier")
        out = prefixed.selectExpr(
            "inline(filter(IF(_kind = 0, concat("
            f"transform(sequence(1, n_attempts), a -> {trace}), "
            f"array({', '.join(tasks)})), {links}), x -> x IS NOT NULL))"
        )
        if self.broadcast_wave:
            # a budget bounds the round's output as it bounds the wave:
            # one file per table (and host bucket) is enough
            out = out.coalesce(1)
        tables = self.store.write_snapshot(
            out,
            tables,
            r,
            partition_by={t: "host_bucket" for t in bucketed}
            if self.host_buckets
            else None,
        )

        st = RoundStats(
            round=r,
            wave_size=n_tasks,
            fetched=n_fetched,
            dropped=n_dropped,
            robots_blocked=n_blocked,
            deferred=n_deferred,
            attempts=n_attempts,
            bytes_fetched=n_bytes,
            seq_start=seq_base,
            seq_end=seq_base + n_attempts - 1,
            duration_s=round(time.monotonic() - t0, 3),
            discovered=n_discovered,
            failure_kinds=failure_kinds,
        )
        self.store.commit_round(
            r,
            tables,
            meta={
                "identity_epoch": r,
                "wave_size": st.wave_size,
                "fetched": st.fetched,
                "dropped": st.dropped,
                "robots_blocked": st.robots_blocked,
                "deferred": st.deferred,
                "attempts": st.attempts,
                "bytes_fetched": st.bytes_fetched,
                "seq_start": st.seq_start,
                "seq_end": st.seq_end,
                "duration_s": st.duration_s,
                "discovered": st.discovered,
                "next_queue_seq": next_queue_seq + n_discovered,
                "partition_histogram": part_hist,
                "failure_kinds": failure_kinds,
            },
        )
        # fold the round's finalized keys into the round's bloom generation
        # (driver-side insert from one collect of the flat task rows)
        phase("seen-add")
        self.processed_set.add(
            task_rows.select("url_hash", F.col("canonical_url").alias("url")),
            round_id=r,
        )
        return st

    def _discover(
        self, task_rows: DataFrame, enqueued_all: DataFrame
    ) -> DataFrame:
        """Link discovery (O2 frontier growth): fetched pages' outlinks
        become next-round frontier candidates, in the sequencing pass's
        kind-1 shape. Dedup is two-stage: first occurrence within the
        round's discoveries (window keyed by the canonical URL, parent-
        trace order), then an anti-join against everything ever enqueued."""
        cand = task_rows.filter(F.col("outcome_kind") == "fetched").select(
            F.col("priority").alias("parent_prio"),
            F.col("queue_seq").alias("parent_seq"),
            (F.col("depth") + 1).cast("int").alias("depth"),
            F.posexplode("outlinks").alias("link_idx", "target"),
        )
        target = F.col("target")
        canonical = U.canonicalize(target)
        cand = cand.select(
            "*",
            canonical.alias("canonical_url"),
            U.url_hash(canonical).alias("url_hash"),
            U.host(target).alias("host"),
            U.path(target).alias("path"),
        )
        if self.max_depth is not None:
            cand = cand.filter(F.col("depth") <= self.max_depth)
        w_first = Window.partitionBy("canonical_url").orderBy(
            "parent_prio", "parent_seq", "link_idx"
        )
        firsts = (
            cand.withColumn("_rn", F.row_number().over(w_first))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        fresh = firsts.join(
            enqueued_all.select("url_hash", "canonical_url"),
            ["url_hash", "canonical_url"],
            "left_anti",
        )
        return fresh.select(
            "canonical_url",
            "url_hash",
            "host",
            "path",
            "depth",
            F.lit(1).alias("_kind"),
            F.col("parent_prio").alias("_o1"),
            F.col("parent_seq").alias("_o2"),
            F.col("link_idx").alias("_o3"),
            F.lit(1).alias("_weight"),
        )
