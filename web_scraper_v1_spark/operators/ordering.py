"""Scalable global ordering primitives.

The crawl trace needs an *exclusive prefix sum* over a global task order
(each task occupies ``n_attempts`` consecutive trace sequence numbers — the
FIFO semantics of /root/reference/internal/taskqueue/queue.go:52-61 made
deterministic). The naive expression is a window with a global ORDER BY and
no PARTITION BY — which Spark executes as a single-partition sort, a
scale-killer if the input is ever unbounded (it silences nothing: Spark
itself warns "No Partition Defined for Window operation").

``global_prefix_sum`` computes the same thing shuffle-parallel, the classic
two-phase scan:

1. range-repartition the input on the order keys (order across partitions
   is then total: partition i holds strictly-smaller keys than i+1);
2. per-partition running sums via an ordinary partitioned window;
3. per-partition totals (ONE row per partition) are collected and
   prefix-summed on the driver, then broadcast-joined back as partition
   offsets.

The only driver-side data is one long per partition — at 4096 partitions
that is 32 KiB regardless of input size, so the pattern holds at 10^10
rows. The crawl engine runs it ONCE per round, over the union of the
round's task rows and its freshly discovered links (a leading kind column
keeps every task before every link): the offsets give trace sequence
numbers and the discovered links' enqueue order (queue_seq) together, and
the per-kind totals (``totals_by``) give the round's attempt and discovery
counts from the same collect.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# persisted intermediates (the range-partitioned input is read by two jobs:
# the totals pass and the output plan); callers release between rounds
_PERSISTED: list[DataFrame] = []


def release_cached() -> None:
    while _PERSISTED:
        _PERSISTED.pop().unpersist()


def global_prefix_sum(
    df: DataFrame,
    order_cols: tuple[str, ...],
    weight: Column,
    out_col: str,
    num_partitions: int | None = None,
    totals_by: str | None = None,
) -> DataFrame | tuple[DataFrame, dict]:
    """Adds ``out_col`` = sum of ``weight`` over all rows strictly before
    this row in the total order given by ``order_cols`` (which must be a
    total order — ties would make the prefix sum nondeterministic).

    With ``totals_by`` set, returns ``(df, totals)`` where ``totals`` maps
    each value of that column to its summed weight — read off the same
    per-partition totals collect, so it costs no extra job.

    No single-partition stage: the widest window is partitioned by the
    range-bucket id, and the driver only ever sees per-partition totals.
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    ranged = (
        df.withColumn("_w", weight.cast("long"))
        .repartitionByRange(num_partitions, *[F.col(c) for c in order_cols])
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    _PERSISTED.append(ranged)
    keys = ["_pid"] + ([totals_by] if totals_by is not None else [])
    rows = ranged.groupBy(*keys).agg(F.sum("_w").alias("_t")).collect()
    per_pid: dict[int, int] = {}
    by: dict = {}
    for row in rows:
        t = row["_t"] or 0
        per_pid[row["_pid"]] = per_pid.get(row["_pid"], 0) + t
        if totals_by is not None:
            by[row[totals_by]] = by.get(row[totals_by], 0) + t
    if not per_pid:  # empty input: keep the schema contract
        out = df.withColumn(out_col, F.lit(0).cast("long"))
        return (out, by) if totals_by is not None else out
    offsets, acc = [], 0
    for pid in sorted(per_pid):
        offsets.append((pid, acc))
        acc += per_pid[pid]
    off_df = spark.createDataFrame(offsets, "_pid INT, _poff LONG")
    w = (
        Window.partitionBy("_pid")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = F.coalesce(F.sum("_w").over(w), F.lit(0))
    out = (
        ranged.join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, (F.col("_poff") + local).cast("long"))
        .drop("_pid", "_poff", "_w")
    )
    return (out, by) if totals_by is not None else out
