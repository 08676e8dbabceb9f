"""SparkSession factory tuned for the sandbox (local[N]) while keeping every
setting meaningful on a real multi-executor cluster at 100 TB scale:

* AQE on (runtime coalescing, skew-join splitting) — the skewed-host frontier
  relies on it in addition to explicit salting;
* Arrow enabled — the crawl path's parse is native Spark expressions, and
  the Python-side logic that remains (parse-side sketching, live fetch,
  Bloom probes) runs as Arrow-batched pandas UDFs, once per batch (the
  ``input_hint`` forbids per-row Python);
* shuffle partitions sized to the core count locally; on a cluster this is
  set to ~2-3x total cores (or left to AQE's coalescing from a higher
  initial value).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def _package_zip_path() -> str:
    """Where ``_package_zip`` writes: the name carries a hash of the
    package directory, so sessions of two checkouts running at once never
    overwrite each other's zip."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    tag = hashlib.sha1(pkg_dir.encode()).hexdigest()[:12]
    return os.path.join(
        tempfile.gettempdir(), f"web_scraper_v1_spark_pkg_{tag}.zip"
    )


def _package_zip() -> str:
    """Zip this package for shipment to executors — the sandbox analog of
    ``spark-submit --py-files`` (north rule). Pandas-UDF closures reference
    this module by name, so Python workers must be able to import it
    regardless of their working directory."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    out = _package_zip_path()
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
    return out


def ship_package(spark: SparkSession) -> None:
    """Idempotently ship this package to executors of an externally-built
    session (the driver's harness builds its own SparkSession) so
    module-level pandas UDFs resolve on Python workers."""
    sc = spark.sparkContext
    if getattr(sc, "_wsv1_shipped", False):
        return
    try:
        sc.addPyFile(_package_zip())
    except Exception as ex:
        # re-adding the same archive is the one benign failure; anything
        # else stays un-marked so the next call retries, and is loudly
        # visible — a silent failure here surfaces later as
        # ModuleNotFoundError inside Python workers
        if "already" not in str(ex).lower():
            import sys

            print(f"ship_package: addPyFile failed: {ex!r}", file=sys.stderr)
            return
    sc._wsv1_shipped = True


def build_session(
    app_name: str = "web_scraper_v1_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # prunes the corpus scan from the wave side when the fetch join
        # runs as a shuffle join (unbounded-wave config, plans/crawl.py)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # PySpark 4 records the Python call site of every Column/DataFrame
        # call for error messages, at three extra driver round trips per
        # call; a crawl round builds a few thousand of them, which cost
        # seconds of driver time per round. Errors keep the JVM plan and
        # stack either way.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
