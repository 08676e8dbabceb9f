"""Crawl-frontier benchmark: runs one workload against the package's public
API, checks every output against the package's reference fixtures, and
prints one JSON result line.

    python3 perfbench/run.py --workload bulk_wave --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each exists):

* ``bulk_wave``: repeated unbudgeted ``fetch_parse_wave(parse_features=True)``
  over a seeded seed list and a corpus with 10% of its URLs already seen;
* ``live_crawl``: ``CrawlEngine`` with robots, a per-host budget and link
  discovery, fetching over ``live_fetch`` from a loopback web; it stops
  after one round and a fresh engine on the same store resumes (loads the
  committed state).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the timed
section with spans and Spark's event log on and prints the per-layer
metrics. Inputs and scratch state live in ``.perfbench_work/`` at the root
of the checkout; nothing is read or written outside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _confine_to_checkout() -> dict:
    """Point every temporary path Python, the JVMs (the spark-submit
    launcher too) and Spark use into the work directory, before pyspark is
    imported; returns the session settings."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    ]))
    import tempfile

    tempfile.tempdir = tmp
    return {
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["bulk_wave", "live_crawl"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "web_scraper_v1_spark")):
        _fail("the web_scraper_v1_spark package is not in this checkout")
    conf = _confine_to_checkout()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    try:
        import workloads
    except ImportError as exc:
        _fail(f"cannot import the package: {exc}")

    workloads.build_inputs(WORK)
    bench = workloads.Bench(WORK, conf, args.seed, args.seconds,
                            bool(args.trace))
    result = (workloads.bulk_wave if args.workload == "bulk_wave"
              else workloads.live_crawl)(bench)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
