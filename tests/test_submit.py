"""End-to-end gate for the north rule's deployment shape: the fetch+parse
wave submitted via ``spark-submit --py-files <pkg.zip>`` from a neutral cwd
with a scrubbed PYTHONPATH — so every import, including the ones inside
pandas-UDF closures on Python workers, resolves from the shipped archive
(exactly a cluster where no executor has the repo checkout).

The submitted run's (urls_parsed, page_bytes, text_checksum) must equal an
in-process run of the same wave on the same corpus: byte-identical
extracted text through the deployment path, folded to a bit_xor/xxhash64
checksum (order-insensitive, overflow-free).
"""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

N_PAGES = 1500


def _spark_submit_bin() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


def test_spark_submit_py_files_wave(spark, tmp_path):
    from web_scraper_v1_spark.session import _package_zip
    from web_scraper_v1_spark.sources import corpus as C
    from web_scraper_v1_spark.plans.throughput import fetch_parse_wave

    corpus_dir = str(tmp_path / "corpus")
    out = str(tmp_path / "result.json")

    # expected values from an in-process run on the identical corpus
    C.materialize_corpus(corpus_dir, n_pages=N_PAGES, n_seeds=N_PAGES)
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    try:
        from submit_job import wave_summary
    finally:
        sys.path.pop(0)
    expected = wave_summary(
        fetch_parse_wave(
            spark,
            C.read_seeds(spark, corpus_dir),
            C.read_pages(spark, corpus_dir),
            parse_features=True,
        )
    )

    env = dict(os.environ)
    # the submitted job may only see the package through --py-files
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            _spark_submit_bin(),
            "--master",
            "local[4]",
            "--driver-memory",
            "4g",
            "--py-files",
            _package_zip(),
            os.path.join(REPO, "scripts", "submit_job.py"),
            "--corpus-dir",
            corpus_dir,
            "--n-pages",
            str(N_PAGES),
            "--out",
            out,
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    with open(out) as f:
        result = json.load(f)
    assert result["master"] == "local[4]"
    assert result["urls_parsed"] == expected["urls_parsed"] > 0
    assert result["page_bytes"] == expected["page_bytes"]
    assert result["text_checksum"] == expected["text_checksum"]


def test_ship_package_keeps_the_session_zip(spark):
    """``build_session`` ships through ``ship_package``, so shipping again
    (the driver contract's ``entry`` does) neither re-zips the package nor
    re-adds it."""
    from web_scraper_v1_spark.session import _package_zip_path, ship_package

    path = _package_zip_path()
    before = os.stat(path).st_mtime_ns
    ship_package(spark)
    assert os.stat(path).st_mtime_ns == before
