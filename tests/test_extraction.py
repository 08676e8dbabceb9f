"""Byte-equality gate for the native extraction expression vs the
row-at-a-time Python transliteration of the Go parser (the 'reference
fixture' of BASELINE.json) and vs the corpus golden ``text`` column."""

from pyspark.sql import functions as F

from web_scraper_v1_spark import fixtures as fx
from web_scraper_v1_spark.functions.extraction import (
    extract_receiver_response,
    golden_text,
)
from web_scraper_v1_spark.sources.corpus import read_pages


def test_extraction_matches_transliteration_rowwise(spark):
    bodies = [
        "Received User-Agent: UA\nIP Address: 1.1.1.1\nForwarded Host: h",
        "a\nb",  # parse error (<3 lines)
        None,
        "a\nb\nc",  # zero values
        "Received User-Agent: x\nReceived User-Agent: y\nIP Address: 2.2.2.2",
        "IP Address: 3.3.3.3\n\nForwarded Host: hh\nnoise",
        "Received User-Agent:nospace\nIP Address: 4.4.4.4\ntail",
        fx.build_page(7, 10)["html"].decode("utf-8"),
    ]
    df = spark.createDataFrame(
        [(i, b.encode("utf-8") if b else None) for i, b in enumerate(bodies)],
        "id int, html binary",
    )
    out = {
        r.id: r
        for r in df.select(
            "id", extract_receiver_response(F.col("html")).alias("r")
        ).select("id", "r.*").collect()
    }
    for i, body in enumerate(bodies):
        want = fx.parse_receiver_response(body)
        row = out[i]
        # a NULL body is an error too: parse_error is never NULL
        assert row.parse_error is not None, body
        if want is None:
            assert row.parse_error, body
            assert row.user_agent is None and row.ip_address is None, body
        else:
            assert not row.parse_error
            assert (row.user_agent, row.ip_address, row.forwarded_host) == want, body


def test_spark_extraction_byte_identical_on_corpus(spark, corpus_dir):
    pages = read_pages(spark, corpus_dir)
    parsed = pages.select(
        "url",
        "text",
        extract_receiver_response(F.col("html")).alias("r"),
    )
    result = parsed.select(
        "url",
        "text",
        F.when(F.col("r.parse_error"), F.lit(None))
        .otherwise(golden_text(F.col("r")))
        .alias("extracted"),
        "r.parse_error",
    ).collect()
    assert len(result) == 1000
    n_err = 0
    for row in result:
        if row.text is None:
            # malformed page: UDF must flag parse_error (row dropped
            # downstream, matching skip-on-error)
            assert row.parse_error, row.url
            n_err += 1
        else:
            assert not row.parse_error
            # byte-identical extracted text per url (north rule)
            assert row.extracted == row.text, row.url
            assert row.extracted.encode("utf-8") == row.text.encode("utf-8")
    assert n_err > 0


def test_spark_extraction_matches_python_oracle_per_row(spark):
    """Adversarial bodies through Spark vs the transliteration. A body
    that is not valid UTF-8 reads each invalid sequence as U+FFFD, in a
    field line or elsewhere, and never fails the task."""
    bodies = [
        b"Received User-Agent: UA\nIP Address: 1.1.1.1\nForwarded Host: h",
        b"x\ny",
        b"a\nb\nc\nd\ne",
        b"Received User-Agent: \nIP Address: \nForwarded Host: ",
        b"Forwarded Host: z\nForwarded Host: w\nForwarded Host: v",
        "Received User-Agent: Mоzillа/5.0\nIP Address: 0.0.0.0\nForwarded Host: господин".encode(),
        # invalid byte inside a field line
        b"Received User-Agent: ab\xffcd\nIP Address: 1.2.3.4\nForwarded Host: h",
        # invalid byte in a non-field line
        b"Received User-Agent: UA\nIP Address: 1.2.3.4\nForwarded Host: h\nfooter \xff",
    ]
    df = spark.createDataFrame(
        list(enumerate(bodies)), "id int, html binary"
    )
    got = {
        r.id: r
        for r in df.select(
            "id", extract_receiver_response(F.col("html")).alias("r")
        ).select("id", "r.*").collect()
    }
    for i, b in enumerate(bodies):
        want = fx.parse_receiver_response(b.decode("utf-8", "replace"))
        if want is None:
            assert got[i].parse_error
        else:
            assert (
                got[i].user_agent,
                got[i].ip_address,
                got[i].forwarded_host,
            ) == want, b
