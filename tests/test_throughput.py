"""fetch_parse_wave correctness: the throughput plan (scan-side head
pruning, skinny shuffle, post-join Arrow UDFs) must produce byte-identical
extracted text to the golden fixture column, drop malformed pages, respect
the seen-set, and carry the parse-side feature sketches."""

from __future__ import annotations

from pyspark.sql import functions as F

from web_scraper_v1_spark import fixtures as fx
from web_scraper_v1_spark.operators.seen import SeenSet
from web_scraper_v1_spark.plans.throughput import (
    fetch_parse_from_frontier,
    fetch_parse_wave,
)
from web_scraper_v1_spark.sources.corpus import (
    PAGES_SCHEMA,
    SEEDS_SCHEMA,
    read_pages,
    read_seeds,
)


def test_wave_byte_parity_and_seen(spark, corpus_dir):
    pages = read_pages(spark, corpus_dir)
    seeds = read_seeds(spark, corpus_dir)
    seen = (
        pages.select(F.col("url").alias("canonical_url"))
        .filter(F.xxhash64("url") % 5 == 0)
        .select(
            F.xxhash64("canonical_url").alias("url_hash"),
            F.col("canonical_url").alias("url"),
        )
    )
    out = fetch_parse_wave(
        spark, seeds, pages, seen=seen, parse_features=True
    ).cache()
    rows = out.collect()
    assert rows, "wave produced nothing"

    golden = {
        r.url: r.text for r in pages.select("url", "text").collect()
    }
    seen_urls = {r.url for r in seen.collect()}
    for r in rows:
        # byte-identical extracted text vs the golden fixture column
        assert r.text == golden[r.url], r.url
        # malformed pages (golden text None) must be absent
        assert golden[r.url] is not None
        # seen URLs must have been filtered out
        assert r.url not in seen_urls
        # feature sketches present and sane
        assert r.features.n_shingles >= 0
        assert r.features.n_winnow > 0

    # every eligible (parseable, unseen, seeded) page appears exactly once
    assert len({r.url for r in rows}) == len(rows)
    out.unpersist()


def test_frontier_entry_matches_wave(spark, corpus_dir):
    """The steady-state entry over a pre-prepared frontier returns the
    same URL set as the full wave."""
    from web_scraper_v1_spark.operators.frontier import prepare_seeds

    pages = read_pages(spark, corpus_dir)
    seeds = read_seeds(spark, corpus_dir)
    a = {
        r.url
        for r in fetch_parse_wave(spark, seeds, pages).select("url").collect()
    }
    prepared = prepare_seeds(seeds, batch_size=1 << 62)
    b = {
        r.url
        for r in fetch_parse_from_frontier(spark, prepared, pages)
        .select("url")
        .collect()
    }
    assert a == b and a


def test_wave_parses_non_utf8_pages(spark):
    """The wave cuts each body's first 512 bytes before decoding. A cut
    inside a multibyte character of a valid page, and an invalid byte in
    a field line, both read as U+FFFD like the extractor's decode: the
    page is parsed, not the wave failed."""
    head = b"Received User-Agent: a\nIP Address: 1.2.3.4\nForwarded Host: h\n"
    cut = head + "ж".encode() * 400
    assert cut[511] == 0xD0  # byte 512 is the lead byte of a "ж"
    bad = b"Received User-Agent: ab\xffcd\nIP Address: 1.2.3.4\nForwarded Host: h"
    bodies = {
        "http://host1.example.com/cut": cut,
        "http://host2.example.com/bad": bad,
    }
    pages = spark.createDataFrame(
        [(u, fx.EPOCH, b, None, "en") for u, b in bodies.items()],
        PAGES_SCHEMA,
    )
    seeds = spark.createDataFrame(
        [(f"task-{i}", u, 0, 0) for i, u in enumerate(bodies, 1)],
        SEEDS_SCHEMA,
    )
    got = {
        r.url: r.text
        for r in fetch_parse_wave(
            spark, seeds, pages, parse_features=True
        ).collect()
    }
    want = {
        fx.canonicalize_url(u): "\n".join(
            fx.parse_receiver_response(b.decode("utf-8", "replace"))
        )
        for u, b in bodies.items()
    }
    assert got == want
    assert "\ufffd" in want[fx.canonicalize_url("http://host2.example.com/bad")]
