"""fetch_parse_wave correctness: the throughput plan (scan-side head
pruning, skinny shuffle, post-join Arrow UDFs) must produce byte-identical
extracted text to the golden fixture column, drop malformed pages, respect
the seen-set, and carry the parse-side feature sketches."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from web_scraper_v1_spark import fixtures as fx
from web_scraper_v1_spark.operators.dedup import _hash_shingles
from web_scraper_v1_spark.operators.seen import SeenSet
from web_scraper_v1_spark.plans.throughput import (
    fetch_parse_from_frontier,
    fetch_parse_wave,
    parse_features_udf,
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


def test_wave_skips_seen_page_seeded_in_non_canonical_form(spark):
    """The seen table holds canonical URLs. A seen page seeded with an
    upper-case scheme and host, the default port and a fragment passes
    the Bloom check as maybe-seen; the exact anti-join must then match it
    on its canonical form and drop it, not fetch it again."""
    body = b"Received User-Agent: a\nIP Address: 1.2.3.4\nForwarded Host: h"
    pages = spark.createDataFrame(
        [
            (f"https://a.example.com/{p}", fx.EPOCH, body, None, "en")
            for p in ("p", "q")
        ],
        PAGES_SCHEMA,
    )
    seeds = spark.createDataFrame(
        [
            ("task-1", "HTTPS://A.example.com:443/p#frag", 0, 0),
            ("task-2", "https://a.example.com/q", 0, 0),
        ],
        SEEDS_SCHEMA,
    )
    seen = spark.createDataFrame(
        [("https://a.example.com/p",)], "url string"
    ).select(F.xxhash64("url").alias("url_hash"), "url")
    got = [
        r.url
        for r in fetch_parse_wave(spark, seeds, pages, seen=seen).collect()
    ]
    assert got == ["https://a.example.com/q"]


def test_wave_returns_each_page_once_without_seed_dedup(spark):
    """Seeds naming one page in canonical-equivalent forms (upper-case
    scheme and host, the default port, a fragment) bring the page back
    once with its golden text. The fetch is a left semi-join, so the
    wave runs no seed-dedup window."""
    bodies = {
        "https://a.example.com/p":
            b"Received User-Agent: a\nIP Address: 1.2.3.4\nForwarded Host: h",
        "https://b.example.com/q":
            b"Received User-Agent: b\nIP Address: 5.6.7.8\nForwarded Host: g",
    }
    pages = spark.createDataFrame(
        [(u, fx.EPOCH, b, None, "en") for u, b in bodies.items()],
        PAGES_SCHEMA,
    )
    forms = [
        "HTTPS://A.EXAMPLE.COM/p",
        "https://a.example.com:443/p",
        "https://a.example.com/p#frag",
        "https://a.example.com/p",
        "https://B.example.com:443/q#x",
        "https://b.example.com/q",
    ]
    seeds = spark.createDataFrame(
        [(f"task-{i}", u, 0, 0) for i, u in enumerate(forms, 1)],
        SEEDS_SCHEMA,
    )
    out = fetch_parse_wave(spark, seeds, pages, parse_features=True)
    got = sorted((r.url, r.text) for r in out.collect())
    assert got == sorted(
        (u, "\n".join(fx.parse_receiver_response(b.decode())))
        for u, b in bodies.items()
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "LeftSemi" in plan and "Inner" not in plan, plan


def test_wave_probes_each_candidate_once_on_every_slot(
    spark, tmp_path, corpus_dir, monkeypatch
):
    """A one-file seed table is spread over the task slots before the
    seen-set filter, and the Bloom probe sees each candidate exactly once:
    once per union branch would count each twice, and a copy of the probe
    inferred onto the seen-table or page scan would count their rows. The
    wave's own plan holds no probe; it reads the flagged candidates."""
    from pyspark import AccumulatorParam, TaskContext

    from web_scraper_v1_spark.operators import seen as seen_mod

    class _Union(AccumulatorParam):
        def zero(self, value):
            return set()

        def addInPlace(self, a, b):
            a |= b
            return a

    sc = spark.sparkContext
    probed = sc.accumulator(0)
    partitions = sc.accumulator(set(), _Union())
    real = seen_mod._bloom_probe

    def counting(*args):
        kernel = real(*args)

        def _contains(keys: pd.Series) -> pd.Series:
            probed.add(len(keys))
            partitions.add({TaskContext.get().partitionId()})
            return kernel(keys)

        return _contains

    monkeypatch.setattr(seen_mod, "_bloom_probe", counting)
    path = str(tmp_path / "seeds")
    read_seeds(spark, corpus_dir).coalesce(1).write.parquet(path)
    seeds = spark.read.schema(SEEDS_SCHEMA).parquet(path)
    assert seeds.rdd.getNumPartitions() == 1
    pages = read_pages(spark, corpus_dir)
    seen = (
        pages.filter(F.xxhash64("url") % 5 == 0)
        .select(F.xxhash64("url").alias("url_hash"), "url")
    )
    out = fetch_parse_wave(spark, seeds, pages, seen=seen, parse_features=True)
    got = sorted(r.url for r in out.select("url").collect())

    assert probed.value == seeds.count()
    assert len(partitions.value) >= sc.defaultParallelism
    assert "_contains" not in out._jdf.queryExecution().executedPlan().toString()
    seeded = {fx.canonicalize_url(r.url) for r in seeds.collect()}
    parsed = {r.url for r in pages.filter(F.col("text").isNotNull()).collect()}
    want = seeded & parsed - {r.url for r in seen.collect()}
    assert got == sorted(want) and got


_BIT_IDX = np.arange(64, dtype=np.uint64)
_BIT_VAL = (np.uint64(1) << _BIT_IDX).astype(np.uint64)
_WINNOW_POWERS = np.power(
    np.uint64(257), np.arange(8, dtype=np.uint64)[::-1], dtype=np.uint64
)


def _parse_features_rowwise(texts) -> pd.DataFrame:
    """Row-at-a-time reference for ``parse_features_udf``: the loop the
    batch kernel replaced, kept verbatim as its oracle."""
    simhash = np.zeros(len(texts), dtype=np.int64)
    n_sh = np.zeros(len(texts), dtype=np.int32)
    n_win = np.zeros(len(texts), dtype=np.int32)
    for i, t in enumerate(texts):
        if t is None:
            continue
        norm = " ".join(t.strip().lower().split())
        w = norm.split()
        shingles = list(
            dict.fromkeys(
                " ".join(w[j : j + 3]) for j in range(len(w) - 2)
            )
        )
        n_sh[i] = len(shingles)
        if shingles:
            h = _hash_shingles(shingles)
            bits = (h[:, None] >> _BIT_IDX[None, :]) & np.uint64(1)
            votes = bits.sum(axis=0) * 2 > len(h)
            simhash[i] = _BIT_VAL[votes].sum(dtype=np.uint64).astype(np.int64)
        b = np.frombuffer(norm.encode("utf-8"), dtype=np.uint8)
        if len(b) >= 8:
            wins = np.lib.stride_tricks.sliding_window_view(b, 8)
            kh = (wins.astype(np.uint64) * _WINNOW_POWERS).sum(
                axis=1, dtype=np.uint64
            )
            if len(kh) >= 4:
                picks = np.lib.stride_tricks.sliding_window_view(kh, 4).min(
                    axis=1
                )
            else:
                picks = kh
            n_win[i] = len(np.unique(picks))
    return pd.DataFrame(
        {"simhash": simhash, "n_shingles": n_sh, "n_winnow": n_win}
    )


_EDGE_TEXTS = [
    None,
    "",
    "one",
    "two words",
    "abc",  # under 8 bytes
    "abcdefgh",  # 8-10 bytes: 1-3 k-grams, no 4-window
    "abcdefghi",
    "abcdefghij",
    "abcdefghijk",  # 11 bytes: the first 4-window
    "a b c a b c a b c",  # repeated shingles
    "x x x x x x x x",
    "tab\tsep\tand\nnew\nline words",
    "no\u00a0break\u00a0space\u2003em space",
    "  Leading And Trailing  ",
    "Привет МИР пРИВЕТ мир Привет Мир",
    "Received User-Agent Mоzillа/5.0\n0.0.0.0\nгосподин.example",
]


def test_parse_features_batch_kernel_matches_row_loop():
    kernel = parse_features_udf.func
    # one batch in both orders: every row next to different neighbours
    for texts in (_EDGE_TEXTS, _EDGE_TEXTS[::-1]):
        batch = pd.Series(texts, dtype=object)
        pd.testing.assert_frame_equal(
            kernel(batch), _parse_features_rowwise(texts)
        )
    for t in _EDGE_TEXTS:
        pd.testing.assert_frame_equal(
            kernel(pd.Series([t], dtype=object)), _parse_features_rowwise([t])
        )
    pd.testing.assert_frame_equal(
        kernel(pd.Series([], dtype=object)), _parse_features_rowwise([])
    )


def test_parse_features_match_row_loop_on_wave(spark, corpus_dir):
    """Every parseable page of the fixture corpus, seeded by its own URL
    and parsed in Arrow batches of many rows, carries the row loop's
    features for its text."""
    pages = read_pages(spark, corpus_dir)
    seeds = spark.createDataFrame(
        [
            (f"task-{i}", r.url, 0, 0)
            for i, r in enumerate(pages.select("url").collect(), 1)
        ],
        SEEDS_SCHEMA,
    )
    rows = fetch_parse_wave(
        spark, seeds, pages, parse_features=True
    ).select("url", "text", "features").collect()
    assert len(rows) == pages.filter(F.col("text").isNotNull()).count()
    want = _parse_features_rowwise([r.text for r in rows])
    for i, r in enumerate(rows):
        assert (
            r.features.simhash,
            r.features.n_shingles,
            r.features.n_winnow,
        ) == tuple(int(v) for v in want.iloc[i]), r.url
