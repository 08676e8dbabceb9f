"""The throughput-carrying fetch+parse pipeline, isolated for benchmarks.

This is one maximal crawl wave — the path the north-rule metric ("URLs
fetched+parsed/sec") measures: seeds -> canonicalize/hash -> seen-set
filter (bloom probe once per candidate, exact anti-join for the maybe-seen
share) -> fetch-as-semi-join against the page corpus -> JVM-native
extraction expression -> parse-side features (golden text, fingerprint,
byte counts, and with ``parse_features=True`` one Arrow UDF of
batch-vectorized sketching). No driver-side loops, no global-order trace
(that is round bookkeeping, politeness-bounded by design — see
plans/crawl.py). Every stage is partition-parallel and the candidate side
runs on every task slot; scripts/scaling_bench.py measures throughput at
two parallelisms (a sandbox stand-in for N vs 4N executors), and the
measured efficiency is still well below linear (ROADMAP.md).

The candidate side does its work once. A wave needs no seed dedup: the
fetch is a ``left_semi`` join, so a page comes back at most once however
many canonical-equivalent seeds name it. That drops the window (and its
sort and shuffle) ``prepare_seeds`` runs for the crawl engine, which needs
the first occurrence's ``queue_seq``; the wave does not.

Exchanges (by design, the minimum for a big wave):
1. when the seeds scan has fewer splits than the session has task slots
   (a small seed file is one split), a round-robin repartition of the
   seed URLs right after the scan, so canonicalization and the Bloom probe
   run on every slot;
2. the exact anti-join of the maybe-seen candidates against the seen
   table (a small share of the wave; a small seen table is broadcast);
3. the frontier x pages semi-join on canonical_url. The frontier side
   carries one string per candidate, so unless it is bigger than the
   broadcast threshold the planner broadcasts it and the pages side does
   not shuffle at all; when it is bigger, both sides hash by
   canonical_url, and the pages side ships only (canonical_url, head,
   page_bytes): the raw body column NEVER enters an exchange.
Extraction is a codegen'd expression over the JVM-pruned head; the one
Arrow UDF of the parse (sketching over the extracted text,
``parse_features=True`` only) runs after the join, in the stage that
reads the pages.
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from web_scraper_v1_spark.functions import urls as U
from web_scraper_v1_spark.functions.extraction import (
    extract_receiver_response,
    golden_text,
)
from web_scraper_v1_spark.operators.dedup import _hash_shingles
# the wave itself no longer calls prepare_seeds; perfbench's tracer wraps
# ``throughput.prepare_seeds`` by name, so the name stays importable here
from web_scraper_v1_spark.operators.frontier import prepare_seeds  # noqa: F401
from web_scraper_v1_spark.operators.seen import SeenSet

PARSE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("simhash", T.LongType()),
        T.StructField("n_shingles", T.IntegerType()),
        T.StructField("n_winnow", T.IntegerType()),
    ]
)


def _distinct_per_row(rows: np.ndarray, vals: np.ndarray, n: int) -> np.ndarray:
    """Number of distinct ``vals`` per row id in ``range(n)``."""
    order = np.lexsort((vals, rows))
    rows, vals = rows[order], vals[order]
    new = np.ones(len(rows), dtype=bool)
    new[1:] = (rows[1:] != rows[:-1]) | (vals[1:] != vals[:-1])
    return np.bincount(rows[new], minlength=n)


@F.pandas_udf(PARSE_FEATURES_SCHEMA)
def parse_features_udf(texts: pd.Series) -> pd.DataFrame:
    """Parse-side sketching in ONE Arrow pass per batch — the features a
    crawl-to-training-data pipeline computes at parse time (so dedup runs
    without re-reading 100 TB of bodies): word-3-gram shingle set ->
    64-bit SimHash bit-vote sketch, plus winnowing k-gram fingerprint count
    (Schleimer et al.). Per text: words = lower-cased whitespace split,
    norm = the words joined by one space; n_shingles = distinct word
    3-grams; simhash = bit-majority of their ``_hash_shingles`` hashes;
    n_winnow = distinct minima over windows of 4 consecutive 8-byte
    k-gram hashes of norm's UTF-8 bytes (all k-grams when there are fewer
    than 4). A NULL text gets zeros.

    One kernel per batch, not a loop per row: every row's words,
    shingles and bytes are flattened into batch-wide arrays, and a window
    counts only when its first and last element belong to the same row
    (the row-boundary masks). Memory is linear in the batch's text bytes,
    a few tens of bytes per byte."""
    n = len(texts)
    words = texts.fillna("").str.lower().str.split()
    n_words = words.str.len().to_numpy(np.int64)
    flat = np.fromiter(
        itertools.chain.from_iterable(words), dtype=object,
        count=int(n_words.sum()),
    )
    row_of_word = np.repeat(np.arange(n), n_words)

    # word 3-grams, then one hash call over the batch's distinct shingles
    same_row = row_of_word[:-2] == row_of_word[2:]
    shingles = (
        flat[:-2][same_row] + " " + flat[1:-1][same_row] + " "
        + flat[2:][same_row]
    )
    codes, uniq = pd.factorize(shingles)
    width = max(len(uniq), 1)
    rows, codes = np.divmod(
        np.unique(row_of_word[:-2][same_row] * width + codes), width
    )
    n_sh = np.bincount(rows, minlength=n)
    simhash = np.zeros(n, dtype=np.int64)
    if len(rows):
        h = _hash_shingles(uniq)[codes].astype("<u8", copy=False)
        bits = np.unpackbits(
            h.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
        )
        starts = np.flatnonzero(np.r_[True, rows[1:] != rows[:-1]])
        votes = np.add.reduceat(bits, starts, axis=0, dtype=np.int64) * 2
        votes = votes > n_sh[rows[starts], None]
        simhash[rows[starts]] = (
            np.packbits(votes, axis=1, bitorder="little")
            .view("<u8").ravel().view(np.int64)
        )

    # 8-byte k-gram hashes (base 257, mod 2^64) over the batch's
    # concatenated UTF-8 buffer; a k-gram or a 4-k-gram window counts only
    # when it lies inside one row
    enc = words.str.join(" ").str.encode("utf-8")
    n_bytes = enc.str.len().to_numpy(np.int64)
    buf = np.frombuffer(b"".join(enc), dtype=np.uint8)
    row_of_byte = np.repeat(np.arange(n, dtype=np.int32), n_bytes)
    nk = len(buf) - 7
    n_win = np.zeros(n, dtype=np.int64)
    if nk > 0:
        kh = np.zeros(nk, dtype=np.uint64)
        for k in range(8):
            kh = kh * np.uint64(257) + buf[k : k + nk]
        # rows of 8-10 bytes have 1-3 k-grams: every k-gram is a pick
        few = (n_bytes < 11)[row_of_byte[:nk]] & (
            row_of_byte[:nk] == row_of_byte[7:]
        )
        pick_rows, picks = [row_of_byte[:nk][few]], [kh[few]]
        if nk > 3:
            win_min = np.minimum(
                np.minimum(kh[:-3], kh[1:-2]), np.minimum(kh[2:-1], kh[3:])
            )
            whole = row_of_byte[: nk - 3] == row_of_byte[10:]
            pick_rows.append(row_of_byte[: nk - 3][whole])
            picks.append(win_min[whole])
        n_win = _distinct_per_row(
            np.concatenate(pick_rows), np.concatenate(picks), n
        )
    return pd.DataFrame(
        {
            "simhash": simhash,
            "n_shingles": n_sh.astype(np.int32),
            "n_winnow": n_win.astype(np.int32),
        }
    )


def fetch_parse_wave(
    spark,
    seeds: DataFrame,
    pages: DataFrame,
    seen: DataFrame | None = None,
    seen_set: SeenSet | None = None,
    parse_features: bool = False,
) -> DataFrame:
    """One full fetch+parse wave; returns the parsed results DataFrame
    (url, user_agent, ip_address, forwarded_host, text, fingerprint,
    page_bytes), one row per seeded page. Pass a prebuilt ``seen_set`` to
    model steady state — the engine maintains the bloom incrementally
    across rounds (plans/crawl.py), it does not rebuild it per wave.
    ``parse_features=True`` adds the parse-side sketching stage (simhash /
    shingle / winnow counts over the page body) that a training-data
    pipeline runs at crawl time.

    A seed table with fewer input splits than the session has task slots
    (one small file is one split) is spread over the slots right after
    the scan, so the candidate side — canonicalization and the Bloom
    probe — does not run in one task."""
    urls = seeds.select("url")
    slots = spark.sparkContext.defaultParallelism
    if urls.rdd.getNumPartitions() < slots:
        urls = urls.repartition(slots)
    canonical = U.canonicalize(F.col("url"))
    frontier = urls.select(
        canonical.alias("canonical_url"),
        U.url_hash(canonical).alias("url_hash"),
    )
    return fetch_parse_from_frontier(
        spark,
        frontier,
        pages,
        seen=seen,
        seen_set=seen_set,
        parse_features=parse_features,
    )


def fetch_parse_from_frontier(
    spark,
    prepared: DataFrame,
    pages: DataFrame,
    seen: DataFrame | None = None,
    seen_set: SeenSet | None = None,
    parse_features: bool = False,
) -> DataFrame:
    """Steady-state entry: the frontier is ALREADY prepared (canonical_url
    and url_hash per row, e.g. ``prepare_seeds`` output, which in the
    engine lives in committed snapshots — plans/crawl.py), so per-wave
    work starts at seen-set filtering, not at re-preparing the whole
    frontier. Duplicate frontier rows are harmless: the fetch is a
    semi-join."""
    frontier = prepared.select("canonical_url", "url_hash")
    if seen_set is None and seen is not None:
        seen_set = SeenSet(spark, n_bits=1 << 24)
        seen_set.load(seen)
    if seen_set is not None:
        # the seen table holds canonical URLs: the exact anti-join must
        # compare canonical forms, or a seen page seeded as
        # HTTPS://Host:443/p#frag passes it and is fetched again
        frontier = seen_set.filter_new(
            frontier.withColumn("url", F.col("canonical_url"))
        )

    # -- KEY PLAN SHAPE -------------------------------------------------
    # (a) The raw page bodies (the 100 TB column) never enter an
    #     exchange: the scan projects (canonical_url, head, page_bytes)
    #     where ``head`` is the leading prefix lines cut JVM-side — valid
    #     for the receiver corpus format (fields lead; parse_error <=>
    #     fewer than 3 lines total). The generic full-body path stays in
    #     functions/extraction.py and is what the byte-parity gate runs.
    # (b) The fetch is pages LEFT SEMI JOIN frontier on canonical_url.
    #     The frontier side is one string per candidate; at the bulk
    #     benchmark's 40k seeds the planner broadcasts it, so the pages
    #     are scanned, semi-joined, parsed and written in one stage with
    #     one task per pages split, and the pages never shuffle. A
    #     frontier past the broadcast threshold hash-joins instead, both
    #     sides shuffled by canonical_url (the pages side per (a)).
    # (c) The frontier side is the seeds (spread over the task slots),
    #     canonicalized, hashed and Bloom-flagged once per candidate in
    #     one checkpointed frame (SeenSet._flagged); only its maybe-seen
    #     share meets the seen table. No Python probe sits in this plan,
    #     so none can be inferred onto the pages scan.
    # (d) Extraction is a native expression over the head string; the
    #     one Arrow UDF of the parse (sketching over the EXTRACTED text —
    #     what a training-data pipeline sketches, parse_features=True
    #     only) runs after the join, in the pages stage.
    # the 3-line head always fits in the leading 512 bytes of the receiver
    # corpus format (UA line <= ~130 B incl. the 2-byte Cyrillic pair, IP +
    # host lines far less), so cut BINARY-side before decoding — charset
    # decode is per-byte work and bodies are KBs (measured 1.6x on the
    # head projection at 3M pages). ``make_valid_utf8`` turns each invalid
    # sequence into U+FFFD, as the extractor does: a cut that
    # lands mid-codepoint leaves one U+FFFD in line >= 4, which
    # substring_index discards, and an invalid byte in a field line reads
    # as U+FFFD there too. The generic full-body path in
    # functions/extraction.py remains the byte-parity gate.
    pages_head = pages.select(
        U.canonicalize(F.col("url")).alias("canonical_url"),
        F.substring_index(
            F.make_valid_utf8(
                F.substring(F.col("html"), 1, 512).cast("string")
            ),
            "\n",
            3,
        ).alias("head"),
        F.octet_length("html").alias("page_bytes"),
    )
    fetched = pages_head.join(
        frontier.select("canonical_url"), "canonical_url", "left_semi"
    )
    parsed = fetched.withColumn(
        "r", extract_receiver_response(F.col("head"))
    ).filter(~F.col("r.parse_error"))
    txt = golden_text(F.col("r"))
    out = parsed.select(
        F.col("canonical_url").alias("url"),
        F.col("r.user_agent").alias("user_agent"),
        F.col("r.ip_address").alias("ip_address"),
        F.col("r.forwarded_host").alias("forwarded_host"),
        txt.alias("text"),
        F.md5(F.encode(txt, "UTF-8")).alias("fingerprint"),
        "page_bytes",
        *(
            [parse_features_udf(txt).alias("features")]
            if parse_features
            else []
        ),
    )
    return out
