"""Deduplication operators for the training-data pipeline layer.

The reference has NO dedup (SURVEY.md O17 — its live loop refetches the same
URL 11x, /root/reference/cmd/transmitter/main.go:179-187; its TTL cache,
internal/cache/in_memory.go, is the only seen-set-shaped structure). A
100 TB web-text engine needs document-level dedup as a first-class stage.
Four strategies, all expressed Spark-first:

* exact        — fingerprint groupBy (one shuffle on a 128-bit key);
* n-gram Jaccard — exact pair detection via an *inverted shingle index*
                 (posting-list self-join), never an O(n^2) cross join;
* MinHash+LSH  — 128-perm signatures as one Arrow-vectorized UDF (C-level
                 string hashing + numpy uint64 permutations), banded into
                 buckets; only bucket-colliding candidates are verified;
* SimHash      — 64-bit bit-vote sketch, same vectorized hashing; 16x4-bit
                 band blocking guarantees every pair within Hamming
                 distance 15 collides in >=1 band (pigeonhole).

Scale notes: every strategy's shuffle is keyed on tokens/buckets, not docs,
so hot shingles are the skew risk — ``ngram_jaccard_pairs`` drops shingles
whose posting list exceeds ``max_df`` from the CANDIDATE index (a
stopword-shingle in every doc would otherwise create a quadratic bucket);
reported Jaccard values are always computed from full shingle sets in the
shared verification step, so the prune affects recall only in the
every-shared-shingle-is-boilerplate corner, never reported values.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from web_scraper_v1_spark.functions import text as TX

# DataFrames persisted by the near-dup strategies (shingle sets and
# signatures are each read by 2-3 downstream joins). Spark has no scoped
# cache, so repeated invocations in one session (bench loops, selfcheck)
# would otherwise accumulate storage blocks — callers that loop queries
# call ``release_cached()`` between iterations.
_PERSISTED: list[DataFrame] = []


def _persist(df: DataFrame, fresh: bool = False) -> DataFrame:
    """Persist + register. ``fresh=True`` (passed by each strategy's entry
    point) first releases frames cached by PREVIOUS invocations, so a
    harness that runs many registry queries in one session (the driver's
    correctness gate) cannot accumulate blocks even if it never calls
    release_cached() — unpersisting only removes caching; any still-lazy
    plan built on an old frame simply recomputes."""
    if fresh:
        release_cached()
    df = df.persist()
    _PERSISTED.append(df)
    return df


def release_cached() -> None:
    """Unpersist every per-strategy DataFrame (signatures, sketches). The
    shared shingle cache survives — see ``_shingles_cached`` — and is
    dropped by ``release_all()``."""
    while _PERSISTED:
        _PERSISTED.pop().unpersist()


# The (id, shingles, n_shingles) frame is IDENTICAL across the ngram /
# MinHash / SimHash strategies for the same input: cache it once per
# (input plan, n) and share it, instead of every strategy re-paying the
# Arrow shingling pass. (Round 2 scoped the release per strategy, which
# made each sibling strategy recompute shingles — the +48% simhash_dedup
# regression in BENCH_r02; round 1 got sharing implicitly from Spark's
# plan-equality cache reuse.) Bounded: one entry per distinct input plan
# in the session, each a ~(n_docs x shingles) frame.
_SHINGLE_CACHE: dict[tuple, tuple[DataFrame, DataFrame]] = {}
# Bounded: semanticHash is 32-bit and long-lived sessions shouldn't
# accumulate one persisted frame per distinct input plan — FIFO-evict
# (and unpersist) beyond this many entries. A dedup pipeline touches
# 1-2 distinct (input, n) combinations at a time.
_SHINGLE_CACHE_MAX = 4


def _shingles_cached(
    docs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    key = (docs.semanticHash(), id_col, text_col, n)
    hit = _SHINGLE_CACHE.get(key)
    if hit is not None:
        src, df = hit
        # semanticHash is only 32 bits: verify the hit against the source
        # plan so a collision recomputes instead of silently serving
        # another input's shingles to all three strategies
        if docs.sameSemantics(src):
            # LRU touch: refresh the entry's position so alternating
            # workloads (> _SHINGLE_CACHE_MAX distinct inputs in one
            # session) don't FIFO-evict the hottest frame repeatedly
            del _SHINGLE_CACHE[key]
            _SHINGLE_CACHE[key] = (src, df)
            return df
        df.unpersist()
        del _SHINGLE_CACHE[key]
    df = doc_shingles(docs, id_col, text_col, n).persist()
    _SHINGLE_CACHE[key] = (docs, df)
    while len(_SHINGLE_CACHE) > _SHINGLE_CACHE_MAX:
        oldest = next(iter(_SHINGLE_CACHE))  # dicts preserve insertion order
        _SHINGLE_CACHE.pop(oldest)[1].unpersist()
    return df


def release_all() -> None:
    """Drop every dedup cache including the shared shingle frames."""
    release_cached()
    release_pairs()
    while _SHINGLE_CACHE:
        _SHINGLE_CACHE.popitem()[1][1].unpersist()


# The EXACT near-dup pair graph over one input is consumed by several
# registry queries in a session (pair listing, cluster assignment,
# canonical selection) — without a cache each re-pays the posting-list
# self-join + exact verification the sibling just ran. Same discipline
# as queries._DECISIONS_CACHE / _shingles_cached: semanticHash probe,
# sameSemantics verification (the hash is only 32 bits), LRU touch on
# hit, bounded with unpersist-on-evict. The pairs frame itself is tiny
# (near-dup pairs, not the corpus), so persisting it is cheap at any
# scale.
_PAIRS_CACHE: dict[tuple[int, float, int], tuple[DataFrame, DataFrame]] = {}
_PAIRS_CACHE_MAX = 2


def release_pairs() -> None:
    """Unpersist every cached near-dup pair frame."""
    while _PAIRS_CACHE:
        _PAIRS_CACHE.popitem()[1][1].unpersist()


def jaccard_pairs_cached(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    max_df: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Plan-cached wrapper over ``ngram_jaccard_pairs``: the second
    consumer of the same input's pair graph in a session (dedup_clusters
    after ngram_jaccard_dedup, canonical_select after either) reuses the
    persisted pairs instead of re-running the posting join."""
    key = (docs.semanticHash(), threshold, n)
    hit = _PAIRS_CACHE.get(key)
    if hit is not None:
        src, df = hit
        if docs.sameSemantics(src):
            del _PAIRS_CACHE[key]
            _PAIRS_CACHE[key] = (src, df)
            return df
        df.unpersist()
        del _PAIRS_CACHE[key]
    df = ngram_jaccard_pairs(
        docs, threshold, n, max_df, id_col, text_col
    ).persist()
    _PAIRS_CACHE[key] = (docs, df)
    while len(_PAIRS_CACHE) > _PAIRS_CACHE_MAX:
        oldest = next(iter(_PAIRS_CACHE))
        _PAIRS_CACHE.pop(oldest)[1].unpersist()
    return df


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep the lowest-id representative per normalized-text fingerprint.
    One hash-partitioned groupBy on the md5 key; at 100 TB the key is 16
    bytes/doc and the agg is map-side partial."""
    return (
        docs.select(
            TX.fingerprint_md5(F.col(text_col)).alias("fingerprint"),
            F.col(id_col),
        )
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("kept_id"),
            F.count("*").cast("long").alias("n_copies"),
        )
    )


def doc_shingles(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(id, shingles, n_shingles) with distinct word n-grams; docs with
    fewer than n tokens drop out (no shingles -> cannot near-dup match).

    Arrow-vectorized UDF rather than the equivalent JVM
    transform/element_at lambda (functions/text.word_shingles): Spark
    evaluates higher-order-function lambdas interpreted (no whole-stage
    codegen), measured ~15s for 5k docs vs <1s here; semantics are
    identical (same tokens as text.tokens: trim/lower/split-whitespace)."""

    @F.pandas_udf("array<string>")
    def _shingle(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append([])
                continue
            w = t.strip().lower().split()
            if len(w) < n:
                out.append([])
                continue
            seen: dict[str, None] = {}
            for i in range(len(w) - n + 1):
                seen[" ".join(w[i : i + n])] = None
            out.append(list(seen))
        return pd.Series(out)

    # one exchange before the UDF keeps the Arrow stage off the parquet
    # scan (this VM's measured bimodal 3-10x pathology at >=16 tasks, and
    # scan-IO/Python-CPU coupling on any cluster — BENCH.md §4). Paid once
    # per input: the shingled frame is persisted and shared across the
    # ngram/MinHash/SimHash strategies (_shingles_cached). A/B at sf0.1:
    # 16.5 s cold / 2.4 s warm -> 3.2 s cold / 1.7 s warm.
    out = docs.repartition(F.col(id_col)).select(
        F.col(id_col).alias("id"),
        _shingle(F.col(text_col)).alias("shingles"),
    ).withColumn("n_shingles", F.size("shingles"))
    return out.filter(F.col("n_shingles") > 0)


def _verified_pairs(
    candidates: DataFrame, shingled: DataFrame, threshold: float
) -> DataFrame:
    """Join candidate (id_a < id_b) pairs back to their shingle sets and
    keep pairs with exact Jaccard >= threshold. Output schema is shared by
    every near-dup strategy so they are oracle-comparable."""
    a = shingled.select(
        F.col("id").alias("id_a"), F.col("shingles").alias("sh_a")
    )
    b = shingled.select(
        F.col("id").alias("id_b"), F.col("shingles").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    max_df: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT near-dup pairs via inverted shingle index: explode shingles,
    self-join posting lists (shuffle keyed by shingle) to generate
    candidate pairs, then verify candidates with exact Jaccard over the
    full shingle arrays (``_verified_pairs`` — the same verification every
    other strategy uses, so all strategies agree with the unpruned oracle).

    The ``max_df`` prune applies to CANDIDATE GENERATION only: a shingle in
    more than max_df docs would create a quadratic posting bucket, so it is
    dropped from the index. Candidates are then screened with a PROVABLE
    Jaccard upper bound before exact verification: with inter_kept shared
    kept-shingles and p_a/p_b pruned-shingle counts per doc, the true
    intersection is <= inter_kept + min(p_a, p_b), so

        j_ub = (inter_kept + min(p_a, p_b))
               / (n_a + n_b - inter_kept - min(p_a, p_b))  >=  true Jaccard

    and dropping candidates with j_ub < threshold is lossless. Survivors
    are verified with exact Jaccard over FULL shingle arrays (the same
    ``_verified_pairs`` every strategy uses), so reported values are always
    unpruned-exact; with no hot shingles (p=0) the screen is itself exact
    and verification touches only true pairs. A true pair is missed only
    if EVERY shared shingle is hot (>max_df docs) — whole-document
    corpus-wide boilerplate."""
    release_cached()
    shingled = _shingles_cached(docs, id_col, text_col, n)
    postings = shingled.select(
        "id", "n_shingles", F.explode("shingles").alias("shingle")
    )
    if max_df:
        df_counts = postings.groupBy("shingle").agg(
            F.count("*").alias("_df")
        )
        postings = (
            postings.join(
                df_counts.filter(F.col("_df") <= max_df), "shingle"
            ).drop("_df")
        )
    # kept-posting count per doc -> pruned count p = n_shingles - n_kept.
    # One window over id-partitioned postings, computed once and persisted:
    # both sides of the posting self-join read the annotated frame from
    # cache instead of each re-running a groupBy+join pair (two fewer
    # shuffles; the self-join's shuffle by shingle is unchanged).
    from pyspark.sql import Window as _W

    annotated = _persist(
        postings.withColumn(
            "_p",
            (
                F.col("n_shingles")
                - F.count("*").over(_W.partitionBy("id"))
            ).cast("int"),
        )
    )
    a = annotated.select(
        F.col("shingle"),
        F.col("id").alias("id_a"),
        F.col("n_shingles").alias("n_a"),
        F.col("_p").alias("p_a"),
    )
    b = annotated.select(
        F.col("shingle"),
        F.col("id").alias("id_b"),
        F.col("n_shingles").alias("n_b"),
        F.col("_p").alias("p_b"),
    )
    inter_ub = F.col("inter_kept") + F.least("p_a", "p_b")
    candidates = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b", "p_a", "p_b")
        .agg(F.count("*").alias("inter_kept"))
        .filter(
            inter_ub.cast("double")
            / (F.col("n_a") + F.col("n_b") - inter_ub).cast("double")
            >= threshold
        )
        .select("id_a", "id_b")
    )
    return _verified_pairs(candidates, shingled, threshold)


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    max_df: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT Jaccard-*containment* pairs: C(A in B) = |A ∩ B| / |A| over
    word n-gram shingle sets. Containment is the asymmetric sibling of
    Jaccard (LSH Ensemble, Zhu et al. VLDB 2016; RefinedWeb removes
    documents subsumed by a larger page) — a short quote-page nested
    inside a long article has tiny Jaccard but containment ≈ 1, so a
    symmetric near-dup pass never finds it. Pairs are DIRECTED:
    (id_a, id_b) means A's shingles are >= threshold contained in B.

    Same inverted-posting-index shape as ``ngram_jaccard_pairs`` — the
    shuffle is keyed by shingle, never an O(n^2) cross join — and the
    same lossless screen logic: with inter_kept shared kept-shingles and
    p_a/p_b per-doc pruned-shingle counts, true intersection is
    <= inter_kept + min(p_a, p_b), so

        c_ub = (inter_kept + min(p_a, p_b)) / n_a  >=  true containment

    and dropping candidates below threshold is lossless. Survivors are
    verified with exact intersection over the FULL shingle arrays, so
    reported values are always unpruned-exact. Self-pairs and docs with
    empty shingle sets are excluded (containment of an empty set is
    undefined, not 1.0 — same n >= len(w) guard as every strategy)."""
    release_cached()
    shingled = _shingles_cached(docs, id_col, text_col, n)
    postings = shingled.select(
        "id", "n_shingles", F.explode("shingles").alias("shingle")
    )
    if max_df:
        df_counts = postings.groupBy("shingle").agg(
            F.count("*").alias("_df")
        )
        postings = (
            postings.join(
                df_counts.filter(F.col("_df") <= max_df), "shingle"
            ).drop("_df")
        )
    from pyspark.sql import Window as _W

    annotated = _persist(
        postings.withColumn(
            "_p",
            (
                F.col("n_shingles")
                - F.count("*").over(_W.partitionBy("id"))
            ).cast("int"),
        )
    )
    a = annotated.select(
        F.col("shingle"),
        F.col("id").alias("id_a"),
        F.col("n_shingles").alias("n_a"),
        F.col("_p").alias("p_a"),
    )
    b = annotated.select(
        F.col("shingle"),
        F.col("id").alias("id_b"),
        F.col("_p").alias("p_b"),
    )
    inter_ub = F.col("inter_kept") + F.least("p_a", "p_b")
    candidates = (
        a.join(b, "shingle")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "p_a", "p_b")
        .agg(F.count("*").alias("inter_kept"))
        .filter(
            inter_ub.cast("double") / F.col("n_a").cast("double")
            >= threshold
        )
        .select("id_a", "id_b")
    )
    sh_a = shingled.select(
        F.col("id").alias("id_a"),
        F.col("shingles").alias("sh_a"),
        F.col("n_shingles").alias("n_a"),
    )
    sh_b = shingled.select(
        F.col("id").alias("id_b"),
        F.col("shingles").alias("sh_b"),
        F.col("n_shingles").alias("n_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        candidates.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("inter", inter.cast("long"))
        .withColumn(
            "containment",
            F.round(
                F.col("inter").cast("double") / F.col("n_a").cast("double"),
                6,
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select(
            "id_a",
            "id_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            "inter",
            "containment",
        )
    )


_SPLITMIX_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX2 = np.uint64(0x94D049BB133111EB)


def _perm_constants(num_hashes: int) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic universal-hash constants a_i (odd), b_i via
    splitmix64 of the permutation index — no RNG state."""
    i = np.arange(1, num_hashes + 1, dtype=np.uint64) * _SPLITMIX_GAMMA
    z = i.copy()
    z ^= z >> np.uint64(30)
    z *= _MIX1
    z ^= z >> np.uint64(27)
    a = (z * _MIX2) | np.uint64(1)
    b = (z ^ (z >> np.uint64(31))) * _MIX1
    return a, b


def _hash_shingles(shingles) -> np.ndarray:
    """Vectorized 64-bit string hashing (pandas' C-level SipHash-alike,
    fixed key -> deterministic across runs and executors)."""
    return pd.util.hash_array(
        np.asarray(shingles, dtype=object), hash_key="web_scraper_v1_s"
    )


def minhash_signatures(
    shingled: DataFrame, num_hashes: int = 128
) -> DataFrame:
    """num_hashes-permutation MinHash signature per doc as one vectorized
    Arrow UDF: shingles are string-hashed once (vectorized C hashing),
    permutations are wrapping universal hashes a_i*h+b_i (numpy uint64
    broadcast), per-doc min along the shingle axis. No shuffle — the
    signature is a scan-side projection, which is what survives at 10^10
    docs. (The all-JVM alternative — explode + 128 min-aggregates — loses
    whole-stage codegen above spark.sql.codegen.maxFields=100 and measured
    ~25s for 5k docs vs <1s here; hash choice is free because candidates
    are verified with exact Jaccard.)"""
    a, b = _perm_constants(num_hashes)

    @F.pandas_udf("array<long>")
    def _sig(shingle_lists: pd.Series) -> pd.Series:
        out = []
        for sh in shingle_lists:
            h = _hash_shingles(sh)
            perms = h[:, None] * a[None, :] + b[None, :]
            out.append(perms.min(axis=0).astype(np.int64))
        return pd.Series(out)

    return shingled.select("id", _sig("shingles").alias("sig"))


def _minhash_buckets(
    sigs: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """(id, band, band_key) LSH bucket rows: the signature folded into
    ``bands`` xxhash64 band keys. Shared by the batch self-dedup and the
    incremental (new-batch-vs-index) paths."""
    band_structs = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.xxhash64(
                *[
                    F.element_at("sig", b * rows_per_band + j + 1)
                    for j in range(rows_per_band)
                ]
            ).alias("band_key"),
        ),
    )
    return sigs.select(
        "id", F.explode(band_structs).alias("bk")
    ).select("id", "bk.band", "bk.band_key")


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified exact. b=32 bands x r=4 rows:
    a pair at Jaccard 0.8 collides in >=1 band with probability
    1-(1-0.8^4)^32 ≈ 1 - 5e-8, so after exact verification the output
    equals the exact-Jaccard result with overwhelming probability — that is
    the oracle contract. Shuffles are keyed by (band, band_key): bucket
    sizes are the skew concern at 100 TB; identical docs form the only big
    buckets and exact-dedup runs first in the full pipeline."""
    rows_per_band = num_hashes // bands
    shingled = _shingles_cached(docs, id_col, text_col, n)
    sigs = _persist(minhash_signatures(shingled, num_hashes), fresh=True)
    buckets = _minhash_buckets(sigs, bands, rows_per_band)
    la = buckets.select("band", "band_key", F.col("id").alias("id_a"))
    lb = buckets.select("band", "band_key", F.col("id").alias("id_b"))
    candidates = (
        la.join(lb, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _verified_pairs(candidates, shingled, threshold)


def incremental_minhash_pairs(
    old_docs: DataFrame,
    new_docs: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental near-dup dedup: pairs INVOLVING the new batch only —
    new x old (is this fresh crawl a near-dup of something already in the
    corpus?) and new x new, never old x old. This is the production shape
    of dedup at 100 TB: the corpus is deduped once, and every subsequent
    crawl increment is checked against the existing *band-bucket index*
    instead of re-deduping the world — per increment the old side
    contributes only bucket rows matching the new batch's band keys (a
    stored index partitioned/bucketed by band prunes the rest; the
    equi-join on (band, band_key) is the same shape either way), so the
    cost is O(new x collision rate), not O(corpus^2) or even O(corpus).
    Same signature/banding/verification contract as
    ``minhash_lsh_pairs`` (b=32 x r=4: per-pair miss ~5e-8 at t=0.8,
    candidates verified with exact Jaccard), so the exact all-pairs
    Jaccard restricted to new-involving pairs is the oracle."""
    rows_per_band = num_hashes // bands
    sh_old = _shingles_cached(old_docs, id_col, text_col, n)
    sh_new = _shingles_cached(new_docs, id_col, text_col, n)
    sig_old = _persist(minhash_signatures(sh_old, num_hashes), fresh=True)
    sig_new = _persist(minhash_signatures(sh_new, num_hashes))
    b_old = _minhash_buckets(sig_old, bands, rows_per_band)
    b_new = _minhash_buckets(sig_new, bands, rows_per_band)
    return _incremental_pairs(b_old, b_new, sh_old, sh_new, threshold)


def _incremental_pairs(
    b_old: DataFrame,
    b_new: DataFrame,
    sh_old: DataFrame,
    sh_new: DataFrame,
    threshold: float,
) -> DataFrame:
    """New-involving candidate pairs from band buckets + exact verify —
    shared by the in-flight (``incremental_minhash_pairs``) and stored-
    index (``incremental_minhash_probe``) paths."""
    # new x old: orientation is mixed (ids interleave), canonicalize to
    # id_a < id_b and drop self-pairs — a re-crawled doc present in BOTH
    # batches collides with its own index entry in every band;
    # new x new: the usual self-join triangle
    vs_index = (
        b_new.select("band", "band_key", F.col("id").alias("id_n"))
        .join(
            b_old.select("band", "band_key", F.col("id").alias("id_o")),
            ["band", "band_key"],
        )
        .filter(F.col("id_n") != F.col("id_o"))
        .select(
            F.least("id_n", "id_o").alias("id_a"),
            F.greatest("id_n", "id_o").alias("id_b"),
        )
    )
    within_new = (
        b_new.select("band", "band_key", F.col("id").alias("id_a"))
        .join(
            b_new.select("band", "band_key", F.col("id").alias("id_b")),
            ["band", "band_key"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    candidates = vs_index.unionByName(within_new).distinct()
    # one shingle row per id even when a doc appears in both batches (a
    # duplicated verification row would multiply every pair it joins);
    # the NEW batch's text wins deterministically on a changed re-crawl
    shingles = sh_new.unionByName(
        sh_old.join(sh_new.select("id"), "id", "left_anti")
    )
    return _verified_pairs(candidates, shingles, threshold)


def minhash_index_write(
    docs: DataFrame,
    path: str,
    num_hashes: int = 128,
    bands: int = 32,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Materialize the corpus dedup index ``incremental_minhash_pairs``'s
    docstring describes: band-bucket rows written ``partitionBy("band")``
    under ``{path}/bands`` and the shingle sets (the exact-verification
    side) under ``{path}/shingles``. Shingling and signature hashing for
    the corpus are paid ONCE at ingest; every subsequent crawl increment
    probes the stored buckets (``incremental_minhash_probe``) without
    touching the corpus text at all — the only corpus bytes an increment
    reads are the bucket rows its band keys collide with and the shingle
    arrays of verified candidates."""
    rows_per_band = num_hashes // bands
    sh = _shingles_cached(docs, id_col, text_col, n)
    sigs = minhash_signatures(sh, num_hashes)
    buckets = _minhash_buckets(sigs, bands, rows_per_band)
    # align output files to the partition layout BEFORE the partitionBy
    # write: without the repartition every task holds rows of every band
    # and the writer fans out shuffle_partitions x bands tiny files (the
    # classic partitioned-write anti-pattern — measured 1024 files and
    # ~10 s at sandbox scale; at 10 TB it would be file-count death for
    # the namenode). One exchange keyed on band -> one file per band dir.
    buckets.repartition("band").write.mode("overwrite").partitionBy(
        "band"
    ).parquet(f"{path}/bands")
    sh.write.mode("overwrite").parquet(f"{path}/shingles")
    # persist the banding parameters next to the data: a probe run with
    # different num_hashes/bands/n would compute DIFFERENT band keys and
    # silently return mostly-empty results — the probe validates this
    # manifest and refuses instead (written via Spark so it lands on
    # whatever filesystem the index does)
    docs.sparkSession.createDataFrame(
        [(num_hashes, bands, n, id_col, text_col)],
        "num_hashes int, bands int, n int, id_col string, text_col string",
    ).coalesce(1).write.mode("overwrite").json(f"{path}/params")


def incremental_minhash_probe(
    spark,
    index_path: str,
    new_docs: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``incremental_minhash_pairs`` against a STORED index
    (``minhash_index_write``): identical results (oracle-gated as the
    registered ``incremental_dedup_stored`` query, plus the pytest
    equality twin), but the old side is read from the materialized band
    buckets and shingle arrays instead of being re-shingled/re-hashed per
    increment — the actual daily-increment deployment shape. The banding
    parameters are validated against the manifest the writer persisted;
    a mismatch raises instead of silently probing with foreign band
    keys."""
    stored = {
        r["key"]: r["val"]
        for r in spark.read.json(f"{index_path}/params")
        .selectExpr(
            "stack(5, 'num_hashes', cast(num_hashes as string),"
            " 'bands', cast(bands as string), 'n', cast(n as string),"
            " 'id_col', id_col, 'text_col', text_col) as (key, val)"
        )
        .collect()
    }
    asked = {
        "num_hashes": str(num_hashes),
        "bands": str(bands),
        "n": str(n),
        "id_col": id_col,
        "text_col": text_col,
    }
    if stored != asked:
        diff = {
            k: (stored.get(k), asked[k])
            for k in asked
            if stored.get(k) != asked[k]
        }
        raise ValueError(
            f"minhash index at {index_path} was written with different "
            f"parameters (stored, requested): {diff}"
        )
    rows_per_band = num_hashes // bands
    sh_new = _shingles_cached(new_docs, id_col, text_col, n)
    sig_new = _persist(minhash_signatures(sh_new, num_hashes), fresh=True)
    b_new = _minhash_buckets(sig_new, bands, rows_per_band)
    b_old = spark.read.parquet(f"{index_path}/bands")
    sh_old = spark.read.parquet(f"{index_path}/shingles")
    return _incremental_pairs(b_old, b_new, sh_old, sh_new, threshold)


def simhash_sketches(shingled: DataFrame) -> DataFrame:
    """64-bit SimHash per doc as one vectorized Arrow UDF: shingles are
    string-hashed in C (same deterministic hasher as MinHash), bit votes
    via numpy broadcast, majority -> sketch. Scan-side projection, no
    shuffle (the reference's Parser[T] 'custom scalar' surface, SURVEY.md
    O8 analog — custom sketches are the sanctioned pandas-UDF case)."""
    bit_idx = np.arange(64, dtype=np.uint64)
    bit_val = (np.uint64(1) << bit_idx).astype(np.uint64)

    @F.pandas_udf("long")
    def _simhash(shingle_lists: pd.Series) -> pd.Series:
        out = np.empty(len(shingle_lists), dtype=np.int64)
        for i, sh in enumerate(shingle_lists):
            h = _hash_shingles(sh)
            bits = (h[:, None] >> bit_idx[None, :]) & np.uint64(1)
            votes = bits.sum(axis=0) * 2 > len(h)
            out[i] = bit_val[votes].sum(dtype=np.uint64).astype(np.int64)
        return pd.Series(out)

    return shingled.select("id", _simhash("shingles").alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    max_hamming: int = 15,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-dup pairs, verified exact. Blocking: the 64-bit sketch
    splits into 16 bands of 4 bits; by pigeonhole any pair with Hamming
    distance <= 15 shares at least one band, so the band join is a
    *complete* screen for Hamming <= max_hamming=15. Near-dup docs
    (Jaccard >= 0.8) share the vast majority of shingle hashes, putting
    their sketches well inside that radius; the exact-Jaccard verification
    then makes precision 1.0."""
    shingled = _shingles_cached(docs, id_col, text_col, n)
    sk = _persist(simhash_sketches(shingled), fresh=True)
    # 16 bands of 4 bits; shiftrightunsigned-by-column only exists at the
    # SQL layer (the Python builtin requires a literal shift)
    band_structs = F.expr(
        "transform(sequence(0, 15), b -> struct("
        "cast(b as int) as band, "
        "shiftrightunsigned(simhash, cast(b * 4 as int)) & 15 as band_key))"
    )
    buckets = sk.select(
        "id", "simhash", F.explode(band_structs).alias("bk")
    ).select("id", "simhash", "bk.band", "bk.band_key")
    la = buckets.select(
        "band", "band_key", F.col("id").alias("id_a"),
        F.col("simhash").alias("sh_a"),
    )
    lb = buckets.select(
        "band", "band_key", F.col("id").alias("id_b"),
        F.col("simhash").alias("sh_b"),
    )
    candidates = (
        la.join(lb, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.bit_count(
                F.col("sh_a").bitwiseXOR(F.col("sh_b"))
            )
            <= max_hamming
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return _verified_pairs(candidates, shingled, threshold)

