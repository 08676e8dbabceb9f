"""Tests for the training-data pipeline layer: dedup strategies and text
analysis.

Strategy-agreement tests mirror the oracle contract: exact n-gram Jaccard is
ground truth; MinHash+LSH and SimHash (verified) must reproduce it exactly
on a corpus with planted near-duplicates.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from web_scraper_v1_spark.functions import text as TX
from web_scraper_v1_spark.operators import dedup as DD

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    """Tiny corpus with planted exact + near duplicates."""
    base = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "one two three four five six seven eight nine ten eleven",
        "spark shuffle partition broadcast join window aggregate scan",
        "the quick brown fox jumps over the lazy dog again today",
    ]
    rows = []
    for i, t in enumerate(base):
        rows.append((i, t))
        rows.append((100 + i, t))  # exact duplicate
        # near duplicate: one word changed at the end
        rows.append((200 + i, t.rsplit(" ", 1)[0] + " changed"))
    # unrelated docs
    for i in range(20):
        rows.append((300 + i, f"unique doc {i} with totally different words w{i} x{i} y{i} z{i}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    out = DD.exact_dedup(docs).collect()
    by_fp = {r.fingerprint: r for r in out}
    dup_rows = [r for r in out if r.n_copies == 2]
    assert len(dup_rows) == 4  # the four planted exact dups
    for r in dup_rows:
        assert r.kept_id < 100  # lowest id kept


def test_near_dup_strategies_agree(spark, docs):
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    # planted: (i, 100+i) exact dups at jaccard 1.0 must be found
    for i in range(4):
        assert exact[(i, 100 + i)] == 1.0
    minhash = {
        (r.id_a, r.id_b): r.jaccard
        for r in DD.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    simhash = {
        (r.id_a, r.id_b): r.jaccard
        for r in DD.simhash_pairs(docs, threshold=0.5).collect()
    }
    assert minhash == exact
    assert simhash == exact


def test_minhash_band_recall_math():
    # b=32 bands of r=4: collision prob at j=0.8 per the LSH S-curve
    j, r, b = 0.8, 4, 32
    p_miss = (1 - j**r) ** b
    assert p_miss < 1e-6


def test_quality_and_lang(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is on the mat and the dog is in the house"),
            (2, "der hund und die katze das ist gut und der rest"),
            (3, "xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            TX.lang_id(F.col("text")).alias("lang"),
            TX.quality_score(F.col("text")).alias("q"),
            TX.token_count(F.col("text")).alias("n"),
        ).collect()
    }
    assert out[1].lang == "en"
    assert out[2].lang == "de"
    assert out[3].lang == "und"
    assert out[3].n == 2
    assert 0.0 <= out[1].q <= 1.0


def test_winnow_overlap(spark):
    t1 = "shared prefix of reasonable length for fingerprinting purposes"
    df = spark.createDataFrame(
        [(1, t1), (2, t1), (3, t1 + " with an extra suffix appended here")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: set(r.fp)
        for r in df.select(
            "doc_id", TX.winnow_fingerprints(F.col("text")).alias("fp")
        ).collect()
    }
    assert out[1] == out[2]  # identical text -> identical sketch
    # partial overlap detectable: shared prefix keeps shared fingerprints
    inter = len(out[1] & out[3]) / len(out[1])
    assert inter > 0.5


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "  HELLO\tWORLD ")],
        "doc_id long, text string",
    )
    fps = [
        r.fp
        for r in df.select(
            TX.fingerprint_md5(F.col("text")).alias("fp")
        ).collect()
    ]
    assert fps[0] == fps[1] == fps[2]


def test_shingle_cache_verifies_hits_and_bounds_size(spark):
    """The shared shingle cache is keyed by a 32-bit semanticHash: a hit
    must be VERIFIED with sameSemantics (collision -> recompute, never
    serve another input's shingles), and the cache is bounded (FIFO
    eviction + unpersist) so long-lived sessions don't accumulate one
    persisted frame per distinct input plan."""
    from web_scraper_v1_spark.operators import dedup as DD

    DD.release_all()
    frames = [
        spark.createDataFrame(
            [(i, "alpha beta gamma delta epsilon zeta eta theta")],
            "doc_id long, text string",
        )
        for i in range(6)
    ]
    first = DD._shingles_cached(frames[0], "doc_id", "text", 3)
    # same plan -> same cached frame object (no recompute)
    assert DD._shingles_cached(frames[0], "doc_id", "text", 3) is first
    for f in frames[1:]:
        DD._shingles_cached(f, "doc_id", "text", 3)
    assert len(DD._SHINGLE_CACHE) <= DD._SHINGLE_CACHE_MAX
    # stored source frames let a semanticHash collision be detected: a
    # DIFFERENT plan never reuses an entry it doesn't semantically match
    for _key, (src, _sh) in DD._SHINGLE_CACHE.items():
        assert not src.sameSemantics(frames[0]) or src is frames[0]
    DD.release_all()
    assert len(DD._SHINGLE_CACHE) == 0


def test_quality_percentiles_matches_bruteforce(spark):
    """quality_percentiles (histogram path, no per-group sort) must equal
    a brute-force nearest-rank percentile over the binned quality values."""
    import math

    from web_scraper_v1_spark import queries as Q

    out = {
        r["lang"]: r
        for r in Q.queries()["quality_percentiles"](spark, SF).collect()
    }
    base = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select(
            TX.lang_id(F.col("text")).alias("lang"),
            F.floor(TX.quality_score(F.col("text")) * F.lit(10000.0))
            .cast("long")
            .alias("bin"),
        )
        .collect()
    )
    by_lang: dict[str, list[int]] = {}
    for r in base:
        by_lang.setdefault(r["lang"], []).append(r["bin"])
    assert set(out) == set(by_lang)
    for lang, bins in by_lang.items():
        bins.sort()
        n = len(bins)
        row = out[lang]
        assert row["n_docs"] == n
        for p, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
            expect = bins[math.ceil(p * n) - 1] / 10000.0
            assert row[col] == expect, (lang, col)
        assert row["p50"] <= row["p90"] <= row["p99"]


def test_decontaminate_matches_python_bruteforce(spark):
    """decontaminate (broadcast eval shingles, no explode shuffle) must
    equal a plain-Python 8-gram intersection between eval and train."""
    from web_scraper_v1_spark import queries as Q

    got = {
        (r["train_doc_id"], r["eval_doc_id"]): r["n_hits"]
        for r in Q.queries()["decontaminate"](spark, SF).collect()
    }
    docs = {
        r["doc_id"]: r["text"].strip().lower().split()
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    sh = {
        d: {" ".join(w[i : i + 8]) for i in range(len(w) - 7)}
        for d, w in docs.items()
        if len(w) >= 8
    }
    expect = {}
    for ed, es in sh.items():
        if ed % 7 != 0:
            continue
        for td, ts in sh.items():
            if td % 7 == 0:
                continue
            n = len(es & ts)
            if n:
                expect[(td, ed)] = n
    assert got == expect
    assert expect  # non-vacuous: the fixture corpus has contamination


def test_incremental_dedup_equals_full_restricted(spark):
    """The incremental path (new batch vs index + within-new) returns
    EXACTLY the full self-dedup's pairs that involve a new doc — nothing
    missed across the old/new boundary, nothing invented, and no old x
    old pair ever examined."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    old = docs.filter(F.col("doc_id") % 4 != 1)
    new = docs.filter(F.col("doc_id") % 4 == 1)
    incr = {
        (r.id_a, r.id_b, r.jaccard)
        for r in DD.incremental_minhash_pairs(old, new).collect()
    }
    full = {
        (r.id_a, r.id_b, r.jaccard)
        for r in DD.minhash_lsh_pairs(docs).collect()
        if r.id_a % 4 == 1 or r.id_b % 4 == 1
    }
    assert incr == full
    assert incr  # non-degenerate: the corpus plants cross-batch pairs
    assert all(a % 4 == 1 or b % 4 == 1 for a, b, _ in incr)
    DD.release_all()


def test_incremental_probe_matches_inflight(spark, tmp_path):
    """The stored-index probe path (minhash_index_write +
    incremental_minhash_probe) returns exactly the in-flight incremental
    result: materializing the corpus's band buckets + shingles changes
    where the old side is read from, never the pairs."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    old = docs.filter(F.col("doc_id") % 4 != 1)
    new = docs.filter(F.col("doc_id") % 4 == 1)
    idx = str(tmp_path / "minhash_index")
    DD.minhash_index_write(old, idx)
    probed = {
        (r.id_a, r.id_b, r.jaccard)
        for r in DD.incremental_minhash_probe(spark, idx, new).collect()
    }
    inflight = {
        (r.id_a, r.id_b, r.jaccard)
        for r in DD.incremental_minhash_pairs(old, new).collect()
    }
    assert probed == inflight
    assert probed
    # the writer persisted a params manifest; probing with different
    # banding parameters would compute foreign band keys and silently
    # return near-empty results — it must refuse instead
    import pytest as _pytest

    with _pytest.raises(ValueError, match="different .*parameters"):
        DD.incremental_minhash_probe(spark, idx, new, bands=16)
    with _pytest.raises(ValueError, match="n.*3"):
        DD.incremental_minhash_probe(spark, idx, new, n=4)
    DD.release_all()


def test_pack_manifest_matches_python_reference(spark):
    """The shuffle+pack manifest equals a sequential pure-Python
    reference: per shard, docs ordered by (md5(doc_id:seed), doc_id),
    positions from an exact running token count cut at 256. Grid covers
    boundary-exact docs, docs longer than one pack, and an empty shard."""
    import hashlib

    rows = [
        # (doc_id, n_tokens) — shard = doc_id % 8; shard 3 left empty
        (0, 256),   # exactly one pack
        (8, 1),
        (16, 300),  # longer than a pack: starts mid-stream, spills
        (1, 255),
        (9, 2),     # crosses the boundary by one token
        (2, 10),
    ]
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in rows], "doc_id long, text string"
    )
    from web_scraper_v1_spark.queries import _pack_manifest

    got = {
        r.doc_id: (r.shard, r.pack_id, r.pack_offset, r.n_tokens)
        for r in _pack_manifest(docs).collect()
    }

    expected = {}
    by_shard: dict[int, list[tuple[str, int, int]]] = {}
    for doc_id, n in rows:
        key = hashlib.md5(f"{doc_id}:epoch42".encode()).hexdigest()
        by_shard.setdefault(doc_id % 8, []).append((key, doc_id, n))
    for shard, items in by_shard.items():
        cum = 0
        for _key, doc_id, n in sorted(items):
            expected[doc_id] = (shard, cum // 256, cum % 256, n)
            cum += n
    assert got == expected


def test_incremental_dedup_overlapping_batches(spark):
    """A doc present in BOTH the index and the new batch (a re-crawl)
    must not pair with itself or duplicate its pairs — and when its text
    changed, verification uses the NEW text."""
    old = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        # doc 1 re-crawled with identical text
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    rows = DD.incremental_minhash_pairs(old, new, threshold=0.5).collect()
    pairs = [(r.id_a, r.id_b) for r in rows]
    assert pairs == [(1, 2)], rows  # exactly once, no self-pair
    # changed re-crawl: new text of doc 1 no longer matches doc 2
    new2 = spark.createDataFrame(
        [(1, "one two three four five six seven eight")],
        "doc_id long, text string",
    )
    rows2 = DD.incremental_minhash_pairs(old, new2, threshold=0.5).collect()
    assert rows2 == [], rows2
    DD.release_all()


# --------------------------------------------------------------------------
# Round-5 curation additions (the registry queries are oracle-gated; these
# tests pin the SEMANTICS on planted inputs and the determinism properties
# the oracles can't see)
# --------------------------------------------------------------------------


def _write_documents(spark, tmp_path, rows):
    """Materialize a planted documents table shaped like the testdata one
    so the registry queries (which read {sf_dir}/documents.parquet) run
    on it unchanged."""
    df = spark.createDataFrame(
        [
            (i, t, lang, f"src{i % 20}", len(t))
            for i, t, lang in rows
        ],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    out = str(tmp_path / "planted")
    df.coalesce(1).write.mode("overwrite").parquet(
        f"{out}/documents.parquet"
    )
    return out


def test_dup_span_stats_planted_runs(spark, tmp_path):
    """The gaps-and-islands run length equals the number of 5-gram
    positions a verbatim-shared sentence covers (len - 5 + 1), and docs
    with no cross-doc 5-grams report zero."""
    from web_scraper_v1_spark import queries as Q

    shared = "the quick brown fox jumps over the lazy dog"  # 9 words
    sf = _write_documents(
        spark,
        tmp_path,
        [
            (1, shared + " unique tail one alpha beta gamma", "en"),
            (2, "prefix words here two " + shared, "en"),
            (3, "totally unrelated text with its own private words only",
             "en"),
        ],
    )
    got = {
        r.doc_id: (r.n_grams, r.n_dup_grams, r.max_dup_run)
        for r in Q.queries()["dup_span_stats"](spark, sf).collect()
    }
    # the 9-word shared sentence spans 9 - 5 + 1 = 5 consecutive 5-gram
    # positions in each doc that contains it verbatim
    assert got[1][2] == 5, got
    assert got[2][2] == 5, got
    assert got[1][1] == 5 and got[2][1] == 5, got
    assert got[3][1:] == (0, 0), got


def test_dsir_select_prefers_target_lang(spark, tmp_path):
    """Docs whose bigrams dominate the target (en) slice must outrank
    docs built from bigrams the target never uses: the integer
    likelihood-ratio surrogate is monotone in tgt/raw."""
    from web_scraper_v1_spark import queries as Q

    rows = []
    # target-defining en docs share a vocabulary
    for i in range(6):
        rows.append((i, "model training data quality tokens corpus "
                        "scale compute", "en"))
    # a non-en doc written in the target vocabulary -> should score high
    rows.append((100, "model training data quality tokens corpus scale "
                      "compute", "de"))
    # non-en docs with disjoint vocabulary -> should score low
    for i in range(6):
        rows.append((200 + i, f"voiture rouge maison{i} arbre fleur "
                              f"soleil lune etoile", "fr"))
    sf = _write_documents(spark, tmp_path, rows)
    out = Q.queries()["dsir_select"](spark, sf).collect()
    score = {r.doc_id: r.importance for r in out}
    assert score[100] == score[0]  # same bigrams -> same importance
    assert score[100] > max(score[200 + i] for i in range(6)), score


def test_domain_frequency_cap_properties(spark):
    """Kept count per host is min(host_cnt, cap); ranks are a prefix of
    the md5 order; a second run returns the identical set (seeded-hash
    determinism, independent of physical row order)."""
    from web_scraper_v1_spark import queries as Q

    q = Q.queries()["domain_frequency_cap"]
    a = q(spark, SF).collect()
    by_host: dict[int, list] = {}
    for r in a:
        by_host.setdefault(r.host, []).append(r)
    for host, rs in by_host.items():
        cap = rs[0].cap
        cnt = rs[0].host_cnt
        assert cap == 5 + cnt // 3
        assert len(rs) == min(cnt, cap)
        assert sorted(r.rk for r in rs) == list(range(1, len(rs) + 1))
    b = q(spark, SF).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_mixture_token_budget_greedy_fill(spark):
    """Within each source, the admitted docs are exactly the greedy
    md5-ordered prefix: every admitted doc starts under budget, and the
    cumulative sums are consistent with the per-doc token counts."""
    from web_scraper_v1_spark import queries as Q

    out = Q.queries()["mixture_token_budget"](spark, SF).collect()
    by_src: dict[str, list] = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    assert by_src, "query returned nothing"
    for src, rs in by_src.items():
        budget = rs[0].budget_tokens
        n = int(src[3:]) % 4 + 1
        assert budget == n * 800
        rs = sorted(rs, key=lambda r: r.cum_tokens)
        run = 0
        for r in rs:
            assert r.cum_tokens - r.n_tokens < budget
            run += r.n_tokens
            assert r.cum_tokens == run


def test_dup_span_remove_keeps_canonical_copy(spark, tmp_path):
    """The owner (smallest doc_id containing a duplicated gram) keeps its
    text untouched; every other doc loses exactly the covered positions;
    sub-gram-width docs pass through whole."""
    from web_scraper_v1_spark import queries as Q

    shared = "the quick brown fox jumps over the lazy dog"  # 9 words
    sf = _write_documents(
        spark,
        tmp_path,
        [
            (1, shared + " unique tail one alpha beta gamma", "en"),
            (2, "prefix words here two " + shared, "en"),
            (3, "totally unrelated text with its own private words only",
             "en"),
            (4, "tiny doc here", "en"),
        ],
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_kept, r.clean_text)
        for r in Q.queries()["dup_span_remove"](spark, sf).collect()
    }
    # doc 1 owns every shared gram -> untouched
    assert got[1][1] == got[1][0] == 15
    assert got[1][2] == shared + " unique tail one alpha beta gamma"
    # doc 2: the 9 positions covered by the shared sentence are removed
    assert got[2] == (13, 4, "prefix words here two")
    # unrelated and sub-width docs pass through whole
    assert got[3][1] == got[3][0]
    assert got[4] == (3, 3, "tiny doc here")


def test_mojibake_repair_roundtrip(spark):
    # Every pair is derived: clean.utf8 bytes decoded as cp1252 == moji.
    for moji, clean in TX.MOJIBAKE_PAIRS:
        assert clean.encode("utf-8").decode("cp1252") == moji
        assert moji != clean
    clean = "café déjà — naïve’s résumé"
    bad = clean.encode("utf-8").decode("cp1252")
    df = spark.createDataFrame(
        [(1, bad), (2, clean), (3, "plain ascii only")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.fixed
        for r in df.select(
            "doc_id", TX.repair_mojibake(F.col("text")).alias("fixed")
        ).collect()
    }
    assert out[1] == clean          # damage repaired byte-exactly
    assert out[2] == clean          # already-clean text untouched
    assert out[3] == "plain ascii only"


def test_jaccard_pairs_cache_hit_and_parity(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    DD.release_pairs()
    direct = {
        (r.id_a, r.id_b, r.jaccard)
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    c1 = DD.jaccard_pairs_cached(docs, threshold=0.8)
    c2 = DD.jaccard_pairs_cached(docs, threshold=0.8)
    assert c1 is c2  # second consumer reuses the persisted frame
    cached = {(r.id_a, r.id_b, r.jaccard) for r in c1.collect()}
    assert cached == direct
    # distinct threshold is a distinct cache entry, not a false hit
    c3 = DD.jaccard_pairs_cached(docs, threshold=0.9)
    assert c3 is not c1
    DD.release_pairs()


def test_containment_pairs_directed(spark):
    """A is a strict shingle-subset of B: containment finds the directed
    (A in B) pair that symmetric Jaccard misses at the same threshold."""
    w = [f"w{i}" for i in range(20)]
    b_text = " ".join(w)           # 18 trigram shingles
    a_text = " ".join(w[:10])      # 8 shingles, all inside B's set
    docs = spark.createDataFrame(
        [(1, a_text), (2, b_text), (3, "zz yy xx vv uu tt")],
        "doc_id long, text string",
    )
    pairs = {
        (r.id_a, r.id_b): r
        for r in DD.containment_pairs(docs, threshold=0.8).collect()
    }
    assert set(pairs) == {(1, 2)}  # directed: A contained in B only
    assert pairs[(1, 2)].containment == 1.0
    assert pairs[(1, 2)].n_a == 8 and pairs[(1, 2)].n_b == 18
    # symmetric Jaccard at the same threshold sees nothing (8/18 < 0.8)
    assert DD.ngram_jaccard_pairs(docs, threshold=0.8).count() == 0


def test_containment_screen_is_lossless_vs_allpairs(spark):
    """max_df pruning plus the upper-bound screen must reproduce the
    unpruned all-pairs answer on the real corpus slice."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pruned = {
        (r.id_a, r.id_b, r.containment)
        for r in DD.containment_pairs(
            docs, threshold=0.8, max_df=5
        ).collect()
    }
    unpruned = {
        (r.id_a, r.id_b, r.containment)
        for r in DD.containment_pairs(
            docs, threshold=0.8, max_df=0
        ).collect()
    }
    assert pruned == unpruned
