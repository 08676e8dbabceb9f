"""URL-seen set: partitioned (sharded) Bloom prefilter + exact anti-join.

The reference's only seen-set-shaped structure is the in-memory TTL cache
(/root/reference/internal/cache/in_memory.go:9-109), which is not wired into
the crawl loop — the live loop refetches duplicates
(cmd/transmitter/main.go:179-187 enqueues the same URL 11x). The north rule
makes dedup a first-class engine feature: canonicalized URL -> xxhash64,
an exact membership table, and an approximate *partitioned* Bloom prefilter
whose per-partition bitmaps are built from Arrow batches and OR-merged.

Design for 10^10 URLs:
* the exact set is an append-only snapshot table keyed (url_hash, url) —
  membership is a ``left_anti`` join (hash-partitioned shuffle, AQE-skew
  aware); joining on both columns makes 64-bit collisions harmless.
* the Bloom is SHARDED: shard = url_hash mod S, each shard an independent
  bitmap. At 10^10 keys and 1% fpp the total bitmap is ~12 GiB — far too
  big for one driver-held broadcast — but with S sized so each shard is
  <=128 MiB (``ShardedBloom.plan``), shards ship as separate broadcast
  variables: Spark's torrent broadcast is fetched lazily on first
  ``.value`` access, so an executor only pulls the shards its candidate
  rows actually hash into (candidates repartitioned by shard touch ~1
  shard per task). The driver never holds more than the shards it is
  currently merging.
* the (re)load build is distributed: one (S x words) bitmap block per
  non-empty partition, built from the partition's Arrow batches and
  OR-merged on the driver, in one job that also counts the keys.
  A crawl round's increment is bounded by its wave, so ``add`` inserts
  its keys into the driver-held bitmap from one Arrow collect instead.
* no false negatives by construction, so exactness is preserved (bloom is
  a prefilter only — SURVEY.md §7 hard part (c)); candidates that are
  definitely-new (bloom miss) bypass the exact anti-join entirely: they
  are neither shuffled to it nor compared with the seen table.
* TTL semantics (in_memory.go:51-61) map to ``seen_round >= r - ttl``
  filters on the exact table; recrawl policies plug in there. Bloom bits
  for expired keys are deleted via ROTATING GENERATIONS (the north rule's
  "bloom/cuckoo" deletable-filter requirement — see the SeenSet docstring):
  the live window spans <= 2 generation bitmaps, older generations are
  dropped whole, so fpp stays bounded under recrawl churn.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)


def _mix(h: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """splitmix64-style double hashing: two independent 64-bit streams."""
    x = h.astype(np.uint64)
    x ^= x >> np.uint64(30)
    x *= _M1
    x ^= x >> np.uint64(27)
    h1 = x * _M2
    h2 = (x ^ (x >> np.uint64(31))) * _M1 | np.uint64(1)
    return h1, h2


class BloomFilter:
    """Fixed-size Bloom over int64 keys; numpy bitmap, vectorized ops only.
    The single-shard primitive ShardedBloom is built from."""

    def __init__(self, n_bits: int = 1 << 23, n_hashes: int = 5):
        assert n_bits & (n_bits - 1) == 0, "n_bits must be a power of two"
        self.n_bits = n_bits
        self.n_hashes = n_hashes
        self.bits = np.zeros(n_bits // 64, dtype=np.uint64)

    def _positions(self, keys: np.ndarray) -> np.ndarray:
        h1, h2 = _mix(keys)
        idx = np.arange(self.n_hashes, dtype=np.uint64)[:, None]
        return (h1[None, :] + idx * h2[None, :]) & np.uint64(self.n_bits - 1)

    def add(self, keys: np.ndarray) -> None:
        if len(keys) == 0:
            return
        pos = self._positions(np.asarray(keys))
        word = (pos >> np.uint64(6)).ravel()
        bit = np.uint64(1) << (pos & np.uint64(63)).ravel()
        np.bitwise_or.at(self.bits, word, bit)

    def contains(self, keys: np.ndarray) -> np.ndarray:
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(np.asarray(keys))
        word = pos >> np.uint64(6)
        bit = np.uint64(1) << (pos & np.uint64(63))
        hits = (self.bits[word] & bit) != 0
        return hits.all(axis=0)

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        assert self.n_bits == other.n_bits and self.n_hashes == other.n_hashes
        self.bits |= other.bits
        return self


def _shard_of(keys: np.ndarray, n_shards: int) -> np.ndarray:
    """shard = signed pmod(key, S): numpy's ``%`` on int64 with a positive
    divisor already yields the non-negative remainder, which is exactly
    Spark's ``pmod(url_hash, S)`` for ANY shard count — so routing
    candidates with ``repartition(pmod(url_hash, S))`` fetches the same
    shard this module uses. (The previous uint64-view mod only agreed with
    pmod for power-of-two S.)"""
    return np.asarray(keys).astype(np.int64) % np.int64(n_shards)


class ShardedBloom:
    """S independent Bloom bitmaps keyed by ``url_hash mod S``.

    ``bits2d`` has shape (S, bits_per_shard/64); row s is shard s's bitmap.
    Membership and insertion are vectorized across a whole key batch
    (scatter into the flattened bitmap with globally-offset word indices —
    one numpy pass regardless of S).
    """

    def __init__(
        self,
        n_shards: int = 16,
        bits_per_shard: int = 1 << 19,
        n_hashes: int = 5,
    ):
        assert bits_per_shard & (bits_per_shard - 1) == 0
        self.n_shards = n_shards
        self.bits_per_shard = bits_per_shard
        self.n_hashes = n_hashes
        self.words_per_shard = bits_per_shard // 64
        self.bits2d = np.zeros(
            (n_shards, self.words_per_shard), dtype=np.uint64
        )

    @classmethod
    def plan(
        cls,
        n_keys: int,
        fpp: float = 0.01,
        max_shard_bytes: int = 128 << 20,
        n_hashes: int = 5,
    ) -> tuple[int, int]:
        """Size (n_shards, bits_per_shard) for ``n_keys`` at ``fpp`` with
        every shard bitmap (= broadcast unit = driver merge unit) bounded
        by ``max_shard_bytes``. At 10^10 keys / 1% fpp the total is
        ~12 GiB -> ~96 shards of 128 MiB; no single broadcast or
        driver-held array ever exceeds the bound."""
        total_bits = int(-n_keys * math.log(fpp) / (math.log(2) ** 2))
        n_shards = max(1, math.ceil(total_bits / (max_shard_bytes * 8)))
        per_shard = 1 << max(6, math.ceil(math.log2(total_bits / n_shards)))
        while per_shard // 8 > max_shard_bytes:
            n_shards *= 2
            per_shard = 1 << math.ceil(math.log2(total_bits / n_shards))
        return n_shards, per_shard

    # -- vectorized batch ops ---------------------------------------------
    def _scatter_indices(self, keys: np.ndarray):
        shard = _shard_of(keys, self.n_shards).astype(np.uint64)
        bf = BloomFilter.__new__(BloomFilter)
        bf.n_bits = self.bits_per_shard
        bf.n_hashes = self.n_hashes
        pos = bf._positions(np.asarray(keys))  # (n_hashes, n)
        word = shard[None, :] * np.uint64(self.words_per_shard) + (
            pos >> np.uint64(6)
        )
        bit = np.uint64(1) << (pos & np.uint64(63))
        return word, bit

    def add(self, keys: np.ndarray) -> np.ndarray:
        """Insert keys; returns the mask of shards whose bits changed (so
        only those need re-broadcast)."""
        changed = np.zeros(self.n_shards, dtype=bool)
        if len(keys) == 0:
            return changed
        word, bit = self._scatter_indices(keys)
        word, bit = word.ravel(), bit.ravel()
        flat = self.bits2d.reshape(-1)
        fresh = (flat[word] & bit) == 0
        shard = word[fresh] // np.uint64(self.words_per_shard)
        changed[shard.astype(np.int64)] = True
        np.bitwise_or.at(flat, word, bit)
        return changed

    def contains(self, keys: np.ndarray) -> np.ndarray:
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        word, bit = self._scatter_indices(keys)
        flat = self.bits2d.reshape(-1)
        return ((flat[word] & bit) != 0).all(axis=0)


def build_sharded_bits(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    bits_per_shard: int,
    n_hashes: int = 5,
) -> tuple[np.ndarray, int]:
    """Distributed sharded-bloom build: each partition inserts its keys
    into one (S x words) block from its Arrow batches (``mapInArrow``, one
    vectorized numpy pass per batch, no per-row Python), and the driver
    ORs the blocks. Returns the merged (S x words) array and the number of
    keys, so the caller learns whether the table is empty from the same
    job.

    Scale note: the driver receives one block of S * bits_per_shard / 8
    bytes per non-empty partition (an empty partition sends nothing).
    When the FULL bitmap exceeds driver memory (10^10 keys), the same
    build runs per shard-range (filter the key stream to a range of
    shards, one build per range) so the driver only ever holds
    ``max_shard_bytes`` per block; the sandbox-scale path below keeps the
    one-pass variant.
    """

    def blocks(batches):
        sb = ShardedBloom(n_shards, bits_per_shard, n_hashes)
        n = 0
        for batch in batches:
            keys = batch.column(0).to_numpy(zero_copy_only=False)
            sb.add(keys.astype(np.int64, copy=False))
            n += len(keys)
        if n:
            yield pa.RecordBatch.from_pydict(
                {"bits": [sb.bits2d.tobytes()], "n": [n]}
            )

    table = (
        df.select(key_col)
        .mapInArrow(blocks, "bits binary, n long")
        .toArrow()
    )
    merged = np.zeros((n_shards, bits_per_shard // 64), dtype=np.uint64)
    for block in table.column("bits").to_pylist():
        merged |= np.frombuffer(block, dtype=np.uint64).reshape(merged.shape)
    return merged, sum(table.column("n").to_pylist())


class ShardedCuckoo:
    """S independent cuckoo-filter tables keyed by ``key mod S`` — the
    KEYED-DELETE membership option the north rule names ("bloom/cuckoo
    URL-seen set"). Rotating Bloom generations (``SeenSet``) can only
    expire whole TTL windows; a cuckoo filter deletes a *specific* key
    (e.g. invalidating one recrawled URL mid-generation) because each key
    occupies an identifiable slot instead of shared bits.

    Layout (partial-key cuckoo hashing, Fan et al. 2014, public): shard s
    is ``table[s]`` of shape (buckets_per_shard, 4) uint16 fingerprints
    (0 = empty). A key's 16-bit fingerprint lives in one of TWO candidate
    buckets: b1 = h(key) mod B and b2 = b1 XOR (h(fp) mod B) — the XOR is
    self-inverse, so either resident bucket recovers the other from the
    stored fingerprint alone (what makes eviction and table MERGE possible
    without the original keys). Same sharding contract as ``ShardedBloom``:
    per-shard numpy tables sized by ``plan()`` under a broadcast-unit
    bound, built per-partition and merged via ``treeAggregate``
    (``build_sharded_cuckoo``).

    No false negatives for resident keys (inserts either succeed or raise
    at ~95% load); false positives = fingerprint collisions (~2*4/65536
    per probed bucket pair). ``delete`` zeroes ONE matching fingerprint
    copy and reports which keys were found; per the standard cuckoo-filter
    contract it must only be called with keys that were actually inserted
    (two resident keys sharing (fp, bucket-pair) hold two copies, so
    deleting one preserves the other — but deleting a NEVER-inserted
    colliding key would strip a resident's copy). ``SeenSet.delete_keys``
    honors this by deleting rows drawn from the seen table itself; the
    exact anti-join downstream keeps correctness regardless — this is a
    prefilter, exactly like the Bloom."""

    SLOTS = 4
    MAX_KICKS = 500

    def __init__(self, n_shards: int = 16, buckets_per_shard: int = 1 << 12):
        assert buckets_per_shard & (buckets_per_shard - 1) == 0
        self.n_shards = n_shards
        self.buckets_per_shard = buckets_per_shard
        self.table = np.zeros(
            (n_shards, buckets_per_shard, self.SLOTS), dtype=np.uint16
        )

    @classmethod
    def plan(
        cls,
        n_keys: int,
        max_shard_bytes: int = 128 << 20,
        load: float = 0.84,
    ) -> tuple[int, int]:
        """Size (n_shards, buckets_per_shard) for ``n_keys`` at the classic
        ~84% safe load factor with every shard table (= broadcast unit)
        bounded by ``max_shard_bytes`` — mirror of ``ShardedBloom.plan``.
        At 10^10 keys this is ~24 GiB of 16-bit slots -> ~186 shards of
        128 MiB."""
        total_buckets = max(1, math.ceil(n_keys / (cls.SLOTS * load)))
        bytes_per_bucket = cls.SLOTS * 2
        n_shards = max(
            1, math.ceil(total_buckets * bytes_per_bucket / max_shard_bytes)
        )
        per_shard = 1 << max(4, math.ceil(math.log2(total_buckets / n_shards)))
        while per_shard * bytes_per_bucket > max_shard_bytes:
            n_shards *= 2
            per_shard = 1 << max(
                4, math.ceil(math.log2(total_buckets / n_shards))
            )
        return n_shards, per_shard

    # -- key decomposition --------------------------------------------------
    def _alt_offset(self, fp: np.ndarray) -> np.ndarray:
        a, _ = _mix(fp.astype(np.uint64))
        return (a & np.uint64(self.buckets_per_shard - 1)).astype(np.int64)

    def _decompose(self, keys: np.ndarray):
        """(shard, fingerprint, bucket1, bucket2) per key, vectorized."""
        k = np.asarray(keys)
        h1, h2 = _mix(k)
        fp = (h1 & np.uint64(0xFFFF)).astype(np.uint16)
        fp = np.where(fp == 0, np.uint16(1), fp)  # 0 marks an empty slot
        b1 = (h2 & np.uint64(self.buckets_per_shard - 1)).astype(np.int64)
        b2 = b1 ^ self._alt_offset(fp)
        return _shard_of(k, self.n_shards), fp, b1, b2

    # -- ops ------------------------------------------------------------------
    def contains(self, keys: np.ndarray) -> np.ndarray:
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        shard, fp, b1, b2 = self._decompose(keys)
        return ((self.table[shard, b1] == fp[:, None]).any(axis=1)) | (
            (self.table[shard, b2] == fp[:, None]).any(axis=1)
        )

    def _insert_entry(self, s: int, f: int, b: int) -> bool:
        """Place fingerprint ``f`` into shard ``s`` starting from candidate
        bucket ``b`` (its pair bucket is recovered from ``f``), kicking
        residents cuckoo-style when both are full. Deterministic victim
        slot (no RNG) keeps builds bit-reproducible."""
        alt = b ^ int(self._alt_offset(np.array([f], dtype=np.uint16))[0])
        for cand in (b, alt):
            row = self.table[s, cand]
            free = np.nonzero(row == 0)[0]
            if free.size:
                row[free[0]] = f
                return True
        cur = b
        for kick in range(self.MAX_KICKS):
            slot = (f + kick) % self.SLOTS
            victim = int(self.table[s, cur, slot])
            self.table[s, cur, slot] = f
            f = victim
            cur = cur ^ int(
                self._alt_offset(np.array([f], dtype=np.uint16))[0]
            )
            row = self.table[s, cur]
            free = np.nonzero(row == 0)[0]
            if free.size:
                row[free[0]] = f
                return True
        return False

    def add(self, keys: np.ndarray) -> None:
        """Insert keys; raises if a shard exceeds its safe load (size with
        ``plan()``) — an insert that silently dropped a key would be a
        false NEGATIVE, which the seen-set contract forbids."""
        if len(keys) == 0:
            return
        shard, fp, b1, _ = self._decompose(keys)
        for s, f, b in zip(shard.tolist(), fp.tolist(), b1.tolist()):
            if not self._insert_entry(int(s), int(f), int(b)):
                raise RuntimeError(
                    f"cuckoo shard {s} overfull (buckets_per_shard="
                    f"{self.buckets_per_shard}); size with plan()"
                )

    def delete(self, keys: np.ndarray) -> np.ndarray:
        """Remove ONE stored copy of each key's fingerprint (keyed delete —
        the recrawl-invalidation path). Returns a bool mask of keys that
        were actually resident; absent keys are left untouched."""
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        shard, fp, b1, b2 = self._decompose(keys)
        out = np.zeros(len(fp), dtype=bool)
        for i, (s, f) in enumerate(zip(shard.tolist(), fp.tolist())):
            for b in (int(b1[i]), int(b2[i])):
                row = self.table[s, b]
                hit = np.nonzero(row == f)[0]
                if hit.size:
                    row[hit[0]] = 0
                    out[i] = True
                    break
        return out

    def merge(self, other: "ShardedCuckoo") -> np.ndarray:
        """Re-insert every resident fingerprint of ``other`` (the XOR pair
        rule recovers each entry's alternate bucket without the original
        keys) — the treeAggregate combine op. Returns the mask of shards
        this merge changed (only those need re-broadcast)."""
        assert self.table.shape == other.table.shape
        changed = np.zeros(self.n_shards, dtype=bool)
        for s in range(self.n_shards):
            bs, slots = np.nonzero(other.table[s])
            if not bs.size:
                continue
            changed[s] = True
            for b, sl in zip(bs.tolist(), slots.tolist()):
                if not self._insert_entry(s, int(other.table[s, b, sl]), b):
                    raise RuntimeError(
                        f"cuckoo shard {s} overfull during merge; "
                        "size with plan()"
                    )
        return changed


def build_sharded_cuckoo(
    df: DataFrame, key_col: str, n_shards: int, buckets_per_shard: int
) -> "ShardedCuckoo":
    """Distributed cuckoo build: one per-partition table (vectorized
    decompose + insert loop over the partition's keys), entry-merged
    tree-wise via ``treeAggregate`` (the cuckoo combine is re-insertion,
    not OR — slot placement differs by merge order, membership does
    not)."""
    proto = ShardedCuckoo(n_shards, buckets_per_shard)
    zero = np.zeros_like(proto.table)

    def _wrap(table: np.ndarray) -> ShardedCuckoo:
        ck = ShardedCuckoo.__new__(ShardedCuckoo)
        ck.n_shards = n_shards
        ck.buckets_per_shard = buckets_per_shard
        ck.table = table
        return ck

    def seq_op(rows) -> np.ndarray:
        ck = _wrap(zero.copy())
        ck.add(np.fromiter((r[0] for r in rows), dtype=np.int64))
        return ck.table

    def comb_op(a: np.ndarray, b: np.ndarray) -> np.ndarray:
        ck = _wrap(a)
        ck.merge(_wrap(b))
        return ck.table

    n_parts = max(1, df.rdd.getNumPartitions())
    depth = 2 if n_parts <= 64 else 3
    blocks = df.select(key_col).rdd.mapPartitions(lambda it: [seq_op(it)])
    merged = blocks.treeAggregate(zero, comb_op, comb_op, depth=depth)
    return _wrap(merged)


def _cuckoo_probe(bcs: list, n_shards: int, buckets_per_shard: int):
    """Vectorized membership kernel (pd.Series of keys -> pd.Series of
    bool) over per-shard cuckoo-table broadcasts."""

    def _contains(keys: pd.Series) -> pd.Series:
        k = keys.to_numpy(dtype=np.int64)
        ck = ShardedCuckoo.__new__(ShardedCuckoo)
        ck.n_shards = 1
        ck.buckets_per_shard = buckets_per_shard
        shard = _shard_of(k, n_shards)
        out = np.zeros(len(k), dtype=bool)
        for s in np.unique(shard):
            m = shard == s
            ck.table = bcs[int(s)].value[None, :, :]
            out[m] = ck.contains(k[m])
        return pd.Series(out)

    return _contains


def _bloom_probe(
    gen_bcs: list[list], n_shards: int, bits_per_shard: int, n_hashes: int
):
    """Vectorized membership kernel (pd.Series of keys -> pd.Series of
    bool) over per-shard broadcasts, OR'd across bloom GENERATIONS (a key
    is maybe-seen if any live generation might hold it). Only the shards
    present in a batch are ``.value``-accessed — Spark's torrent
    broadcast fetches lazily, so a task whose candidates are
    repartitioned by ``pmod(url_hash, S)`` pulls exactly one shard per
    generation."""

    def _contains(keys: pd.Series) -> pd.Series:
        k = keys.to_numpy(dtype=np.int64)
        shard = _shard_of(k, n_shards)
        out = np.zeros(len(k), dtype=bool)
        bf = BloomFilter.__new__(BloomFilter)
        bf.n_bits = bits_per_shard
        bf.n_hashes = n_hashes
        for s in np.unique(shard):
            m = shard == s
            hit = np.zeros(int(m.sum()), dtype=bool)
            for bcs in gen_bcs:
                if hit.all():
                    break
                bf.bits = bcs[int(s)].value
                hit |= bf.contains(k[m])
            out[m] = hit
        return pd.Series(out)

    return _contains


class SeenSet:
    """Exact membership (snapshot table) + incremental sharded-Bloom
    prefilter.

    ``filter_new(candidates)`` returns candidates not present in the set:
    bloom-miss rows pass through without touching the join; bloom-hit rows
    go through the exact ``left_anti`` on (url_hash, url).

    TTL / recrawl (``ttl_rounds``): a plain Bloom cannot delete, so under a
    recrawl policy expired keys would accumulate and the fpp would degrade
    monotonically until the prefilter saves no join work. The deletable
    analog here is ROTATING GENERATIONS (the rotating-Bloom alternative to
    a cuckoo filter): generation ``g`` holds the keys of rounds
    [g*W, (g+1)*W) with W = ttl_rounds. The live window of round ``r``
    (rounds > r - W) spans at most two generations, so membership ORs <= 2
    bitmaps and ``expire(r)`` drops every older generation whole — bits
    for expired keys actually leave the filter, bounding fpp by the keys
    of <= 2*W rounds forever. A kept generation may still hold some
    expired keys (intra-generation mixing) — false positives only; the
    exact TTL-filtered anti-join preserves exactness, and zero false
    negatives holds per generation by construction.

    ``filter_kind="cuckoo"`` swaps the approximate side for a
    ``ShardedCuckoo``: same prefilter contract (no false negatives, exact
    anti-join backstop), plus KEYED delete — ``delete_keys(df)`` removes
    specific URLs from both the exact table and the filter (recrawl
    invalidation mid-generation, which rotating Bloom generations cannot
    express). TTL generations apply only to the Bloom kind.
    """

    def __init__(
        self,
        spark,
        n_bits: int = 1 << 23,
        n_hashes: int = 5,
        use_bloom: bool = True,
        n_shards: int = 16,
        ttl_rounds: int | None = None,
        filter_kind: str = "bloom",
        cuckoo_buckets_per_shard: int = 1 << 12,
    ):
        assert filter_kind in ("bloom", "cuckoo")
        self.spark = spark
        self.use_bloom = use_bloom
        self.filter_kind = filter_kind
        self.n_shards = n_shards
        self.n_hashes = n_hashes
        self.bits_per_shard = max(64, n_bits // n_shards)
        self.cuckoo_buckets_per_shard = cuckoo_buckets_per_shard
        self.ttl_rounds = ttl_rounds
        # generation id -> (sharded bloom, per-shard broadcasts)
        self._gens: dict[int, ShardedBloom] = {}
        self._gen_bcs: dict[int, list] = {}
        self._cuckoo: ShardedCuckoo | None = None
        self._cuckoo_bcs: list = []
        self._seen_df: DataFrame | None = None
        self._nonempty = False

    # -- generations --------------------------------------------------------
    def _gen_of(self, round_id: int) -> int:
        return 0 if self.ttl_rounds is None else round_id // self.ttl_rounds

    def _gen_for(self, gen_id: int) -> ShardedBloom:
        if gen_id not in self._gens:
            self._gens[gen_id] = ShardedBloom(
                self.n_shards, self.bits_per_shard, self.n_hashes
            )
            self._gen_bcs[gen_id] = [None] * self.n_shards
        return self._gens[gen_id]

    @property
    def bloom(self) -> ShardedBloom:
        """Single-generation view (the only generation when no TTL)."""
        return self._gen_for(min(self._gens, default=0))

    def _drop_gen(self, gen_id: int) -> None:
        self._gens.pop(gen_id)
        for bc in self._gen_bcs.pop(gen_id):
            if bc is not None:
                bc.unpersist()

    def expire(self, current_round: int) -> None:
        """Drop generations that can only hold TTL-expired keys (rounds
        <= current_round - ttl_rounds) — the deletion path that keeps the
        approximate filter's fpp bounded under recrawl churn."""
        if self.ttl_rounds is None:
            return
        min_live_gen = self._gen_of(max(0, current_round - self.ttl_rounds + 1))
        for g in [g for g in self._gens if g < min_live_gen]:
            self._drop_gen(g)

    # -- broadcast lifecycle ----------------------------------------------
    def _publish(self, gen_id: int, changed=None) -> None:
        bloom = self._gens[gen_id]
        bcs = self._gen_bcs[gen_id]
        for s in range(bloom.n_shards):
            if changed is not None and not changed[s] and bcs[s] is not None:
                continue
            old = bcs[s]
            bcs[s] = self.spark.sparkContext.broadcast(bloom.bits2d[s])
            if old is not None:
                old.unpersist()

    # -- state -------------------------------------------------------------
    def load(self, seen_df: DataFrame, round_id: int = 0) -> None:
        """(Re)load the exact set, e.g. on resume; rebuilds the bloom
        distributed (per-partition shard blocks from Arrow batches,
        OR-merged on the driver; the same job counts the keys, so an empty
        table costs no extra probe job). All loaded keys land in
        ``round_id``'s generation — with a TTL this keeps them up to one
        window longer than their true expiry (false-positive-only,
        conservative)."""
        for g in list(self._gens):
            self._drop_gen(g)
        self._seen_df = seen_df
        if self.use_bloom and self.filter_kind == "bloom":
            bits, n_keys = build_sharded_bits(
                seen_df,
                "url_hash",
                self.n_shards,
                self.bits_per_shard,
                self.n_hashes,
            )
            self._nonempty = n_keys > 0
            if self._nonempty:
                g = self._gen_of(round_id)
                self._gen_for(g).bits2d = bits
                self._publish(g)
            return
        self._nonempty = bool(seen_df.take(1))
        if self.use_bloom and self._nonempty:
            self._cuckoo = build_sharded_cuckoo(
                seen_df,
                "url_hash",
                self.n_shards,
                self.cuckoo_buckets_per_shard,
            )
            self._publish_cuckoo()

    def set_exact(self, seen_df: DataFrame) -> None:
        """Swap the exact side (e.g. to a freshly committed snapshot read)
        WITHOUT rebuilding the bloom — used when the bloom has already been
        updated incrementally via ``add``. Without a TTL the exact table
        only grows, so once non-empty it stays so and no probe job runs."""
        self._seen_df = seen_df
        if not (self._nonempty and self.ttl_rounds is None):
            self._nonempty = bool(seen_df.take(1))

    def add(self, new_df: DataFrame, round_id: int = 0) -> None:
        """Register newly seen rows (url_hash, url). The exact table is the
        caller's snapshot append; here the round's hashes — bounded by the
        round's wave — come to the driver in ONE Arrow collect and are
        inserted into the driver-held filter (the round's bloom generation,
        or the cuckoo table), a per-window incremental update with no
        distributed build. Only the shards that changed are re-broadcast."""
        self._seen_df = (
            new_df.select("url_hash", "url")
            if self._seen_df is None
            else self._seen_df.select("url_hash", "url").unionByName(
                new_df.select("url_hash", "url")
            )
        )
        self._nonempty = True
        if not self.use_bloom:
            return
        keys = (
            new_df.select("url_hash").toArrow().column(0).to_numpy()
            .astype(np.int64)
        )
        if self.filter_kind == "cuckoo":
            if self._cuckoo is None:
                self._cuckoo = ShardedCuckoo(
                    self.n_shards, self.cuckoo_buckets_per_shard
                )
            self._cuckoo.add(keys)
            changed = np.zeros(self.n_shards, dtype=bool)
            changed[_shard_of(keys, self.n_shards)] = True
            self._publish_cuckoo(changed)
            return
        g = self._gen_of(round_id)
        self._publish(g, self._gen_for(g).add(keys))

    def delete_keys(self, deleted_df: DataFrame) -> None:
        """KEYED delete (cuckoo kind): remove specific (url_hash, url) rows
        from the exact table AND their fingerprints from the filter —
        recrawl invalidation of individual URLs mid-generation. The
        deletion wave is politeness-bounded like a crawl round, so its
        hashes collect driver-side (same budget as the round's metrics
        collect). With the Bloom kind only the exact side shrinks (bits
        stay — false-positive-only, correctness preserved by the
        anti-join)."""
        if self._seen_df is None:
            return
        dele = deleted_df.select("url_hash", "url")
        self._seen_df = self._seen_df.select("url_hash", "url").join(
            dele, ["url_hash", "url"], "left_anti"
        )
        self._nonempty = bool(self._seen_df.take(1))
        if self.filter_kind == "cuckoo" and self._cuckoo is not None:
            keys = np.fromiter(
                (r[0] for r in dele.select("url_hash").collect()),
                dtype=np.int64,
            )
            if keys.size:
                shards = np.unique(_shard_of(keys, self.n_shards))
                self._cuckoo.delete(keys)
                changed = np.zeros(self.n_shards, dtype=bool)
                changed[shards] = True
                self._publish_cuckoo(changed)

    def _publish_cuckoo(self, changed=None) -> None:
        if not self._cuckoo_bcs:
            self._cuckoo_bcs = [None] * self.n_shards
        for s in range(self.n_shards):
            if changed is not None and not changed[s] and (
                self._cuckoo_bcs[s] is not None
            ):
                continue
            old = self._cuckoo_bcs[s]
            self._cuckoo_bcs[s] = self.spark.sparkContext.broadcast(
                self._cuckoo.table[s]
            )
            if old is not None:
                old.unpersist()

    def _probe(self):
        """The approximate filter's membership kernel, or None when there
        is no filter to probe."""
        if not self.use_bloom:
            return None
        if self.filter_kind == "cuckoo":
            if self._cuckoo is None:
                return None
            return _cuckoo_probe(
                self._cuckoo_bcs, self.n_shards, self.cuckoo_buckets_per_shard
            )
        gen_bcs = [
            self._gen_bcs[g]
            for g in sorted(self._gens)
            if self._gen_bcs[g][0] is not None
        ]
        if not gen_bcs:
            return None
        return _bloom_probe(
            gen_bcs, self.n_shards, self.bits_per_shard, self.n_hashes
        )

    def _flagged(self, candidates: DataFrame, probe) -> DataFrame:
        """``candidates`` plus ``_maybe_seen``, the probe's flag, evaluated
        ONCE per candidate. The frame is locally checkpointed (lazily:
        the first job that reads it computes and keeps it), so both
        branches of ``filter_new`` read the stored flag instead of
        re-running the probe each, and the optimizer sees ``_maybe_seen``
        as a plain column: it cannot infer the probe through the
        ``url_hash`` join key onto the seen-table scan, or onto a scan the
        caller joins the result with. The cost is that the flagged
        candidates stay pinned in executor memory (spilling to disk) until
        the returned frame is dropped."""
        udf = F.pandas_udf(probe, "boolean")
        return candidates.withColumn(
            "_maybe_seen", udf(F.col("url_hash"))
        ).localCheckpoint(eager=False)

    def filter_new(self, candidates: DataFrame) -> DataFrame:
        """The candidates not in the set. Bloom (or cuckoo) misses are new
        for certain and skip the exact side; only the maybe-seen rows —
        true hits plus the false-positive share — meet the exact
        ``left_anti`` join on (url_hash, url)."""
        if self._seen_df is None or not self._nonempty:
            return candidates
        seen = self._seen_df.select("url_hash", "url")
        probe = self._probe()
        if probe is None:
            return candidates.join(seen, ["url_hash", "url"], "left_anti")
        flagged = self._flagged(candidates, probe)
        maybe = F.col("_maybe_seen")
        definitely_new = flagged.filter(~maybe).drop("_maybe_seen")
        survivors = (
            flagged.filter(maybe)
            .drop("_maybe_seen")
            .join(seen, ["url_hash", "url"], "left_anti")
        )
        return definitely_new.unionByName(survivors)
