"""Register-blocked Bloom filter semi-join pruning — cut the fact-table
shuffle before a join.

The classic 100 TB join problem: a fact table too big to move joins a dim
whose *filtered* key set is modest but whose rows are too wide (or too
many) to broadcast as an exact hash table. A Bloom filter of the dim keys
costs ~15 bits/key at 1 % false positives — still 4-8x smaller than
broadcasting exact 8-byte key hashes — and pruning the fact against it
*before* the shuffle drops the exchange volume by (1 − selectivity).
Spark's own runtime row-level filtering does this for some shapes
(``spark.sql.optimizer.runtime.bloomFilter.enabled``), but the planner's
``bloom_filter_agg`` / ``might_contain`` expressions are not exposed to
SQL/DataFrame users (verified: UNRESOLVED_ROUTINE on Spark 4.1) and the
optimizer only injects them under its own heuristics. This module is the
user-steerable version, pure Catalyst end-to-end.

**Why register-blocked, not textbook:** a textbook Bloom probe is k
independent (position → word fetch → bit test) chains AND-ed together;
measured on 4M rows the k=7 filter expression fell off a 15× performance
cliff (1.1 s vs 0.07 s at k=3 — the generated predicate grows past what
the JIT handles well). The blocked design (Putze et al., "Cache-, Hash-
and Space-Efficient Bloom Filters"; the same idea behind Parquet's
split-block filters) hashes each key to ONE 64-bit word and sets k bits
*within that word*, so the probe is a single ``element_at`` plus one
``(word & mask) == mask`` comparison — measured 0.17 s for the same 4M
rows at k=7. Blocking costs extra space for the same FPR (~1.5× near 1 %,
more at tighter targets); ``bloom_params`` sizes m by the blocked
layout's own Poisson-mixture FPR model so the requested rate is actually
delivered.

- **build**: one pass over the (filtered) dim — word index from
  ``xxhash64(key)``, the k-bit in-word mask from six-bit slices of a
  second hash, ``bit_or`` per word. The collected result is W = m/64
  longs: |filter|-bounded, never |dim|-bounded.
- **probe (expression)**: the word array embedded as ONE array literal;
  membership is one ``element_at`` + one mask compare. Zero joins, zero
  Python, whole-stage-codegen-able, and the filter sits directly above
  the fact scan so Catalyst still pushes *other* predicates past it.
- **probe (broadcast join)**: for filters too large to inline as a
  literal, the words become a W-row broadcast table and the probe is ONE
  map-side broadcast hash join — still no shuffle of the fact.

No false negatives ever (the build side is exact); false positives only
cost stray rows the real join discards.

ANSI-safety: Spark 4 runs with ANSI arithmetic (overflow throws). Word
indexes are ``pmod``-reduced and in-word bit indexes come from unsigned
shifts masked to 6 bits — nothing can overflow.

Reference parity: no analogue — the reference's joins are Postgres-side
(control-plane/nexus/core/views.py) at toy scale. North-star scale
surface, same tier as operators/partitioning.py.
"""

from __future__ import annotations

import functools
import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Seed for the in-word mask hash — any constant distinct from xxhash64's
# default seed; golden-ratio constant is conventional.
_SEED2 = 0x9E3779B9

# A 64-bit second hash yields ten independent 6-bit slices.
_MAX_K = 10

# Above this word count the inline array literal stops being sensible
# (plan size, task-binary bloat) — callers should switch to the
# broadcast-join probe.
MAX_EXPR_WORDS = 1 << 20

# masks[i] = 1 << i as a signed 64-bit literal (bit 63 is the sign bit).
_MASKS = [1 << i if i < 63 else -(1 << 63) for i in range(64)]


def int64_array_literal(values: tuple[int, ...]) -> Column:
    """One ``array<bigint>`` literal Column from a tuple of ints, built
    with a SINGLE py4j call and memoized per (JVM gateway, value tuple).

    ``F.lit(list)`` builds the expression one element at a time — one
    py4j round trip per element — so a W-word filter literal cost
    ~W × 0.5 ms of single-threaded DRIVER time per composition: the
    bloom_ref_dedup_25x bench entry measured 8.5–10 s of which ~9 s was
    ``F.lit(list(words))`` alone (execution was 0.7 s), and the cost is
    driver-side, so it also nullified core scaling (the r14 verdict's
    unexplained 4–8× driver-vs-isolated gap — isolated measurements had
    composed the plan outside the clock). The ndarray form crosses the
    bridge as one array (compose ~50× faster at 15k words) and
    additionally evaluates ~3× faster per row (a folded ``Literal``
    rather than a 15k-child ``CreateArray``); the memo makes repeat
    compositions of the same frozen filter/sketch free. Values are
    identical either way (int64 in, array<bigint> out).

    A memoized Column holds a handle into the JVM that built it, so the
    memo is keyed on the live gateway too: a JVM relaunched in the same
    process (session stopped, gateway shut down, new session) builds
    fresh literals instead of handing out dead handles."""
    from pyspark import SparkContext

    return _int64_array_literal(SparkContext._gateway, values)


@functools.lru_cache(maxsize=64)
def _int64_array_literal(gateway, values: tuple[int, ...]) -> Column:
    import numpy as np

    return F.lit(np.asarray(values, dtype=np.int64))


def _blocked_fpr(m_bits: int, k: int, n_keys: int) -> float:
    """Expected FPR of the one-word-block layout: Poisson mixture over the
    per-word key count t — P(probe mask ⊆ word) = s^k where
    s = 1-(1-1/64)^(k·t) is the word's fill fraction."""
    n_words = max(1, m_bits // 64)
    lam = n_keys / n_words
    total, p = 0.0, math.exp(-lam)
    for t in range(0, max(20, int(lam * 6))):
        s = 1.0 - (1.0 - 1.0 / 64.0) ** (k * t)
        total += p * (s**k)
        p *= lam / (t + 1)
    return total


def bloom_params(n_keys: int, fpr: float = 0.01) -> tuple[int, int]:
    """(m_bits, k) for ``n_keys`` at target ``fpr``, sized by the blocked
    layout's OWN FPR model, not the textbook one: one-word blocking pays a
    space penalty that grows as the target drops (the Poisson tail of
    keys-per-word dominates at low fpr — Putze et al. §3), so a constant
    factor over m = -n·ln p/(ln 2)² under-delivers below ~1 %. Start from
    the textbook size (a lower bound) and grow m until the Poisson-mixture
    estimate meets the target; k follows the textbook rule, capped at
    ``_MAX_K`` (extra bits in one word saturate)."""
    if n_keys <= 0:
        raise ValueError("n_keys must be positive")
    if not (0.0 < fpr < 1.0):
        raise ValueError("fpr must be in (0, 1)")
    m0 = -n_keys * math.log(fpr) / (math.log(2) ** 2)
    k = min(_MAX_K, max(1, round(m0 / n_keys * math.log(2))))
    m = max(64, ((math.ceil(m0) + 63) // 64) * 64)
    while _blocked_fpr(m, k, n_keys) > fpr:
        m = ((math.ceil(m * 1.25) + 63) // 64) * 64
    return m, k


@dataclass(frozen=True)
class BloomFilter:
    """A built register-blocked filter: each key lives entirely in
    ``words[xxhash64(key) mod W]`` as k bits."""

    m_bits: int
    k: int
    words: tuple[int, ...]  # length m_bits // 64, signed 64-bit

    @property
    def n_words(self) -> int:
        return self.m_bits // 64

    def fpr_estimate(self, n_keys: int) -> float:
        """Expected FPR after ``n_keys`` inserts (see ``_blocked_fpr``)."""
        return _blocked_fpr(self.m_bits, self.k, n_keys)


def _word_index(key: Column, n_words: int) -> Column:
    return F.pmod(F.xxhash64(key), F.lit(n_words))


def _word_mask(key: Column, k: int) -> Column:
    """OR of k single-bit masks; bit i's index is the i-th 6-bit slice of
    the second hash (unsigned shift → non-negative → &63 is in [0, 64))."""
    masks = int64_array_literal(tuple(_MASKS))
    h2 = F.xxhash64(key, F.lit(_SEED2))
    mask: Column | None = None
    for i in range(k):
        idx = F.shiftrightunsigned(h2, 6 * i).bitwiseAND(F.lit(63))
        bit = F.element_at(masks, (idx + F.lit(1)).cast("int"))
        mask = bit if mask is None else mask.bitwiseOR(bit)
    return mask


def bloom_build(
    df: DataFrame, key: Column | str, *, m_bits: int, k: int
) -> BloomFilter:
    """One distributed pass over ``df``: (word index, k-bit mask) per key,
    ``bit_or`` per word. Collects W = m/64 rows — bounded by the filter
    size, independent of |df|. NULL keys are skipped (a NULL never
    equi-joins, so pruning it is semantics-preserving)."""
    if m_bits % 64 != 0 or m_bits <= 0:
        raise ValueError("m_bits must be a positive multiple of 64")
    if not (0 < k <= _MAX_K):
        raise ValueError(f"k must be in 1..{_MAX_K}")
    key = F.col(key) if isinstance(key, str) else key
    n_words = m_bits // 64
    rows = (
        df.where(key.isNotNull())
        .select(
            _word_index(key, n_words).alias("w"),
            _word_mask(key, k).alias("mask"),
        )
        .groupBy("w")
        .agg(F.bit_or("mask").alias("word"))
        .collect()
    )
    arr = [0] * n_words
    for r in rows:
        arr[r["w"]] = r["word"]
    return BloomFilter(m_bits=m_bits, k=k, words=tuple(arr))


def bloom_build_for(
    df: DataFrame, key: Column | str, *, n_keys: int, fpr: float = 0.01
) -> BloomFilter:
    """``bloom_build`` with (m, k) sized from an expected key count —
    pair with a KMV estimate (operators/sketches.py) when |keys| is
    unknown."""
    m, k = bloom_params(n_keys, fpr)
    return bloom_build(df, key, m_bits=m, k=k)


def bloom_might_contain(bf: BloomFilter, key: Column | str) -> Column:
    """Pure-expression membership test: one ``element_at`` into the word
    literal + one mask compare. True ⇒ maybe present; False ⇒ definitely
    absent. NULL keys yield False — sound for semi-join pruning (a NULL
    never equi-joins) but NOT for anti-join-style negation, where False
    would KEEP the NULL rows."""
    if bf.n_words > MAX_EXPR_WORDS:
        raise ValueError(
            f"{bf.n_words} words exceeds MAX_EXPR_WORDS={MAX_EXPR_WORDS}; "
            "use bloom_prune_join for large filters"
        )
    key = F.col(key) if isinstance(key, str) else key
    arr = int64_array_literal(bf.words)
    idx = (_word_index(key, bf.n_words) + F.lit(1)).cast("int")
    word = F.element_at(arr, idx)
    mask = _word_mask(key, bf.k)
    # explicit NULL gate: xxhash64(NULL) returns the SEED, not NULL, so an
    # ungated probe would treat every NULL as one phantom key
    return key.isNotNull() & (word.bitwiseAND(mask) == mask)


def bloom_prune(df: DataFrame, key: Column | str, bf: BloomFilter) -> DataFrame:
    """Filter ``df`` to rows whose key might be in the filter. Apply this
    *below* a join so the exchange moves only surviving rows."""
    return df.where(bloom_might_contain(bf, key))


def bloom_words_df(spark, bf: BloomFilter) -> DataFrame:
    """The filter as a W-row (w, word) table for the broadcast-join probe.
    All-zero words are omitted — the probe coalesces a miss to 0."""
    rows = [(i, w) for i, w in enumerate(bf.words) if w != 0]
    return spark.createDataFrame(rows or [(0, 0)], "w int, word bigint")


def bloom_prune_join(
    df: DataFrame, key: Column | str, bf: BloomFilter
) -> DataFrame:
    """Broadcast-join probe for filters too big to inline: ONE map-side
    broadcast hash join against the W-row word table, then one mask
    compare. No shuffle of ``df``."""
    key = F.col(key) if isinstance(key, str) else key
    words = bloom_words_df(df.sparkSession, bf).select(
        F.col("w").alias("__bf_tw"), F.col("word").alias("__bf_word")
    )
    out = (
        df.where(key.isNotNull())
        .withColumn("__bf_w", _word_index(key, bf.n_words).cast("int"))
        .withColumn("__bf_mask", _word_mask(key, bf.k))
        .join(F.broadcast(words), F.col("__bf_w") == F.col("__bf_tw"), "left")
    )
    word = F.coalesce(F.col("__bf_word"), F.lit(0))
    return (
        out.where(word.bitwiseAND(F.col("__bf_mask")) == F.col("__bf_mask"))
        .drop("__bf_w", "__bf_mask", "__bf_tw", "__bf_word")
    )
