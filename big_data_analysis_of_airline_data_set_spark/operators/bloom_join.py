"""Bloom-filter pre-filtered join — shrink the big side BEFORE the
shuffle when the filtering side is too big to broadcast raw.

The 100 TB join problem this solves: a selective dimension/key set
(say 10^8 keys after a filter) is too big for a raw broadcast-hash
join, so Spark falls back to shuffling BOTH sides — including the fact
table's rows that can never match. A Bloom filter of the key set is
thousands of times smaller than the keys themselves (ε=1% needs
~9.6 bits/key), broadcasts trivially, and drops the vast majority of
non-matching fact rows map-side, before they pay the shuffle. Bloom
filters have NO false negatives, so the subsequent exact join returns
byte-identical results — which is exactly what the catalog oracle
checks (plain-join SQL, no bloom anywhere): the optimization must be
invisible in the output.

This is the same idea as Spark's own runtime row-level filtering
(`spark.sql.optimizer.runtime.bloomFilter.enabled`, the Catalyst
`BloomFilterAggregate` rewrite) — implemented here as an explicit,
plan-stable operator because (a) the runtime rewrite only triggers
under cost heuristics the user can't pin, and (b) the explicit form
works on any join the planner can't see through (UDF-derived keys,
unions, non-equi pre-stages). (`bloom_filter_agg`/`might_contain`
themselves are not registered as public SQL functions, checked on
Spark 4.1.)

Layout: a BLOCKED Bloom filter (Putze, Sanders & Singler, "Cache-,
Hash- and Space-Efficient Bloom Filters", WEA 2007) — all k bits of a
key live in ONE 64-bit word selected by h1; the k bit positions within
the word come from 6-bit slices of an independent h2. Chosen over the
classic k-scattered-position layout for the shape of the PROBE, which
runs per fact row and must stay tiny:

- one gather (``element_at``) per row instead of k — at cluster scale
  this is the textbook one-cache-line-per-probe win, and in codegen it
  is 1 array access instead of 7;
- one containment comparison ``(~word & mask) == 0`` instead of a
  k-clause AND, with the mask a pure function of h2 — the whole
  condition stays a SMALL expression. This matters more than it
  looks: Catalyst collapses any helper projection back into the
  filter (CollapseProject/PushDownPredicates substitute aliases), and
  FilterExec does NO common-subexpression elimination, so every
  textual occurrence of xxhash64 executes per row. The classic layout
  needs h1/h2 under each of k probes → 28 xxhash64 evaluations per
  row after collapse; this layout needs 8 (1 for the word index, 7
  cheap slices of one h2 — still textually repeated, but each term is
  one hash + shift). Measured on the x10 rung (6M rows × 65k words,
  BASELINE.md round-10): 34 s → 3.4 s for the full catalog query.
- price: a slightly higher false-positive rate than the scattered
  layout at equal bits/key (per-block load variance; measured 0.68 %
  vs 0.15 % at 10 bits/key, k=7 on the x10 rung) — irrelevant for a
  shuffle prefilter, where ε only changes the handful of rows the
  exact join drops anyway.

Construction is fully distributed and deterministic: one (word-index,
mask) row per key — no explode — then ``groupBy(word).bit_or(mask)``;
the shuffle carries AT MOST m/64 rows regardless of input size. The
finished word table is collected once (bounded by the FILTER size, a
few KB–MB, never by data size — the same driver-boundary class as the
DSIR bucket model) and shipped back as a SCALAR SUBQUERY over a
one-row view, so it reaches the probe as a runtime constant: a
single-array Literal (``F.lit(words)``) measured 50 s for the same
probe — a giant Literal falls out of efficient codegen entirely — and
the previous broadcast-crossJoin carry measured 34 s.

Hashes are seeded ``xxhash64`` — the JVM-native hash, NOT the
md5+conv discipline the oracled sketches use, deliberately: Bloom
positions never need cross-engine replay (the oracle is the plain
join), and xxhash64 runs in whole-stage codegen at a fraction of
md5-string-parse cost (measured ~4× on the big-side probe).

NOTE: the word-table layout changed in round 10 (scattered → blocked).
Word lists persisted by the previous build do not probe correctly
under this version — rebuild them (the build is one pass over the key
set; cheaper than before, since the explode-by-k is gone).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.local import local_rows


def seeded_double_hash(col: F.Column, modulus: int) -> tuple[F.Column, F.Column]:
    """(h1, h2) for a Kirsch-Mitzenmacher family h_i = (h1 + i·h2) mod
    ``modulus`` over two seeded xxhash64 draws — used by the
    heavy-hitter CMS (ONE copy of two load-bearing details, both
    round-5/6 review findings):

    - both hashes reduce mod ``modulus`` BEFORE combining — (h1 + i·h2)
      on raw signed-64 xxhash values overflows long, which ANSI mode
      (Spark 4 default) rejects; after reduction the largest
      intermediate is (k+1)·modulus, far inside int64;
    - h2 is forced into [1, modulus-1]: with h2 ≡ 0 every probe
      position collapses onto h1, so that key behaves like a 1-hash
      structure (a CMS key loses the min-over-d error reduction). The
      standard fix: draw h2 mod (modulus-1), add 1."""
    h1 = F.pmod(F.xxhash64(col, F.lit(1)), F.lit(modulus))
    h2 = F.pmod(F.xxhash64(col, F.lit(2)), F.lit(modulus - 1)) + F.lit(1)
    return h1, h2


def _word_index(col: F.Column, n_words: int) -> F.Column:
    """Which 64-bit block a key's bits live in: seeded xxhash64 mod the
    word count (full 64-bit modulo, so n_words need not be a power of
    two, though ``sized_m_bits`` always produces one)."""
    return F.pmod(F.xxhash64(col, F.lit(1)), F.lit(n_words))


def _block_mask(col: F.Column, k: int) -> F.Column:
    """The key's k-bit in-block mask: bit positions are consecutive
    6-bit slices of an independent seeded xxhash64 (64 bits supply up
    to 10 slices — the k guard below). Each term is one hash + shift +
    OR, so the mask stays cheap even though Catalyst re-evaluates the
    hash per textual occurrence (no CSE in FilterExec; see module
    docstring). Duplicate positions across slices just OR the same
    bit twice — the effective k drops slightly (~1 - (1-1/64)^C(k,2)
    per key), already priced into the measured ε."""
    if not 1 <= k <= 10:
        raise ValueError(f"k must be in 1..10 (6-bit slices of one hash), got {k}")
    h2 = F.xxhash64(col, F.lit(2))
    mask = F.lit(0).cast("long")
    for j in range(k):
        pos = F.shiftrightunsigned(h2, 6 * j).bitwiseAND(F.lit(63)).cast("int")
        mask = mask.bitwiseOR(
            F.call_function("shiftleft", F.lit(1).cast("long"), pos)
        )
    return mask


def sized_m_bits(n_keys: int, *, bits_per_key: int = 10) -> int:
    """Power-of-two filter size giving ≥ ``bits_per_key`` bits per key
    (10 bits/key ≈ 1% false positives at k=7 scattered, ~2× that
    blocked). Sizing from the actual key count matters: a fixed m
    silently saturates as the key set grows — at 2.4 bits/key the fill
    fraction passes 0.9 and the FP rate is ~67%, i.e. the filter stops
    filtering while every probe still pays its hashes."""
    m = 1 << 10
    while m < n_keys * bits_per_key:
        m <<= 1
    return m


def build_bloom_words(
    keys: DataFrame, key_col: str, *, m_bits: int | None = None, k: int = 7
) -> tuple[list[int], int]:
    """Distributed blocked-Bloom build → (dense list of m/64 words,
    m_bits). One (word-index, mask) row per key — no explode — then a
    bit_or hash-agg whose shuffle carries ≤ m/64 rows regardless of
    input size.

    ``m_bits=None`` (default) sizes the filter from a count of the key
    set (one cheap aggregate on the SMALL side at build time) via
    ``sized_m_bits`` — pass an explicit power of two only when the
    artifact must match an existing layout. The returned words are the
    broadcastable artifact — persist them (with m and k) next to the
    dataset they summarize and reuse across queries."""
    if m_bits is None:
        m_bits = sized_m_bits(keys.count())
    n_words = m_bits // 64
    words = (
        keys.select(
            _word_index(F.col(key_col), n_words).alias("w"),
            _block_mask(F.col(key_col), k).alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("word"))
        .collect()
    )
    dense = [0] * n_words
    for r in words:
        dense[int(r.w)] = int(r.word)
    return dense, m_bits


def _might_contain_cond(
    key: F.Column, arr: F.Column, *, m_bits: int, k: int
) -> F.Column:
    """(~word & mask) == 0 — all of the key's k bits set in its block.
    One gather + one comparison; the bitwise_not form references the
    mask ONCE (the naive (word & mask) == mask would pay the 7-term
    mask expression twice per row)."""
    word = F.element_at(arr, _word_index(key, m_bits // 64).cast("int") + 1)
    return F.bitwise_not(word).bitwiseAND(_block_mask(key, k)) == 0


def bloom_might_contain(
    col: F.Column, words: list[int], *, m_bits: int, k: int
) -> F.Column:
    """Boolean Column: the key's block contains all k bits (no false
    negatives; false positives at the configured ε) over a LITERAL
    word array. Only for small filters (≤ a few hundred words): a
    many-thousand-element literal expression tree degrades codegen —
    properly-sized filters should go through ``apply_bloom_filter``,
    which ships the words as a scalar subquery instead."""
    return _might_contain_cond(
        col, F.array(*[F.lit(w) for w in words]), m_bits=m_bits, k=k
    )


# Per-process sequence for unique scalar-subquery view names (round-11
# advice fix: the previous single shared name relied on eager analysis
# PLUS single-threaded-driver discipline — a concurrent caller
# re-binding the view between createOrReplaceTempView and the consumer
# Dataset's analysis would probe the wrong table).
_SCALAR_VIEW_SEQ = itertools.count()


def ship_as_scalar_subquery(
    spark: SparkSession, values: list[int], *, element_type: str = "long"
) -> tuple[F.Column, str]:
    """Bind ``values`` as a one-row temp view under a unique per-call
    name and return ``(subquery Column, view_name)`` — the
    driver-built-constant-table shipping shape shared by the Bloom and
    CMS probes (see module docstring for the measured A/B: literal
    array 50 s / broadcast-crossJoin carry 34 s / scalar subquery
    3.4 s on the bloom x10 rung).

    The caller must build its consumer DataFrame (classic-mode Dataset
    analysis is eager, which resolves the subquery into the view's
    LocalRelation) and then drop the view via
    ``spark.catalog.dropTempView(view_name)`` — after analysis the
    plan holds its own resolved copy and the name is dead. Identical
    repeated subqueries in one plan execute once (ReuseSubquery).

    CLASSIC-MODE ONLY: under Spark Connect, Dataset analysis is lazy
    (deferred to the server at execution), so a caller following the
    build-then-drop contract would drop the view before the consumer
    plan ever resolves and the subquery fails at execution.  Connect
    callers must defer ``dropTempView`` until after the consumer's
    first materialization (or leak the view for the session) — guard
    on ``spark.conf.get("spark.api.mode", "classic")`` if both modes
    must be served."""
    name = f"__scalar_arr_{next(_SCALAR_VIEW_SEQ)}"
    local_rows(
        spark, [(values,)], f"arr: array<{element_type}>"
    ).createOrReplaceTempView(name)
    return F.expr(f"(SELECT arr FROM {name})"), name


def apply_bloom_filter(
    df: DataFrame, key_col: str, words: list[int], *, m_bits: int, k: int = 7
) -> DataFrame:
    """``df`` filtered to rows whose key might be in the filter. The
    word table rides in as a SCALAR SUBQUERY over a one-row temp view:
    the subquery executes once per query and its array lands in the
    probe as a runtime constant, so the filter expression stays one
    node regardless of m; the probe itself is the blocked one-gather
    condition (see module docstring for the probe-shape A/B — 34 s →
    3.4 s on the x10 rung).

    The plain join this pre-filters costs 1.5 s on that same rung
    because local[32] makes shuffles memcpy-cheap — the filter exists
    for the cluster regime where the avoided network shuffle of
    non-matching fact rows dominates, and the sub-µs/row probe is the
    price that must stay low for the map-side drop to be worth it
    there."""
    spark = df.sparkSession
    arr, view = ship_as_scalar_subquery(spark, words)
    out = df.filter(
        _might_contain_cond(F.col(key_col), arr, m_bits=m_bits, k=k)
    )
    spark.catalog.dropTempView(view)
    return out


def bloom_prefiltered_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    *,
    how: str = "inner",
    m_bits: int | None = None,
    k: int = 7,
) -> DataFrame:
    """``big ⋈ small`` on ``on`` with a Bloom pre-filter of small's key
    set applied to ``big`` before the shuffle. Result is EXACTLY the
    plain join (no false negatives; false positives are eliminated by
    the real join) — only the shuffle volume changes. The filter is
    sized from the key count by default (see ``sized_m_bits``).

    ``how`` supports 'inner' and 'left_semi' (the shapes where rows of
    ``big`` without a match are dropped anyway; outer joins must keep
    non-matching rows and cannot be pre-filtered this way)."""
    if how not in ("inner", "left_semi"):
        raise ValueError(f"bloom_prefiltered_join: unsupported how={how!r}")
    words, m = build_bloom_words(small.select(on), on, m_bits=m_bits, k=k)
    pruned = apply_bloom_filter(big, on, words, m_bits=m, k=k)
    return pruned.join(small, on, how)
