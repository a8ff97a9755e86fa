"""Bloom-filter semi-join reduction (an explicit runtime filter).

The reference pushes every fact/dim join into Snowflake, whose
optimizer injects join pruning on its own
(/root/reference/astro-sdk-tutorial/dags/etl_s3_snowflake_aggregated_views.py:31
relies on it implicitly). Spark ships the same idea as the row-level
runtime bloom filter (SPARK-32268), but it only engages when statistics
make the planner confident. This module is the DETERMINISTIC, always-on
form: build a bloom filter over the small side's join keys, broadcast
it as a one-row bitmap, and drop non-matching fact rows **map-side,
before the exchange** — at 100 TB the join's shuffle then carries only
rows that can match (plus the documented false-positive fraction),
instead of the whole fact table.

Correctness contract: the bloom filter is a PRE-filter only. A bloom
test can pass for a key that is not in the build side (false positive,
rate ``fpp``), never the reverse — so every caller re-joins exactly and
the final result is bit-identical to the plain join. That is what lets
``bloom_semi_join`` keep an ordinary SQL oracle.

Determinism: positions come from ``xxhash64`` with per-probe literal
seeds — no sampled statistics, no partition-order dependence; the same
build rows always produce the same bitmap.

Scale shape: the bitmap is ``n_bits / 64`` longs in one broadcast row
— O(filter size), a build-side artifact bounded by the caller's
``n_bits`` cap, NEVER by data size. The membership test is a pure
projection (array indexing + bit ops) that runs inside whole-stage
codegen; nothing about the probe side ever moves until after the
filter.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 2^26 bits = 8 MiB of longs — the most we are willing to ship in one
# broadcast row.
_MAX_BITS = 1 << 26


def optimal_n_bits(n_keys: int, fpp: float = 0.01) -> int:
    """Standard bloom sizing: m = -n ln(p) / (ln 2)^2, rounded up to a
    multiple of 64 and capped at ``_MAX_BITS``."""
    if not 0 < fpp < 1:
        raise ValueError(f"fpp={fpp} outside (0, 1)")
    m = int(-n_keys * math.log(fpp) / (math.log(2) ** 2)) + 1
    m = ((m + 63) // 64) * 64
    return max(64, min(m, _MAX_BITS))


def _positions(key: Column, n_bits: int, n_hashes: int) -> list[Column]:
    """``n_hashes`` deterministic bit positions for one key value.

    Each probe re-seeds via Spark's xxhash64 column chaining
    (hash(lit(i), key) — the per-seed chained prefix pattern the
    MinHash signatures use, operators/dedup.py)."""
    return [
        F.pmod(F.xxhash64(F.lit(i), key), F.lit(n_bits))
        for i in range(n_hashes)
    ]


def build_bloom_df(
    df: DataFrame, key_col: str, n_bits: int, n_hashes: int = 3
) -> DataFrame:
    """Bloom bitmap as a ONE-ROW DataFrame with a dense
    ``array<bigint>`` column ``__bloom`` — the broadcastable
    runtime-filter payload.

    Plan: one projection (positions), one explode, one groupBy over at
    most ``n_bits/64`` word indexes (map-side combined BIT_OR — the
    shuffle moves O(partitions × words), regardless of build rows).

    Why broadcast data: embedding the bitmap as a plan LITERAL
    (``F.lit(words)``) folds the whole filter into generated code,
    and codegen cost grows with the literal — measured 6× wall-time
    growth at 10× build keys (a ~22K-element constant array compiled
    into every stage). As broadcast DATA the bitmap costs the plan one
    1-row broadcast join regardless of filter size — the same shape
    Spark's own runtime bloom uses (an aggregate result consumed as a
    scalar subquery). The array is assembled JVM-side from the sparse
    (word, bits) aggregate; nothing is collected to the driver.
    """
    if n_bits % 64 != 0 or not 64 <= n_bits <= _MAX_BITS:
        raise ValueError(
            f"n_bits={n_bits} must be a multiple of 64 in [64, {_MAX_BITS}]"
        )
    if not 1 <= n_hashes <= 16:
        raise ValueError(f"n_hashes={n_hashes} outside [1, 16]")
    n_words = n_bits // 64
    pos = F.explode(
        F.array(*_positions(F.col(key_col), n_bits, n_hashes))
    ).alias("__pos")
    sparse = (
        df.select(pos)
        .select(
            (F.col("__pos") / 64).cast("int").alias("__w"),
            F.pmod(F.col("__pos"), F.lit(64)).cast("int").alias("__b"),
        )
        .groupBy("__w")
        .agg(
            F.expr("bit_or(shiftleft(cast(1 as bigint), __b))").alias(
                "__word"
            )
        )
    )
    # densify: full index range left-joined to the populated words
    # (broadcast — the sparse side is ≤ n_words rows), then ONE sorted
    # collect into the array. Linear in n_words; a map/element_at
    # densify would be O(n_words²) per the map's linear-scan lookup.
    idx = df.sparkSession.range(n_words).select(
        F.col("id").cast("int").alias("__w")
    )
    dense = idx.join(F.broadcast(sparse), "__w", "left").select(
        "__w", F.coalesce("__word", F.lit(0)).alias("__word")
    )
    return dense.agg(
        F.array_sort(
            F.collect_list(F.struct("__w", "__word"))
        ).alias("__s")
    ).select(
        F.transform(F.col("__s"), lambda e: e["__word"]).alias("__bloom")
    )


def might_contain_col(
    bloom_col: Column, key: Column, n_bits: int, n_hashes: int = 3
) -> Column:
    """Membership-test column against a bitmap COLUMN (see
    :func:`build_bloom_df`): true iff every probe bit is set. A pure
    expression, so a false test prunes the row on the scan, before any
    shuffle."""
    test = F.lit(True)
    for p in _positions(key, n_bits, n_hashes):
        word = F.element_at(bloom_col, (p / 64).cast("int") + F.lit(1))
        # getbit, not shiftright: pyspark's shiftright only accepts a
        # Python-int shift amount, the bit position here is a Column
        bit = F.getbit(word, F.pmod(p, F.lit(64)).cast("int"))
        test = test & (bit == 1)
    return test


def bloom_semi_join(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    how: str = "inner",
    fpp: float = 0.01,
    n_hashes: int = 3,
) -> DataFrame:
    """Join ``probe`` to ``build`` with a bloom pre-filter on the probe
    side: exact result (the final join removes false positives), but
    non-matching probe rows die map-side before the exchange.

    ``how`` ∈ {inner, left_semi}: the join forms whose results a
    probe-side pre-filter cannot change.

    Sizing runs off a cheap count of the build keys (the build side is
    the SMALL side by contract — a dim or a filtered key set; dupes
    only oversize the bitmap, so no distinct pass). The bitmap itself
    rides as broadcast DATA — one 1-row broadcast join — never as a
    plan literal, so the plan cost is independent of the filter size
    (:func:`build_bloom_df`).
    """
    if how not in ("inner", "left_semi"):
        raise ValueError(
            f"how={how!r}: a probe-side pre-filter only preserves "
            "inner/left_semi semantics"
        )
    keys = build.select(build_key)
    n_keys = keys.count()
    n_bits = optimal_n_bits(max(n_keys, 1), fpp)
    bloom = build_bloom_df(keys, build_key, n_bits, n_hashes)
    pre = (
        probe.join(F.broadcast(bloom))
        .filter(
            might_contain_col(
                F.col("__bloom"), F.col(probe_key), n_bits, n_hashes
            )
        )
        .drop("__bloom")
    )
    return pre.join(
        build, pre[probe_key] == build[build_key], how
    )
