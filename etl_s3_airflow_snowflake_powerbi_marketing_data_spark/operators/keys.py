"""Surrogate-key assignment (reference op P7, SURVEY.md §2.2).

The reference assigns 1-based contiguous integers in dataframe order via
``df.assign(guid=range(1, len(df)+1))`` — trivially exact on one pandas
process, a global-ordering problem on a cluster.

One implementation, :func:`ordered_surrogate_key`: an exact global
``row_number()`` over an explicit ordering, computed per order-contiguous
bucket plus a cumulative bucket offset, so no stage runs as a
single-partition window (Spark's plan for a bare ``row_number()`` over a
total order — correct, but it serializes the numbering of a 100 TB fact).

Reference: `etl_s3_snowflake_raw_event_ingest.py:32`,
`etl_s3_snowflake_d_event.py:30`, `etl_s3_snowflake_f_events.py:43`.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _order_proxy(df: DataFrame, key: str) -> Column:
    """Monotone numeric proxy of ``key`` used only for bucketing.

    Monotone non-decreasing is sufficient: proxy ties simply land in the
    same bucket, and the in-bucket window applies the real ordering.
    Strings use their first 8 UTF-8 bytes as a big-endian integer
    (byte-lexicographic, matching Spark's binary string collation).
    """
    dtype = df.schema[key].dataType
    col = F.col(key)
    if isinstance(dtype, T.StringType):
        # rpad to 16 hex chars: short strings must be LEFT-aligned in the
        # 64-bit big-endian proxy or length dominates the comparison.
        return F.conv(
            F.rpad(F.hex(F.encode(F.substring(col, 1, 8), "UTF-8")), 16, "0"),
            16,
            10,
        ).cast("double")
    if isinstance(dtype, T.DateType):
        return col.cast("timestamp").cast("double")
    if isinstance(dtype, T.TimestampNTZType):
        # TIMESTAMP_NTZ → DOUBLE is an illegal direct cast; route through
        # the session-zone timestamp (monotone for a fixed session zone).
        return col.cast("timestamp").cast("double")
    return col.cast("double")


def ordered_surrogate_key(
    df: DataFrame,
    name: str,
    order_by: Sequence[str],
    descending: bool = False,
    start: int = 1,
    num_buckets: int | None = None,
) -> DataFrame:
    """Exact global ``row_number()`` over ``order_by`` WITHOUT a
    single-partition window — the 100 TB path for P7
    (`etl_s3_snowflake_f_events.py:43`, `etl_s3_snowflake_raw_event_ingest.py:32`).

    ``order_by`` is a list of column names; ``descending`` applies to the
    leading column only (the reference's fact sort is newest-first on
    one column with an id tiebreak — `etl_s3_snowflake_f_events.py:36`).

    Plan (one query, no driver collect, fully deterministic):

    1. A broadcast 1-row min/max aggregate of the leading key defines
       ``num_buckets`` equal-width buckets over a monotone numeric proxy
       of the key. No sampling — unlike ``repartitionByRange``, whose
       reservoir sampling is seeded per-RDD and therefore NOT repeatable
       across the plan branches that must agree here.
    2. A per-bucket count branch turns bucket sizes into cumulative
       offsets with a window over ≤ num_buckets rows (bounded by the
       bucket count, never the data).
    3. Main branch: broadcast-join the offsets, then
       ``row_number() OVER (PARTITION BY bucket ORDER BY order_by)`` +
       offset. The only full-data shuffle is the hash exchange on the
       bucket id; each bucket holds ~1/num_buckets of the data.

    Buckets are order-contiguous by construction (monotone proxy), so
    offset + in-bucket rank == global rank, exactly. Caveats: the
    leading key should be roughly uniform between min and max for
    balanced buckets (sequential ids and event times are); a heavily
    skewed domain wants the proxy swapped for quantile boundaries.
    Nulls follow Spark's sort placement (first when ascending).
    """
    spark = df.sparkSession
    n = num_buckets or 4 * int(spark.conf.get("spark.sql.shuffle.partitions"))
    lead = order_by[0]
    proxy = _order_proxy(df, lead)
    if descending:
        proxy = -proxy

    minmax = df.select(
        F.min(proxy).alias("__gmin"), F.max(proxy).alias("__gmax")
    )
    span = F.greatest(F.col("__gmax") - F.col("__gmin"), F.lit(1e-12))
    # Null placement must mirror Spark's sort semantics: NULLS FIRST
    # ascending (bucket before all), NULLS LAST descending (after all).
    null_bucket = F.lit(n) if descending else F.lit(-1)
    bucket = F.when(F.col(lead).isNull(), null_bucket).otherwise(
        F.least(
            F.floor((proxy - F.col("__gmin")) / span * n).cast("int"),
            F.lit(n - 1),
        )
    )
    bucketed = (
        df.join(F.broadcast(minmax))
        .withColumn("__bucket", bucket)
        .drop("__gmin", "__gmax")
    )

    counts = bucketed.groupBy("__bucket").agg(F.count("*").alias("__cnt"))
    w_off = Window.orderBy("__bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__bucket",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off"),
    )

    sort_cols = [F.col(lead).desc() if descending else F.col(lead)] + [
        F.col(c) for c in order_by[1:]
    ]
    w_local = Window.partitionBy("__bucket").orderBy(*sort_cols)
    return (
        bucketed.join(F.broadcast(offsets), "__bucket")
        .withColumn(
            name,
            (F.row_number().over(w_local) + F.col("__off") + F.lit(start - 1)).cast(
                "long"
            ),
        )
        .drop("__bucket", "__off")
    )

