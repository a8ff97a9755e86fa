"""Source readers (reference ops S1/S2, SURVEY.md §2.1).

The reference pulls CSVs from S3 over HTTP into pandas then bulk-loads a
warehouse staging table; here a reader is just a lazy scan node — the
same code reads ``file://`` fixtures locally and ``s3a://`` prefixes on
a cluster (Hadoop S3A committer, distributed range reads), because the
path scheme, not the code, decides the transport.

Schema posture mirrors the reference (SURVEY.md §1.3): *inferred* at the
raw/staging layer, *explicit StructType* for curated tables. Inference
costs an extra pass — acceptable for daily raw loads, wrong for curated
reads, so curated readers require a schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv_inferred(
    spark: SparkSession, path: str, rename: dict[str, str] | None = None
) -> DataFrame:
    """S1 raw-layer CSV load: header + schema inference (the reference's
    ``aql.load_file`` behavior, `etl_s3_snowflake_raw_event_ingest.py:46`),
    plus the dotted-column rename (`:28`) applied at read time.

    ``escape='"'`` reads RFC-4180 CSVs — the dialect of the reference's
    real exports (pandas/S3 writers double embedded quotes): Spark's
    default backslash escape mis-splits a quoted JSON payload at its
    first comma, exactly the `event.payload` column S1 ingests.
    """
    df = (
        spark.read.option("header", True)
        .option("inferSchema", True)
        .option("escape", '"')
        .csv(path)
    )
    if rename:
        df = df.withColumnsRenamed(rename)
    return df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Columnar scan with predicate pushdown + column pruning (the
    default at-rest format for every curated table)."""
    return spark.read.parquet(path)


def read_parquet_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read: one scan over a prefix whose parquet files
    were written under DIFFERENT (additively evolved) schemas — the
    routine state of any long-lived 100 TB table whose pipeline gained
    columns over time. ``mergeSchema`` unions the footers' schemas at
    planning time (a footer-only pass, no data read) and older files
    surface the added columns as NULL.

    Deliberately a separate reader from :func:`read_parquet`: schema
    merging reads every file footer up front, which on a
    million-file table is real planning latency — curated tables whose
    schema is known should keep the default single-footer fast path and
    pay the merge only where evolution actually happened.

    Additive evolution only (columns added / dropped); files that
    CHANGED a column's type still fail the scan — that contract break
    belongs to a rewrite migration, not a silent cast at read time.
    """
    return spark.read.option("mergeSchema", True).parquet(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """JSON-lines read with explicit schema (inference over JSON at
    100 TB means a full extra pass — always pass the schema)."""
    return spark.read.schema(schema).json(path)


def read_table(spark: SparkSession, name: str) -> DataFrame:
    """S2 — read a registered table/view by name."""
    return spark.table(name)


def read_csv_permissive(
    spark: SparkSession,
    path: str,
    schema_ddl: str,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """Typed CSV read that quarantines malformed rows instead of
    failing the job or silently dropping them (the production posture
    for S1 ingest at scale — a 100 TB load WILL contain bad lines).

    PERMISSIVE mode: parseable fields populate, the raw line of any
    malformed row lands in ``corrupt_col`` (which must be appended to
    the declared schema), so the caller can route good rows onward and
    corrupt rows to a dead-letter sink with one filter each.
    """
    return (
        spark.read.schema(f"{schema_ddl}, {corrupt_col} STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .csv(path)
    )


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC columnar scan — same pushdown/pruning contract as parquet
    (ORC is the other first-class columnar format Spark ships a
    vectorized reader for; interop matters when upstream warehouses
    export ORC)."""
    return spark.read.orc(path)
