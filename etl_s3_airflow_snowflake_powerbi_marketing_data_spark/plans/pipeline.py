"""End-to-end daily ETL driver — the reference's seven chained DAGs as
one Spark job (SURVEY.md §0: raw ingest → d_event → d_item →
d_parameter → d_user → f_events → aggregated views).

The reference chains Airflow DAGs with ``TriggerDagRunOperator`` and
materializes every hop into Snowflake; here the chain is plain call
order (Spark laziness fuses each build into one plan) and only the
named warehouse tables materialize. An external scheduler (Airflow)
invokes :func:`run_daily_pipeline` once per day — the engine/scheduler
split the north star prescribes.

As in the reference, only raw ingest reads the day's events from the
source: ``d_event``, ``d_user``, ``d_parameter`` and ``f_events`` read
the warehouse's parsed ``event_raw`` (`etl_s3_snowflake_d_event.py:55`,
`…_d_user.py:58`, `…_d_parameter.py:60`, `…_f_events.py:74`), so the
payload JSON is parsed once a day. ``d_item`` reads the item source
table.

MERGE targets persist as parquet directories under ``warehouse_dir``.
Each merge is write-to-staging-then-swap (the honest plain-parquet
atomicity fallback — reads of the old target feed the merge plan, so
in-place overwrite would corrupt; a warehouse bootstrapped with
``versioned=True`` commits each write as a ``sources.versioned``
version instead).

Reference semantics preserved (SURVEY.md §2.1 S6/S7) with one
deliberate, documented fix: the reference numbers each day's delta from
1 and merges, so day-2 inserts REUSE guid values already in the
warehouse (a latent reference bug — surrogate keys stop being keys).
Here matched rows keep their stable guid and inserted rows continue
contiguously from the warehouse max, so guids stay unique and existing
rows never renumber. The stages hand over rows without a guid and
``_merge_into`` numbers them once: the whole table on the first load,
only the new keys on each merge after.
- dims merge with ``if_conflicts="ignore"`` on the natural key —
  append-only; pre-existing rows never change.
- ``d_item`` and ``f_events`` merge with ``if_conflicts="update"``
  (SCD-1), the fact on its composite key (attributes update, the
  surrogate key is stable).
- Re-running the same day is a no-op (idempotent); a new day's delta
  appends/updates exactly its keys.
"""

from __future__ import annotations

import os
import shutil
from functools import partial

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import merge_ignore, merge_keep_guid, merge_update
from . import marketing

FACT_KEYS = ("event_id", "event_name", "event_parameter_value")


def _table_dir(warehouse_dir: str, name: str) -> str:
    return os.path.join(warehouse_dir, name)


# Parquet writer options for every warehouse table. v2 data pages store
# integers DELTA_BINARY_PACKED and strings DELTA_BYTE_ARRAY, so the
# contiguous event_id/guid longs cost bits per row instead of 8 bytes,
# and zstd compresses what remains; a daily cycle writes about half the
# bytes of Spark's v1-page snappy default. Scoped to the warehouse on
# purpose: the session default (dedup stores, gate decisions) is left
# alone, since float vectors barely compress and zstd costs them CPU.
WAREHOUSE_PARQUET_OPTIONS = {
    "compression": "zstd",
    "parquet.writer.version": "v2",
}


def _swap_write(result: DataFrame, path: str) -> None:
    """Write a plain-warehouse table: materialize to a staging dir as
    zstd, v2-page parquet (:data:`WAREHOUSE_PARQUET_OPTIONS`), then
    atomically-ish swap it in. Local-FS rename; on HDFS/S3 this is the
    FileSystem rename / committer step, and with a table format it
    disappears entirely. Every stage table and the ``kpi_*`` views land
    through here, and the whole table is rewritten on each call."""
    staging = path + "__staging"
    result.write.mode("overwrite").options(
        **WAREHOUSE_PARQUET_OPTIONS
    ).parquet(staging)
    if os.path.exists(path):
        shutil.rmtree(path)
    os.replace(staging, path)


# --- storage indirection: plain dirs vs the transactional layer ---------
#
# A warehouse bootstrapped with ``run_daily_pipeline(versioned=True)``
# carries a marker file; every table write then COMMITS a version
# (sources/versioned.py — atomic manifest, snapshot isolation, one
# auditable version per daily cycle, time travel across days) instead
# of the staging-dir swap, and every read resolves the latest
# snapshot. Plain warehouses behave exactly as before.

_VERSIONED_MARKER = ".versioned_warehouse"


def _is_versioned_table(path: str) -> bool:
    return os.path.exists(
        os.path.join(os.path.dirname(path), _VERSIONED_MARKER)
    )


def _table_exists(path: str) -> bool:
    if _is_versioned_table(path):
        from ..sources import versioned as vt  # noqa: PLC0415

        return bool(vt.table_versions(path))
    return os.path.exists(path)


def _read_tbl(spark: SparkSession, path: str, declared: bool = True) -> DataFrame:
    """The latest state of a warehouse table. A table of
    :data:`WAREHOUSE_TABLES` is read with its declared schema, so the
    scan plans without a footer-inference job; ``declared=False`` reads
    the schema the files carry (``publish_catalog`` checks it)."""
    schema = WAREHOUSE_SCHEMAS.get(os.path.basename(path)) if declared else None
    paths = [path]
    if _is_versioned_table(path):
        from ..sources import versioned as vt  # noqa: PLC0415

        paths = [os.path.join(path, p) for p in vt.snapshot_prefixes(path)]
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


def _write_tbl(result: DataFrame, path: str) -> None:
    if _is_versioned_table(path):
        from ..sources import versioned as vt  # noqa: PLC0415

        vt.write_version(result, path, options=WAREHOUSE_PARQUET_OPTIONS)
        return
    _swap_write(result, path)


def _merge_into(
    spark: SparkSession,
    result_path: str,
    fresh: DataFrame,
    keys: tuple[str, ...],
    update: bool,
    guid: marketing.Guid | None = None,
) -> None:
    """Bootstrap on first run; MERGE (ignore/update) afterwards.

    ``fresh`` carries no surrogate key; with ``guid`` its rows are
    numbered exactly once. The first load numbers the whole table; each
    merge after numbers only the keys new to the warehouse, after its
    max (``merge_keep_guid``), so guids stay globally unique across
    daily loads instead of each day's delta re-numbering from 1."""
    if not _table_exists(result_path):
        _write_tbl(fresh if guid is None else guid.number(fresh), result_path)
        return
    target = _read_tbl(spark, result_path)
    if guid is None:
        merge = merge_update if update else merge_ignore
        merged = merge(target, fresh, list(keys))
    else:
        tgt_max = target.agg(F.max(guid.col)).first()[0] or 0
        merged = merge_keep_guid(
            target, fresh, keys, guid.col, guid.merge_order or guid.order,
            tgt_max + 1, update,
        )
    _write_tbl(merged, result_path)


def _stage_raw_ingest(spark: SparkSession, sf_dir: str, warehouse_dir: str) -> None:
    # Full replace, latest delta wins (S3 semantics,
    # `etl_s3_snowflake_raw_event_ingest.py:49-54`).
    _write_tbl(
        marketing.build_event_raw(spark, sf_dir),
        _table_dir(warehouse_dir, "event_raw"),
    )


def _event_raw(spark: SparkSession, warehouse_dir: str) -> DataFrame:
    """The day's parsed events as raw ingest staged them: what every
    event-derived stage reads, in place of the source."""
    return _read_tbl(spark, _table_dir(warehouse_dir, "event_raw"))


def _stage_dim(
    dim: str, spark: SparkSession, sf_dir: str, warehouse_dir: str
) -> None:
    # Dims: append-only merges on the natural key (S6).
    rows = marketing.dim_keys(_event_raw(spark, warehouse_dir), dim)
    _merge_into(
        spark,
        _table_dir(warehouse_dir, dim),
        rows,
        tuple(rows.columns),
        update=False,
        guid=marketing.GUIDS[dim],
    )


def _stage_d_item(spark: SparkSession, sf_dir: str, warehouse_dir: str) -> None:
    # SCD-1 upsert (S7) on the item key.
    _merge_into(
        spark,
        _table_dir(warehouse_dir, "d_item"),
        marketing.build_d_item(spark, sf_dir),
        ("item_id",),
        update=True,
    )


def _stage_f_events(spark: SparkSession, sf_dir: str, warehouse_dir: str) -> None:
    # SCD-1 upsert on the composite fact key (S7).
    _merge_into(
        spark,
        _table_dir(warehouse_dir, "f_events"),
        marketing.fact_columns(_event_raw(spark, warehouse_dir)),
        FACT_KEYS,
        update=True,
        guid=marketing.GUIDS["f_events"],
    )


WAREHOUSE_TABLES = (
    "event_raw",
    "d_event",
    "d_user",
    "d_parameter",
    "d_item",
    "f_events",
)

# Declared warehouse contract — the reference's fixed CREATE OR REPLACE
# TABLE schemas (`etl_s3_snowflake_d_event.py:33-42` and peers), stated
# once here rather than re-inferred from files, so schema drift in a
# build is an ERROR at publish time instead of a silent catalog change.
WAREHOUSE_SCHEMAS: dict[str, str] = {
    "event_raw": (
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING,"
        " value DOUBLE, item_key BIGINT, guid_event_raw BIGINT"
    ),
    "d_event": "event_id BIGINT, guid_event BIGINT",
    "d_user": "user_id BIGINT, guid_user BIGINT",
    "d_parameter": "parameter_name STRING, guid_parameter BIGINT",
    "d_item": (
        "item_id BIGINT, item_name STRING, item_brand STRING,"
        " item_type STRING, item_size INT, item_price DOUBLE"
    ),
    "f_events": (
        "event_id BIGINT, event_time TIMESTAMP, event_user_id BIGINT,"
        " event_name STRING, event_value DOUBLE,"
        " event_parameter_value BIGINT, guid_event BIGINT"
    ),
}


def publish_catalog(
    spark: SparkSession,
    warehouse_dir: str,
    tables: tuple[str, ...] = WAREHOUSE_TABLES,
    prefix: str = "wh_",
    analyze: bool = False,
) -> None:
    """S5 — register every persisted warehouse table in the session
    CATALOG with its DECLARED schema (external over the parquet dirs,
    no data copy), after validating the files actually match the
    declaration.

    This is the reference's observable catalog semantics: downstream
    consumers address ``wh_f_events`` by name and the catalog answers
    schema questions — the filesystem layout becomes an implementation
    detail. Validation compares the parquet footer schema to
    :data:`WAREHOUSE_SCHEMAS`, so a build that drifts from the contract
    fails loudly here instead of poisoning every downstream query.
    """
    from pyspark.sql.types import StructType  # noqa: PLC0415

    from ..sources.writers import create_table_ddl  # noqa: PLC0415

    for name in tables:
        declared = StructType.fromDDL(WAREHOUSE_SCHEMAS[name])
        tdir = _table_dir(warehouse_dir, name)
        actual = _read_tbl(spark, tdir, declared=False).schema
        if actual != declared:
            raise ValueError(
                f"schema drift in warehouse table {name!r}: declared "
                f"{declared.simpleString()} but files contain "
                f"{actual.simpleString()}"
            )
        location = tdir
        if _is_versioned_table(tdir):
            # The catalog points at the LATEST published snapshot's
            # data prefix (replace-mode snapshots hold exactly one);
            # each daily publish re-registers, so the catalog tracks
            # the last published version by construction.
            from ..sources import versioned as vt  # noqa: PLC0415

            prefixes = vt.snapshot_prefixes(tdir)
            if len(prefixes) != 1:
                continue  # append-mode history: address via views
            location = os.path.join(tdir, prefixes[0])
        create_table_ddl(
            spark,
            f"{prefix}{name}",
            WAREHOUSE_SCHEMAS[name],
            location=location,
        )
        if analyze:
            # CBO table stats (row count + size): what Catalyst's
            # cost-based join reordering and broadcast decisions read
            # for catalog-addressed tables — without stats every
            # wh_-table join falls back to file-size heuristics.
            spark.sql(
                f"ANALYZE TABLE {prefix}{name} COMPUTE STATISTICS"
            )


def _stage_aggregated_views(
    spark: SparkSession,
    sf_dir: str,
    warehouse_dir: str,
    materialize_views: bool = False,
) -> None:
    # KPI views over the WAREHOUSE fact (not the day's source), exactly
    # like the reference's CREATE OR REPLACE VIEW layer (Q13). Reads
    # from persisted parquet so the stage is self-contained — it works
    # both in-process and as its own scheduler task / spark-submit.
    for name in WAREHOUSE_TABLES:
        _read_tbl(
            spark, _table_dir(warehouse_dir, name)
        ).createOrReplaceTempView(name)
    marketing.register_warehouse_kpi_views(spark)
    if materialize_views:
        for view_name in marketing.WAREHOUSE_KPI_SQL:
            _write_tbl(
                spark.table(view_name),
                _table_dir(warehouse_dir, f"kpi_{view_name}"),
            )


# One entry per DAG in the reference's daily chain, in chain order
# (`etl_s3_snowflake_raw_event_ingest.py:57-62` →
# `etl_s3_snowflake_f_events.py:98-104` → aggregated_views). Each stage
# is independently runnable (``main --stage``), so an external
# scheduler can map the chain 1:1 onto its own task graph — see
# ``orchestration.build_dag`` for the Airflow factory. As there, a
# stage reads what the stages before it wrote: the event-derived dims
# and the fact read the day's ``event_raw``.
PIPELINE_STAGES = {
    "raw_ingest": _stage_raw_ingest,
    "d_event": partial(_stage_dim, "d_event"),
    "d_item": _stage_d_item,
    "d_parameter": partial(_stage_dim, "d_parameter"),
    "d_user": partial(_stage_dim, "d_user"),
    "f_events": _stage_f_events,
    "aggregated_views": _stage_aggregated_views,
}


def run_stage(
    spark: SparkSession,
    sf_dir: str,
    warehouse_dir: str,
    stage: str,
    materialize_views: bool = False,
) -> None:
    """Run a single named pipeline stage (one reference DAG's worth).

    ``d_event``, ``d_user``, ``d_parameter`` and ``f_events`` read the
    day from the warehouse's ``event_raw``, not from ``sf_dir``: rerun
    ``raw_ingest`` for a day before rerunning any of them, or they merge
    whatever day ``event_raw`` last staged."""
    if stage not in PIPELINE_STAGES:
        raise ValueError(
            f"unknown stage {stage!r}; choose from {list(PIPELINE_STAGES)}"
        )
    os.makedirs(warehouse_dir, exist_ok=True)
    if stage == "aggregated_views":
        _stage_aggregated_views(spark, sf_dir, warehouse_dir, materialize_views)
    else:
        PIPELINE_STAGES[stage](spark, sf_dir, warehouse_dir)


def export_bi(
    spark: SparkSession,
    warehouse_dir: str,
    export_dir: str | None = None,
) -> dict[str, dict]:
    """S9 BI consumption contract (reference: Power BI over ODBC,
    ``README.md:73-77`` + ``report-overview.jpg``): drop every KPI view
    as a headered CSV plus a ``manifest.json`` describing path, column
    schema, and row count — the flat-file hand-off any BI client
    (Power BI folder source, Tableau, a plain spreadsheet) can ingest
    without a Spark connection.

    Every KPI result is bounded (rows ≤ #periods or ≤ top-k items, by
    construction — never raw-event cardinality), so the single-file
    ``coalesce(1)`` CSV is safe at any input scale; the heavy lifting
    stayed in the distributed plan that materialized the view. The
    manifest's row count is observed on the write itself
    (``DataFrame.observe``), so no job reads the CSV back.
    Returns the manifest's view map.
    """
    import json  # noqa: PLC0415

    export_dir = export_dir or os.path.join(warehouse_dir, "bi_export")
    views: dict[str, dict] = {}
    for view_name in marketing.WAREHOUSE_KPI_SQL:
        df = spark.table(view_name)
        out = _table_dir(export_dir, view_name)
        written = Observation(f"bi_export_{view_name}")
        (
            df.observe(written, F.count(F.lit(1)).alias("rows"))
            .coalesce(1)
            .write.mode("overwrite")
            .option("header", True)
            .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
            .csv(out)
        )
        views[view_name] = {
            "path": view_name,
            "format": "csv",
            "options": {"header": True},
            "columns": [
                {
                    "name": f.name,
                    "type": f.dataType.simpleString(),
                    "nullable": f.nullable,
                }
                for f in df.schema.fields
            ],
            "rows": written.get["rows"],
        }
    manifest = {"contract": "bi_export/v1", "views": views}
    with open(os.path.join(export_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=2, sort_keys=True)
    return views


def run_daily_pipeline(
    spark: SparkSession,
    sf_dir: str,
    warehouse_dir: str,
    materialize_views: bool = False,
    versioned: bool = False,
) -> dict[str, int]:
    """One daily cycle: ingest, build dims + fact, MERGE into the
    warehouse, refresh KPI views, publish the BI export. Returns
    per-table row counts.

    ``materialize_views=True`` additionally persists each KPI view as a
    ``kpi_<name>`` parquet table — the "answers always available" BI
    contract (SURVEY.md §3.3: the reference's views are recomputed on
    every Power BI read; materializing trades daily write cost for
    zero-latency reads).

    ``versioned=True`` bootstraps the warehouse on the transactional
    layer (sources/versioned.py): every table write commits one atomic
    version per daily cycle — concurrent readers keep their snapshot
    mid-cycle, any day's state stays time-travelable, and a crashed
    cycle leaves only invisible uncommitted prefixes. The flag only
    matters at bootstrap; an existing warehouse keeps its mode."""
    if versioned:
        os.makedirs(warehouse_dir, exist_ok=True)
        marker = os.path.join(warehouse_dir, _VERSIONED_MARKER)
        if not os.path.exists(marker):
            with open(marker, "w") as fh:
                fh.write("sources/versioned.py transactional warehouse\n")
    for stage in PIPELINE_STAGES:
        run_stage(spark, sf_dir, warehouse_dir, stage, materialize_views)
    publish_catalog(spark, warehouse_dir)
    export_bi(spark, warehouse_dir)
    return {
        name: _read_tbl(spark, _table_dir(warehouse_dir, name)).count()
        for name in WAREHOUSE_TABLES
    }


def main(argv: list[str] | None = None) -> None:
    """spark-submit / Airflow entry point:

    ``spark-submit -m etl_..._spark.plans.pipeline <source_dir> <warehouse_dir>``

    The scheduler owns cadence and retries (the reference's Airflow
    DAGs, SURVEY.md §2.4); the engine owns everything else.
    """
    import argparse  # noqa: PLC0415

    from ..session import get_spark  # noqa: PLC0415

    parser = argparse.ArgumentParser(description="daily marketing ETL cycle")
    parser.add_argument("source_dir")
    parser.add_argument("warehouse_dir")
    parser.add_argument("--materialize-views", action="store_true")
    parser.add_argument(
        "--stage",
        choices=list(PIPELINE_STAGES),
        help="run one stage only (one reference DAG's worth); "
        "d_event, d_user, d_parameter and f_events read the day from "
        "event_raw, so run raw_ingest for that day first; "
        "default runs the full daily cycle",
    )
    args = parser.parse_args(argv)
    spark = get_spark("daily_pipeline")
    if args.stage:
        run_stage(
            spark,
            args.source_dir,
            args.warehouse_dir,
            args.stage,
            args.materialize_views,
        )
        print(f"stage {args.stage}: done")
        return
    counts = run_daily_pipeline(
        spark, args.source_dir, args.warehouse_dir, args.materialize_views
    )
    for name, n in counts.items():
        print(f"{name}: {n}")


if __name__ == "__main__":
    main()
