"""The reference pipeline re-expressed on the driver's synthetic tables.

Mapping (FIXTURES.md §4): the synthetic ``events`` table plays
``event_raw`` (``event_type`` ↔ payload.event_name/platform, ``props``
↔ the JSON payload, ``props.k`` ↔ parameter_value/item id) and ``part``
plays ``items``/``d_item`` (``p_partkey`` ↔ item_id). The synthetic data
spans one month, so the reference's ``YEAR(event_time)`` becomes
``to_date(ts)`` — same date-part-extraction + groupBy operator class
(Q4), non-degenerate grouping.

Star-schema builds mirror SURVEY.md §2.2 (P1-P9). The three append-only
dims share one key selection (``DIM_KEYS``, ``dim_keys``) and every
numbered table one surrogate-key spec (``GUIDS``): the registered
``dim_*``/``fact_events`` queries number a whole day with them, the
warehouse stages (``plans/pipeline.py``) only a merge's new keys.

Each KPI view has one definition, its SQL body in ``KPI_SQL``; the
warehouse registers it over its persisted tables (``WAREHOUSE_KPI_SQL``)
and ``kpi_view`` runs it over the synthetic tables. The first four mirror
`etl_s3_snowflake_aggregated_views.py` (Q1-Q13), the last two the
reference's Power BI questions (`README.md:14-16`):

1. ``view_count_by_period``      ↔ yearly_item_view_count        (:22-35)
2. ``item_view_rank_by_period``  ↔ item_view_based_on_particular_year (:37-52)
3. ``most_viewed_item_latest_period`` ↔ most_viewed_item_based_on_most_recent_year (:55-72)
4. ``top_event_type_by_period``  ↔ most_used_platform_in_particular_year (:75-92)
5. ``view_trend_by_period``      ↔ year-over-year view trend
6. ``top_items_view_share``      ↔ top-10 items and their view share

Scale notes: the fact→dim join broadcasts the dim (2K rows); the
period aggregations are map-side-combinable counts; the dense_rank
windows partition by period (bounded cardinality, no single-partition
stage). Surrogate keys use ``keys.ordered_surrogate_key`` — exact
global numbering with a range-partitioned shuffle plus per-partition
offsets, never an all-rows-on-one-task window.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.keys import ordered_surrogate_key
from ..operators.transforms import (
    PROPS_SCHEMA,
    normalize_id_to_long,
    parse_json_column,
)
from ..tables import load_table

# ---------------------------------------------------------------------------
# Star-schema builds (dims + fact)
# ---------------------------------------------------------------------------

def _flat_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared parse/flatten chain: payload JSON → typed columns, inside
    codegen (``from_json``), no pandas detour."""
    events = load_table(spark, sf_dir, "events")
    parsed = parse_json_column(events, "props", PROPS_SCHEMA, "props_parsed")
    return parsed.select(
        "event_id", "ts", "user_id", "event_type", "value",
        F.col("props_parsed.k").alias("item_key"),
    )


def build_event_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw ingest: parse payload JSON, assign raw surrogate key.

    ↔ `etl_s3_snowflake_raw_event_ingest.py:25-33` (rename → json.loads →
    1-based index), minus the pandas detour: one lazy chain, payload
    parsed by ``from_json`` inside codegen.

    Deliberate deviation, documented: the reference's raw layer stores
    EVENT_TIME as *string* and only the fact build casts it
    (`etl_s3_snowflake_f_events.py:54`); here the raw layer is typed at
    ingest. Staging text timestamps buys nothing in Spark (the cast is
    free either way) and costs every raw-layer consumer a re-parse.
    """
    flat = _flat_events(spark, sf_dir)
    return ordered_surrogate_key(flat, "guid_event_raw", order_by=["event_id"])


class Guid(NamedTuple):
    """A table's surrogate key: its column and the order rows are
    numbered in. The first load numbers the whole table by ``order``
    (its leading column newest-first when ``newest_first``); every
    merge after numbers only the keys new to the table, by
    ``merge_order`` when given, else by ``order``."""

    col: str
    order: tuple[str, ...]
    newest_first: bool = False
    merge_order: tuple[str, ...] = ()

    def number(self, rows: DataFrame) -> DataFrame:
        return ordered_surrogate_key(
            rows, self.col, order_by=list(self.order),
            descending=self.newest_first,
        )


# The append-only dims: dim -> (events column, natural key). Each is the
# distinct keys of the day's events, numbered in key order
# ↔ `etl_s3_snowflake_d_event.py:24-30`, `…_d_user.py:28-34`,
# `…_d_parameter.py:24-36` (drop_duplicates → range index); event_type
# plays parameter_name. The keys are unique per row, so ordering by the
# key itself pins guid assignment.
DIM_KEYS: dict[str, tuple[str, str]] = {
    "d_event": ("event_id", "event_id"),
    "d_user": ("user_id", "user_id"),
    "d_parameter": ("event_type", "parameter_name"),
}

# The surrogate key of every numbered warehouse table. The fact's first
# load numbers newest-first (`etl_s3_snowflake_f_events.py:36-43`); its
# later inserts continue in event_id order.
GUIDS: dict[str, Guid] = {
    "d_event": Guid("guid_event", ("event_id",)),
    "d_user": Guid("guid_user", ("user_id",)),
    "d_parameter": Guid("guid_parameter", ("parameter_name",)),
    "f_events": Guid(
        "guid_event", ("event_time", "event_id"), newest_first=True,
        merge_order=("event_id",),
    ),
}


def dim_keys(events: DataFrame, dim: str) -> DataFrame:
    """The distinct natural keys of ``dim`` in ``events`` (the source
    events table or the warehouse's ``event_raw``), without a guid."""
    source, key = DIM_KEYS[dim]
    return events.select(F.col(source).alias(key)).distinct()


def build_dim(dim: str, spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dim ``dim`` of ``DIM_KEYS`` over the events of ``sf_dir``, with
    its contiguous guid."""
    events = load_table(spark, sf_dir, "events")
    return GUIDS[dim].number(dim_keys(events, dim))


def build_d_item(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item dim: prefixed renames of the item source table
    ↔ `etl_s3_snowflake_d_item.py:24-29` (column-prefix renames; the
    float-text id is normalized to long at build time per SURVEY §1.2 —
    ``normalize_id_to_long`` handles the ``"2512.0"``-style text ids the
    reference relies on Snowflake to coerce; the synthetic key is
    already numeric so it takes the plain-cast path)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        normalize_id_to_long(
            "p_partkey", part.schema["p_partkey"].dataType.simpleString()
        ).alias("item_id"),
        F.col("p_name").alias("item_name"),
        F.col("p_brand").alias("item_brand"),
        F.col("p_type").alias("item_type"),
        F.col("p_size").cast("int").alias("item_size"),
        F.col("p_retailprice").alias("item_price"),
    )


def fact_columns(flat: DataFrame) -> DataFrame:
    """Fact-table projection of the flat events (``_flat_events`` or
    the warehouse's ``event_raw``), without a guid: renames + item-key
    normalization to long (the VARCHAR-coercion fix, SURVEY.md §1.2 —
    float-formatted text ids parse via the decimal path instead of
    silently nulling)."""
    return flat.select(
        "event_id",
        F.col("ts").alias("event_time"),
        F.col("user_id").alias("event_user_id"),
        F.col("event_type").alias("event_name"),
        F.col("value").alias("event_value"),
        normalize_id_to_long(
            "item_key", flat.schema["item_key"].dataType.simpleString()
        ).alias("event_parameter_value"),
    )


def build_f_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact build: payload flatten + item-key normalization + sort + guid.

    ↔ `etl_s3_snowflake_f_events.py:22-44`. The reference's positional
    zip-join (P8) disappears — ``from_json`` keeps the flattened payload
    columns aligned with the row. Sorted newest-first, then guid over
    that order via the range-partitioned two-pass numbering (no
    single-partition stage even on the full fact).
    """
    return GUIDS["f_events"].number(fact_columns(_flat_events(spark, sf_dir)))


# ---------------------------------------------------------------------------
# KPI views (the golden queries): one SQL definition, two bindings
# ---------------------------------------------------------------------------

# The SELECT body of each KPI view over ``{f_events}`` and ``{d_item}``,
# mirroring the reference's CREATE OR REPLACE VIEW statements one-to-one
# (`etl_s3_snowflake_aggregated_views.py:22-92`): CTE pre-filter, inner
# dim join, date-part groupBy, window-over-aggregate DENSE_RANK, scalar
# subquery for the latest period, top-1 LIMIT, and rank=1 filter.
# ``event_name = 'view'`` plays the reference's ``'view_item'``. The
# warehouse binds the placeholders to its persisted tables
# (``WAREHOUSE_KPI_SQL``); ``kpi_view`` binds them to DataFrames built
# from the synthetic tables. The fact⋈dim join broadcasts the dim.
KPI_SQL: dict[str, str] = {
    "view_count_by_period": """
        WITH filtered_events AS (
          SELECT * FROM {f_events} WHERE event_name = 'view'
        )
        SELECT date_trunc('day', f.event_time) AS period,
               COUNT(f.event_time) AS item_view
        FROM filtered_events f
        INNER JOIN {d_item} d ON f.event_parameter_value = d.item_id
        GROUP BY date_trunc('day', f.event_time)
        ORDER BY period DESC
    """,
    "item_view_rank_by_period": """
        WITH filtered_events AS (
          SELECT * FROM {f_events} WHERE event_name = 'view'
        ),
        counts AS (
          SELECT date_trunc('day', f.event_time) AS period,
                 d.item_name, COUNT(f.event_time) AS item_view
          FROM filtered_events f
          INNER JOIN {d_item} d ON f.event_parameter_value = d.item_id
          GROUP BY 1, 2
        )
        SELECT period, item_name, item_view,
               CAST(DENSE_RANK() OVER (PARTITION BY period
                    ORDER BY item_view DESC) AS BIGINT) AS item_view_rank
        FROM counts
        ORDER BY period, item_view_rank, item_name
    """,
    # Deviation from the reference, documented: ties on the top view
    # count are broken by item_name so the result is deterministic (the
    # reference's bare ``ORDER BY ITEM_VIEW DESC LIMIT 1`` is not).
    "most_viewed_item_latest_period": """
        WITH filtered_events AS (
          SELECT * FROM {f_events} WHERE event_name = 'view'
        ),
        joined AS (
          SELECT date_trunc('day', f.event_time) AS period,
                 d.item_name, f.event_time
          FROM filtered_events f
          INNER JOIN {d_item} d ON f.event_parameter_value = d.item_id
        )
        SELECT period, item_name, COUNT(event_time) AS item_view
        FROM joined
        WHERE period = (SELECT MAX(period) FROM joined)
        GROUP BY period, item_name
        ORDER BY item_view DESC, item_name
        LIMIT 1
    """,
    # ``event_name`` plays the platform column (the synthetic schema
    # folds event_name and platform into one field); no event filter, so
    # the ranking is non-degenerate across all five types.
    "top_event_type_by_period": """
        WITH counts AS (
          SELECT date_trunc('day', event_time) AS period, event_name,
                 COUNT(event_time) AS type_count
          FROM {f_events} GROUP BY 1, 2
        ),
        ranked AS (
          SELECT *, CAST(DENSE_RANK() OVER (PARTITION BY period
                    ORDER BY type_count DESC, event_name) AS BIGINT)
                    AS type_rank
          FROM counts
        )
        SELECT period, event_name AS event_type, type_count, type_rank
        FROM ranked WHERE type_rank = 1
        ORDER BY period, event_type
    """,
    # The two Power-BI-layer business questions (README.md:14-16) the
    # reference answers inside the BI tool rather than a warehouse view.
    # Period-over-period trend: the LAG window is unpartitioned but runs
    # over one row per period, never over raw events; the first period
    # has no prior and is dropped (NULL-free result). floor-truncation,
    # not round: identical IEEE result in any engine.
    "view_trend_by_period": """
        WITH filtered_events AS (
          SELECT * FROM {f_events} WHERE event_name = 'view'
        ),
        counts AS (
          SELECT date_trunc('day', f.event_time) AS period,
                 COUNT(f.event_time) AS item_view
          FROM filtered_events f
          INNER JOIN {d_item} d ON f.event_parameter_value = d.item_id
          GROUP BY 1
        ),
        t AS (
          SELECT period, item_view,
                 LAG(item_view) OVER (ORDER BY period) AS prev_view
          FROM counts
        )
        SELECT period, item_view, prev_view,
               item_view - prev_view AS view_delta,
               floor((item_view - prev_view) * 100.0 / prev_view * 1e6)
                 / 1e6 AS pct_change
        FROM t WHERE prev_view IS NOT NULL ORDER BY period
    """,
    # Top ten items of the latest period with each one's share of that
    # period's views: row_number with an item_name tiebreak returns ten
    # deterministic rows; the share's window sum runs over per-item
    # aggregates (bounded by #items), not raw events.
    "top_items_view_share": """
        WITH filtered_events AS (
          SELECT * FROM {f_events} WHERE event_name = 'view'
        ),
        joined AS (
          SELECT date_trunc('day', f.event_time) AS period,
                 d.item_name, f.event_time
          FROM filtered_events f
          INNER JOIN {d_item} d ON f.event_parameter_value = d.item_id
        ),
        counts AS (
          SELECT period, item_name, COUNT(event_time) AS item_view
          FROM joined WHERE period = (SELECT MAX(period) FROM joined)
          GROUP BY 1, 2
        ),
        ranked AS (
          SELECT period, item_name, item_view,
                 floor(item_view * 100.0
                       / SUM(item_view) OVER (PARTITION BY period)
                       * 1e6) / 1e6 AS view_share_pct,
                 CAST(ROW_NUMBER() OVER (PARTITION BY period
                      ORDER BY item_view DESC, item_name) AS BIGINT)
                   AS view_rank
          FROM counts
        )
        SELECT * FROM ranked WHERE view_rank <= 10 ORDER BY view_rank
    """,
}


def kpi_view(name: str, spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPI view ``name`` over the synthetic tables: its ``KPI_SQL`` body
    bound to the fact projection and the item dim of ``sf_dir``.

    The fact is built from the flat parse, not ``build_f_events``: no KPI
    view reads ``guid_event``, so recomputing the numbering (its count
    branch + bucket join) would be dead weight Catalyst cannot fully
    prune. The DataFrames bind through ``spark.sql`` keyword arguments,
    so the call registers no ``f_events``/``d_item`` view of its own and
    cannot clash with the warehouse's in a shared session. The dim is
    built only for views that join it: loading a table costs a Spark
    job (its parquet footer read).
    """
    sql = KPI_SQL[name]
    tables = {"f_events": fact_columns(_flat_events(spark, sf_dir))}
    if "{d_item}" in sql:
        tables["d_item"] = build_d_item(spark, sf_dir)
    return spark.sql(sql, **tables)


# ---------------------------------------------------------------------------
# Warehouse-facing SQL view layer (pipeline mode)
# ---------------------------------------------------------------------------

# The same views as DDL over the *persisted* warehouse tables (f_events /
# d_item registered in the catalog). Views stay virtual (recomputed on
# read) exactly like the reference's.
WAREHOUSE_KPI_SQL: dict[str, str] = {
    name: f"\n        CREATE OR REPLACE TEMPORARY VIEW {name} AS"
    + body.format(f_events="f_events", d_item="d_item")
    for name, body in KPI_SQL.items()
}


def register_warehouse_kpi_views(spark: SparkSession) -> None:
    """Q13 over the persisted warehouse: plain ``spark.sql`` DDL —
    Spark's ANTLR parse → Catalyst analyze/optimize replaces Snowflake
    wholesale (SURVEY.md §3.3)."""
    for sql in WAREHOUSE_KPI_SQL.values():
        spark.sql(sql)
