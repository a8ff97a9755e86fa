"""KPI view layer: shape + invariant tests against the sf0.001 tables
(value-level parity with DuckDB is covered by
tests/test_expected_oracles.py::test_paper_query_matches_oracle_at_sf001
and tools/check_oracles.py; these are fast structural guards)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.plans import marketing


def test_view_count_schema_and_order(spark, sf_dir):
    df = marketing.kpi_view("view_count_by_period", spark, sf_dir)
    assert df.columns == ["period", "item_view"]
    rows = df.collect()
    assert len(rows) > 0
    periods = [r["period"] for r in rows]
    assert periods == sorted(periods, reverse=True)


def test_item_rank_dense_within_period(spark, sf_dir):
    df = marketing.kpi_view("item_view_rank_by_period", spark, sf_dir)
    one_period = df.filter(F.col("period") == df.select("period").first()[0])
    ranks = sorted({r["item_view_rank"] for r in one_period.collect()})
    # dense: ranks start at 1 with no gaps
    assert ranks[0] == 1
    assert ranks == list(range(1, len(ranks) + 1))


def test_most_viewed_single_row(spark, sf_dir):
    df = marketing.kpi_view("most_viewed_item_latest_period", spark, sf_dir)
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["item_view"] >= 1


def test_top_event_type_one_winner_per_period(spark, sf_dir):
    df = marketing.kpi_view("top_event_type_by_period", spark, sf_dir)
    counts = df.groupBy("period").count().collect()
    assert all(r["count"] == 1 for r in counts)
    assert all(r["type_rank"] == 1 for r in df.collect())


def test_fact_guid_contiguous(spark, sf_dir):
    fact = marketing.build_f_events(spark, sf_dir)
    n = fact.count()
    stats = fact.agg(
        F.min("guid_event").alias("mn"),
        F.max("guid_event").alias("mx"),
        F.countDistinct("guid_event").alias("d"),
    ).collect()[0]
    assert (stats["mn"], stats["mx"], stats["d"]) == (1, n, n)


def test_view_trend_deltas_consistent(spark, sf_dir):
    df = marketing.kpi_view("view_trend_by_period", spark, sf_dir)
    rows = df.collect()
    assert df.columns == [
        "period", "item_view", "prev_view", "view_delta", "pct_change"
    ]
    assert len(rows) > 0
    for r in rows:
        # NULL-free by construction (first period dropped)
        assert r["prev_view"] is not None
        assert r["view_delta"] == r["item_view"] - r["prev_view"]
    # consecutive rows chain: this row's prev is the previous row's count
    for a, b in zip(rows, rows[1:]):
        assert b["prev_view"] == a["item_view"]


def test_top_items_view_share_bounds(spark, sf_dir):
    df = marketing.kpi_view("top_items_view_share", spark, sf_dir)
    rows = df.collect()
    assert 0 < len(rows) <= 10
    assert [r["view_rank"] for r in rows] == list(range(1, len(rows) + 1))
    # shares are positive, decreasing with rank, and sum to <= 100
    shares = [r["view_share_pct"] for r in rows]
    assert all(s > 0 for s in shares)
    views = [r["item_view"] for r in rows]
    assert views == sorted(views, reverse=True)
    assert sum(shares) <= 100.0 + 1e-6
    # single latest period only
    assert len({r["period"] for r in rows}) == 1
