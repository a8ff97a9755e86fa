"""End-to-end parity on the REFERENCE's exact raw shapes (FIXTURES.md
§1/§2/§5): dotted `event.payload` CSV header, unpadded `M/D/YYYY H:MM`
raw event_time text, float-formatted item-id text vs int-formatted
parameter_value, nullable adjective/modifier feeding the name concat,
a DENSE_RANK tie, and a non-view event_name making the view filter
non-trivial. Golden outputs are hand-computed — this is the
`etl_s3_snowflake_aggregated_views.py` pipeline in miniature, raw CSV
to KPI answers, through the engine's own operators."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators.transforms import (
    EVENT_PAYLOAD_SCHEMA,
    normalize_id_to_long,
    parse_raw_event_time,
)
from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.sources import readers


def _payload(name, platform, value):
    return (
        '{"event_name":"%s","platform":"%s",'
        '"parameter_name":"item_id","parameter_value":"%s"}'
        % (name, platform, value)
    )


EVENTS = [
    # 2017: item 1 viewed 3x (web, web, iOS); item 2 viewed 3x
    # (web, android, android) -> DENSE_RANK tie at rank 1
    ("e01", "6/26/2017 11:23", "101", _payload("view_item", "web", "1")),
    ("e02", "7/4/2017 9:05", "102", _payload("view_item", "web", "1")),
    ("e03", "12/3/2017 23:59", "101", _payload("view_item", "iOS", "1")),
    ("e04", "1/1/2017 0:01", "103", _payload("view_item", "web", "2")),
    ("e05", "2/14/2017 8:30", "104", _payload("view_item", "android", "2")),
    ("e06", "3/9/2017 14:45", "104", _payload("view_item", "android", "2")),
    # 2018: item 1 viewed 2x (web), item 2 1x (mobile web)
    ("e07", "5/20/2018 10:00", "101", _payload("view_item", "web", "1")),
    ("e08", "5/21/2018 10:00", "105", _payload("view_item", "web", "1")),
    ("e09", "11/2/2018 19:15", "102", _payload("view_item", "mobile web", "2")),
    # non-view event: must be filtered by event_name = 'view_item'
    ("e10", "5/22/2018 10:05", "101", _payload("add_to_cart", "web", "1")),
]

ITEMS = [
    # id is FLOAT-formatted text; adjective/modifier nullable (name is
    # the concat of the non-null parts, README.md:28)
    ("fuzzy", "widget", "2013-05-01 10:00:00", "1.0", None, "fuzzy widget", 19.99),
    (None, "gadget", "2014-02-02 12:30:00", "2.0", "refill", "gadget refill", 5.25),
]


@pytest.fixture(scope="module")
def star(spark, tmp_path_factory):
    # 1. raw ingest: header CSV with the DOTTED payload column name
    #    (etl_s3_snowflake_raw_event_ingest.py:28 renames it)
    csv = tmp_path_factory.mktemp("refshape") / "event.csv"
    lines = ["event_id,event_time,user_id,event.payload"]
    for eid, t, uid, payload in EVENTS:
        lines.append(f'{eid},{t},{uid},"{payload.replace(chr(34), chr(34)*2)}"')
    csv.write_text("\n".join(lines) + "\n")
    raw = readers.read_csv_inferred(
        spark, str(csv), rename={"event.payload": "event_payload"}
    )

    # 2. typing + flatten: raw-text time -> timestamp, JSON payload ->
    #    columns, int-text parameter_value -> long
    events = raw.select(
        "event_id",
        parse_raw_event_time(F.col("event_time").cast("string")).alias(
            "event_time"
        ),
        "user_id",
        F.from_json("event_payload", EVENT_PAYLOAD_SCHEMA).alias("p"),
    ).select(
        "event_id",
        "event_time",
        "user_id",
        F.col("p.event_name").alias("event_name"),
        F.col("p.platform").alias("event_platform"),
        normalize_id_to_long(F.col("p.parameter_value")).alias("item_key"),
    )

    items = spark.createDataFrame(
        ITEMS,
        "adjective string, category string, created_at string, id string,"
        " modifier string, name string, price double",
    ).select(
        normalize_id_to_long(F.col("id")).alias("item_id"),
        F.col("name").alias("item_name"),
    )
    return events, items


def test_raw_typing(star):
    events, _ = star
    rows = {r["event_id"]: r for r in events.collect()}
    assert rows["e01"]["event_time"].year == 2017
    assert rows["e04"]["event_time"].hour == 0  # "1/1/2017 0:01"
    assert rows["e01"]["item_key"] == 1  # "1" int-text
    assert rows["e09"]["item_key"] == 2


def test_float_text_id_joins_int_text_key(star):
    events, items = star
    joined = events.join(items, events.item_key == items.item_id)
    # every event matches an item despite "1.0" vs "1" text forms
    assert joined.count() == len(EVENTS)


def test_yearly_item_view_count(star):
    events, items = star
    f = events.filter(F.col("event_name") == "view_item")
    got = {
        r["year"]: r["item_view"]
        for r in f.join(items, f.item_key == items.item_id)
        .groupBy(F.year("event_time").alias("year"))
        .agg(F.count("*").alias("item_view"))
        .collect()
    }
    assert got == {2017: 6, 2018: 3}


def test_item_view_rank_dense_tie(star):
    events, items = star
    f = events.filter(F.col("event_name") == "view_item")
    counts = (
        f.join(items, f.item_key == items.item_id)
        .groupBy(F.year("event_time").alias("year"), "item_name")
        .agg(F.count("*").alias("item_view"))
    )
    w = Window.partitionBy("year").orderBy(F.desc("item_view"))
    got = {
        (r["year"], r["item_name"]): (r["item_view"], r["rank"])
        for r in counts.withColumn(
            "rank", F.dense_rank().over(w).cast("long")
        ).collect()
    }
    # 2017: 3-3 tie -> both DENSE_RANK 1 (FIXTURES.md §5.5)
    assert got[(2017, "fuzzy widget")] == (3, 1)
    assert got[(2017, "gadget refill")] == (3, 1)
    assert got[(2018, "fuzzy widget")] == (2, 1)
    assert got[(2018, "gadget refill")] == (1, 2)


def test_most_viewed_item_latest_year(star):
    events, items = star
    f = events.filter(F.col("event_name") == "view_item")
    joined = f.join(items, f.item_key == items.item_id)
    latest = joined.agg(F.max(F.year("event_time"))).collect()[0][0]
    top = (
        joined.filter(F.year("event_time") == latest)
        .groupBy("item_name")
        .agg(F.count("*").alias("item_view"))
        .orderBy(F.desc("item_view"), "item_name")
        .limit(1)
        .collect()[0]
    )
    assert latest == 2018
    assert (top["item_name"], top["item_view"]) == ("fuzzy widget", 2)


def test_most_used_platform_per_year(star):
    events, _ = star
    f = events.filter(F.col("event_name") == "view_item")
    counts = f.groupBy(
        F.year("event_time").alias("year"), "event_platform"
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("year").orderBy(F.desc("n"), "event_platform")
    winners = {
        r["year"]: r["event_platform"]
        for r in counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .collect()
    }
    assert winners == {2017: "web", 2018: "web"}

