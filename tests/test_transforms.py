"""Unit tests for the transform layer (SURVEY.md §2.2, P1-P9)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
    keys,
    transforms,
)


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_parse_json_variant_and_field(spark):
    """VARIANT form of P2 (round 8, closes the dead-code finding):
    try_parse_json keeps malformed JSON as NULL (the Snowflake
    semantic), variant_get extracts typed fields, missing paths are
    NULL not errors, and nested paths work without a declared schema."""
    df = _df(
        spark,
        [
            (1, '{"k": 69, "tags": {"env": "prod"}}'),
            (2, "{definitely not json"),
            (3, None),
        ],
        "id int, payload string",
    )
    v = transforms.parse_json_variant(df, "payload", "v")
    out = v.select(
        "id",
        transforms.variant_field("v", "$.k", "bigint").alias("k"),
        transforms.variant_field("v", "$.tags.env", "string").alias("env"),
        transforms.variant_field("v", "$.missing", "string").alias("gone"),
    )
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["k"] == 69
    assert rows[1]["env"] == "prod"
    assert rows[1]["gone"] is None
    # malformed and NULL inputs flow through as NULLs, never a failure
    assert rows[2]["k"] is None and rows[3]["k"] is None
    # default parsed_name replaces the source column in place
    inplace = transforms.parse_json_variant(df, "payload")
    assert dict(inplace.dtypes)["payload"] == "variant"


def test_parse_and_flatten_json(spark):
    schema = T.StructType(
        [
            T.StructField("event_name", T.StringType()),
            T.StructField("platform", T.StringType()),
        ]
    )
    df = _df(
        spark,
        [(1, '{"event_name": "view_item", "platform": "web"}'), (2, "not json")],
        "id int, payload string",
    )
    parsed = transforms.parse_json_column(df, "payload", schema)
    assert parsed.schema["payload"].dataType == schema
    rows = {r["id"]: r["payload"] for r in parsed.collect()}
    assert rows[1]["event_name"] == "view_item"
    assert rows[1]["platform"] == "web"
    # malformed JSON -> null fields, row is kept (PERMISSIVE from_json)
    assert rows[2]["event_name"] is None


def test_parse_json_variant_open_schema(spark):
    """P2 VARIANT form (Snowflake_tables/event_raw.png line 5): open
    schema — fields unknown at parse time still extract typed via
    variant_get; malformed JSON nulls out instead of failing the job."""
    df = _df(
        spark,
        [
            (1, '{"event_name": "view_item", "n": 42}'),
            (2, "not json"),
        ],
        "id int, payload string",
    )
    v = transforms.parse_json_variant(df, "payload")
    assert v.schema["payload"].dataType.typeName() == "variant"
    out = v.select(
        "id",
        transforms.variant_field("payload", "$.event_name", "string").alias("e"),
        transforms.variant_field("payload", "$.n", "long").alias("n"),
    )
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["e"] == "view_item"
    assert rows[1]["n"] == 42
    assert rows[2]["e"] is None


def test_dedup_keep_first_deterministic(spark):
    df = _df(
        spark,
        [("k1", 3), ("k1", 1), ("k2", 5), ("k1", 2)],
        "key string, v int",
    )
    out = transforms.dedup_keep_first(df, ["key"], order_by=[F.col("v")])
    got = {r["key"]: r["v"] for r in out.collect()}
    assert got == {"k1": 1, "k2": 5}


def test_ordered_surrogate_key_matches_global_row_number(spark):
    import random

    rng = random.Random(7)
    rows = [(rng.randrange(10**9), f"s{i}") for i in range(5000)]
    df = _df(spark, rows, "k long, v string")
    out = keys.ordered_surrogate_key(df, "guid", order_by=["k"]).collect()
    by_key = sorted(rows)
    expect = {k: i + 1 for i, (k, _) in enumerate(by_key)}
    assert all(r["guid"] == expect[r["k"]] for r in out)


def test_ordered_surrogate_key_descending_with_tiebreak(spark):
    rows = [(d, i) for d in (3, 1, 2, 4) for i in range(3)]
    df = _df(spark, rows, "k long, t long")
    out = keys.ordered_surrogate_key(
        df, "guid", order_by=["k", "t"], descending=True
    ).collect()
    ranked = sorted(rows, key=lambda r: (-r[0], r[1]))
    expect = {kt: i + 1 for i, kt in enumerate(ranked)}
    assert all(r["guid"] == expect[(r["k"], r["t"])] for r in out)


def test_ordered_surrogate_key_string_key(spark):
    words = ["pear", "apple", "a", "apples", "zebra", "Pear", "", "banana"]
    df = _df(spark, [(w,) for w in words], "w string")
    out = keys.ordered_surrogate_key(df, "guid", order_by=["w"]).collect()
    expect = {w: i + 1 for i, w in enumerate(sorted(words))}
    assert all(r["guid"] == expect[r["w"]] for r in out)


def test_ordered_surrogate_key_empty_and_single(spark):
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("k", T.LongType())])
    empty = spark.createDataFrame([], schema)
    assert keys.ordered_surrogate_key(empty, "guid", order_by=["k"]).count() == 0
    single = spark.createDataFrame([(42,)], "k long")
    [row] = keys.ordered_surrogate_key(single, "guid", order_by=["k"]).collect()
    assert row["guid"] == 1


def test_ordered_surrogate_key_null_keys_first(spark):
    rows = [(None,), (5,), (1,), (None,), (3,)]
    df = _df(spark, rows, "k long")
    out = keys.ordered_surrogate_key(df, "guid", order_by=["k"]).collect()
    by_key = {r["k"]: r["guid"] for r in out if r["k"] is not None}
    null_guids = sorted(r["guid"] for r in out if r["k"] is None)
    # Spark sort semantics: nulls first ascending.
    assert null_guids == [1, 2]
    assert by_key == {1: 3, 3: 4, 5: 5}


def test_salted_agg_matches_plain_groupby(spark):
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import skew

    # One hot key (~90% of rows) plus a long tail.
    rows = [("hot", float(i % 7)) for i in range(900)] + [
        (f"k{i % 20}", float(i)) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "k string, v double")
    got = {
        r["k"]: (r["total"], r["n"], r["lo"], r["hi"])
        for r in skew.salted_agg(
            df,
            ["k"],
            {"total": ("v", "sum"), "n": ("v", "count"),
             "lo": ("v", "min"), "hi": ("v", "max")},
        ).collect()
    }
    expect = {
        r["k"]: (r["total"], r["n"], r["lo"], r["hi"])
        for r in df.groupBy("k").agg(
            F.sum("v").alias("total"), F.count("v").alias("n"),
            F.min("v").alias("lo"), F.max("v").alias("hi"),
        ).collect()
    }
    assert set(got) == set(expect)
    for k in expect:
        assert got[k][1:] == expect[k][1:]
        assert abs(got[k][0] - expect[k][0]) < 1e-6


def test_deterministic_sample_stability(spark):
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators.sampling import (
        deterministic_sample,
    )

    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"] for r in deterministic_sample(df, "doc_id", 0.2, "s").collect()}
    # Same rows regardless of partitioning.
    b = {
        r["doc_id"]
        for r in deterministic_sample(
            df.repartition(7), "doc_id", 0.2, "s"
        ).collect()
    }
    assert a == b
    # Roughly the requested rate.
    assert 0.15 < len(a) / 5000 < 0.25
    # Nested rates: a 10% sample is a subset of the 20% sample.
    c = {r["doc_id"] for r in deterministic_sample(df, "doc_id", 0.1, "s").collect()}
    assert c <= a
    # Different salts give (near-)independent membership.
    d = {r["doc_id"] for r in deterministic_sample(df, "doc_id", 0.2, "t").collect()}
    assert a != d
    import pytest

    with pytest.raises(ValueError):
        deterministic_sample(df, "doc_id", 0.0)


def test_float_string_id_coercion_joins_like_snowflake(spark):
    # SURVEY §1.2: the reference's item source carries float-formatted
    # TEXT ids ("2512.0", item.csv:2) while events carry plain ints
    # ("3526"); its KPI join (etl_s3_snowflake_aggregated_views.py:31)
    # only works because Snowflake coerces VARCHAR->NUMBER. The
    # normalization must land both shapes on the same long — a naive
    # CAST('2512.0' AS BIGINT) nulls and silently drops every join row.
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators.transforms import (
        normalize_id_to_long,
    )

    items = spark.createDataFrame(
        [("2512.0", "widget"), ("3526.0", "gadget"), ("77", "plain")],
        ["item_id_text", "item_name"],
    ).select(
        normalize_id_to_long("item_id_text", "string").alias("item_id"),
        "item_name",
    )
    events = spark.createDataFrame(
        [("2512", 3), ("3526", 5), ("77", 7), ("9999", 1)],
        ["item_key_text", "n"],
    ).select(
        normalize_id_to_long("item_key_text", "string").alias("item_key"), "n"
    )
    joined = events.join(items, events.item_key == items.item_id)
    got = {(r["item_name"], r["n"]) for r in joined.collect()}
    assert got == {("widget", 3), ("gadget", 5), ("plain", 7)}
    # The naive cast really is lossy — under ANSI mode it throws
    # outright, and try_cast nulls. Pin the failure mode the
    # normalization exists to prevent.
    from pyspark.sql import functions as F

    naive = spark.createDataFrame([("2512.0",)], ["t"]).select(
        F.col("t").try_cast("long").alias("v")
    )
    assert naive.first()["v"] is None
    # Numeric inputs take the plain-cast path unchanged.
    nums = spark.createDataFrame([(5,)], ["k"]).select(
        normalize_id_to_long("k", "bigint").alias("v")
    )
    assert nums.first()["v"] == 5


def test_stratified_sample_semantics(spark):
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators.sampling import (
        deterministic_sample,
        stratified_sample,
    )

    df = spark.range(6000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("src"),
    )
    out = stratified_sample(
        df, "doc_id", "src",
        rates={"s0": 1.0, "s1": 0.2}, default_rate=0.0, salt="x",
    ).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["src"], set()).add(r["doc_id"])
    # rate 1.0 keeps the whole stratum; rate 0.0 (default) drops s2.
    assert len(by_src["s0"]) == 2000
    assert "s2" not in by_src
    assert 0.14 < len(by_src["s1"]) / 2000 < 0.26
    # Per-stratum membership identical to the flat sampler (same salt):
    # stratification changes the threshold, not the hash stream.
    flat = {
        r["doc_id"]
        for r in deterministic_sample(
            df.filter(F.col("src") == "s1"), "doc_id", 0.2, salt="x"
        ).collect()
    }
    assert by_src["s1"] == flat
    import pytest

    with pytest.raises(ValueError):
        stratified_sample(df, "doc_id", "src", rates={"s0": 1.5})


def test_repetition_profile_flags_repetitious_text(spark):
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions.text import (
        repetition_profile,
    )

    df = spark.createDataFrame(
        [
            (1, "buy now " * 50),            # one dominant 2-gram
            (2, "the quick brown fox jumps over a lazy sleeping dog"),
            (3, "hi"),                        # shorter than n tokens
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in repetition_profile(df, n=2).collect()}
    assert out[1]["top_gram_frac"] > 0.4 and out[1]["dup_gram_frac"] > 0.9
    assert out[2]["dup_gram_frac"] == 0.0
    assert out[3]["n_grams"] == 1 and out[3]["dup_gram_frac"] == 0.0


def test_curate_top_per_group(spark):
    from pyspark.sql import functions as F

    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        sampling,
    )

    rows = [
        (1, "a", 5.0), (2, "a", 9.0), (3, "a", 7.0), (4, "a", 0.1),
        (5, "b", 3.0), (6, "b", 3.0),  # tie broken by id
        (7, "c", 0.05),                # below floor: group vanishes
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, v double")
    out = sampling.curate_top_per_group(
        df, F.col("v"), "source", "doc_id", per_group=2, min_score=0.1
    )
    got = [
        (r["source"], r["doc_id"], r["rank_in_group"])
        for r in out.orderBy("source", "rank_in_group").collect()
    ]
    assert got == [("a", 2, 1), ("a", 3, 2), ("b", 5, 1), ("b", 6, 2)]


def test_weighted_sample_monotone_and_deterministic(spark):
    from pyspark.sql import functions as F

    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        sampling,
    )

    df = spark.createDataFrame(
        [(i, (i % 10) / 10.0) for i in range(1000)], "doc_id long, w double"
    )
    lo = {r["doc_id"] for r in
          sampling.weighted_sample(df, "doc_id", F.col("w") * 0.5).collect()}
    hi = {r["doc_id"] for r in
          sampling.weighted_sample(df, "doc_id", F.col("w")).collect()}
    again = {r["doc_id"] for r in
             sampling.weighted_sample(df, "doc_id", F.col("w")).collect()}
    assert hi == again                   # deterministic
    assert lo <= hi                      # monotone: halving weights only removes
    # weight 0 rows never pass, weight ~1 rows almost always do
    zero_ids = {i for i in range(1000) if i % 10 == 0}
    assert not (hi & zero_ids)
    nine = {i for i in range(1000) if i % 10 == 9}
    assert len(hi & nine) > 70  # ~90% of them


def test_gapfill_fills_calendar_and_forward_fills(spark, tmp_path):
    """Time-series regularization: a priority with a 2-day hole gets
    zero-count rows for the hole, the forward-fill carries the last
    observed average price across it, and days before a priority's
    first observation fill with 0.0."""
    import datetime as dt

    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.plans import (
        relational,
    )

    d = dt.date
    rows = [
        # (orderkey, priority, day, price)
        (1, "A", d(2024, 1, 1), 10.0),
        (2, "A", d(2024, 1, 1), 30.0),   # day avg 20.0
        (3, "A", d(2024, 1, 4), 8.0),    # hole: Jan 2-3
        (4, "B", d(2024, 1, 3), 5.0),    # B starts later than the grid
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_orderpriority string, o_orderdate date,"
        " o_totalprice double",
    ).write.mode("overwrite").parquet(f"{sf}/orders.parquet")
    out = relational.order_priority_daily_gapfill(spark, sf)
    got = {
        (r["priority"], r["day"].day): (
            r["n_orders"],
            r["day_revenue"],
            r["avg_price_ffill"],
        )
        for r in out.collect()
    }
    # full 4-day calendar x 2 priorities
    assert len(got) == 8
    assert got[("A", 1)] == (2, 40.0, 20.0)
    assert got[("A", 2)] == (0, 0.0, 20.0)   # gap day: zero, ffill carries
    assert got[("A", 3)] == (0, 0.0, 20.0)
    assert got[("A", 4)] == (1, 8.0, 8.0)
    assert got[("B", 1)] == (0, 0.0, 0.0)    # before first observation
    assert got[("B", 3)] == (1, 5.0, 5.0)
    assert got[("B", 4)] == (0, 0.0, 5.0)


def test_binned_quantile_sketch_within_bin_width(spark):
    """Sketch contract: each estimate is the upper edge of the bin that
    reaches ceil(q*N), so it sits within one bin width above the true
    quantile; monotone in q; invariant to partitioning."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        sketches,
    )

    df = spark.range(0, 10_000).select((F.col("id") * 1.0).alias("v"))
    out = sketches.binned_quantile_sketch(df, "v", n_bins=100)
    rows = {r["quantile"]: r["est_value"] for r in out.collect()}
    width = 9999.0 / 100
    for q, est in rows.items():
        true = q * 9999.0
        assert true - 1e-9 <= est <= true + width + 1e-9, (q, est, true)
    ests = [rows[q] for q in sorted(rows)]
    assert ests == sorted(ests)
    re_out = sketches.binned_quantile_sketch(df.repartition(13), "v", n_bins=100)
    assert {r["quantile"]: r["est_value"] for r in re_out.collect()} == rows


def test_split_assign_covers_all_rows_and_is_stable(spark):
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        sampling,
    )

    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = sampling.split_assign(df, "doc_id", fr, salt="s")
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(
        F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 2000          # every row assigned
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"]       # proportions ordered
    # stability: re-running yields the identical assignment
    again = sampling.split_assign(df, "doc_id", fr, salt="s")
    assert out.exceptAll(again).count() == 0
    # different salt → different assignment (namespacing works)
    other = sampling.split_assign(df, "doc_id", fr, salt="t")
    assert out.exceptAll(other).count() > 0

    import pytest as _pytest

    with _pytest.raises(ValueError):
        sampling.split_assign(df, "doc_id", {"a": 0.5, "b": 0.4})


def test_corpus_shuffle_is_permutation_matching_hash_order(spark):
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        sampling,
    )
    import hashlib

    ids = list(range(100))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = {
        r["doc_id"]: r["shuffle_pos"]
        for r in sampling.corpus_shuffle(df, "doc_id", salt="z").collect()
    }
    assert sorted(out.values()) == list(range(1, 101))  # contiguous 1..N
    expect_order = sorted(
        ids, key=lambda i: (hashlib.md5(f"z{i}".encode()).hexdigest(), i)
    )
    assert [out[i] for i in expect_order] == list(range(1, 101))


def test_token_budget_select_matches_global_order(spark):
    """Banded two-pass running sum == global (score DESC, id) cumsum:
    hand-computed fixture with scores straddling band boundaries and a
    budget that cuts mid-corpus. total=100, budget floor(100*0.55)=55;
    order by score desc: d(0.9,w30,cum30), a(0.51,w20,cum50),
    b(0.505,w25,cum75 — OVER), so selection = {d, a}."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        sampling,
    )

    df = spark.createDataFrame(
        [
            ("a", 0.51, 20),
            ("b", 0.505, 25),
            ("c", 0.2, 25),
            ("d", 0.9, 30),
        ],
        "id string, score double, w long",
    )
    out = sampling.token_budget_select(
        df, "id", "score", "w", budget_fraction=0.55
    )
    got = {r["id"]: r["cum_w"] for r in out.collect()}
    assert got == {"d": 30, "a": 50}


def test_token_budget_select_ties_break_by_id(spark):
    """Equal scores: id ASC decides who fits the last budget slot."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        sampling,
    )

    df = spark.createDataFrame(
        [("x", 0.5, 10), ("y", 0.5, 10)], "id string, score double, w long"
    )
    out = sampling.token_budget_select(
        df, "id", "score", "w", budget_fraction=0.5
    ).collect()
    assert [(r["id"], r["cum_w"]) for r in out] == [("x", 10)]


def test_token_budget_select_validates_fraction(spark):
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        sampling,
    )
    import pytest as _pt

    df = spark.createDataFrame([("a", 0.5, 1)], "id string, score double, w long")
    with _pt.raises(ValueError, match="budget_fraction"):
        sampling.token_budget_select(df, "id", "score", "w", 0.0)


def test_token_budget_select_null_score_ranks_last(spark):
    """NULL scores clamp to 0 (lowest quality): the row stays rankable
    and its weight stays in the corpus total instead of silently
    inflating everyone else's budget."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        sampling,
    )

    df = spark.createDataFrame(
        [("a", None, 100), ("b", 0.9, 60), ("c", 0.8, 40)],
        "id string, score double, w long",
    )
    out = sampling.token_budget_select(
        df, "id", "score", "w", budget_fraction=0.5
    )
    # total = 200, budget = 100: b (cum 60) fits, c (cum 100) fits,
    # a (cum 200) does not — and a is not silently dropped pre-filter
    got = sorted((r["id"], r["cum_w"]) for r in out.collect())
    assert got == [("b", 60), ("c", 100)]


def test_interpolate_daily_hand_computed(spark):
    """Gap day1->day4 (10.0 -> 16.0): day2 = 10 + 6*(1/3) = 12.0,
    day3 = 14.0 (exactly representable doubles). A single-observation
    key yields a one-day calendar, observed, not interpolated."""
    from datetime import datetime

    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        timeseries,
    )

    df = spark.createDataFrame(
        [
            ("A", datetime(2024, 1, 1), 10.0),
            ("A", datetime(2024, 1, 4), 16.0),
            ("B", datetime(2024, 2, 1), 5.0),
        ],
        "k string, day timestamp, v double",
    )
    out = {
        (r["k"], r["day"].day): (r["v"], r["is_interpolated"])
        for r in timeseries.interpolate_daily(df, "k", "day", "v").collect()
    }
    assert out[("A", 1)] == (10.0, False)
    assert out[("A", 2)] == (12.0, True)
    assert out[("A", 3)] == (14.0, True)
    assert out[("A", 4)] == (16.0, False)
    assert out[("B", 1)] == (5.0, False)
    assert len(out) == 5


def test_mixture_budget_select_per_group_budgets(spark):
    """Hand-computed mixture: total weight 200, budget_fraction 0.5 →
    global 100; props A=0.4 (budget 40), B=0.2 (budget 20), C absent
    (budget 0). A in score order: a1(0.9,w30,cum30), a2(0.5,w20,
    cum50 — OVER 40) → {a1}; B: b1(0.8,w20,cum20 — exactly at budget)
    → {b1}; C excluded entirely."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        sampling,
    )

    df = spark.createDataFrame(
        [
            ("a1", "A", 0.9, 30),
            ("a2", "A", 0.5, 20),
            ("b1", "B", 0.8, 20),
            ("b2", "B", 0.1, 50),
            ("c1", "C", 0.99, 80),
        ],
        "id string, g string, score double, w long",
    )
    out = sampling.mixture_budget_select(
        df,
        id_col="id",
        score_col="score",
        weight_col="w",
        group_col="g",
        proportions={"A": 0.4, "B": 0.2},
        budget_fraction=0.5,
    )
    got = {r["id"]: r["cum_w"] for r in out.collect()}
    assert got == {"a1": 30, "b1": 20}


def test_mixture_budget_select_validation(spark):
    import pytest

    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        sampling,
    )

    df = spark.createDataFrame(
        [("a", "A", 0.5, 1)], "id string, g string, score double, w long"
    )
    with pytest.raises(ValueError, match="proportions"):
        sampling.mixture_budget_select(
            df, "id", "score", "w", "g", proportions={}
        )
    with pytest.raises(ValueError, match="sum to"):
        sampling.mixture_budget_select(
            df, "id", "score", "w", "g", proportions={"A": 0.9, "B": 0.3}
        )
    with pytest.raises(ValueError, match="budget_fraction"):
        sampling.mixture_budget_select(
            df, "id", "score", "w", "g",
            proportions={"A": 0.5}, budget_fraction=0.0,
        )
