"""Merge-layer semantics (SURVEY.md §2.1 S6/S7): ignore vs update modes,
composite keys, source dedup, idempotence (FIXTURES.md §5 edge cases)."""

from __future__ import annotations

from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import merge


def _target(spark):
    return spark.createDataFrame(
        [("k1", "old1"), ("k2", "old2")], "key string, val string"
    )


def _source(spark):
    return spark.createDataFrame(
        [("k2", "new2"), ("k3", "new3")], "key string, val string"
    )


def test_merge_ignore_keeps_target_rows(spark):
    out = merge.merge_ignore(_target(spark), _source(spark), ["key"])
    got = {r["key"]: r["val"] for r in out.collect()}
    # matched key k2 untouched; new key k3 inserted
    assert got == {"k1": "old1", "k2": "old2", "k3": "new3"}


def test_merge_update_overwrites_matched(spark):
    out = merge.merge_update(_target(spark), _source(spark), ["key"])
    got = {r["key"]: r["val"] for r in out.collect()}
    assert got == {"k1": "old1", "k2": "new2", "k3": "new3"}


def test_merge_composite_key(spark):
    tgt = spark.createDataFrame(
        [("a", 1, "t1"), ("a", 2, "t2")], "k1 string, k2 int, val string"
    )
    src = spark.createDataFrame(
        [("a", 2, "s2"), ("b", 1, "s3")], "k1 string, k2 int, val string"
    )
    out = merge.merge_update(tgt, src, ["k1", "k2"])
    got = {(r["k1"], r["k2"]): r["val"] for r in out.collect()}
    assert got == {("a", 1): "t1", ("a", 2): "s2", ("b", 1): "s3"}


def test_merge_dedups_duplicate_source_keys(spark):
    tgt = _target(spark)
    src = spark.createDataFrame(
        [("k3", "dup_b"), ("k3", "dup_a")], "key string, val string"
    )
    out = merge.merge_update(tgt, src, ["key"], source_order_by=["val"])
    got = {r["key"]: r["val"] for r in out.collect()}
    # deterministic survivor: first by val ordering
    assert got["k3"] == "dup_a"
    assert out.count() == 3


def test_merge_update_idempotent(spark):
    """Re-running the same day's load changes nothing (SURVEY §7 M3)."""
    tgt = _target(spark)
    src = _source(spark)
    once = merge.merge_update(tgt, src, ["key"])
    twice = merge.merge_update(once, src, ["key"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_merge_ignore_idempotent(spark):
    tgt = _target(spark)
    src = _source(spark)
    once = merge.merge_ignore(tgt, src, ["key"])
    twice = merge.merge_ignore(once, src, ["key"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def _scd2_target(spark):
    # k1: current v2 + closed v1 history; k2: current only; k3: current only
    rows = [
        ("k1", "a", "2023-01-01 00:00:00", "2024-01-01 00:00:00", False),
        ("k1", "b", "2024-01-01 00:00:00", None, True),
        ("k2", "x", "2024-01-01 00:00:00", None, True),
        ("k3", "y", "2024-01-01 00:00:00", None, True),
    ]
    df = spark.createDataFrame(
        rows, "key string, val string, valid_from string, valid_to string, is_current boolean"
    )
    from pyspark.sql import functions as F

    return df.withColumn("valid_from", F.col("valid_from").cast("timestamp")).withColumn(
        "valid_to", F.col("valid_to").cast("timestamp")
    )


def test_merge_scd2_classification(spark):
    # k1 changes (b -> c): close + new version. k2 unchanged. k3 not in
    # source: untouched. k4 new: insert current. History passes through.
    source = spark.createDataFrame(
        [("k1", "c"), ("k2", "x"), ("k4", "z")], "key string, val string"
    )
    out = merge.merge_scd2(
        _scd2_target(spark), source, ["key"], ["val"], "2024-06-01 00:00:00"
    ).collect()
    rows = {(r["key"], r["val"], str(r["valid_from"]), str(r["valid_to"]), r["is_current"]) for r in out}
    assert rows == {
        ("k1", "a", "2023-01-01 00:00:00", "2024-01-01 00:00:00", False),
        ("k1", "b", "2024-01-01 00:00:00", "2024-06-01 00:00:00", False),
        ("k1", "c", "2024-06-01 00:00:00", "None", True),
        ("k2", "x", "2024-01-01 00:00:00", "None", True),
        ("k3", "y", "2024-01-01 00:00:00", "None", True),
        ("k4", "z", "2024-06-01 00:00:00", "None", True),
    }


def test_merge_scd2_idempotent_on_rerun(spark):
    # Re-running the SAME load produces no new versions: the changed
    # rows became current last run, so they now compare equal.
    source = spark.createDataFrame(
        [("k1", "c"), ("k2", "x"), ("k4", "z")], "key string, val string"
    )
    once = merge.merge_scd2(
        _scd2_target(spark), source, ["key"], ["val"], "2024-06-01 00:00:00"
    )
    twice = merge.merge_scd2(
        once, source, ["key"], ["val"], "2024-07-01 00:00:00"
    )
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_merge_scd2_null_attr_change_detected(spark):
    # null -> value and value -> null must both count as "changed"
    # (null-safe comparison), and a null-keyed row must not be
    # misclassified by the presence markers.
    from pyspark.sql import functions as F

    target = spark.createDataFrame(
        [("k1", None, "2024-01-01 00:00:00", None, True),
         (None, "nv", "2024-01-01 00:00:00", None, True)],
        "key string, val string, valid_from string, valid_to string, is_current boolean",
    ).withColumn("valid_from", F.col("valid_from").cast("timestamp")).withColumn(
        "valid_to", F.col("valid_to").cast("timestamp")
    )
    source = spark.createDataFrame(
        [("k1", "now-set"), (None, "nv")], "key string, val string"
    )
    out = merge.merge_scd2(target, source, ["key"], ["val"], "2024-06-01 00:00:00")
    got = {(r["key"], r["val"], r["is_current"]) for r in out.collect()}
    assert ("k1", None, False) in got          # closed
    assert ("k1", "now-set", True) in got      # new version
    assert (None, "nv", True) in got           # null key matched, unchanged
    assert len(got) == 3


def test_scd2_point_in_time_lookup(spark):
    """Interval lookup: mid-history probe returns the closed version,
    post-merge probe returns current, pre-first-version probe returns
    NULL attributes, and interval disjointness yields exactly one row
    per probe."""
    from pyspark.sql import functions as F

    dim = _scd2_target(spark)
    probes = spark.createDataFrame(
        [
            ("k1", "2023-06-01 00:00:00"),  # inside closed v1
            ("k1", "2024-06-01 00:00:00"),  # current v2
            ("k2", "2022-01-01 00:00:00"),  # before first version
            ("k9", "2024-06-01 00:00:00"),  # unknown key
        ],
        "key string, as_of string",
    ).withColumn("as_of", F.col("as_of").cast("timestamp"))
    out = merge.scd2_point_in_time(dim, probes, ["key"], "as_of")
    assert out.count() == 4  # one row per probe, no interval overlap
    got = {
        (r["key"], str(r["as_of"])): (r["val"], r["is_current"])
        for r in out.collect()
    }
    assert got[("k1", "2023-06-01 00:00:00")] == ("a", False)
    assert got[("k1", "2024-06-01 00:00:00")] == ("b", True)
    assert got[("k2", "2022-01-01 00:00:00")] == (None, None)
    assert got[("k9", "2024-06-01 00:00:00")] == (None, None)


def test_scd2_point_in_time_boundary_semantics(spark):
    """valid_from is inclusive, valid_to exclusive: a probe exactly at
    the version flip must land on the NEW version only."""
    from pyspark.sql import functions as F

    dim = _scd2_target(spark)
    probes = spark.createDataFrame(
        [("k1", "2024-01-01 00:00:00")], "key string, as_of string"
    ).withColumn("as_of", F.col("as_of").cast("timestamp"))
    out = merge.scd2_point_in_time(dim, probes, ["key"], "as_of").collect()
    assert len(out) == 1
    assert out[0]["val"] == "b" and out[0]["is_current"] is True


def test_scd2_point_in_time_null_key_probeable(spark):
    """A dim maintaining a null-keyed version history (merge_scd2's
    null-safe key discipline) must be probe-able with a null key."""
    from pyspark.sql import functions as F

    dim = spark.createDataFrame(
        [(None, "nv", "2024-01-01 00:00:00", None, True)],
        "key string, val string, valid_from string, valid_to string,"
        " is_current boolean",
    ).withColumn("valid_from", F.col("valid_from").cast("timestamp")).withColumn(
        "valid_to", F.col("valid_to").cast("timestamp")
    )
    probes = spark.createDataFrame(
        [(None, "2024-06-01 00:00:00")], "key string, as_of string"
    ).withColumn("as_of", F.col("as_of").cast("timestamp"))
    out = merge.scd2_point_in_time(dim, probes, ["key"], "as_of").collect()
    assert len(out) == 1 and out[0]["val"] == "nv"
