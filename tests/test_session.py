"""Session construction: env knobs are validated before the JVM sees
them."""

from __future__ import annotations

import pytest

from etl_s3_airflow_snowflake_powerbi_marketing_data_spark import session


@pytest.mark.parametrize(
    ("raw", "want"),
    [("true", "true"), ("FALSE", "false"), ("True", "true"), ("fAlSe", "false")],
)
def test_prefer_smj_accepts_booleans_in_any_case(monkeypatch, raw, want):
    monkeypatch.setenv("SPARK_GRAFT_PREFER_SMJ", raw)
    assert session._env_bool("SPARK_GRAFT_PREFER_SMJ", "false") == want


def test_prefer_smj_default_is_false(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_PREFER_SMJ", raising=False)
    assert session._env_bool("SPARK_GRAFT_PREFER_SMJ", "false") == "false"


@pytest.mark.parametrize("raw", ["1", "yes", "", " false"])
def test_prefer_smj_rejects_other_values_naming_the_variable(monkeypatch, raw):
    # raised by get_spark itself, before any session is built or reused
    monkeypatch.setenv("SPARK_GRAFT_PREFER_SMJ", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_PREFER_SMJ"):
        session.get_spark("tests")


@pytest.mark.parametrize(
    ("name", "raw"),
    [("SPARK_GRAFT_CPUS", "4"), ("SPARK_GRAFT_CPUS", "*"),
     ("SPARK_SHUFFLE_PARTITIONS", "8"), ("SPARK_SHUFFLE_PARTITIONS", "200")],
)
def test_count_knobs_accept_positive_ints(monkeypatch, name, raw):
    monkeypatch.setenv(name, raw)
    star = name == "SPARK_GRAFT_CPUS"
    assert session._env_count(name, "1", star=star) == raw


@pytest.mark.parametrize(
    ("name", "raw"),
    [("SPARK_GRAFT_CPUS", "0"), ("SPARK_GRAFT_CPUS", "-2"),
     ("SPARK_GRAFT_CPUS", "four"), ("SPARK_GRAFT_CPUS", "4]"),
     ("SPARK_GRAFT_CPUS", ""), ("SPARK_SHUFFLE_PARTITIONS", "*"),
     ("SPARK_SHUFFLE_PARTITIONS", "0"), ("SPARK_SHUFFLE_PARTITIONS", "8.0"),
     ("SPARK_SHUFFLE_PARTITIONS", " 8")],
)
def test_count_knobs_reject_other_values_naming_the_variable(
    monkeypatch, name, raw
):
    # raised by get_spark itself, before any session is built or reused
    monkeypatch.setenv(name, raw)
    with pytest.raises(ValueError, match=name):
        session.get_spark("tests")
