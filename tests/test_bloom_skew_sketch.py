"""Runtime-filter (bloom), hot-key salted join, count-min sketch, HLL
merge rollup, and corpus rare-token ratio.

The bloom/salted operators carry an exactness CONTRACT (result ==
plain join, bit-for-bit); these tests pin it against Spark's own join
on real testdata, with broadcast disabled where the salted path must
exercise a genuine shuffle join.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import text as text_fn
from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
    bloom,
    sketches,
    skew,
)
from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.tables import load_table


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------------------
# bloom
# ---------------------------------------------------------------------------


def _bloom_filtered(probe, keys, n_bits):
    """``probe`` rows whose ``o_orderkey`` passes a bloom filter built
    over ``keys``."""
    bitmap = bloom.build_bloom_df(keys, "o_orderkey", n_bits)
    return (
        probe.join(F.broadcast(bitmap))
        .filter(
            bloom.might_contain_col(F.col("__bloom"), F.col("o_orderkey"), n_bits)
        )
        .drop("__bloom")
    )


def test_bloom_no_false_negatives(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    keys = orders.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey")
    survivors = _bloom_filtered(orders, keys, bloom.optimal_n_bits(500))
    # every true member must survive the pre-filter
    missed = keys.join(survivors, "o_orderkey", "left_anti").count()
    assert missed == 0


def test_bloom_false_positive_rate_bounded(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    keys = orders.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey")
    n_keys = keys.count()
    non_members = orders.filter(F.col("o_orderkey") % 7 != 0)
    n_non = non_members.count()
    fp = _bloom_filtered(
        non_members, keys, bloom.optimal_n_bits(n_keys, fpp=0.01)
    ).count()
    # generous bound: 5x the design fpp covers small-sample variance
    assert fp <= max(5, int(n_non * 0.05))


def test_bloom_semi_join_equals_plain_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")
    got = bloom.bloom_semi_join(
        li, urgent, "l_orderkey", "o_orderkey", how="inner"
    ).select("l_orderkey", "l_linenumber")
    want = li.join(
        urgent, li.l_orderkey == urgent.o_orderkey, "inner"
    ).select("l_orderkey", "l_linenumber")
    assert _rows(got) == _rows(want)
    assert len(_rows(got)) > 0


def test_bloom_semi_join_left_semi(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")
    got = bloom.bloom_semi_join(
        li, urgent, "l_orderkey", "o_orderkey", how="left_semi"
    ).select("l_orderkey", "l_linenumber")
    want = li.join(
        urgent, li.l_orderkey == urgent.o_orderkey, "left_semi"
    ).select("l_orderkey", "l_linenumber")
    assert _rows(got) == _rows(want)


def test_bloom_validation():
    with pytest.raises(ValueError, match="n_bits"):
        bloom.build_bloom_df(None, "k", 100)  # not a multiple of 64
    with pytest.raises(ValueError, match="n_hashes"):
        bloom.build_bloom_df(None, "k", 128, n_hashes=0)
    with pytest.raises(ValueError, match="fpp"):
        bloom.optimal_n_bits(10, fpp=1.5)
    assert bloom.optimal_n_bits(10_000, 0.01) % 64 == 0


def test_bloom_filter_evaluates_before_join(spark, sf_dir):
    """The membership test must sit in the probe-side Filter under the
    join, not above it — that is the whole point of the runtime
    filter."""
    li = load_table(spark, sf_dir, "lineitem")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")
    plan = bloom.bloom_semi_join(
        li, urgent, "l_orderkey", "o_orderkey"
    )._jdf.queryExecution().executedPlan().toString()
    join_pos = min(
        (plan.find(s) for s in ("Join", "HashJoin") if plan.find(s) != -1),
        default=-1,
    )
    getbit_pos = plan.find("getbit")
    assert getbit_pos != -1, plan
    # physical plans print top-down: the filter appearing AFTER the
    # join operator line means it executes BELOW (before) the join
    assert join_pos != -1 and getbit_pos > join_pos, plan


# ---------------------------------------------------------------------------
# salted join
# ---------------------------------------------------------------------------


def test_salted_join_equals_plain_join_under_shuffle(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    rates = spark.createDataFrame(
        [("A", 2), ("N", 1), ("R", 3)], ["l_returnflag", "w"]
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a genuine shuffle join — the scenario salting exists for
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        got = skew.salted_join(li, rates, ["l_returnflag"], n_salts=8)
        want = li.join(rates, ["l_returnflag"], "inner")
        assert _rows(got.select("l_orderkey", "l_returnflag", "w")) == _rows(
            want.select("l_orderkey", "l_returnflag", "w")
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_salted_join_left_keeps_unmatched(spark):
    probe = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "a", "b", "c"], "v": [1, 2, 3, 4]})
    )
    build = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "b"], "w": [10, 20]})
    )
    sp = skew.salted_join(probe, build, ["k"], n_salts=4, how="left")
    rows = {(r.k, r.v): r.w for r in sp.collect()}
    assert rows[("c", 4)] is None
    assert rows[("a", 1)] == 10 and rows[("b", 3)] == 20
    assert len(rows) == 4


def test_salted_join_validation(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    with pytest.raises(ValueError, match="how"):
        skew.salted_join(li, li, ["l_orderkey"], how="full")
    with pytest.raises(ValueError, match="n_salts"):
        skew.salted_join(li, li, ["l_orderkey"], n_salts=1)
    with pytest.raises(ValueError, match="salt_mode"):
        skew.salted_join(li, li, ["l_orderkey"], salt_mode="random")


def test_salted_join_row_mode_bounds_duplicate_floods(spark):
    """salt_mode='row' (VERDICT r05 item 8): a hot key made of
    BYTE-IDENTICAL rows must spread across salts (bounded reducer
    share), where the default content hash funnels them into one —
    and the join result stays multiset-identical to the plain join."""
    import pandas as pd

    n_salts, n_dup = 8, 8000
    probe = spark.createDataFrame(
        pd.DataFrame(
            {"k": ["hot"] * n_dup + ["a", "b"], "v": [1] * n_dup + [2, 3]}
        )
    ).repartition(4)
    build = spark.createDataFrame(
        pd.DataFrame({"k": ["hot", "a"], "w": [10, 20]})
    )

    # distribution: content mode puts every duplicate on ONE salt;
    # row mode bounds any salt's share of the flood near 1/n_salts
    def shares(mode):
        salted = probe.withColumn(
            "__salt", skew._probe_salt(probe, n_salts, mode)
        ).filter(F.col("k") == "hot")
        counts = [
            r.n
            for r in salted.groupBy("__salt")
            .agg(F.count("*").alias("n"))
            .collect()
        ]
        return max(counts) / n_dup, len(counts)

    content_share, content_buckets = shares("content")
    assert content_buckets == 1 and content_share == 1.0
    row_share, row_buckets = shares("row")
    assert row_buckets == n_salts
    assert row_share <= 1.5 / n_salts  # bounded, with slack for layout

    got = skew.salted_join(
        probe, build, ["k"], n_salts=n_salts, salt_mode="row"
    )
    want = probe.join(build, ["k"], "inner")
    assert got.count() == want.count() == n_dup + 1
    assert _rows(got.select("k", "v", "w")) == _rows(
        want.select("k", "v", "w")
    )


# ---------------------------------------------------------------------------
# count-min sketch
# ---------------------------------------------------------------------------


def test_cms_estimates_upper_bound_exact_counts(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    regs = sketches.cms_registers(events, "user_id", depth=4, width=2048)
    keys = events.select("user_id").distinct()
    est = sketches.cms_point_estimates(regs, keys, "user_id", 4, 2048)
    exact = events.groupBy("user_id").agg(F.count("*").alias("true_count"))
    joined = est.join(exact, "user_id").collect()
    assert len(joined) == exact.count()
    assert all(r.est_count >= r.true_count for r in joined)
    # at sf0.001 cardinality ≪ width, so collisions are rare: the
    # overwhelming majority of estimates are exact
    exact_hits = sum(r.est_count == r.true_count for r in joined)
    assert exact_hits >= 0.9 * len(joined)


def test_cms_registers_merge_by_addition(spark, sf_dir):
    """Sketch property: CMS(all) == cellwise-sum(CMS(half1), CMS(half2))."""
    events = load_table(spark, sf_dir, "events")
    h1 = events.filter(F.col("event_id") % 2 == 0)
    h2 = events.filter(F.col("event_id") % 2 == 1)
    whole = sketches.cms_registers(events, "user_id")
    merged = (
        sketches.cms_registers(h1, "user_id")
        .unionByName(sketches.cms_registers(h2, "user_id"))
        .groupBy("__row", "__cell")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert _rows(whole) == _rows(merged)


def test_cms_validation(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    with pytest.raises(ValueError, match="depth"):
        sketches.cms_registers(events, "user_id", depth=0)
    with pytest.raises(ValueError, match="width"):
        sketches.cms_registers(events, "user_id", width=10)


def test_cms_generator_matches_spark(spark, sf_dir):
    """The independent pure-Python CMS (tools/gen_expected.py) must
    reproduce the live operator exactly at the alternate SF — the same
    cross-validation the LSH/HLL expected-parquet oracles get."""
    import __spark_entry__ as entrymod
    from tools import gen_expected

    expected = gen_expected.gen_cms_user_counts(sf_dir)
    got = entrymod.q_cms_user_counts(spark, sf_dir).toPandas()
    assert got.astype("int64").values.tolist() == (
        expected.astype("int64").values.tolist()
    )


# ---------------------------------------------------------------------------
# HLL merge rollup
# ---------------------------------------------------------------------------


def test_hll_daily_merge_equals_direct_sketch(spark, sf_dir):
    """Register-MAX associativity: per-(type, day) sketches merged up
    must equal the direct per-type sketch bit-for-bit."""
    import __spark_entry__ as entrymod

    merged = entrymod.q_hll_sketch_merge(spark, sf_dir).toPandas()
    events = load_table(spark, sf_dir, "events")
    direct = (
        sketches.hll_distinct(events, "user_id", ["event_type"], p=10)
        .orderBy("event_type")
        .toPandas()
    )
    assert merged.values.tolist() == direct.values.tolist()


# ---------------------------------------------------------------------------
# rare token ratio
# ---------------------------------------------------------------------------


def test_rare_token_ratio_fixture(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat sat"),          # 'the' x3 corpus, others rare
            (2, "the dog sat"),
            (3, "the qux"),
            (4, "   "),                   # blank -> 0 tokens
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in text_fn.rare_token_ratio(docs, max_count=2).collect()
    }
    # corpus freqs: the=3, sat=2, cat=1, dog=1, qux=1
    assert (out[1].n_tokens, out[1].n_rare) == (3, 2)      # cat, sat
    assert (out[2].n_tokens, out[2].n_rare) == (3, 2)      # dog, sat
    assert (out[3].n_tokens, out[3].n_rare) == (2, 1)      # qux
    assert (out[4].n_tokens, out[4].n_rare, out[4].rare_ratio) == (0, 0, 0.0)
    assert out[3].rare_ratio == 0.5


# ---------------------------------------------------------------------------
# HLL pairwise overlap
# ---------------------------------------------------------------------------


def test_hll_overlap_generator_matches_spark(spark, sf_dir):
    import __spark_entry__ as entrymod
    from tools import gen_expected

    expected = gen_expected.gen_hll_user_overlap(sf_dir)
    got = entrymod.q_hll_user_overlap(spark, sf_dir).toPandas()
    assert got.columns.tolist() == expected.columns.tolist()
    for (_, g), (_, e) in zip(got.iterrows(), expected.iterrows()):
        assert tuple(g[:2]) == tuple(e[:2])
        for c in ("est_a", "est_b", "est_union", "est_intersection"):
            assert abs(g[c] - e[c]) < 1e-9, (g, e)


def test_hll_union_includes_one_sided_buckets(spark):
    """The union sketch must be an outer set-union of registers: a
    bucket set in only ONE group's sketch still raises the union
    estimate (an inner bucket-join would drop it and the union would
    underestimate — the bug class this test pins)."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        sketches,
    )

    # disjoint key ranges -> |A∩B| ≈ 0, |A∪B| ≈ |A|+|B|; with dropped
    # one-sided buckets est_union would collapse toward max(est) and
    # the intersection estimate would explode
    df = spark.createDataFrame(
        [(i, "A") for i in range(500)] + [(i + 10_000, "B") for i in range(500)],
        ["uid", "grp"],
    )
    row = sketches.hll_pairwise_overlap(df, "uid", "grp", p=10).collect()[0]
    assert row.est_union > 0.9 * (row.est_a + row.est_b)
    assert row.est_intersection < 0.15 * min(row.est_a, row.est_b)


# ---------------------------------------------------------------------------
# product quantization
# ---------------------------------------------------------------------------


def test_pq_generator_matches_spark(spark, sf_dir):
    import __spark_entry__ as entrymod
    from tools import gen_expected

    expected = gen_expected.gen_pq_topk(gen_expected.load_embeddings(sf_dir))
    got = entrymod.q_embedding_topk_pq(spark, sf_dir).toPandas()
    assert got.columns.tolist() == expected.columns.tolist()
    assert len(got) == len(expected)
    for (_, g), (_, e) in zip(got.iterrows(), expected.iterrows()):
        # g["rank"], not g.rank — .rank is the pandas Series method
        assert (g["query_id"], g["neighbor_id"], g["rank"]) == (
            e["query_id"], e["neighbor_id"], e["rank"],
        )
        assert abs(g["cosine_sim"] - e["cosine_sim"]) < 1e-12


def test_pq_approximates_exact_ranking(spark, sf_dir):
    """PQ distances are approximations, but the top-5 should overlap
    the exact cosine top-5 substantially (codes compress 64 dims to 8
    bytes; this pins that the approximation is meaningful, not noise)."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        similarity,
    )
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.tables import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    pq_top = similarity.pq_topk(emb, qs, k=5)
    exact = similarity.brute_force_topk(emb, qs, k=5)
    pq_sets = {}
    for r in pq_top.collect():
        pq_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = tot = 0
    for r in exact.collect():
        tot += 1
        if r.neighbor_id in pq_sets.get(r.query_id, set()):
            hits += 1
    assert hits / tot >= 0.3, f"recall@5 {hits}/{tot}"


def test_ivf_pq_generator_matches_spark(spark, sf_dir):
    import __spark_entry__ as entrymod
    from tools import gen_expected

    expected = gen_expected.gen_ivf_pq_topk(
        gen_expected.load_embeddings(sf_dir)
    )
    got = entrymod.q_embedding_topk_ivf_pq(spark, sf_dir).toPandas()
    assert got.columns.tolist() == expected.columns.tolist()
    assert len(got) == len(expected)
    for (_, g), (_, e) in zip(got.iterrows(), expected.iterrows()):
        assert (g["query_id"], g["neighbor_id"], g["rank"]) == (
            e["query_id"], e["neighbor_id"], e["rank"],
        )
        assert abs(g["cosine_sim"] - e["cosine_sim"]) < 1e-12


# ---------------------------------------------------------------------------
# mergeable histogram quantile rollup
# ---------------------------------------------------------------------------


def test_histogram_registers_merge_equals_direct(spark, sf_dir):
    """Count-SUM associativity (the histogram analog of the HLL
    register-MAX test): per-day registers rolled up to months must
    equal registers computed directly per month, bit-for-bit, because
    every group shares the same global bin edges."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "day", F.date_trunc("day", F.col("o_orderdate"))
    )
    daily = sketches.histogram_registers(
        orders, "o_totalprice", ["day"], n_bins=100
    )
    merged = (
        daily.withColumn("month", F.date_trunc("month", F.col("day")))
        .groupBy("month", "bin")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.first("__mn").alias("__mn"),
            F.first("__mx").alias("__mx"),
        )
    )
    monthly = orders.withColumn(
        "month", F.date_trunc("month", F.col("o_orderdate"))
    )
    direct = sketches.histogram_registers(
        monthly, "o_totalprice", ["month"], n_bins=100
    )
    cols = ["month", "bin", "cnt", "__mn", "__mx"]
    assert _rows(merged.select(*cols)) == _rows(direct.select(*cols))


def test_histogram_quantiles_micro_fixture(spark):
    """Hand-computed: values 0..9 in one group, 10 bins over [0, 9] —
    bin width 0.9, value v lands in bin min(floor(v/0.9), 9).
    q=0.5 -> ceil(0.5*10)=5th value; cumulative counts reach 5 at
    bin 4 (values 0..4 occupy bins 0,1,2,3,4), est = 0 + 5*0.9 = 4.5."""
    df = spark.createDataFrame(
        [("g", float(v)) for v in range(10)], "grp string, v double"
    )
    hist = sketches.histogram_registers(df, "v", ["grp"], n_bins=10)
    out = sketches.histogram_quantiles(
        hist, ["grp"], quantiles=(0.5,)
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["grp"] == "g"
    assert r["bin"] == 4
    assert r["est_value"] == pytest.approx(4.5)
    assert r["n_rows"] == 10


def test_histogram_constant_column_single_bin(spark):
    """mx == mn degenerate case: everything lands in bin 0 and every
    quantile returns the lower edge reconstruction without a 0-width
    division poisoning the plan."""
    df = spark.createDataFrame(
        [("g", 7.0)] * 5, "grp string, v double"
    )
    hist = sketches.histogram_registers(df, "v", ["grp"], n_bins=10)
    out = sketches.histogram_quantiles(
        hist, ["grp"], quantiles=(0.5, 0.99)
    ).collect()
    assert [r["bin"] for r in out] == [0, 0]
    assert all(r["n_rows"] == 5 for r in out)


# ---------------------------------------------------------------------------
# join-key skew profile
# ---------------------------------------------------------------------------


def test_key_distribution_profile_fixture(spark):
    """Hand-computed: keys a(x12), b(x3), c(x1), NULL(x100). Digit
    buckets: cnt 1 and 3 -> bucket 1 (two keys, 4 rows, max 3);
    cnt 12 -> bucket 2; cnt 100 -> bucket 3. The NULL hot key — the
    canonical skew culprit — must be counted as a key group, not
    dropped."""
    rows = (
        [("a",)] * 12 + [("b",)] * 3 + [("c",)] + [(None,)] * 100
    )
    df = spark.createDataFrame(rows, "k string")
    out = {
        r["bucket"]: r
        for r in skew.key_distribution_profile(df, "k", "t.k").collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1]["n_keys"] == 2
    assert out[1]["rows_in_bucket"] == 4
    assert out[1]["max_cnt"] == 3
    assert out[2]["n_keys"] == 1 and out[2]["max_cnt"] == 12
    assert out[3]["n_keys"] == 1 and out[3]["rows_in_bucket"] == 100
    assert all(r["source"] == "t.k" for r in out.values())


def test_histogram_registers_ignore_null_values(spark):
    """NULL values fall outside every bin (matching the min/max bounds
    that skip them) — they must not form a NULL-bin register that
    shifts quantiles."""
    rows = [("g", None)] * 5 + [("g", float(v)) for v in range(10)]
    df = spark.createDataFrame(rows, "grp string, v double")
    hist = sketches.histogram_registers(df, "v", ["grp"], n_bins=10)
    assert hist.filter(F.col("bin").isNull()).count() == 0
    out = sketches.histogram_quantiles(
        hist, ["grp"], quantiles=(0.5,)
    ).collect()
    assert out[0]["n_rows"] == 10 and out[0]["bin"] == 4


def test_kmv_source_overlap_exact_when_under_k(spark):
    """Unigram shingles, sets smaller than k: the sketch IS the union,
    so estimates are exact Jaccard. A={a,b,c}, B={b,c,d}: J=2/4=0.5;
    C={x} is disjoint from both: J=0.0 with the pair still present."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        sketches,
    )

    df = spark.createDataFrame(
        [(1, "a b c", "A"), (2, "b c d", "B"), (3, "x", "C")],
        "doc_id long, text string, source string",
    )
    out = {
        (r["source_a"], r["source_b"]): r
        for r in sketches.kmv_source_overlap(df, n=1, k=16).collect()
    }
    assert set(out) == {("A", "B"), ("A", "C"), ("B", "C")}
    ab = out[("A", "B")]
    assert (ab["n_union_sketch"], ab["n_common"]) == (4, 2)
    assert ab["jaccard_est"] == 0.5
    for pair in [("A", "C"), ("B", "C")]:
        assert out[pair]["n_common"] == 0
        assert out[pair]["jaccard_est"] == 0.0


def test_kmv_sketch_caps_at_k(spark):
    """Two sources sharing ALL 40 unigrams, k=8: the union sketch has
    exactly 8 rows, all common -> estimate 1.0 (identical sources look
    identical through any k)."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        sketches,
    )

    words = " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, words, "A"), (2, words, "B")],
        "doc_id long, text string, source string",
    )
    row = sketches.kmv_source_overlap(df, n=1, k=8).collect()[0]
    assert row["n_union_sketch"] == 8
    assert row["n_common"] == 8
    assert row["jaccard_est"] == 1.0


def test_histogram_percentile_rank_hand_computed(spark):
    """Global edges [0,1], 1000 bins. Source A scores 0.0/0.25/1.0 ->
    bins 0/250/999 -> ECDF 1/3, 2/3, 1.0 (floor-truncated); source B's
    single 0.5 is its own 100th percentile."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        sketches,
    )

    df = spark.createDataFrame(
        [(1, "A", 0.0), (2, "A", 0.25), (3, "A", 1.0), (4, "B", 0.5)],
        "doc_id long, source string, score double",
    )
    out = {
        r["doc_id"]: (r["bin"], r["pct_rank"])
        for r in sketches.histogram_percentile_rank(
            df, "score", ["source"]
        ).collect()
    }
    assert out[1] == (0, 0.333333)
    assert out[2] == (250, 0.666666)
    assert out[3] == (999, 1.0)
    assert out[4] == (500, 1.0)
