"""Physical-plan regression tests — the scale properties the code
comments promise, asserted so a refactor can't silently lose them.

These check the *executed* plan string (post-AQE re-planning where it
applies): broadcast dim joins, parquet predicate pushdown + column
pruning, and limit-as-top-k. On a 1000-executor cluster these are the
difference between one shuffle and a full-fact exchange, and between
scanning 3 columns or all of them.
"""

from __future__ import annotations

from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.plans import (
    marketing,
    relational,
)

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_kpi_join_broadcasts_dim(spark):
    # The fact⋈dim join (Q3) must broadcast the small item dim, never
    # shuffle the fact on the join key.
    plan = _plan(marketing.kpi_view("item_view_rank_by_period", spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_kpi_filter_pushdown_and_pruning(spark):
    # Q2's event_type filter reaches the parquet scan, and the scan
    # reads only the columns the query needs (events has 6 columns;
    # the KPI needs ts/event_type/props).
    plan = _plan(marketing.kpi_view("view_count_by_period", spark, SF))
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,view)]" in plan
    # the nanos ts column surfaces as bigint (legacy-conf readers) or
    # timestamp_ntz (native nanos readers) — pruning is what's pinned
    assert (
        "ReadSchema: struct<ts:bigint,event_type:string,props:string>" in plan
        or "ReadSchema: struct<ts:timestamp_ntz,event_type:string,props:string>"
        in plan
    )
    for unused in ("event_id", "user_id", "value"):
        assert f"{unused}:" not in plan.split("ReadSchema:")[1].split("\n")[0]


def test_top1_plans_as_take_ordered(spark):
    # ORDER BY … LIMIT 1 (Q11) must plan as TakeOrderedAndProject —
    # a true distributed top-k, not a global sort.
    plan = _plan(marketing.kpi_view("most_viewed_item_latest_period", spark, SF))
    assert "TakeOrderedAndProject(limit=1" in plan


def test_pricing_summary_scan_shape(spark):
    # TPC-H Q1 shape: shipdate predicate pushed down, only the 7
    # needed lineitem columns read (of 16), partial aggregation
    # before the exchange (map-side combine).
    plan = _plan(relational.pricing_summary(spark, SF))
    assert "LessThanOrEqual(l_shipdate" in plan
    read = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_orderkey" not in read and "l_comment" not in read
    assert plan.index("partial_sum") > -1  # HashAggregate(partial) present


def test_interval_and_asof_avoid_nested_loop(spark):
    plan = _plan(relational.purchases_in_browse_sessions(spark, SF))
    assert "NestedLoop" not in plan
    plan2 = _plan(relational.events_last_order(spark, SF))
    assert "NestedLoop" not in plan2 and "CartesianProduct" not in plan2


def test_dedup_semantic_default_has_no_all_pairs_stage(spark):
    # The default edge generator must be the LSH candidate path: no
    # cartesian/nested-loop stage, and every FlatMapGroupsInPandas must
    # be the band-bucketed verify (grouped on the LSH band key) — never
    # the exhaustive blocked-matmul fallback, which groups on block
    # pair (bi, bj) and is opt-in via edges=. At 100 TB the default
    # plan must stay subquadratic end to end.
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        dedup,
    )
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.tables import (
        load_table,
    )

    df = dedup.dedup_semantic(load_table(spark, SF, "embeddings"))
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    for line in plan.splitlines():
        if "FlatMapGroupsInPandas" in line:
            assert "band_key" in line, line


def test_pack_and_decontam_plan_shape(spark):
    # Packing: the only joins are broadcasts (1-row min/max, tiny
    # offsets) — never a sort-merge over the data; the data-side window
    # is partitioned by bucket (the global-order window exists only on
    # the <=num_buckets offsets branch).
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    pack_plan = _plan(qs["doc_pack_sequences"](spark, SF))
    assert "SortMergeJoin" not in pack_plan
    assert "CartesianProduct" not in pack_plan
    assert "windowspecdefinition(__bucket" in pack_plan
    # Decontamination: candidate join keyed by shingle hash, no
    # quadratic stage, and the corpus side semi-filters against the
    # eval shingle vocabulary BEFORE any distinct/shuffle (the
    # eval-is-small design — no corpus-sized shuffle).
    dec_plan = _plan(qs["decontaminate_eval_docs"](spark, SF))
    assert "CartesianProduct" not in dec_plan
    assert "NestedLoop" not in dec_plan
    assert "LeftSemi" in dec_plan


def test_nation_trade_volume_broadcasts_all_dims(spark):
    """Q7-shape: the fixed-size nation dim (two aliased roles) must
    broadcast. supplier (10K rows/SF) and customer (150K rows/SF) grow
    linearly so neither is pinned (a forced broadcast is a driver-memory
    hazard at large SF) — AQE may still pick broadcast at tiny SF or
    shuffle at scale, both fine. lineitem x orders may shuffle (the one
    legitimate shuffle at scale) — either way, never a
    nested-loop/cartesian plan."""
    plan = _plan(relational.nation_trade_volume(spark, SF))
    n_broadcast = plan.count("BroadcastHashJoin")
    n_shuffle = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
    assert n_broadcast >= 2  # the two nation roles, at minimum
    assert n_broadcast + n_shuffle == 5
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_no_pinned_broadcast_of_scale_growing_tables():
    """Broadcast hints may only pin genuinely fixed-size dims (nation
    25 rows, region 5, 1-row/`O(groups)` aggregates). customer (150K
    rows/SF), supplier (10K rows/SF), orders, and lineitem grow
    linearly with data volume — a pinned ``F.broadcast`` of any of
    them is a driver/executor OOM at large SF regardless of what AQE
    would have chosen. Assert at the
    source level so no future query reintroduces the hazard; AQE
    remains free to broadcast them at small SF where they fit."""
    import pathlib

    src = pathlib.Path(relational.__file__).read_text()
    for bad in (
        "F.broadcast(cust",
        "F.broadcast(orders",
        "F.broadcast(li",
        "F.broadcast(supp",
    ):
        assert bad not in src, f"scale-growing table pinned broadcast: {bad}"


def test_full_outer_and_range_frame_plan_shapes(spark):
    """The two otherwise-unexercised operator classes: a genuine
    FullOuter join, and a RANGE (not ROWS) window frame."""
    plan = _plan(relational.nation_customer_supplier_balance(spark, SF))
    assert "FullOuter" in plan
    plan2 = _plan(relational.rolling_weekly_revenue(spark, SF))
    assert "RangeFrame" in plan2 or "RANGE" in plan2


def test_registered_similarity_queries_are_subquadratic(spark):
    """The O(N^2) exact baselines (brute_force_topk, cosine_dup_pairs,
    cosine_dup_pairs_blocked) are pytest verification gates, not
    registered queries; every REGISTERED similarity/embedding query
    must plan without an all-pairs stage, or it dies at 100x scale."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for name in (
        "embedding_topk_lsh",
        "embedding_topk_ivf",
        "embedding_cosine_dups_lsh",
        "dedup_semantic_embeddings",
        "embedding_source_profile",
        "embedding_kmeans_clusters",
    ):
        plan = _plan(qs[name](spark, SF))
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_salted_agg_matches_plain_and_splits_hot_key(spark):
    """Skew wiring (operators/skew.py): the registered salted query
    must (a) group phase 1 on (key, __salt) so a hot key spreads over
    n_salts reducers, (b) not leak the salt into the output schema,
    and (c) equal a plain one-phase GROUP BY value-for-value (decimal
    sums make the re-combination order-independent)."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.tables import (
        load_table,
    )

    df = entrymod.queries()["salted_event_counts"](spark, SF)
    plan = _plan(df)
    assert "__salt" in plan  # phase-1 (key, salt) grouping is present
    assert "__salt" not in [f.name for f in df.schema.fields]
    plain = (
        load_table(spark, SF, "events")
        .groupBy("event_type")
        .agg(
            F.count("event_id").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
        .orderBy("event_type")
    )
    assert [tuple(r) for r in df.collect()] == [
        tuple(r) for r in plain.collect()
    ]


def test_chunk_documents_is_shuffle_free(spark):
    """Chunking must run at scan speed: a pure projection+generate
    plan, no Exchange at all."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        text as text_fn,
    )
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.tables import (
        load_table,
    )

    plan = _plan(text_fn.chunk_documents(load_table(spark, SF, "documents")))
    assert "Exchange" not in plan
    assert "Generate" in plan  # the posexplode


def test_dup_span_hotspots_top_k_and_partial_agg(spark):
    # The hotspot report's top-20 must plan as TakeOrderedAndProject
    # (distributed top-k, no global sort) and the occurrence count
    # must partial-aggregate before the exchange.
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        dedup,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(dedup.shared_gram_hotspots(docs))
    assert "TakeOrderedAndProject(limit=20" in plan
    assert "partial_count" in plan or "partial" in plan.lower()
    assert "CartesianProduct" not in plan


def test_line_dedup_no_corpus_window(spark):
    # Survivor election must be the keyed min-aggregation, never a
    # corpus-wide window (a data-sized single-partition window is the
    # classic 100 TB killer).
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        lines,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", lines.wrap_tokens_to_lines(F.col("text"), 10).alias("lines")
    )
    plan = _plan(lines.line_dedup_stats(docs))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan  # map-combinable survivor election


def test_tfidf_plan_shape(spark):
    # The corpus-size N joins as ONE single-row broadcast (the
    # whitelisted scalar-subquery shape); the vocabulary join is a
    # real hash join; the per-doc top-k pre-prunes via
    # WindowGroupLimit before the exchange; nothing plans cartesian.
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        text as text_fn,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(text_fn.tfidf_top_terms(docs))
    assert plan.count("BroadcastNestedLoopJoin") == 1  # the 1-row N
    assert "BroadcastHashJoin" in plan  # term -> df_docs
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_partitioned_events_query_prunes_partitions(spark, tmp_path):
    # The registered partition-layout query's read side must show
    # partition pruning: only the selected event_type directory scans.
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.sources import (
        readers,
        writers,
    )
    from pyspark.sql import functions as F

    events = spark.read.parquet(f"{SF}/events.parquet")
    path = str(tmp_path / "pe")
    writers.write_partitioned(
        events.select("event_id", "ts", "value", "event_type"),
        path,
        ["event_type"],
    )
    back = readers.read_parquet(spark, path).filter(
        F.col("event_type") == "purchase"
    )
    plan = _plan(back.groupBy(F.date_trunc("day", "ts")).count())
    assert "PartitionFilters: [isnotnull(event_type" in plan


def test_kmv_sketch_rank_pushes_to_window_group_limit(spark):
    # The per-source row_number<=k filter must rewrite to
    # WindowGroupLimit (map-side partial top-k) — without it the sort
    # sees every source's full distinct-shingle set, the 100 TB
    # killer. The pair grid stays a justified tiny nested loop; no
    # cartesian anywhere.
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        sketches,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(sketches.kmv_source_overlap(docs))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_bm25_single_corpus_shuffle_and_topk(spark):
    # BM25's only corpus-scaled shuffle is the doc-keyed groupBy that
    # carries dl + per-term conditional tfs — and it must run ONCE:
    # per_doc feeds both the stats aggregate and the scored branch, so
    # it localCheckpoints (ADVICE r07: without it the tokenize→explode→
    # shuffle chain executed twice, visible as 2 'Exchange
    # hashpartitioning' with 0 reuse). After the checkpoint the
    # downstream plan reads an ExistingRDD and carries ZERO
    # hash-partitioned exchanges. The corpus stats ride 1-row
    # broadcasts, and the top-k must plan as a true distributed
    # TakeOrderedAndProject, never a global sort before the limit.
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        text as text_fn,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(text_fn.bm25_topk(docs, ["spark", "hash", "join"]))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # no per-term explode->join chain: zero hash joins, the only joins
    # are the 1-row stats broadcasts
    assert "BroadcastHashJoin" not in plan
    # the one corpus shuffle happened inside the checkpoint; nothing
    # downstream re-shuffles the corpus
    assert "ExistingRDD" in plan
    assert plan.count("Exchange hashpartitioning") == 0


def test_bm25_inverted_plan_shape(spark):
    # The >128-term strategy (VERDICT r07 item 5): term table and idf
    # table broadcast (never a shuffled join), the per-(doc,term) table
    # checkpoints once (both the dft rollup and the scoring branch read
    # the ExistingRDD), the only exchanges downstream are over MATCHED
    # rows, and top-k is a distributed TakeOrderedAndProject.
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        text as text_fn,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(
        text_fn.bm25_topk(
            docs, ["spark", "hash", "join"], strategy="inverted"
        )
    )
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "ExistingRDD" in plan


def test_doc_term_family_single_tokenize_checkpoint(spark):
    """The (doc,term)-grain family's single-tokenize contract is
    materialization-backed (round 8): AQE exchange reuse measurably
    does NOT fire for the two-consumer-plus-left-join shape (executed
    plans carried two complete tokenize→shuffle chains, 0
    ReusedExchange — the bm25 ADVICE-r07 mode), so the per-(doc,term)
    pre-aggregation lazily localCheckpoints in every family op. The
    downstream plan must read an ExistingRDD and must NOT contain the
    token-explode chain (no Generate/explode) — the corpus tokenizes
    exactly once, inside the checkpoint."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        text as text_fn,
    )
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        sampling,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    frames = {
        "unigram": text_fn.unigram_surprisal(docs),
        "bigram": text_fn.bigram_surprisal(docs),
        "rare_token": text_fn.rare_token_ratio(docs),
        "nb": text_fn.nb_class_log_odds(docs, F.col("lang") == "en"),
        "dsir": sampling.importance_resample(
            docs, F.col("source") == "src0"
        ),
    }
    for name, frame in frames.items():
        plan = _plan(frame)
        assert "ExistingRDD" in plan, name
        assert "CartesianProduct" not in plan, name
        # the explode chain lives inside the checkpoint; its presence
        # downstream would mean a second tokenize of the corpus
        assert "Generate explode" not in plan, name


def test_hits_round_pins_auth_inside_hub_checkpoint(spark, monkeypatch):
    """HITS runs ONE eager action per round: auth is pinned with a lazy
    localCheckpoint, and hub's eager checkpoint is the first action to
    read it, so auth's blocks fill inside hub's job. A spy on
    ``localCheckpoint`` pins the order (lazy auth, then eager hub, each
    round), that auth is still unmaterialized when hub's checkpoint
    starts and fully cached when it ends; the SQL status store pins that
    no other action runs in a round."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        graph,
    )

    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    edges = spark.createDataFrame(
        [(i, (i * 7 + 3) % 40) for i in range(40)]
        + [(i, (i * 3 + 1) % 40) for i in range(40)],
        "src long, dst long",
    )

    def executions() -> list[tuple[int, str]]:
        # (id, action) of the executions the store still retains; it
        # keeps only the most recent ones, so compare by id, not index.
        # Jobs started from thread pools (e.g. an earlier test's
        # curation funnel) can carry no description: read it as "".
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        out, it = [], store.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            desc = e.description() or ""
            out.append((int(e.executionId()), desc.split(" at ")[0]))
        return sorted(out)

    def cached_parts(rdd_id: int) -> int:
        for info in sc._jsc.sc().getRDDStorageInfo():
            if int(info.id()) == rdd_id:
                return int(info.numCachedPartitions())
        return 0

    calls: list[bool] = []
    lazy_rdd: list[int] = []
    auth_at_hub: list[tuple[int, int]] = []  # cached parts (before, after)
    frame_cls = type(edges)  # the concrete (classic) DataFrame class
    real = frame_cls.localCheckpoint

    def spy(self, eager=True, storageLevel=None):
        in_round = calls[-1:] == [False]
        before = cached_parts(lazy_rdd[-1]) if in_round else None
        out = real(self, eager=eager, storageLevel=storageLevel)
        calls.append(eager)
        if not eager:
            lazy_rdd.append(int(out._jdf.logicalPlan().rdd().id()))
        elif in_round:
            auth_at_hub.append((before, cached_parts(lazy_rdd[-1])))
        return out

    iters = 3
    last_exec = max((i for i, _ in executions()), default=-1)
    monkeypatch.setattr(frame_cls, "localCheckpoint", spy)
    graph.hits(edges, iters=iters)
    monkeypatch.undo()
    # set-up pins edges, nodes and initial scores eagerly; then each
    # round is (lazy auth, eager hub)
    assert calls == [True] * 3 + [False, True] * iters
    assert len(auth_at_hub) == iters
    for before, after in auth_at_hub:
        assert before == 0 and after > 0
    # the only other action is the node count
    ran = [action for i, action in executions() if i > last_exec]
    assert ran == ["localCheckpoint"] * 2 + ["count"] + [
        "localCheckpoint"
    ] * (1 + 2 * iters)
