"""The benchmark workloads. Each runs in one process against one local
Spark session, as a single client in a closed loop: the next operation
starts when the previous one has returned.

A workload returns a ``Result``: its end-to-end metrics, one latency per
operation, how many operations failed their output check, and the
per-layer figures that are not span timings. Only the package's public
functions are called; every call into a layer sits inside a tracer
span, which costs nothing when tracing is off.

Operation counts depend on ``--seconds`` only, never on the clock, so
every run of a workload does the same work.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import checks
import gen
from spans import Tracer, steal_share, tree_bytes, tree_cpu_s, walk_new_files

# Registered queries of the query mix, by name: one or more per module
# family, each with a DuckDB oracle that applies to the generated tables.
QUERY_MIX = (
    "pricing_summary",                             # plans.relational
    "retention_cohorts",                           # plans.behavior
    "doc_split_assign", "dedup_exact_docs",        # operators.sampling, .dedup
    "coview_triangles",                            # operators.graph
    "order_price_quantile_sketch",                 # operators.sketches
    "doc_sentences_udtf",                          # functions.udtfs
)

# Estimated seconds per operation on a 4-core host (an incremental day
# with the query mix and the reads; a tick of both gates); they turn
# ``--seconds`` into a fixed operation count.
ETL_DAY_EST_S = 24.0
DEDUP_TICK_EST_S = 7.5


@dataclass
class Ctx:
    seed: int
    seconds: float
    work: str
    tracer: Tracer
    scale: float = 1.0
    spark: object = None
    session_s: float = 0.0
    log: list = field(default_factory=list)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class Result:
    metrics: dict
    op_s: list[float]
    failed: int
    layers: dict = field(default_factory=dict)
    summary: dict = field(default_factory=dict)


def start_session(ctx: Ctx) -> None:
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.session import get_spark

    t0 = time.perf_counter()
    with ctx.tracer.span("session.get_spark"):
        ctx.spark = get_spark(
            "perfbench",
            extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.path('tmp')}"},
        )
    ctx.session_s = time.perf_counter() - t0
    ctx.tracer.attach(ctx.spark)
    # Start the Python worker of every task slot, or the first Python
    # UDF of the run pays for their start inside its latency.
    n = ctx.spark.sparkContext.defaultParallelism
    (ctx.spark.range(n, numPartitions=n).mapInPandas(lambda batches: batches, "id long")
     .write.format("noop").mode("overwrite").save())


def _steal_since(start: tuple[int, int]) -> float:
    steal, total = steal_share()
    return (steal - start[0]) / max(1, total - start[1])


def op_count(seconds: float, est_s: float, least: int) -> int:
    return max(least, round(seconds / est_s))


def _p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10)[-1] if len(xs) >= 2 else xs[0]


# --------------------------------------------------------------------------
# etl_bi_query
# --------------------------------------------------------------------------

def stage_names() -> list[str]:
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.plans import pipeline

    return [*pipeline.PIPELINE_STAGES, "publish_catalog", "export_bi"]


def view_names() -> list[str]:
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.plans import marketing

    return list(marketing.WAREHOUSE_KPI_SQL)


def _run_day(ctx: Ctx, day_dir: str, warehouse: str) -> None:
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.plans import pipeline

    for stage in pipeline.PIPELINE_STAGES:
        with ctx.tracer.span(f"plans.pipeline.{stage}"):
            pipeline.run_stage(ctx.spark, day_dir, warehouse, stage)
    with ctx.tracer.span("plans.pipeline.publish_catalog"):
        pipeline.publish_catalog(ctx.spark, warehouse)
    with ctx.tracer.span("plans.pipeline.export_bi"):
        pipeline.export_bi(ctx.spark, warehouse)


def _run_queries(ctx: Ctx, tables: str, order: list[str]) -> tuple[list[float], dict]:
    import __spark_entry__ as entry
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.session import (
        release_persisted_rdds)

    queries = entry.queries()
    query_s, got = [], {}
    for name in order:
        t = time.perf_counter()
        with ctx.tracer.span(f"query.{name}"):
            got[name] = queries[name](ctx.spark, tables).toPandas()
        query_s.append(time.perf_counter() - t)
        release_persisted_rdds(ctx.spark)
    return query_s, got


def _view_of(sql: str) -> str:
    return sql.split(" FROM ", 1)[1].split()[0]


def etl_bi_query(ctx: Ctx) -> Result:
    """A day-1 full load; the named query mix in a seeded order over the
    star-schema tables; incremental days back to back; a seeded sequence
    of BI reads over the KPI views of the warehouse the days wrote. The
    query mix runs before the days so that they do not run on a JVM that
    has run nothing but the full load."""
    import __spark_entry__ as entry
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.plans import marketing

    n_days = op_count(ctx.seconds, ETL_DAY_EST_S, 1)
    days = gen.etl_inputs(ctx.seed, ctx.path("input"), n_days, ctx.scale)
    tables = ctx.path("tables")
    gen.query_tables(ctx.seed, tables, ctx.scale)
    order = gen.query_order(ctx.seed, list(QUERY_MIX))
    wh = ctx.path("warehouse")

    t0 = time.perf_counter()
    start_session(ctx)
    t = time.perf_counter()
    with ctx.tracer.span("etl.full_load"):
        _run_day(ctx, days[0], wh)
    full_s = time.perf_counter() - t
    setup_s = time.perf_counter() - t0

    cpu0, steal0 = tree_cpu_s(os.getpid()), steal_share()
    query_s, got = _run_queries(ctx, tables, order)

    day_s, bytes_w, files_w, exports = [], [], [], []
    for i, day in enumerate(days[1:], 1):
        start_ns = time.time_ns()
        t = time.perf_counter()
        with ctx.tracer.span("etl.day"):
            _run_day(ctx, day, wh)
        day_s.append(time.perf_counter() - t)
        b, f = walk_new_files([wh], start_ns)
        bytes_w.append(b)
        files_w.append(f)
        snap = ctx.path("exports", f"day{i:02d}")
        shutil.copytree(os.path.join(wh, "bi_export"), snap)
        exports.append(snap)

    pool = gen.bi_read_pool(view_names(), gen.base_periods())
    reads = gen.bi_read_sequence(ctx.seed, len(pool), 1)
    read_s, results = [], []
    for q in reads:
        t = time.perf_counter()
        with ctx.tracer.span(f"plans.marketing.{_view_of(pool[q])}"):
            got_q = ctx.spark.sql(pool[q]).toPandas()
        read_s.append(time.perf_counter() - t)
        results.append((q, got_q))
    work_cpu_s = tree_cpu_s(os.getpid()) - cpu0
    steal = _steal_since(steal0)

    # Untimed: every query against its DuckDB oracle; every day replayed
    # in the replica, each day's export and the final warehouse checked;
    # every read against DuckDB over the warehouse files.
    failed = 0
    oracles = entry.oracle_sql()
    con = checks.duckdb_tables(tables)
    for name in order:
        err = checks.same_as_oracle(got[name], con.execute(oracles[name]).df())
        if err:
            failed += 1
            ctx.log.append(f"query {name}: {err}")
    con.close()
    view_sql = checks.kpi_view_sql(marketing.WAREHOUSE_KPI_SQL)
    replica = checks.EtlReplica()
    replica.apply(days[0])
    for i, (day, snap) in enumerate(zip(days[1:], exports), 1):
        replica.apply(day)
        problems = checks.check_bi_export(snap, replica.kpis(view_sql))
        if i == len(exports):
            problems += checks.check_warehouse(replica, wh)
        if problems:
            failed += 1
            ctx.log.extend(f"day{i:02d}: {p}" for p in problems)
    con = checks.duckdb_kpi(wh, view_sql)
    expected = {}
    for q, got_q in results:
        if q not in expected:
            expected[q] = con.execute(pool[q]).df()
        err = checks.same_rows(got_q, expected[q])
        if err:
            failed += 1
            ctx.log.append(f"read {pool[q]!r}: {err}")
    con.close()

    delta_bytes = [tree_bytes(d) for d in days[1:]]
    read_ms = [x * 1000 for x in read_s]
    metrics = {
        "setup_s": setup_s,
        "work_cpu_s": work_cpu_s,
        "write_amp": sum(bytes_w) / sum(delta_bytes),
    }
    layers = {
        "work_s": sum(query_s) + sum(day_s) + sum(read_s),
        "steal_frac": steal,
        "etl_full_load_s": full_s,
        "etl_day_p50_s": statistics.median(day_s),
        "etl_write_amp": statistics.median(b / d for b, d in zip(bytes_w, delta_bytes)),
        "read_p50_ms": statistics.median(read_ms),
        "read_p90_ms": _p90(read_ms),
        "query_p50_s": statistics.median(query_s),
        "query_p90_s": _p90(query_s),
        "sources.writers.bytes_written": statistics.median(bytes_w),
        "sources.writers.files_written": statistics.median(files_w),
    }
    return Result(metrics, query_s + day_s + read_s, failed, layers,
                  summary={"queries": len(order), "days": n_days, "reads": len(read_s),
                           "distinct_reads": len(expected)})


# --------------------------------------------------------------------------
# dedup_stream
# --------------------------------------------------------------------------

def _dedup_setup(ctx: Ctx, index: str, store: str) -> None:
    """Train and save the IVF-PQ index, code and store the seed vectors,
    and store the seed documents' MinHash signatures."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        dedup, similarity)
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.sources import versioned as vt

    spark = ctx.spark
    seed_v = spark.read.parquet(ctx.path("input", "seed_vectors.parquet"))
    with ctx.tracer.span("operators.similarity.train_ivf_pq_index"):
        cent, books = similarity.train_ivf_pq_index(seed_v, train_iters=2)
    similarity.save_ivf_pq_index(spark, cent, books, index)
    with ctx.tracer.span("operators.similarity.build_ivf_pq_codes"):
        similarity.build_ivf_pq_codes(spark, seed_v, index, index=(cent, books))
    with ctx.tracer.span("sources.versioned.write_version"):
        vt.write_version(seed_v, f"{index}/vectors")
    seed_d = spark.read.parquet(ctx.path("input", "seed_docs.parquet")).select("doc_id", "text")
    vt.write_version(dedup.minhash_signatures(seed_d).withColumnRenamed("id", "doc_id"), store)


def dedup_stream(ctx: Ctx) -> Result:
    """Seeded micro-batches through the semantic and MinHash dedup gates,
    one file and one gate call per trigger. The first tick is the
    process's first gate call: it is checked, but left out of every
    latency."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.sources import versioned as vt
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.streaming import pipeline as sp

    n_ticks = 1 + op_count(ctx.seconds, DEDUP_TICK_EST_S, 2)
    plan = gen.dedup_inputs(ctx.seed, n_ticks, ctx.scale)
    gen.write_table(plan.seed_vectors, ctx.path("input", "seed_vectors.parquet"))
    gen.write_table(plan.seed_docs, ctx.path("input", "seed_docs.parquet"))
    index, store = ctx.path("index"), ctx.path("mh_store")

    t0 = time.perf_counter()
    start_session(ctx)
    spark = ctx.spark
    with ctx.tracer.span("dedup.setup"):
        _dedup_setup(ctx, index, store)
    setup_s = time.perf_counter() - t0

    outputs = [index, store, ctx.path("v_decisions"), ctx.path("d_decisions")]
    sem_s, mh_s, in_bytes, out_bytes, store_bytes = [], [], [], [], []
    sem_dec = mh_dec = None
    for b in range(n_ticks):
        if b == 1:
            cpu0, steal0 = tree_cpu_s(os.getpid()), steal_share()
        batch = [ctx.path("vsrc", f"b{b:04d}.parquet"), ctx.path("dsrc", f"b{b:04d}.parquet")]
        gen.write_table(plan.vector_batches[b], batch[0])
        gen.write_table(plan.doc_batches[b], batch[1])
        in_bytes.append(sum(os.path.getsize(f) for f in batch))
        start_ns = time.time_ns()
        t = time.perf_counter()
        with ctx.tracer.span("streaming.pipeline.semantic"):
            sem_dec = sp.run_streaming_semantic_dedup(
                spark, ctx.path("vsrc"), index, ctx.path("v_decisions"),
                checkpoint_dir=ctx.path("v_ckpt"))
        t1 = time.perf_counter()
        with ctx.tracer.span("streaming.pipeline.minhash"):
            mh_dec = sp.run_streaming_minhash_dedup(
                spark, ctx.path("dsrc"), store, ctx.path("d_decisions"),
                checkpoint_dir=ctx.path("d_ckpt"))
        t2 = time.perf_counter()
        sem_s.append(t1 - t)
        mh_s.append(t2 - t1)
        out_bytes.append(walk_new_files(outputs, start_ns)[0])
        if ctx.tracer.enabled:
            store_bytes.append(walk_new_files([index, store], start_ns)[0])
    work_cpu_s = tree_cpu_s(os.getpid()) - cpu0
    steal = _steal_since(steal0)
    vd = sem_dec.toPandas()
    dd = mh_dec.toPandas()

    # Untimed: every tick's decisions against the planted truth.
    bad_v = checks.dedup_mismatches(vd, "vec_id", plan.vector_truth)
    bad_d = checks.dedup_mismatches(dd, "doc_id", plan.doc_truth)
    failed = 0
    for b in range(n_ticks):
        ids_v = set(plan.vector_batches[b]["vec_id"].to_pylist())
        ids_d = set(plan.doc_batches[b]["doc_id"].to_pylist())
        wrong = (bad_v & ids_v) | (bad_d & ids_d)
        if wrong:
            failed += 1
            ctx.log.append(f"tick {b}: {len(wrong)} decisions differ, e.g. {sorted(wrong)[:5]}")

    # The stores grow over the warm ticks: their later half against
    # their earlier half is the store-size signal.
    sem, mh = sem_s[1:], mh_s[1:]
    half = len(sem) // 2
    metrics = {
        "setup_s": setup_s,
        "work_cpu_s": work_cpu_s,
        "write_amp": sum(out_bytes[1:]) / sum(in_bytes[1:]),
    }
    layers = {
        "work_s": sum(sem) + sum(mh),
        "steal_frac": steal,
        "semantic_batch_p50_s": statistics.median(sem),
        "minhash_batch_p50_s": statistics.median(mh),
        "streaming.pipeline.semantic.late_over_early":
            statistics.median(sem[half:]) / statistics.median(sem[:half]),
        "streaming.pipeline.minhash.late_over_early":
            statistics.median(mh[half:]) / statistics.median(mh[:half]),
        "streaming.pipeline.semantic.keep_frac": float(vd["keep"].mean()),
        "streaming.pipeline.minhash.keep_frac": float(dd["keep"].mean()),
    }
    if ctx.tracer.enabled:
        layers.update({
            "sources.versioned.codes_rows": vt.read_version(spark, f"{index}/codes").count(),
            "sources.versioned.vectors_rows": vt.read_version(spark, f"{index}/vectors").count(),
            "sources.versioned.signatures_rows": vt.read_version(spark, store).count(),
            "sources.versioned.store_bytes_written": statistics.median(store_bytes[1:]),
        })
    return Result(metrics, sem_s + mh_s, failed, layers, summary={"ticks": n_ticks})


WORKLOADS = {"etl_bi_query": etl_bi_query, "dedup_stream": dedup_stream}
