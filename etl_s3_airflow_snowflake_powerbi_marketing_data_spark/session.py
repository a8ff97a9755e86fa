"""SparkSession construction tuned for both local testing and cluster scale.

Local test posture: ``local[N]`` single-JVM. Cluster posture (the real
target, ~100 TB): every knob here is either harmless locally or a direct
scale win — AQE re-plans skewed shuffles, partition coalescing keeps the
shuffle fan-in sane, Arrow keeps any pandas interchange columnar, UTC
session timezone keeps timestamps oracle-comparable.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# glibc mmap and trim thresholds for every Spark process (see get_spark).
# 256 MiB sits above the largest numpy temporary of one Arrow batch
# (about 65 MB), so those stay on the reusable heap, and it bounds what
# a worker may keep: 256 MiB per Python worker, 2 GiB of executor
# memory overhead at 8 cores. jemalloc or tcmalloc would give the same
# effect in a deployment that preloads one.
_MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": str(256 * 1024 * 1024),
    "MALLOC_TRIM_THRESHOLD_": str(256 * 1024 * 1024),
}

_WAREHOUSE_DIR: str | None = None


def _process_warehouse_dir() -> str:
    """Per-process managed-table warehouse under the system temp dir,
    removed at interpreter exit — so bench/pytest runs leave no
    ``spark-warehouse/`` residue at the repo root (ADVICE r04 hygiene
    class). One dir per process: the warehouse location is fixed at
    session start, and getOrCreate may reuse the session anyway."""
    global _WAREHOUSE_DIR
    if _WAREHOUSE_DIR is None:
        _WAREHOUSE_DIR = tempfile.mkdtemp(prefix=f"spark_wh_{os.getpid()}_")
        atexit.register(shutil.rmtree, _WAREHOUSE_DIR, ignore_errors=True)
    return _WAREHOUSE_DIR


def _env_bool(name: str, default: str) -> str:
    """A boolean env knob as the lowercase string a Spark conf takes.
    Accepts ``true``/``false`` in any case; anything else raises here,
    naming the variable, instead of failing inside the JVM at session
    build."""
    raw = os.environ.get(name, default)
    value = raw.lower()
    if value not in ("true", "false"):
        raise ValueError(f"{name} must be 'true' or 'false', got {raw!r}")
    return value


def _env_count(name: str, default: str, star: bool = False) -> str:
    """A count env knob as the string a Spark conf or master URL takes.
    Accepts a positive decimal integer (and ``*`` when ``star``);
    anything else raises here, naming the variable, instead of failing
    inside the JVM or in a bare ``int()`` at session build."""
    raw = os.environ.get(name, default)
    if (star and raw == "*") or (
        raw.isascii() and raw.isdigit() and int(raw) > 0
    ):
        return raw
    allowed = "a positive integer or '*'" if star else "a positive integer"
    raise ValueError(f"{name} must be {allowed}, got {raw!r}")


def get_spark(
    app_name: str = "marketing_spark_engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE on: runtime coalescing of shuffle partitions, skew-join
      splitting — the knobs that keep a 1000-executor job from dying on
      one hot key.
    - ``spark.sql.shuffle.partitions`` sized to the local core count for
      tests; on a real cluster this is the *initial* number only, AQE
      coalesces/splits from there.
    - Arrow enabled so any ``mapInPandas``/``applyInPandas`` operator
      (similarity search, multimodal decode) moves data in columnar
      batches, not pickled rows.
    - UTC + ANSI-off match the semantics DuckDB oracles compute with.
    """
    cpus = _env_count("SPARK_GRAFT_CPUS", "32", star=True)
    master = master or f"local[{cpus}]"
    n_shuffle = shuffle_partitions or int(
        _env_count("SPARK_SHUFFLE_PARTITIONS", str(DEFAULT_SHUFFLE_PARTITIONS))
    )
    prefer_smj = _env_bool("SPARK_GRAFT_PREFER_SMJ", "false")

    # glibc malloc tuning for the numpy Arrow workers (guide §4.5's
    # "heavyweight init once per task" applied to MEMORY): by default
    # glibc serves every allocation above the (dynamic, ≤32 MB) mmap
    # threshold with a fresh mmap and munmaps it on free, so each
    # mapInPandas batch re-faults its large numpy temporaries from the
    # kernel — measured on this host at ~1 ms/page, which turned a
    # 0.06 s elementwise kernel into 27 s (the r12 pca/ADC regression).
    # Raising the threshold keeps big buffers on the reusable heap:
    # pages fault once per long-lived worker, then recycle. Set in
    # os.environ (inherited by the launched JVM → python daemon →
    # workers — glibc reads it at process start) AND as executorEnv
    # for the cluster posture where executors aren't our children.
    os.environ.update(_MALLOC_ENV)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Runtime bloom filters: inject a filter built from the
        # selective side of a join into the probe side's scan — at
        # 100 TB this prunes most of a fact scan behind a filtered-dim
        # join before the shuffle. Harmless locally (threshold-gated).
        # NOTE: do NOT also enable
        # runtimeFilter.semiJoinReduction.enabled — measured on this
        # build it deadlocks trivial actions (range(5).count() hangs).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Guide §3.1/§9: let the planner pick shuffled-hash join when
        # its per-partition size conditions hold (sort-merge needs both
        # sides sorted; SHJ skips the sorts and wins when one side is
        # moderately small per partition — the gate decisions jobs
        # carry 4-16 small SMJs each). Measured r13 in two alternating
        # A/B windows: every SMJ-heavy query at-or-faster (video
        # incremental 6.2->4.9, streaming semantic per-batch
        # 8.5/7.6->6.7/6.0 W1, 4.8/4.5->4.5/4.1 W2), none slower; plans
        # re-audited, oracles green. NOT a local-only win: the planner
        # still requires the build side to fit per partition
        # (canBuildLocalHashMap gates on stats), AQE skew-split stays
        # on, and sort-merge remains available for big-big joins. Env
        # knob restores the Spark default per deployment.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            prefer_smj,
        )
        # The driver's testdata stores events.ts as TIMESTAMP(NANOS), which
        # Spark's parquet reader refuses; read as long and convert in
        # tables.load_table (sub-microsecond parts are zero, so lossless).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Timestamps land as INT64 TIMESTAMP(MICROS), not the INT96
        # default: on v2 pages an int64 column is DELTA_BINARY_PACKED,
        # which halves the warehouse fact's event_time column against
        # dictionary-encoded INT96, and DuckDB and pyarrow read it as a
        # UTC timestamp. Spark reads INT96 files written before this in
        # the same scan. A session conf on purpose: the parquet writer
        # takes the type from the session, never from a writer option.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.warehouse.dir", _process_warehouse_dir())
        .config(
            "spark.executorEnv.MALLOC_MMAP_THRESHOLD_",
            _MALLOC_ENV["MALLOC_MMAP_THRESHOLD_"],
        )
        .config(
            "spark.executorEnv.MALLOC_TRIM_THRESHOLD_",
            _MALLOC_ENV["MALLOC_TRIM_THRESHOLD_"],
        )
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def inheritable(fn):
    """Wrap a callable for submission to a driver-side thread pool so
    the CALLING thread's Spark job group / description / scheduler
    pool propagate to the pool thread
    (``pyspark.inheritable_thread_target``). Under pinned-thread mode
    (the default since Spark 3.2) a plain pool thread runs its jobs
    OUTSIDE the submitting query's job group — a streaming query's
    ``stop()`` could not cancel the overlapped commit jobs and UI/pool
    attribution was lost (ADVICE r12). Results were never affected;
    this is cancellation/attribution hygiene for every §2.6 overlap
    site (streaming gate commits, the forget/funnel leg pools)."""
    from pyspark import inheritable_thread_target  # noqa: PLC0415

    return inheritable_thread_target(fn)


def release_persisted_rdds(spark: SparkSession) -> int:
    """Unpersist every RDD still pinned in block storage — the
    localCheckpoint blocks that iterative/multi-consumer operators
    (connected components, Lloyd training, the HLL overlap register
    table) leave behind after their results are consumed. A long
    session sweeping many queries (bench, the oracle gate) accumulates
    these (measured: 10 pinned RDDs after 4 queries) until the
    executor store pressures GC and later measurements read slow.
    Returns the number released.

    CONTRACT — call ONLY between independent queries (the bench /
    check_oracles sweep position): it unpersists EVERY persisted RDD
    in the session, so a caller holding a cache()/localCheckpoint
    across queries would have its blocks silently dropped and pay a
    full recompute (or, for a localCheckpoint, lose the only copy).
    It also reaches through the private ``_jsc`` API (no public
    session-wide unpersist exists in PySpark); if that breaks on a
    future version, scope the sweep by tagging repo-created
    checkpoints instead (ADVICE r05)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    n = 0
    for rdd in list(jmap.values()):
        rdd.unpersist(False)
        n += 1
    return n
