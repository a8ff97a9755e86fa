"""Structured Streaming variant of the event-ingest pipeline.

The reference is daily batch (SURVEY.md §2.5 — no streaming at all);
this is the green-field continuous path: the same parse/flatten logic
as ``plans.marketing.build_event_raw`` applied to a stream, with
watermarked tumbling-window aggregation for late data.

Local tests drive it with the parquet file source +
``Trigger.AvailableNow`` semantics (``processAllAvailable`` on a memory
sink); on a cluster the source swaps to Kafka/object-store listing and
the sink to a partitioned table — the plan in between is identical.
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager, nullcontext
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.merge import append_if_absent
from ..operators.transforms import PROPS_SCHEMA
from ..session import inheritable
from ..sources import versioned as vt


@contextmanager
def bounded_state_partitions(spark: SparkSession, n: int):
    """Pin ``spark.sql.shuffle.partitions`` for a streaming query's
    lifetime (set BEFORE ``.start()`` — the number is baked into the
    checkpoint at first start), restoring the session value on exit so
    batch queries keep their scan-sized tuning.

    Why: every stateful operator keeps one state store PER shuffle
    partition (×4 for a stream-stream join: two sides × key/value
    stores), and every micro-batch snapshots every store — so the
    per-batch FIXED cost scales with the partition count, independent
    of data volume. A production stream sizes this to its state volume
    at provisioning; the replayed finite smokes here carry 10²–10⁵
    state rows, where a scan-sized default (32 local, 200 on a stock
    session) is pure snapshot overhead — measured 11.9 s → 2.6 s on
    the sf0.1 stream-stream attribution join going 32 → 4 partitions.
    Results are partition-count invariant (hash-partitioned aggs and
    joins; the oracles compare by value), only the state-store fan-out
    changes. Also the self-sufficiency rule (SKILL gotchas): the conf
    is set at runtime inside the query path, never assumed from the
    session factory.
    """
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _drain(writer, spark: SparkSession, state_partitions: int | None = None):
    """Start ``writer``, run it over everything its source holds now
    (``Trigger.AvailableNow`` semantics) and stop it, inside
    :func:`bounded_state_partitions` when ``state_partitions`` is given.
    Returns the stopped query; its ``recentProgress`` stays readable."""
    with (
        nullcontext()
        if state_partitions is None
        else bounded_state_partitions(spark, state_partitions)
    ):
        q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return q


# Logical schema of the event stream; the physical type of ``ts`` is
# resolved per-source in read_event_stream (see below).
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _stream_source_parts(path: str) -> tuple[str, str]:
    """(base_dir, glob) for a file-source stream target. A single-file
    target (the testdata contract — ``.../documents.parquet`` is one
    file) streams its parent directory filtered to that leaf; a
    DIRECTORY target (a Spark-written dataset — e.g. the scale probe's
    ``/tmp/star10x`` outputs) is streamed directly with glob ``*``,
    because splitting it into (parent, leaf) would match no part files
    and fail schema inference (ADVICE r08)."""
    import os  # noqa: PLC0415

    p = path.rstrip("/")
    if os.path.isdir(p):
        return p, "*"
    base_dir, file_name = os.path.split(p)
    return base_dir, file_name or "*"


def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over an events parquet prefix (one file per
    micro-batch locally; an S3 prefix with notification-based listing at
    scale).

    The stream source requires a user-supplied schema, but the on-disk
    type of ``ts`` varies: the driver testdata stores TIMESTAMP(NANOS)
    (surfaced as ``bigint`` under ``spark.sql.legacy.parquet.nanosAsLong``
    or as TIMESTAMP_NTZ by readers that map nanos natively), while
    Spark-written fixtures store micros TIMESTAMP. Pinning any single
    type crashes the vectorized reader on the others
    (SchemaColumnConvertNotSupportedException), so we probe the actual
    footer type with a driver-side batch metadata read (no data scan)
    and normalize to a session-zone TIMESTAMP — the same contract as
    ``tables.load_table``.
    """
    base_dir, file_name = _stream_source_parts(path)
    probed = (
        spark.read.option("pathGlobFilter", file_name or "*")
        .parquet(base_dir)
        .schema
    )
    ts_type = next(f.dataType for f in probed if f.name == "ts")
    schema = T.StructType(
        [
            T.StructField(f.name, ts_type if f.name == "ts" else f.dataType)
            for f in EVENTS_SCHEMA
        ]
    )
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", file_name or "*")
        .parquet(base_dir)
    )
    if isinstance(ts_type, T.LongType):
        # Integer div: epoch-nanos exceeds double's 53-bit mantissa, so
        # float division would corrupt the microsecond digit.
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def streaming_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type.

    Watermark bounds state: windows older than (max event time −
    watermark) are finalized and evicted, so state size is O(active
    windows × types), flat over an unbounded stream.
    """
    parsed = events.withColumn(
        "item_key", F.from_json("props", PROPS_SCHEMA)["k"]
    )
    return (
        parsed.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            F.round("total_value", 2).alias("total_value"),
        )
    )


def run_stream_to_memory(
    spark: SparkSession,
    source_path: str,
    query_name: str = "stream_counts",
    state_partitions: int = 8,
) -> DataFrame:
    """Drive the streaming plan to completion over the current contents
    of ``source_path`` (Trigger.AvailableNow-style) and return the
    result as a batch DataFrame from the memory sink."""
    stream = read_event_stream(spark, source_path)
    agg = streaming_event_counts(stream)
    _drain(
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name),
        spark,
        state_partitions,
    )
    return spark.table(query_name)


def streaming_dedup(
    events: DataFrame,
    key: str = "event_id",
    watermark: str = "30 days",
) -> DataFrame:
    """Streaming exact deduplication: emit each key's FIRST arrival,
    drop every later duplicate, with state bounded by the watermark
    (``dropDuplicatesWithinWatermark`` — keys older than max-event-time
    minus the watermark are evicted, so state is O(keys per watermark
    window), flat over an unbounded replayed/at-least-once stream).

    This is the streaming half of exact dedup (SURVEY §2.5): batch
    dedup fixes the corpus after the fact; this keeps an at-least-once
    ingest (Kafka replays, S3 re-lists, retried producers) exactly-once
    at the table boundary.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        [key]
    )


def run_dedup_stream_to_memory(
    spark: SparkSession,
    source_path: str,
    query_name: str = "dedup_events",
    state_partitions: int = 8,
) -> DataFrame:
    """Drive the dedup stream over a DOUBLED source — the same prefix
    mounted as two file streams, the local stand-in for an
    at-least-once source replaying every record — and return the
    deduped rows from the memory sink. Output must equal the distinct
    source rows exactly (the oracle checks by value)."""
    doubled = read_event_stream(spark, source_path).unionByName(
        read_event_stream(spark, source_path)
    )
    deduped = streaming_dedup(doubled).select(
        "event_id", "user_id", "event_type", "value"
    )
    _drain(
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name),
        spark,
        state_partitions,
    )
    return spark.table(query_name)


def streaming_sliding_counts(
    events: DataFrame,
    window_duration: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "4 hours",
) -> DataFrame:
    """Sliding-window counts: each event lands in duration/slide
    overlapping windows (here 2). State per (window × type) is bounded
    by the watermark exactly as in the tumbling case — overlap
    multiplies state size by duration/slide, the price of smoothing.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration, slide).alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def run_sliding_to_memory(
    spark: SparkSession,
    source_path: str,
    query_name: str = "sliding_counts",
    state_partitions: int = 8,
) -> DataFrame:
    stream = read_event_stream(spark, source_path)
    agg = streaming_sliding_counts(stream)
    _drain(
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name),
        spark,
        state_partitions,
    )
    return spark.table(query_name)


def run_hll_stream_to_memory(
    spark: SparkSession,
    source_path: str,
    p: int = 10,
    query_name: str = "hll_registers_stream",
    state_partitions: int = 8,
) -> DataFrame:
    """Streaming HyperLogLog: maintain the per-(event_type, bucket)
    MAX(rho) registers as a Structured Streaming aggregation (complete
    mode — MAX is associative, so the continuously-merged registers
    equal the batch registers over the same rows no matter how the
    stream micro-batches), then finalize the estimate in batch over the
    register table — the production sketch-table pattern: store
    registers, compute the estimate at read time.

    Output is bit-identical to batch ``hll_distinct`` on the same
    file, which is exactly what the oracle checks.
    """
    from ..operators.sketches import hll_finalize, hll_registers

    stream = read_event_stream(spark, source_path)
    regs = hll_registers(stream, "user_id", ["event_type"], p)
    _drain(
        regs.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name),
        spark,
        state_partitions,
    )
    return hll_finalize(spark.table(query_name), ["event_type"], p).orderBy(
        "event_type"
    )


def run_cms_stream_to_memory(
    spark: SparkSession,
    source_path: str,
    depth: int = 4,
    width: int = 2048,
    query_name: str = "cms_registers_stream",
    state_partitions: int = 8,
) -> DataFrame:
    """Streaming count-min sketch: maintain the (hash-row, cell) COUNT
    registers as a Structured Streaming aggregation (complete mode —
    COUNT is associative, so however the stream micro-batches, the
    continuously-merged registers equal the batch registers over the
    same rows), then answer the watchlist point queries in batch over
    the register table. Same unification as ``run_hll_stream_to_memory``:
    one sketch definition serves the batch AND streaming paths, so a
    streaming frequency dashboard and a batch backfill can never
    disagree. Output is bit-identical to batch
    ``cms_point_estimates(cms_registers(...))`` on the same file, which
    is what the oracle checks.
    """
    from ..operators.sketches import cms_point_estimates, cms_registers

    stream = read_event_stream(spark, source_path)
    regs = cms_registers(stream, "user_id", depth=depth, width=width)
    _drain(
        regs.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name),
        spark,
        state_partitions,
    )
    from pyspark.sql import functions as F  # noqa: PLC0415

    watch = (
        spark.read.parquet(source_path)
        .select("user_id")
        .filter(F.col("user_id") % 37 == 0)
    )
    return cms_point_estimates(
        spark.table(query_name), watch, "user_id", depth=depth, width=width
    ).orderBy("user_id")


def _run_register_stream_to_versioned(
    regs: DataFrame,
    table_path: str,
    checkpoint_dir: str | None,
    state_partitions: int = 8,
) -> None:
    """Drive a complete-mode register aggregation into the versioned
    table layer: every micro-batch delivers the FULL recomputed
    register table (complete mode), which ``foreachBatch`` commits as
    ONE atomic version — so readers always see a consistent register
    snapshot, a crashed batch leaves only an invisible uncommitted
    prefix, and the per-batch history is time-travelable (the sketch
    as of any ingest point). This is the production shape the
    memory-sink runners (right for oracles, not for pipelines) stand
    in for."""
    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="sketch_vckpt_")

    def commit_batch(batch: DataFrame, batch_id: int) -> None:
        vt.write_version(batch, table_path)

    _drain(
        regs.writeStream.outputMode("complete")
        .foreachBatch(commit_batch)
        .option("checkpointLocation", ckpt),
        regs.sparkSession,
        state_partitions,
    )


def run_hll_stream_to_versioned(
    spark: SparkSession,
    source_path: str,
    table_path: str,
    p: int = 10,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """``run_hll_stream_to_memory`` with the registers landing in the
    versioned table layer (one atomic version per micro-batch) instead
    of a memory sink; the estimate is finalized from the LATEST
    committed register version — store registers, finalize at read
    time. Register MAX is micro-batch-order invariant, so the final
    version's registers are bit-identical to the memory-sink and batch
    paths over the same rows (pinned in tests)."""
    from ..operators.sketches import hll_finalize, hll_registers  # noqa: PLC0415

    stream = read_event_stream(spark, source_path)
    regs = hll_registers(stream, "user_id", ["event_type"], p)
    _run_register_stream_to_versioned(regs, table_path, checkpoint_dir)
    return hll_finalize(
        vt.read_version(spark, table_path), ["event_type"], p
    ).orderBy("event_type")


def streaming_enriched_brand_counts(
    events: DataFrame,
    items: DataFrame,
    window_duration: str = "1 day",
    watermark: str = "2 days",
) -> DataFrame:
    """Stream-static join + windowed aggregation: the canonical
    production streaming topology (enrich each event against a slowly-
    changing dimension, then aggregate).

    The static side joins with a broadcast hash join re-resolved per
    micro-batch — no stream-side state for the join itself; only the
    windowed aggregation is stateful, bounded by the watermark.
    """
    parsed = events.withColumn(
        "item_key", F.from_json("props", PROPS_SCHEMA)["k"].cast("long")
    )
    enriched = parsed.join(
        F.broadcast(items), parsed.item_key == items.item_id, "inner"
    )
    return (
        enriched.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("win"), "item_brand")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            "item_brand",
            "n_events",
        )
    )


def run_enriched_stream_to_memory(
    spark: SparkSession,
    source_path: str,
    items: DataFrame,
    query_name: str = "enriched_brand_counts",
    state_partitions: int = 8,
) -> DataFrame:
    stream = read_event_stream(spark, source_path)
    agg = streaming_enriched_brand_counts(stream, items)
    _drain(
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name),
        spark,
        state_partitions,
    )
    return spark.table(query_name)


def streaming_view_purchase_attribution(
    views: DataFrame,
    purchases: DataFrame,
    attribution_window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """STREAM-STREAM inner join — the missing sibling of the
    stream-static dim join: attribute each purchase to every view by
    the same user within the preceding ``attribution_window``.

    Both sides carry watermarks and the join condition bounds event
    time on both sides, so state for each side is evicted once the
    other side's watermark passes the range — the state stays
    O(events per window), flat over an unbounded stream. Inner join
    emits a pair exactly when both sides have arrived (append mode);
    late data beyond the watermark is dropped, matching the engine's
    other watermark semantics.
    """
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_event_id"),
        F.col("ts").alias("view_ts"),
    ).withWatermark("view_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_event_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", watermark)
    return v.join(
        p,
        F.expr(
            f"""
            v_user = p_user AND
            purchase_ts >= view_ts AND
            purchase_ts <= view_ts + interval {attribution_window}
            """
        ),
    ).select(
        F.col("v_user").alias("user_id"),
        "view_event_id",
        "purchase_event_id",
        "view_ts",
        "purchase_ts",
        "purchase_value",
    )


def run_attribution_stream_to_memory(
    spark: SparkSession,
    source_path: str,
    query_name: str = "view_purchase_attr",
    state_partitions: int = 4,
) -> DataFrame:
    """Drive the stream-stream attribution join over the source's
    current contents and return the joined pairs. Over a replayed
    finite stream the inner join emits exactly the batch-join result
    (watermarks bound state, not the final answer), which is what the
    batch-SQL oracle checks.

    The join keeps FOUR state stores per shuffle partition (two sides
    × key/value), the heaviest per-partition fixed cost in the
    streaming family — so the partition count is pinned small for the
    smoke-scale state (see :func:`bounded_state_partitions`)."""
    # Two independent file-stream sources over the same prefix (the
    # production shape: two topics/prefixes); a same-DataFrame self-join
    # would also work but hides the two-source state bookkeeping this
    # operator exists to exercise.
    joined = streaming_view_purchase_attribution(
        read_event_stream(spark, source_path).filter(
            F.col("event_type") == "view"
        ),
        read_event_stream(spark, source_path).filter(
            F.col("event_type") == "purchase"
        ),
    )
    _drain(
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name),
        spark,
        state_partitions,
    )
    return spark.table(query_name)


def read_parquet_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over a parquet prefix of documents, media
    (binary payloads ride the columnar path unchanged) or embeddings:
    one file per micro-batch locally; at crawl scale, an object-store
    prefix each fetch wave appends to. Schema probed from a
    driver-side batch metadata read; directory-shaped targets stream
    the directory itself (``_stream_source_parts``). These schemas are
    stable (no nanos-timestamp variance, unlike
    :func:`read_event_stream`), so no column is normalized."""
    base_dir, file_name = _stream_source_parts(path)
    schema = (
        spark.read.option("pathGlobFilter", file_name or "*")
        .parquet(base_dir)
        .schema
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", file_name or "*")
        .parquet(base_dir)
    )


class _Store(NamedTuple):
    """A versioned table a dedup gate appends its keepers to,
    insert-if-absent on ``key``; ``derive`` maps the pinned keepers to
    the rows the table holds."""

    path: str
    key: str
    derive: Callable[[DataFrame], DataFrame] = lambda keepers: keepers


def _snapshot_or_empty(
    sess: SparkSession, path: str, schema: str
) -> DataFrame:
    """Latest snapshot of a versioned store, or an empty ``schema``
    frame before its first commit."""
    if vt.table_versions(path):
        return vt.read_version(sess, path)
    return sess.createDataFrame([], schema)


def _run_gate_stream(
    spark: SparkSession,
    source_path: str,
    decisions_path: str,
    key: str,
    gate: Callable[[SparkSession, DataFrame], tuple[DataFrame, DataFrame]],
    early: Sequence[_Store],
    late: Sequence[_Store],
    state_partitions: int,
    checkpoint_dir: str | None,
    batch_secs: list | None,
) -> DataFrame:
    """Drive a streaming dedup gate over ``source_path``, one parquet
    file per micro-batch. Per batch, ``gate(sess, batch)`` returns the
    pinned decisions — (``key``, matched_store_id, matched_batch_id,
    keep) — and the rows its stores derive from. The runner commits
    the decisions to ``decisions_path`` and the keepers (those rows
    joined to the kept keys, pinned once) to each store, every commit
    insert-if-absent (:func:`append_if_absent`). Spark-side streaming
    state is zero rows: the stores in the versioned table layer are the
    only cross-batch state. Returns the final decisions snapshot; a
    ``batch_secs`` list gets each data trigger's ``addBatch`` seconds
    from Spark's own progress reports.

    Commit order, the crash-safety rule of every gate: a trigger can
    die between any two commits, and Spark then replays the whole
    batch from the checkpoint. Insert-if-absent keeps whatever landed
    and re-commits nothing, so the replay is safe exactly when it
    decides every item as the first attempt did.

    - ``early`` stores are never match candidates (semantic
      ``{index}/vectors`` is read only by the exact re-rank, through a
      code row), so one that lands without the decisions changes no
      replayed decision. They commit concurrently with the decisions.
    - ``late`` stores are match candidates. Landed before the
      decisions, they would make the replay match the batch against
      its own entries and flip keep to false. They commit strictly
      after the decisions and every early store have landed, in the
      listed order, so semantic codes stay a subset of vectors and no
      code is ever unverifiable.
    """
    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="stream_gate_ckpt_")

    def commit_batch(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        decisions, rows = gate(sess, batch)

        def keepers_then_early() -> DataFrame:
            keepers = rows.join(
                decisions.filter(F.col("keep")).select(key), key
            ).localCheckpoint(eager=True)
            for store in early:
                append_if_absent(
                    sess, store.path, store.derive(keepers), [store.key]
                )
            return keepers

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_dec = pool.submit(
                inheritable(append_if_absent),
                sess, decisions_path, decisions, [key],
            )
            f_keep = pool.submit(inheritable(keepers_then_early))
            f_dec.result()
            keepers = f_keep.result()
        for store in late:
            append_if_absent(
                sess, store.path, store.derive(keepers), [store.key]
            )

    q = _drain(
        read_parquet_stream(spark, source_path)
        .writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", ckpt),
        spark,
        state_partitions,
    )
    if batch_secs is not None:
        batch_secs.extend(
            p.durationMs["addBatch"] / 1000
            for p in q.recentProgress
            if p.numInputRows
        )
    return vt.read_version(spark, decisions_path)


def _hash_gate(spec, store_path: str):
    """Gate of the media fingerprint streams: hash the batch ONCE with
    the modality's fingerprint ``spec`` (operators/dedup.py:
    MEDIA_FINGERPRINTS; pinned — the check and the keepers join both
    read it) and check it against the persisted signature store via
    operators/dedup.py:hamming_incremental at the spec's radius."""
    from ..operators import dedup as dedup_ops  # noqa: PLC0415

    def gate(sess: SparkSession, batch: DataFrame):
        hashed = spec.table(batch).localCheckpoint(eager=True)
        store = _snapshot_or_empty(
            sess, store_path, f"media_id long, {spec.col} long"
        )
        decisions = dedup_ops.hamming_incremental(
            spec.signatures(store), spec.signatures(hashed), spec.radius
        ).localCheckpoint(eager=True)
        return decisions, hashed

    return gate


def run_streaming_media_dedup(
    spark: SparkSession,
    modality: str,
    source_path: str,
    store_path: str,
    decisions_path: str,
    state_partitions: int = 4,
    checkpoint_dir: str | None = None,
    batch_secs: list | None = None,
) -> DataFrame:
    """Streaming media content dedup gate — the image, audio or video
    leg (``modality``, a key of operators/dedup.py:MEDIA_FINGERPRINTS)
    of :func:`run_streaming_minhash_dedup`, completing the multimodal
    ingest story: each arriving micro-batch is fingerprinted (map-only
    Arrow; image dHash, audio energy-delta or video temporal
    fingerprint; undecodable payloads skipped, never fatal) and
    checked against the persisted 8-byte-per-item signature store via
    the EXACT pigeonhole banding (operators/dedup.py:
    hamming_incremental runs unchanged — unlike the probabilistic
    MinHash gate, nothing within the modality's Hamming radius is ever
    missed; video's is 4, since JPEG quantization spreads an edit into
    adjacent dHash boxes).
    Decisions commit effectively-once through insert-if-absent
    versioned merges; SURVIVORS' signatures (never payloads) append
    to the store so the next batch dedups against everything kept so
    far — recrawled or lightly-edited items arriving later hit the
    store entries earlier batches appended.

    State: the signature store is the only cross-batch state and lives
    in the versioned table layer — Spark-side streaming state is zero
    rows. Output: the final decisions snapshot — (media_id,
    matched_store_id, matched_batch_id, keep), -1 sentinels."""
    from ..operators.dedup import MEDIA_FINGERPRINTS  # noqa: PLC0415

    return _run_gate_stream(
        spark, source_path, decisions_path, "media_id",
        gate=_hash_gate(MEDIA_FINGERPRINTS[modality], store_path),
        early=[],
        late=[_Store(store_path, "media_id")],
        state_partitions=state_partitions,
        checkpoint_dir=checkpoint_dir,
        batch_secs=batch_secs,
    )


def run_streaming_semantic_dedup(
    spark: SparkSession,
    source_path: str,
    index_path: str,
    decisions_path: str,
    threshold: float = 0.4,
    n_probe: int = 8,
    state_partitions: int = 4,
    checkpoint_dir: str | None = None,
    batch_secs: list | None = None,
) -> DataFrame:
    """Streaming SEMANTIC (embedding) dedup gate — the fourth-modality
    leg of :func:`run_streaming_minhash_dedup` /
    :func:`run_streaming_media_dedup`: each arriving micro-batch of
    embeddings is checked against the persisted IVF-PQ codes store
    (operators/similarity.py:semantic_dedup_incremental — probed-cell
    ADC range check over the 32×-compressed codes, exact-cosine
    re-rank of the bounded shortlist) and against itself. Decisions
    commit effectively-once through insert-if-absent versioned merges;
    KEEPERS append both their codes (the gate's candidate store) and
    their raw vectors (``{index_path}/vectors`` — consulted only by
    the bounded exact re-rank id-join) so the next batch dedups
    against everything kept so far. The index itself is trained ONCE
    before the stream starts and never inside a trigger — at 100 TB
    the stream never trains, never re-encodes history, and never
    rescans corpus vectors.

    State: index + codes + vectors live in the versioned table layer —
    Spark-side streaming state is zero rows. Output: the final
    decisions snapshot — (vec_id, matched_store_id, matched_batch_id,
    keep), -1 sentinels."""
    from ..operators import similarity  # noqa: PLC0415

    # ONE bounded index load for the WHOLE stream (r12; was per
    # micro-batch): the index is trained before the stream starts and
    # no trigger ever retrains, so the artifact is immutable for the
    # stream's lifetime — the load collects (and their plan builds)
    # come out of every trigger's steady-state cost.
    cent, books = similarity.load_ivf_pq_index(spark, index_path)

    def gate(sess: SparkSession, batch: DataFrame):
        corpus = vt.read_version(sess, f"{index_path}/vectors")
        decisions = similarity.semantic_dedup_incremental(
            sess, batch, index_path, corpus,
            threshold=threshold, n_probe=n_probe, index=(cent, books),
        ).localCheckpoint(eager=True)
        return decisions, batch

    return _run_gate_stream(
        spark, source_path, decisions_path, "vec_id",
        gate=gate,
        early=[_Store(f"{index_path}/vectors", "vec_id")],
        late=[
            _Store(
                f"{index_path}/codes",
                "neighbor_id",
                lambda keepers: similarity.ivf_pq_codes_table(
                    keepers, cent, books
                ),
            )
        ],
        state_partitions=state_partitions,
        checkpoint_dir=checkpoint_dir,
        batch_secs=batch_secs,
    )


def streaming_doc_quality_counts(
    docs: DataFrame,
    min_words: int = 20,
    max_words: int = 100_000,
    min_stopword_ratio: float = 0.05,
) -> DataFrame:
    """Streaming quality gate — the crawl-ingest curation monitor: the
    Gopher rule filter evaluated per arriving document (map-only, so
    the exact batch operator runs unchanged on the stream) rolled up
    into per-(source, keep) doc/token counts. This is the signal a
    crawl operator watches live: a source whose keep-rate collapses
    mid-crawl is broken upstream, and the decision must not wait for
    the nightly batch.

    State is O(|sources| × 2) rows — no watermark needed; complete-mode
    output stays trivially small at any stream length.
    """
    from ..functions.text import gopher_quality_flags  # noqa: PLC0415

    flags = gopher_quality_flags(
        docs,
        min_words=min_words,
        max_words=max_words,
        min_stopword_ratio=min_stopword_ratio,
        extra_cols=("source",),
    )
    return flags.groupBy("source", "keep").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("n_words"),
    )


def streaming_crawl_triage_counts(
    docs: DataFrame,
    min_words: int = 20,
    max_words: int = 100_000,
    min_stopword_ratio: float = 0.05,
    signal_col: str = "text",
) -> DataFrame:
    """Streaming crawl-ingest TRIAGE — the quality gate plus the two
    round-9 pre-tokenizer signals, all decided at ingest (VERDICT r09
    item 7): per arriving document the Gopher rule verdict
    (``keep``), the NFC normalization audit (``changed`` — an
    un-normalized doc would under-deduplicate downstream), and the
    Unicode script-mix profile (``dominant_script`` — script-
    confusable spam triage), rolled up live into per-(source, keep,
    dominant_script, changed) doc/token counts.

    All three signals are map-only (JVM expressions + one Arrow
    batch stage), so the exact batch operators run unchanged on the
    stream via their ``extra_cols`` passthroughs; the single stateful
    stage is the final bounded rollup — state is O(|sources| × 2 × 5
    × 2) rows, no watermark needed, complete-mode output stays
    trivially small at any stream length. A quarantine decision
    (keep AND latin-or-none AND normalized) needs no second pass over
    the crawl.

    ``signal_col`` lets the NFC/script signals read a different
    column than the Gopher gate (the fixture query injects
    non-Latin/decomposed content into a derived column; a production
    stream passes the one text column for both). Kept separate
    deliberately: Java's ``\\b`` treats combining marks as word
    characters while RE2's does not, so a gate whose stopword rule
    ran over mark-injected text would diverge from any RE2-based
    replica — the gate always reads the raw crawl text."""
    from ..functions.text import (  # noqa: PLC0415
        gopher_quality_flags,
        script_mix_profile,
        unicode_normalize_docs,
    )

    flags = gopher_quality_flags(
        docs,
        min_words=min_words,
        max_words=max_words,
        min_stopword_ratio=min_stopword_ratio,
        extra_cols=("source", signal_col),
    )
    mix = script_mix_profile(
        flags,
        text_col=signal_col,
        extra_cols=("source", signal_col, "keep", "n_words"),
    )
    nfc = unicode_normalize_docs(
        mix,
        text_col=signal_col,
        extra_cols=("source", "keep", "n_words", "dominant_script"),
    )
    return nfc.groupBy(
        "source", "keep", "dominant_script", "changed"
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("n_words"),
    )


def run_crawl_triage_stream_to_memory(
    spark: SparkSession,
    source_path: str,
    inject: bool = False,
    query_name: str = "crawl_triage",
    state_partitions: int = 4,
) -> DataFrame:
    """Drive the crawl triage gate to completion over the current
    contents of ``source_path`` and return the memory-sink table.
    ``inject=True`` applies the deterministic fixture injections the
    batch signal oracles use (combining marks by ``doc_id % 3``,
    non-Latin suffixes by ``doc_id % 4``) INSIDE the stream
    projection — into a derived ``sig_text`` column feeding the
    NFC/script signals (the Gopher gate keeps reading the raw text;
    see streaming_crawl_triage_counts on why) — so the triage signals
    vary on the ASCII testdata."""
    stream = read_parquet_stream(spark, source_path)
    signal_col = "text"
    if inject:
        t = F.col("text")
        t = (
            F.when(
                F.col("doc_id") % 3 == 0,
                F.regexp_replace(t, "e", "e\u0301"),
            )
            .when(
                F.col("doc_id") % 3 == 1,
                F.regexp_replace(t, "a", "a\u0300"),
            )
            .otherwise(t)
        )
        t = (
            F.when(F.col("doc_id") % 4 == 0, F.concat(t, F.lit(" привет мир")))
            .when(F.col("doc_id") % 4 == 1, F.concat(t, F.lit(" 世界 漢字")))
            .when(F.col("doc_id") % 4 == 2, F.concat(t, F.lit(" γεια σου")))
            .otherwise(t)
        )
        signal_col = "sig_text"
        stream = stream.withColumn(signal_col, t)
    agg = streaming_crawl_triage_counts(stream, signal_col=signal_col)
    _drain(
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name),
        spark,
        state_partitions,
    )
    return spark.table(query_name)


def run_doc_quality_stream_to_memory(
    spark: SparkSession,
    source_path: str,
    query_name: str = "doc_quality_gate",
    state_partitions: int = 4,
) -> DataFrame:
    """Drive the document quality gate to completion over the current
    contents of ``source_path`` and return the memory-sink table."""
    stream = read_parquet_stream(spark, source_path)
    agg = streaming_doc_quality_counts(stream)
    _drain(
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name),
        spark,
        state_partitions,
    )
    return spark.table(query_name)


def run_streaming_minhash_dedup(
    spark: SparkSession,
    source_path: str,
    store_path: str,
    decisions_path: str,
    threshold: float = 0.5,
    state_partitions: int = 4,
    checkpoint_dir: str | None = None,
    batch_secs: list | None = None,
) -> DataFrame:
    """Streaming NEAR-dup gate — the crawl-ingest leg VERDICT r08
    item 6 named: exact streaming dedup existed
    (:func:`run_dedup_stream_to_memory` family) and batch incremental
    MinHash existed (operators/dedup.py:minhash_incremental), but
    nothing joined an arriving micro-batch against the persisted
    near-dup signature store live.

    Per micro-batch (foreachBatch):

    1. sign the batch (MinHash signatures — one pass, banded keys);
    2. LSH-join it against the persisted signature store AND itself
       (``minhash_incremental`` runs UNCHANGED on the batch — the
       same batch-operator-reuse discipline as the quality gate);
    3. commit the per-doc decisions to a versioned table via
       insert-if-absent MERGE — a replayed batch re-commits a
       content-identical decision set, so the gate is
       effectively-once (the crash rule of ``_run_gate_stream``);
    4. append the SURVIVORS' signatures (never text — the ~0.5 KB/doc
       index posture) to the store the same way, so the next batch
       dedups against everything kept so far.

    State: the signature store is the only cross-batch state and it
    lives in the versioned table layer, not the streaming state store
    — Spark-side state is zero rows, and ``bounded_state_partitions``
    pins the foreachBatch join shuffles. Output: the final decisions
    snapshot — (doc_id, matched_store_id, matched_batch_id, keep),
    -1 sentinels for no-match.
    """
    from ..operators import dedup as dedup_ops  # noqa: PLC0415

    def gate(sess: SparkSession, batch: DataFrame):
        docs = batch.select("doc_id", "text")
        # Sign the batch ONCE (eager — both the dedup check and the
        # keepers join read it) instead of paying two 64-aggregate
        # signing passes per micro-batch.
        sigs = (
            dedup_ops.minhash_signatures(docs)
            .withColumnRenamed("id", "doc_id")
            .localCheckpoint(eager=True)
        )
        store = _snapshot_or_empty(
            sess, store_path, "doc_id long, signature array<bigint>"
        )
        decisions = dedup_ops.minhash_incremental(
            store.select("doc_id", "signature"), docs,
            threshold=threshold, incoming_sigs=sigs,
        ).localCheckpoint(eager=True)
        return decisions, sigs

    return _run_gate_stream(
        spark, source_path, decisions_path, "doc_id",
        gate=gate,
        early=[],
        late=[_Store(store_path, "doc_id")],
        state_partitions=state_partitions,
        checkpoint_dir=checkpoint_dir,
        batch_secs=batch_secs,
    )
