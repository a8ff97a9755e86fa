"""MERGE / upsert semantics (reference ops S6/S7, SURVEY.md §2.1).

The reference delegates MERGE INTO to Snowflake with two conflict modes:

- ``if_conflicts="ignore"`` — insert source rows whose key is absent in
  the target; never touch matched rows (append-only dims:
  `etl_s3_snowflake_d_event.py:69-76`, `..._d_user.py:71-78`,
  `..._d_parameter.py:72-79`).
- ``if_conflicts="update"`` — SCD-1 upsert: matched keys take the source
  row, new keys are inserted (`etl_s3_snowflake_d_item.py:71-79`;
  composite key `event_id,event_parameter_name,event_parameter_value`
  on the fact, `etl_s3_snowflake_f_events.py:87-95`).

Spark-first implementation: pure join algebra (anti-join + union), which
Catalyst executes as one shuffle on the merge keys for both legs (or a
broadcast when the delta side is small — the common daily-load case at
scale: broadcast the day's delta against the 100 TB target, zero shuffle
of the big side). Without a transactional table format the caller owns
atomicity of the rewrite: the warehouse writes each result to a
staging path and swaps it in (``plans.pipeline._swap_write``); the
streaming gates commit insert-if-absent appends as versions
(:func:`append_if_absent`).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .keys import ordered_surrogate_key
from .transforms import dedup_keep_first


def _dedup_source(source: DataFrame, keys: Sequence[str], order_by=None) -> DataFrame:
    """MERGE requires a unique key on the source side (Snowflake errors on
    duplicate-key sources; we keep the deterministic first per key)."""
    return dedup_keep_first(source, keys, order_by=order_by)


def _key_cond(keys: Sequence[str]):
    """Null-SAFE key equality for the merge joins.

    SQL MERGE's ``ON t.k = s.k`` never matches null keys, so a null-key
    row re-inserts on every cycle — unbounded duplicate growth for data
    with nullable keys (e.g. a fact key parsed from an optional JSON
    field). ``<=>`` treats null as a value, making merges idempotent;
    a deliberate, documented divergence from warehouse MERGE.
    """
    cond = None
    for k in keys:
        c = F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
        cond = c if cond is None else cond & c
    return cond


def merge_ignore(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    source_order_by=None,
) -> DataFrame:
    """Insert-if-absent: target rows win, unmatched source rows append.

    Plan shape: ``source LEFT ANTI JOIN target ON keys`` then
    ``UNION ALL`` — the anti-join broadcasts whichever side is small.
    """
    src = _dedup_source(source, keys, source_order_by)
    new_rows = src.alias("s").join(
        target.select(*keys).alias("t"), on=_key_cond(keys), how="left_anti"
    )
    return target.unionByName(new_rows.select(*target.columns))


def merge_update(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    source_order_by=None,
) -> DataFrame:
    """SCD-1 upsert: matched keys take the source row, new keys insert.

    Plan shape: ``target LEFT ANTI JOIN source`` (surviving old rows)
    ``UNION ALL source`` — one shuffle (or broadcast) on the keys.
    """
    src = _dedup_source(source, keys, source_order_by)
    kept_old = target.alias("t").join(
        src.select(*keys).alias("s"), on=_key_cond(keys), how="left_anti"
    )
    # Re-assert the target's column order: an anti-join on a condition
    # keeps order, but stay explicit so schema order can never drift
    # across merge cycles.
    return kept_old.select(*target.columns).unionByName(
        src.select(*target.columns)
    )


def merge_keep_guid(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    guid_col: str,
    guid_order: Sequence[str],
    start: int,
    update: bool,
) -> DataFrame:
    """MERGE that keeps a surrogate key globally unique across loads.

    Source rows with a new key are numbered contiguously from ``start``
    (ordered by ``guid_order`` for determinism). With ``update``, matched
    source rows take fresh attributes but keep the target's guid (SCD-1);
    without it, matched rows keep the target row. ``start`` is the
    caller's because the target may be a slice of the table (e.g. the
    partitions a delta touches) while numbering must follow the whole
    table's max. The source's own ``guid_col``, if any, is dropped.

    Plan shape, in this union order: ``target LEFT ANTI JOIN source``
    (kept old rows), matched rows with the target's guid, new rows (with
    ``update``; else ``target`` then new rows), all joins on the
    null-safe key condition.
    """
    src = source.drop(guid_col)
    cond = _key_cond(keys)
    new_rows = ordered_surrogate_key(
        src.alias("s").join(target.alias("t"), cond, "left_anti"),
        guid_col,
        order_by=list(guid_order),
        start=start,
    ).select(*target.columns)
    if not update:
        return target.unionByName(new_rows)
    matched = (
        src.alias("s")
        .join(target.select(*keys, guid_col).alias("t"), cond, "inner")
        .select(
            *[F.col(f"s.{c}") for c in src.columns],
            F.col(f"t.{guid_col}").alias(guid_col),
        )
        .select(*target.columns)
    )
    kept_old = (
        target.alias("t")
        .join(src.alias("s"), cond, "left_anti")
        .select(*target.columns)
    )
    return kept_old.unionByName(matched).unionByName(new_rows)


def merge_scd2(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
    load_ts,
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    current_col: str = "is_current",
    source_order_by=None,
) -> DataFrame:
    """SCD-2 history-keeping MERGE — the natural sibling of the
    reference's SCD-1 upsert (`etl_s3_snowflake_d_item.py:71-79`
    overwrites history; SCD-2 preserves it as validity intervals).

    Target rows carry ``(keys, attrs, valid_from, valid_to,
    is_current)``; ``valid_to IS NULL`` ⟺ ``is_current``. For each
    source row:

    - key absent in the current slice → INSERT as current
      (``valid_from = load_ts``);
    - key present and any ``compare_cols`` attribute differs
      (null-safe) → CLOSE the current row (``valid_to = load_ts``,
      not current) and INSERT the new version as current;
    - key present, attributes equal → untouched.

    Historical (already-closed) rows pass through verbatim.

    Plan shape: ONE full-outer-ish decomposition on the merge keys —
    current-slice ⋈ source (classify), plus the untouched-history
    union. Every leg shuffles (or broadcasts — the daily-delta case)
    on the same key columns, so Catalyst reuses one exchange per side;
    nothing is row-by-row and no window over the data is needed.
    ``load_ts`` must be a caller-supplied literal (retry-determinism:
    a ``current_timestamp()`` here would version-split on task retry).
    """
    if not compare_cols:
        raise ValueError("merge_scd2 needs at least one compare column")
    src = _dedup_source(source, keys, source_order_by)
    attr_cols = [c for c in src.columns if c not in keys]
    out_cols = [*keys, *attr_cols, valid_from_col, valid_to_col, current_col]

    history = target.filter(~F.col(current_col)).select(*out_cols)
    current = target.filter(F.col(current_col))

    changed_cond = None
    for c in compare_cols:
        d = ~F.col(f"t.{c}").eqNullSafe(F.col(f"s.{c}"))
        changed_cond = d if changed_cond is None else changed_cond | d

    # Presence markers, not key-nullity: the null-safe join MATCHES
    # null keys (see _key_cond), so a null-keyed current row must not
    # be misread as "source-only".
    j = (
        current.withColumn("__t_present", F.lit(True))
        .alias("t")
        .join(
            src.withColumn("__s_present", F.lit(True)).alias("s"),
            on=_key_cond(keys),
            how="full_outer",
        )
    )
    t_key = F.col("t.__t_present")
    s_key = F.col("s.__s_present")
    matched = j.filter(t_key.isNotNull() & s_key.isNotNull())
    unmatched_target = j.filter(s_key.isNull()).select(
        *[F.col(f"t.{c}").alias(c) for c in out_cols]
    )
    new_keys = j.filter(t_key.isNull()).select(
        *[F.col(f"s.{c}").alias(c) for c in [*keys, *attr_cols]]
    )

    unchanged = matched.filter(~changed_cond).select(
        *[F.col(f"t.{c}").alias(c) for c in out_cols]
    )
    closed = matched.filter(changed_cond).select(
        *[F.col(f"t.{c}").alias(c) for c in [*keys, *attr_cols, valid_from_col]],
        F.lit(load_ts).cast("timestamp").alias(valid_to_col),
        F.lit(False).alias(current_col),
    )
    new_versions = (
        matched.filter(changed_cond)
        .select(*[F.col(f"s.{c}").alias(c) for c in [*keys, *attr_cols]])
        .unionByName(new_keys)
        .withColumn(valid_from_col, F.lit(load_ts).cast("timestamp"))
        .withColumn(valid_to_col, F.lit(None).cast("timestamp"))
        .withColumn(current_col, F.lit(True))
    )

    return (
        history.unionByName(unmatched_target.select(*out_cols))
        .unionByName(unchanged.select(*out_cols))
        .unionByName(closed.select(*out_cols))
        .unionByName(new_versions.select(*out_cols))
    )


def append_if_absent(
    spark, table_path: str, source: DataFrame, keys: Sequence[str]
) -> int:
    """Insert-if-absent commit of ``source`` into a versioned table
    (sources/versioned.py): the first commit writes ``source`` itself;
    later ones append the source rows whose key the latest snapshot
    lacks. Replaying the same rows commits no new keys, which is what
    makes a replayed streaming batch effectively-once. Returns the
    committed version.

    A concurrent reader keeps its resolved snapshot (manifests are
    immutable) and a concurrent writer loses the O_EXCL commit race
    and retries, so the merge is atomic and isolated even on plain
    parquet."""
    from ..sources import versioned as vt  # noqa: PLC0415

    if not vt.table_versions(table_path):
        return vt.write_version(source, table_path)
    target = vt.read_version(spark, table_path)
    # Insert-if-absent commits as an APPEND of the anti-join DELTA
    # (r12): the snapshot content is identical to rewriting
    # target ∪ new — the manifest extends the previous prefixes
    # with one new-rows prefix — but the commit writes O(batch)
    # instead of O(store) bytes. At 100 TB a per-micro-batch
    # store REWRITE is a non-starter; this is the posture every
    # streaming gate's decisions/store/codes/vectors commit rides.
    # Replay idempotence is unchanged (a replayed batch's rows all
    # hit the anti-join). compact()/vacuum() bound the prefix
    # count when triggers accumulate.
    src = _dedup_source(source, keys)
    new_rows = src.alias("s").join(
        target.select(*keys).alias("t"),
        on=_key_cond(keys),
        how="left_anti",
    )
    return vt.write_version(
        new_rows.select(*target.columns), table_path, mode="append"
    )


def scd2_point_in_time(
    dim: DataFrame,
    probes: DataFrame,
    keys: Sequence[str],
    as_of_col: str,
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
) -> DataFrame:
    """Point-in-time lookup against an SCD-2 dimension — the consuming
    side of :func:`merge_scd2`: for each probe row (keys + an as-of
    timestamp), return the dimension version whose validity interval
    covers it (``valid_from <= as_of < valid_to``, open-ended for the
    current version). SCD-2 interval disjointness guarantees at most
    one match per probe; probes before the key's first version (or for
    unknown keys) keep NULL attributes via the left join.

    Plan shape: an EQUI-join on the merge keys with the interval
    predicate as a residual filter — Catalyst plans a shuffle/broadcast
    hash join on the keys, never a BNLJ, and each key's comparison set
    is its own version count (small by SCD-2 construction), so the
    lookup scales with facts + dim versions, not their product.
    """
    # Probes often derive from the dimension itself (e.g. "every key
    # at these instants"), which makes df[col] references ambiguous
    # under shared lineage — rename the dim side to unique names so
    # the join condition is unambiguous by construction.
    d = dim
    for c in dim.columns:
        d = d.withColumnRenamed(c, f"__d_{c}")
    cond = None
    for k in keys:
        # null-safe, matching merge_scd2's key discipline: a dim that
        # maintains a null-keyed version history must be probe-able
        eq = F.col(k).eqNullSafe(F.col(f"__d_{k}"))
        cond = eq if cond is None else cond & eq
    cond = (
        cond
        & (F.col(f"__d_{valid_from_col}") <= F.col(as_of_col))
        & (
            F.col(f"__d_{valid_to_col}").isNull()
            | (F.col(as_of_col) < F.col(f"__d_{valid_to_col}"))
        )
    )
    attr_cols = [
        c
        for c in dim.columns
        if c not in {*keys, valid_from_col, valid_to_col}
    ]
    return probes.join(d, cond, "left").select(
        *keys,
        as_of_col,
        *[F.col(f"__d_{c}").alias(c) for c in attr_cols],
    )
