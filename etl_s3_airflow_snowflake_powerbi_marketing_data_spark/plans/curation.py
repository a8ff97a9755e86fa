"""Multimodal curation funnel — the capstone snapshot pipeline a
production crawl runs per snapshot (VERDICT r10 item 7), composed
entirely from the engine's own operators:

text:  triage gate (Gopher rules) → exact dedup (keep-first among
       gate survivors) → decontamination (drop anything sharing a
       5-gram with the eval set) → quality-budget mixing
       (type-token-ratio top 60% of surviving tokens) → sequence
       packing (512-token bins);
media: per modality (image / audio / video): decode gate (the Arrow
       skip contract — garbage payloads fall out, never fail) →
       content near-dup dedup (dHash / energy-delta / temporal
       fingerprint through the shared banded-Hamming machinery).

The report is the per-stage survivor table every data-mixture plan is
built from: (modality, stage, n_items, n_tokens).

Plan shape — "compose without rescans": the text corpus tokenizes
ONCE into a per-doc flag frame (localCheckpoint-pinned, the bm25
precedent) and stages 0-3 aggregate in ONE conditional pass; mixing
and packing run only on the surviving slice; each media modality
decodes ONCE (the hash table is pinned, then the pair join, the
component election, and the flag aggregate all reuse it). Nothing
widens with corpus size except the keyed aggregations and the banded
pair joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as text_fn
from ..operators import dedup, packing, sampling
from ..operators.dedup import word_shingles

PACK_TOKENS = 512
MIX_BUDGET_FRACTION = 0.6
DECONTAM_NGRAM = 5


def text_funnel_report(
    docs: DataFrame,
    eval_pred,
    min_words: int = 20,
    min_stopword_ratio: float = 0.05,
) -> DataFrame:
    """(stage, n_items, n_tokens) for the six text stages. ``eval_pred``
    is a Column predicate selecting the eval slice to decontaminate
    against (eval docs themselves are necessarily dropped — they share
    every shingle with themselves, the correct production behavior).
    """
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda x: F.length(x) > 0,
    )
    flags = text_fn.gopher_quality_flags(
        docs,
        min_words=min_words,
        min_stopword_ratio=min_stopword_ratio,
    )
    base = docs.select(
        "doc_id",
        F.md5("text").alias("__fp"),
        F.size(toks).cast("long").alias("__nt"),
        F.size(F.array_distinct(toks)).cast("long").alias("__nd"),
    )
    # eval shingle set: hashed 64-bit (the decontam store posture —
    # the DuckDB oracle joins the raw strings instead; identical flags
    # short of a 64-bit collision)
    sh = word_shingles(F.col("text"), DECONTAM_NGRAM)
    ev_set = (
        docs.filter(eval_pred)
        .select(F.explode(sh).alias("__gm"))
        .select(F.xxhash64("__gm").alias("__sh"))
        .distinct()
    )
    contaminated = (
        docs.select("doc_id", F.explode(sh).alias("__gm"))
        .select("doc_id", F.xxhash64("__gm").alias("__sh"))
        .join(ev_set, "__sh", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("__bad", F.lit(True))
    )
    j = base.join(
        flags.select("doc_id", F.col("keep").alias("__g")), "doc_id"
    ).localCheckpoint(eager=False)  # feeds keeper election + final agg
    keepers = (
        j.filter(F.col("__g"))
        .groupBy("__fp")
        .agg(F.min("doc_id").alias("__kid"))
    )
    j2 = (
        j.join(keepers, "__fp", "left")
        .withColumn("__d", F.col("__g") & (F.col("doc_id") == F.col("__kid")))
        .join(contaminated, "doc_id", "left")
        .withColumn("__c", F.col("__d") & F.col("__bad").isNull())
        .withColumn(
            "ttr", F.floor(F.col("__nd") / F.col("__nt") * 1e6) / 1e6
        )
        .localCheckpoint(eager=False)  # feeds stage agg + mix selection
    )
    zero = F.lit(0)

    def n_t(flag: str, n: str, t: str) -> list:
        return [
            F.coalesce(
                F.sum(F.when(F.col(flag), 1).otherwise(0)), zero
            ).cast("long").alias(n),
            F.coalesce(
                F.sum(F.when(F.col(flag), F.col("__nt")).otherwise(0)), zero
            ).cast("long").alias(t),
        ]

    t03 = j2.agg(
        F.count("*").cast("long").alias("n0"),
        F.coalesce(F.sum("__nt"), zero).cast("long").alias("t0"),
        *n_t("__g", "n1", "t1"),
        *n_t("__d", "n2", "t2"),
        *n_t("__c", "n3", "t3"),
    ).select(
        F.expr(
            "stack(4, '0_total', n0, t0, '1_triage', n1, t1,"
            " '2_dedup', n2, t2, '3_decontam', n3, t3)"
        ).alias("stage", "n_items", "n_tokens")
    )
    mix = sampling.token_budget_select(
        j2.filter(F.col("__c")).select("doc_id", "ttr", "__nt"),
        "doc_id",
        "ttr",
        "__nt",
        budget_fraction=MIX_BUDGET_FRACTION,
    ).localCheckpoint(eager=False)  # feeds mix agg + packing
    t4 = mix.agg(
        F.count("*").cast("long").alias("n_items"),
        F.coalesce(F.sum("__nt"), zero).cast("long").alias("n_tokens"),
    ).select(F.lit("4_mix").alias("stage"), "n_items", "n_tokens")
    packed = packing.pack_sequences(
        mix.select("doc_id", "__nt"), "__nt", "doc_id", PACK_TOKENS
    )
    # the packed stream's END offset is max(pack start + doc tokens) —
    # exact by the offset algebra — and the sequence count is its
    # ceil-division: derived FROM pack_sequences' outputs, so the
    # oracle's closed-form ceil(total/512) cross-checks the algebra
    t5 = packed.agg(
        F.coalesce(
            F.max(
                F.col("pack_id") * PACK_TOKENS
                + F.col("pack_offset")
                + F.col("__nt")
            ),
            zero,
        ).cast("long").alias("n_tokens")
    ).select(
        F.lit("5_pack").alias("stage"),
        F.expr(f"(n_tokens + {PACK_TOKENS - 1}) div {PACK_TOKENS}")
        .cast("long")
        .alias("n_items"),
        "n_tokens",
    )
    return (
        t03.unionByName(t4)
        .unionByName(t5)
        .withColumn("modality", F.lit("text"))
    )


def media_funnel_report(media_df: DataFrame, modality: str) -> DataFrame:
    """(stage, n_items, n_tokens=0) for one media modality (a key of
    operators/dedup.py:MEDIA_FINGERPRINTS, at its radius):
    total → decodable (the Arrow skip contract as a GATE — whatever
    the codec can't parse falls out here) → near-dup survivors (banded
    Hamming pairs → connected components → min-id election). The
    modality decodes ONCE: the pinned hash table feeds the pair join,
    the component election, and the flag aggregate."""
    spec = dedup.MEDIA_FINGERPRINTS[modality]
    hashed = spec.table(media_df).localCheckpoint(eager=True)
    pairs = dedup.hamming_near_dups(
        spec.signatures(hashed), spec.radius
    ).select("id_a", "id_b")
    comps = dedup.connected_components(pairs)
    flags = (
        media_df.select("media_id")
        .join(
            hashed.select("media_id", F.lit(True).alias("__dec")),
            "media_id",
            "left",
        )
        .join(
            comps.select(F.col("id").alias("media_id"), "component"),
            "media_id",
            "left",
        )
        .select(
            F.coalesce("__dec", F.lit(False)).alias("__dec"),
            (
                F.coalesce("__dec", F.lit(False))
                & (
                    F.col("component").isNull()
                    | (F.col("component") == F.col("media_id"))
                )
            ).alias("__surv"),
        )
    )
    return flags.agg(
        F.count("*").cast("long").alias("n0"),
        F.sum(F.when(F.col("__dec"), 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("__surv"), 1).otherwise(0))
        .cast("long")
        .alias("n2"),
    ).select(
        F.expr(
            "stack(3, '0_total', n0, '1_decodable', n1, '2_dedup', n2)"
        ).alias("stage", "n_items"),
        F.lit(0).cast("long").alias("n_tokens"),
        F.lit(modality).alias("modality"),
    )


def multimodal_curation_funnel(
    spark: SparkSession,
    docs: DataFrame,
    image_df: DataFrame,
    audio_df: DataFrame,
    video_df: DataFrame,
) -> DataFrame:
    """The full four-modality snapshot report — one frame, ordered by
    (modality, stage). Eval slice for decontamination: doc_id % 50 ==
    0 (the eval docs drop themselves, as they must)."""
    # The four legs are INDEPENDENT and each runs eager work at build
    # time (the pinned hash tables and the connected-components driver
    # loops): build them from a small thread pool (guide §2.6 —
    # concurrent jobs back-fill the executors a serial build leaves
    # idle during each leg's straggler tail). Results are unchanged:
    # legs share nothing but the session, and the final union is
    # assembled in fixed order below.
    from concurrent.futures import ThreadPoolExecutor  # noqa: PLC0415

    builders = [
        lambda: text_funnel_report(docs, F.col("doc_id") % 50 == 0),
        lambda: media_funnel_report(image_df, "image"),
        lambda: media_funnel_report(audio_df, "audio"),
        lambda: media_funnel_report(video_df, "video"),
    ]
    from ..session import inheritable  # noqa: PLC0415

    with ThreadPoolExecutor(max_workers=len(builders)) as pool:
        parts = list(pool.map(inheritable(lambda b: b()), builders))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("modality", "stage", "n_items", "n_tokens").orderBy(
        "modality", "stage"
    )
