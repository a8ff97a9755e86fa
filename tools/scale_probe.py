"""Scale probe: replicate the sf0.1 documents N× (with shifted ids —
which also multiplies duplicate density, the adversarial case for
dedup) and time the text/dedup operators at 1× vs N×; likewise
replicate events N× and probe the star-schema path (fact build + the
four KPI views) — the fact join/agg curve must stay flat-ish and the
bucketed two-pass surrogate key must hold.

The point is the growth CURVE, not the absolute numbers: an operator
whose cost scales superlinearly in input here will not survive a
1000-executor 100 TB run. Run ad hoc; results land in one JSON line.

Usage: python tools/scale_probe.py [replicas=10]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
    text as text_fn,
)
from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import dedup
from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.session import (
    get_spark,
    release_persisted_rdds,
)
from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.tables import load_table

BASE = "/root/testdata/sf0.1/documents.parquet"


def recall_probe(spark, sf_dir: str) -> dict:
    """Measure LSH/IVF recall against the exact answer at sf0.1.

    The correctness oracles pin exact expected outputs at fixed params;
    this records how much of the TRUE answer those params recover —
    recall@5 for the two ANN top-k forms (fraction of the exact top-5
    retrieved, averaged over the registered query set) and pair recall
    for the banded near-dup join (fraction of exact cosine>=0.4 pairs
    found). Ground truth is computed driver-side with numpy (N=2000 at
    sf0.1 - trivially exact); same trunc6+tie-break ranking as the
    operators. Documented targets on THIS corpus (true neighbors sit
    at cosine ~0.35-0.45, the near-orthogonal regime that is
    worst-case for hyperplane LSH): topk_lsh >= 0.7 (32 bits /
    8 bands), topk_ivf / topk_pq / topk_ivf_pq >= 0.8 (trained coarse
    centroids, 8-probe, FAISS exact re-rank of the ADC shortlist —
    the registered round-5 configs), dup-pair recall >= 0.8 at the
    0.4 threshold (12x4-bit banding; see cosine_dup_pairs_lsh
    docstring for the collision math).
    """
    import numpy as np  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415

    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (  # noqa: PLC0415
        similarity,
    )

    t = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    ).to_pandas()
    ids = t["vec_id"].to_numpy()
    mat = np.vstack(t["embedding"].to_numpy()).astype(np.float64)
    norm = np.sqrt((mat * mat).sum(axis=1, keepdims=True))
    sims = np.floor((mat / norm) @ (mat / norm).T * 1e6) / 1e6

    k = 5
    q_rows = np.where(ids < 10)[0]
    exact_topk: dict[int, set[int]] = {}
    for qi in q_rows:
        s = sims[qi]
        order = sorted(
            (j for j in range(len(ids)) if j != qi),
            key=lambda j: (-s[j], ids[j]),
        )[:k]
        exact_topk[int(ids[qi])] = {int(ids[j]) for j in order}

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)

    def topk_recall(df) -> float:
        got: dict[int, set[int]] = {}
        for r in df.select("query_id", "neighbor_id").toPandas().itertuples():
            got.setdefault(int(r.query_id), set()).add(int(r.neighbor_id))
        return round(
            sum(
                len(got.get(q, set()) & exact) / len(exact)
                for q, exact in exact_topk.items()
            )
            / len(exact_topk),
            3,
        )

    iu = np.triu_indices(len(ids), 1)
    above = sims[iu] >= 0.4
    exact_pairs = {
        (int(min(a, b)), int(max(a, b)))
        for a, b in zip(ids[iu[0][above]], ids[iu[1][above]])
    }
    lsh_pairs = {
        (int(r.id_a), int(r.id_b))
        for r in similarity.cosine_dup_pairs_lsh(emb, threshold=0.4)
        .toPandas()
        .itertuples()
    }

    # Candidate fraction of the registered lsh_topk config: the share
    # of the corpus each query must exact-score — the honest cost axis
    # of the banded-LSH recall knob. The r8 config (32 bits / 8 bands,
    # no probing) sat at 0.403 fraction for 0.74 recall; plain
    # band-widening could not beat it (64/16 → recall 0.92 at ~0.6
    # fraction). Multi-probe breaks that trade: selective 20-bit bands
    # for few random collisions, a Hamming≤3 probe ball on the QUERY
    # side for recall. Query-DIRECTED probing (lowest-|margin| flips,
    # Lv et al.) was swept and loses badly here — near-orthogonal
    # neighbors flip bits ~independently of the query's margins.
    # round 9 registered config (VERDICT r08 item 5): 46 bands ×
    # 20 bits with the Hamming≤3 multi-probe ball on the query side.
    bpb, bands, probe_d = 20, 46, 3
    import hashlib
    import itertools
    import struct

    planes = []
    for seed in range(bands * bpb):
        row = []
        for i in range(mat.shape[1]):
            h = hashlib.md5(f"{seed}:{i}".encode()).digest()
            (w,) = struct.unpack("<Q", h[:8])
            row.append((w / 2**64) * 2.0 - 1.0)
        planes.append(row)
    sig_bits = (mat @ np.array(planes).T) > 0
    band_vals = np.zeros((len(ids), bands), dtype=np.int64)
    for j in range(bands):
        for i in range(bpb):
            band_vals[:, j] |= sig_bits[:, j * bpb + i].astype(np.int64) << i
    def flips_upto(d_max: int) -> "np.ndarray":
        flips = [0]
        for d in range(1, d_max + 1):
            for combo in itertools.combinations(range(bpb), d):
                m = 0
                for i in combo:
                    m |= 1 << i
                flips.append(m)
        return np.array(flips, dtype=np.int64)

    def candidate_fraction(d_max: int) -> float:
        flips_arr = flips_upto(d_max)
        cand_counts = []
        for qi in q_rows:
            cand = np.zeros(len(ids), dtype=bool)
            for j in range(bands):
                probe_vals = band_vals[qi, j] ^ flips_arr
                cand |= np.isin(band_vals[:, j], probe_vals)
            cand[qi] = False
            cand_counts.append(cand.sum() / (len(ids) - 1))
        return round(float(np.mean(cand_counts)), 3)

    lsh_candidate_fraction = candidate_fraction(probe_d)

    # --- recall-vs-cost CURVES (VERDICT r11 item 7). Single operating
    # points can't show what a knob buys; sweep the two cost knobs and
    # record (recall@5, scanned/candidate fraction) per point so the
    # registered defaults cite their spot on the curve instead of
    # asserting it. IVF-PQ: n_probe sweep against the cell-size-exact
    # scanned fraction (sum of probed cells' populations / corpus).
    # LSH: probe-ball Hamming radius sweep against the measured
    # candidate fraction of the 46x20-bit registered banding.
    cent, books = similarity.train_ivf_pq_index(emb, train_iters=2)
    cells_pd = (
        similarity.ivf_pq_codes_table(emb, cent, books)
        .select("neighbor_id", "cell")
        .toPandas()
    )
    cell_sizes = cells_pd.groupby("cell").size().to_dict()
    cent_mat = np.array([v for _c, v in cent], dtype=np.float64)
    cent_ids = [c for c, _v in cent]
    cent_unit = cent_mat / np.sqrt(
        (cent_mat * cent_mat).sum(axis=1, keepdims=True)
    )
    q_unit = (mat / norm)[q_rows]
    q_cell_sims = q_unit @ cent_unit.T
    ivf_pq_curve = []
    for p in (1, 2, 4, 8, 16):
        fracs = []
        for row in q_cell_sims:
            order = sorted(
                range(len(cent_ids)),
                key=lambda j: (-np.floor(row[j] * 1e6) / 1e6, cent_ids[j]),
            )[:p]
            scanned = sum(
                cell_sizes.get(cent_ids[j], 0) for j in order
            )
            fracs.append(scanned / len(ids))
        # Probe-broadcast payload (VERDICT r11 item 4 "done" evidence):
        # the de-replicated shape broadcasts (query_id, cell) pairs —
        # 12 B/row, rows = n_queries × n_probe — and the m×256-double
        # LUT ONCE per query (FLAT in n_probe). Fixed-width arithmetic
        # over the actual query count, next to the replicated shape
        # the r11 verdict flagged (LUT carried per (query, cell) row,
        # linear in n_probe).
        # ksub from the trained codebooks themselves (ADVICE r12: the
        # 256 literal overstated the LUT 4x — the default index trains
        # ksub=64 centroids per subspace, not 256).
        m_sub, ksub = books.shape[0], books.shape[1]
        n_q = len(q_rows)
        lut_row = 8 + m_sub * ksub * 8
        ivf_pq_curve.append(
            {
                "n_probe": p,
                "recall_at_5": topk_recall(
                    similarity.ivf_pq_topk(
                        emb, queries, k=k, n_probe=p, train_iters=2,
                        refine_factor=16,
                    )
                ),
                "scanned_fraction": round(float(np.mean(fracs)), 3),
                "bcast_bytes_flat": n_q * p * 12 + n_q * lut_row,
                "bcast_bytes_replicated_shape": n_q * p * (12 + lut_row),
            }
        )
    lsh_curve = [
        {
            "probe_hamming": r,
            "recall_at_5": topk_recall(
                similarity.lsh_topk(emb, queries, k=k, probe_hamming=r)
            ),
            "candidate_fraction": candidate_fraction(r),
        }
        for r in (0, 1, 2, 3, 4)
    ]
    return {
        "curves": {
            "ivf_pq_n_probe": ivf_pq_curve,
            "lsh_probe_hamming": lsh_curve,
        },
        "sf_dir": sf_dir,
        "n_vectors": int(len(ids)),
        "topk_lsh_recall_at_5": topk_recall(
            similarity.lsh_topk(emb, queries, k=k)
        ),
        # registered configs (round 5): trained coarse centroids +
        # 8 probes for IVF, FAISS exact re-rank of the ADC shortlist
        # for PQ / IVF-PQ — targets >= 0.8 for all three
        "topk_ivf_recall_at_5": topk_recall(
            similarity.ivf_topk(emb, queries, k=k, n_probe=8, train_iters=2)
        ),
        "topk_pq_recall_at_5": topk_recall(
            similarity.pq_topk(emb, queries, k=k, refine_factor=10)
        ),
        "topk_ivf_pq_recall_at_5": topk_recall(
            similarity.ivf_pq_topk(
                emb, queries, k=k, n_probe=8, train_iters=2, refine_factor=16
            )
        ),
        # the raw compressed-domain configs, kept for reference so the
        # quality the knobs buy stays measured
        "topk_ivf_unrefined_recall_at_5": topk_recall(
            similarity.ivf_topk(emb, queries, k=k)
        ),
        "topk_pq_unrefined_recall_at_5": topk_recall(
            similarity.pq_topk(emb, queries, k=k)
        ),
        "lsh_candidate_fraction": lsh_candidate_fraction,
        "dup_pairs_exact": len(exact_pairs),
        "dup_pairs_lsh": len(lsh_pairs),
        "dup_pair_recall": round(
            len(lsh_pairs & exact_pairs) / max(len(exact_pairs), 1), 3
        ),
        "dup_pair_precision": round(
            len(lsh_pairs & exact_pairs) / max(len(lsh_pairs), 1), 3
        ),
    }


def main() -> None:
    if "--recall" in sys.argv:
        spark = get_spark("recall_probe")
        out = recall_probe(spark, os.path.dirname(BASE))
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(repo, "RECALL_PROBE.json"), "w") as fh:
            json.dump(out, fh, indent=1)
        with open(os.path.join(repo, "PROGRESS.jsonl"), "a") as fh:
            fh.write(json.dumps({"ts": time.time(), "recall_probe": out}) + "\n")
        print(json.dumps(out))
        spark.stop()
        return
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("scale_probe")
    big_path = os.path.join(tempfile.gettempdir(), f"docs{replicas}x.parquet")

    docs = spark.read.parquet(BASE)
    parts = [
        docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 1_000_000))
        for i in range(replicas)
    ]
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    big.write.mode("overwrite").parquet(big_path)

    def ops(df):
        from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
            bpe,
        )
        from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
            decontam,
            lines as lines_mod,
            sampling,
            sketches,
        )

        return {
            # .count() would let Catalyst prune the computed columns;
            # the noop sink forces the full plan.
            "text_profile": lambda: text_fn.profile_documents(df),
            # round 7 additions: BM25 is one doc-keyed conditional-agg
            # shuffle; the contamination matrix's self-join is bounded
            # by |sources| per fingerprint; whole-corpus BPE training
            # must stay word-count-bound (vocab is replication-
            # invariant, so the merge loop's cost cannot grow at 10x)
            "bm25_topk": lambda: text_fn.bm25_topk(
                df, ["spark", "hash", "join"]
            ),
            # round 8: the >128-term inverted-index strategy — the only
            # data-scaled shuffle carries matched (doc,term) pairs, so
            # growth must track the map-only tokenize scan, not |Q|
            "bm25_topk_inverted": lambda: text_fn.bm25_topk(
                df,
                ["spark", "hash", "join", "the", "vector"]
                + [f"zzpad{i:04d}" for i in range(130)],
            ),
            "cross_source_ngram_matrix": (
                lambda: dedup.cross_source_ngram_matrix(df)
            ),
            "source_temperature_mix": (
                lambda: sampling.source_temperature_mix(df)
            ),
            "bpe_train_apply": lambda: bpe.bpe_token_counts(
                df, bpe.train_bpe_merges_spark(df)
            ),
            "repetition_profile": lambda: text_fn.repetition_profile(df),
            "winnow": lambda: text_fn.winnow_fingerprints(df),
            "simhash_near_dups": lambda: dedup.simhash_near_dups(df),
            "minhash_dedup_pairs": lambda: dedup.minhash_dedup_pairs(
                df, threshold=0.5
            ),
            # round 9 (VERDICT r08 item 4): the DEFAULT path is now
            # capped at 256 candidates/doc — under this flood (max
            # 1274, p99 976 candidates/doc at 10×) it must grow like
            # the capped curve, not the uncapped one.
            "ngram_jaccard_pairs": lambda: dedup.ngram_jaccard_pairs(
                df, threshold=0.5
            ),
            "ngram_jaccard_pairs_uncapped": lambda: dedup.ngram_jaccard_pairs(
                df, threshold=0.5, uncapped=True
            ),
            # round 7 (VERDICT r06 item 4): a tighter explicit cap
            # bounds the verify stage + output under a duplicate flood;
            # its growth curve should sit at-or-below the default one.
            "ngram_jaccard_pairs_cap50": lambda: dedup.ngram_jaccard_pairs(
                df, threshold=0.5, max_candidates_per_doc=50
            ),
            "redact_pii": lambda: df.select(
                "doc_id", text_fn.redact_pii(F.col("text")).alias("t")
            ),
            "vocab_top_terms": lambda: text_fn.top_terms(df),
            "curate_top_per_source": lambda: sampling.curate_top_per_group(
                df, text_fn.quality_score(F.col("text")), "source"
            ),
            # HLL over the replicated corpus must ALSO return the same
            # estimate at Nx: replicas duplicate text fingerprints, and
            # a distinct sketch that grows with duplication is broken.
            "hll_distinct_fingerprints": lambda: sketches.hll_distinct(
                df.select(text_fn.fingerprint(F.col("text")).alias("fp")),
                "fp",
                [],
            ),
            # round 4: replicas multiply line-duplicate density the
            # same way they multiply doc-duplicate density — the keyed
            # min-agg survivor election must stay flat-ish.
            "line_dedup": lambda: lines_mod.line_dedup_stats(
                df.select(
                    "doc_id",
                    lines_mod.wrap_tokens_to_lines(F.col("text"), 10).alias(
                        "lines"
                    ),
                )
            ),
            "dup_span_hotspots": lambda: dedup.shared_gram_hotspots(df),
            "tfidf_top_terms": lambda: text_fn.tfidf_top_terms(df),
            # incremental dedup: halves of the corpus as store/batch;
            # replication multiplies cross-half exact duplicates, the
            # adversarial case for the min_by batch-first survivor.
            "dedup_incremental": lambda: dedup.dedup_incremental(
                df.filter(F.col("doc_id") % 2 == 0),
                df.filter(F.col("doc_id") % 2 == 1),
            ),
            # round 4b: replication multiplies every token's corpus
            # frequency, so the rare set shrinks — but the plan cost
            # must track the two term-keyed shuffles, nothing more.
            "rare_token_ratio": lambda: text_fn.rare_token_ratio(df),
            # round 5: LM self-scoring — replication leaves the
            # unigram/bigram MODEL size constant (same vocabulary),
            # so cost must track the doc-side scan + model join only.
            "unigram_surprisal": lambda: text_fn.unigram_surprisal(df),
            "bigram_surprisal": lambda: text_fn.bigram_surprisal(df),
            # round 8: NB model size = vocabulary (replication-
            # invariant), DSIR model size = 256 buckets (constant) —
            # both must track the (doc,grain) shuffle only; the funnel
            # adds map-only flags + one fingerprint min-agg on top of
            # the NB pass.
            "nb_log_odds": lambda: text_fn.nb_class_log_odds(
                df, F.col("lang") == "en"
            ),
            "importance_resample": lambda: sampling.importance_resample(
                df, F.col("source").isin("src0", "src1", "src2", "src3")
            ),
            "curation_funnel": lambda: text_fn.curation_funnel(
                df,
                F.col("lang") == "en",
                min_words=20,
                min_stopword_ratio=0.05,
            ),
            # round 8: ExactSubstr rewrite — replication multiplies
            # every window's occurrence count ABOVE the threshold, so
            # at Nx nearly every doc goes dirty: the adversarial case
            # for the dirty-only reconstruction branch.
            "substring_dedup": lambda: dedup.dedup_exact_substrings(df),
            # round 8: replicas duplicate eval TEXTS, so the distinct
            # eval-fingerprint set is replication-invariant (the
            # realistic shape: eval benchmarks don't grow with the
            # crawl); flagged spans and the dirty reconstruction grow
            # ~Nx, the semi-filter stays a broadcast kill.
            "decontaminate_rewrite": lambda: decontam.decontaminate_rewrite(
                df, df.filter(F.col("doc_id") % 1_000_000 % 5 == 0)
            ),
            # round 5: sources and vocabulary are both unchanged by
            # replication, so every post-explode stage (counts, pair
            # join, S×S grid) is constant-size — growth must track
            # the token explode alone.
            "source_divergence": lambda: text_fn.source_unigram_divergence(
                df
            ),
            # round 5: KMV sketches are ≤ k rows per source however
            # big the corpus — growth must track the shingle distinct,
            # with WindowGroupLimit keeping the rank map-side
            "kmv_source_overlap": lambda: sketches.kmv_source_overlap(df),
            # round 5: replication multiplies cross-half near-dup
            # density quadratically — the band-bucket joins must keep
            # candidate growth bounded by real collisions
            "minhash_incremental": lambda: dedup.minhash_incremental(
                dedup.minhash_signatures(df.filter(F.col("doc_id") % 2 == 0)),
                df.filter(F.col("doc_id") % 2 == 1),
            ),
        }

    # Measurement discipline (VERDICT r06 item 5, continued). Two
    # failure modes, both observed this round: (a) single-shot timing
    # with the whole 1x sweep first charged every op's first-execution
    # JIT/codegen warm-up to the small config (pca measured at ~6x its
    # bench cost, many ops "faster at 10x than 1x"); (b) even min-of-2
    # per tag jitters when the two tags run ~20 min apart — this host
    # has documented multi-hour ambient drift windows of ±25% and
    # random noise bursts up to 5x (pca 1x measured 2.1 s and 8.4 s in
    # two same-methodology runs). The growth RATIO is the artifact, so
    # follow the repo's A/B rule: interleave the two configs PER OP in
    # one process — 1x, Nx, 1x, Nx back-to-back — and take the min of
    # each tag's two executions. Both numbers then sample the same
    # drift window and the ratio is drift-immune; the first 1x
    # execution absorbs the op's warm-up for both.
    # Min-of-3 (round 8, was min-of-2): two samples still let a single
    # ambient burst own one tag's min — the token-explode family
    # measured 1.4x-3.9x growth across five same-code runs. A third
    # interleaved sample per tag cuts the burst-capture probability
    # without changing the drift-immune A/B structure.
    def timed_ab(run_small, run_big) -> tuple[float, float]:
        t_small, t_big = [], []
        for _ in range(3):
            for run, sink in ((run_small, t_small), (run_big, t_big)):
                t0 = time.time()
                run()
                sink.append(time.time() - t0)
                # Drop the localCheckpoint blocks iterative operators
                # pin — accumulated pins bleed GC pressure into later
                # ops (bench and check_oracles do the same).
                release_persisted_rdds(spark)
        return round(min(t_small), 2), round(min(t_big), 2)

    results: dict[str, dict[str, float]] = {}
    df_small = spark.read.parquet(BASE)
    df_big = spark.read.parquet(big_path)
    ops_small, ops_big = ops(df_small), ops(df_big)
    for name in ops_small:
        fn_s, fn_b = ops_small[name], ops_big[name]
        s_t, b_t = timed_ab(
            lambda: fn_s().write.format("noop").mode("overwrite").save(),
            lambda: fn_b().write.format("noop").mode("overwrite").save(),
        )
        results[name] = {"1x": s_t, f"{replicas}x": b_t}

    # --- star-schema path: replicate EVENTS Nx into an sf_dir-shaped
    # probe dir (other tables symlinked), then time the fact build and
    # the four KPI views through the exact registered query code.
    sf_dir = os.path.dirname(BASE)
    star_dir = os.path.join(tempfile.gettempdir(), f"star{replicas}x")
    os.makedirs(star_dir, exist_ok=True)
    replicated = {
        "events": "event_id",
        "orders": "o_orderkey",
        "embeddings": "vec_id",
        # round 5: part/supplier replicate too — duplicate-heavy load
        # for the fuzzy-match block join and deeper data under the
        # recursive hierarchy rollup
        "part": "p_partkey",
        "supplier": "s_suppkey",
        # round 5b: lineitem replicates with the SAME orderkey shift as
        # orders, so per-replica joins stay consistent and every basket
        # duplicates exactly — the adversarial case for pair mining
        # (hot pairs get N× hotter, never new pairs)
        "lineitem": "l_orderkey",
    }
    for t in os.listdir(sf_dir):
        link = os.path.join(star_dir, t)
        if t.removesuffix(".parquet") in replicated:
            # a stale symlink from an earlier probe run would make the
            # replicated overwrite write THROUGH the link into the
            # read-only testdata — drop it first
            if os.path.islink(link):
                os.remove(link)
        elif t == "documents.parquet":
            # the replicated documents already exist at big_path —
            # point the star dir at them so doc-family star ops (heavy
            # hitters) probe the N× corpus
            if os.path.islink(link) or os.path.exists(link):
                os.remove(link)
            os.symlink(big_path, link)
        elif not os.path.exists(link):
            os.symlink(os.path.join(sf_dir, t), link)
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.tables import (
        load_table,
    )

    for tname, key in replicated.items():
        src = load_table(spark, sf_dir, tname)
        parts_t = [
            src.withColumn(key, F.col(key) + F.lit(i * 100_000_000))
            for i in range(replicas)
        ]
        big_t = parts_t[0]
        for p in parts_t[1:]:
            big_t = big_t.unionByName(p)
        big_t.write.mode("overwrite").parquet(
            os.path.join(star_dir, f"{tname}.parquet")
        )

    import __spark_entry__ as entrymod  # noqa: PLC0415
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        similarity,
        sketches,
    )
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.plans import (
        relational,
    )

    registry = entrymod.queries()
    star_ops = {
        **{
            name: registry[name]
            for name in (
                "fact_events",
                "kpi_view_count_by_period",
                "kpi_item_view_rank_by_period",
                "kpi_most_viewed_item_latest_period",
                "kpi_top_event_type_by_period",
            )
        },
        # gap-fill's grid is domain-bounded: events replication must not
        # grow it (growth should track the daily-agg scan, not the grid)
        "order_priority_daily_gapfill": relational.order_priority_daily_gapfill,
        "order_price_quantile_sketch": lambda s, d: (
            sketches.binned_quantile_sketch(
                load_table(s, d, "orders"), "o_totalprice"
            )
        ),
        "embedding_kmeans_clusters": lambda s, d: similarity.kmeans_clusters(
            load_table(s, d, "embeddings")
        ),
    }
    # round 4b: the new sketch/filter/quality/anomaly families — each
    # has a boundedness argument the curve should confirm (CMS/HLL
    # registers cap at sketch size, the anomaly window is per-day, the
    # quality checks are one aggregate pass, the bloom build side is
    # the replicated orders slice).
    star_ops.update(
        {
            "cms_user_counts": entrymod.q_cms_user_counts,
            "hll_sketch_merge_rollup": entrymod.q_hll_sketch_merge,
            "daily_order_anomalies": relational.daily_order_anomalies,
            "order_quality_checks": entrymod.q_order_quality_checks,
            "bloom_semi_revenue": entrymod.q_bloom_semi_revenue,
            # PQ: training is sample-bounded, encoding is a map stage,
            # the ADC scan is linear in CODES — growth should track the
            # corpus scan only
            "embedding_topk_pq": entrymod.q_embedding_topk_pq,
            "hll_user_overlap_by_type": entrymod.q_hll_user_overlap,
        }
    )
    # round 5 (VERDICT r04 item 6): the five un-probed families.
    # Boundedness arguments the curves should confirm: the fuzzy-match
    # candidate set is blocked+length-banded (duplicate-heavy part
    # replication is its adversarial case — candidate counts recorded
    # below); the salted join's build replication is a bounded
    # constant; the hierarchy rollup's rounds scale with DEPTH, not
    # row count; versioned DELETE+OPTIMIZE rewrite is copy-on-write at
    # prefix granularity; IVF-PQ's shuffle is bounded by probed cells.
    star_ops.update(
        {
            # round 9 (VERDICT r08 item 4): the DEFAULT path is now
            # capped at 100 ids/name — at 10× replication groups reach
            # ~260 ids, so the default must grow like the capped curve.
            "fuzzy_part_name_matches": entrymod.q_fuzzy_part_names,
            "fuzzy_part_name_matches_uncapped": lambda spark, d: (
                dedup.fuzzy_string_matches(
                    load_table(spark, d, "part"),
                    "p_name",
                    "p_partkey",
                    "p_brand",
                    max_distance=2,
                    uncapped=True,
                )
            ),
            # round 7 (VERDICT r06 item 4): duplicate-group cap — at
            # N× replication every name group is ~N× bigger, so the
            # capped expansion should grow like the scan, not like N²
            "fuzzy_part_name_matches_cap8": lambda spark, d: (
                dedup.fuzzy_string_matches(
                    load_table(spark, d, "part"),
                    "p_name",
                    "p_partkey",
                    "p_brand",
                    max_distance=2,
                    max_ids_per_name=8,
                )
            ),
            "salted_join_rates": entrymod.q_salted_join_rates,
            "supplier_hierarchy_rollup": relational.supplier_hierarchy_rollup,
            "versioned_delete_compact": entrymod.q_versioned_delete_compact,
            "embedding_topk_ivf_pq": entrymod.q_embedding_topk_ivf_pq,
            # mergeable histogram rollup: register rows cap at
            # groups x n_bins, so growth should track the binning scan
            "quantile_sketch_merge_rollup": entrymod.q_quantile_sketch_merge,
            # SCD-2 lookup: equi-join + interval residual — growth
            # tracks probes + dim versions, never their product
            "scd2_point_in_time": entrymod.q_scd2_point_in_time,
            # read-time CDC: one co-partitioned full-outer join of two
            # snapshots — growth tracks the snapshots
            "versioned_change_feed": entrymod.q_versioned_change_feed,
            # banded two-pass running sum — no global window; growth
            # tracks the tokenizing scan
            "token_budget_select": entrymod.q_token_budget_select,
            # map-side-combined per-key counts into <= ~20 digit
            # buckets — growth tracks the scan
            "join_key_skew_profile": entrymod.q_join_key_skew_profile,
            # centroids are an O(groups x dims) exchange; the distance
            # pass is map-only against the broadcast centroid arrays
            "embedding_outliers": entrymod.q_embedding_outliers,
            # covariance moments map-side-combine to O(dim^2) rows per
            # task before the only shuffle; projection is map-only —
            # growth must track the two scans
            "embedding_pca_project": entrymod.q_embedding_pca,
            # post-agg stages bounded by types x days; replication
            # multiplies per-cell counts, not cells — growth must
            # track the (day, type) count aggregation alone
            "event_type_drift_daily": entrymod.relational.event_type_drift_daily,
        }
    )
    # round 5b: the behavioral pack + heavy hitters. Replication keeps
    # users/customers/items CONSTANT while multiplying their activity —
    # the boundedness arguments the curves should confirm:
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.plans import (
        behavior,
    )

    star_ops.update(
        {
            # triangle cells are O(weeks²) and distinct user-weeks are
            # unchanged by replication — growth tracks the two scans
            "retention_cohorts": behavior.retention_cohorts,
            # rank table stays one row per customer; growth tracks the
            # orders aggregate feeding it
            "rfm_segments": behavior.rfm_segments,
            # transition grid is O(types²); the lead window partitions
            # per user — growth tracks the N× event scan
            "event_transition_matrix": behavior.event_transition_matrix,
            # replicated baskets multiply counts of the SAME pairs —
            # pair cardinality must stay flat while the self-join scan
            # grows linearly
            "frequent_item_pairs": behavior.frequent_item_pairs,
            # moments are one pass; the nation × day grain is constant
            "nation_revenue_trend": behavior.nation_revenue_trend,
            # daily grid constant; window constant — growth tracks the
            # daily aggregate scan
            "ewma_daily_revenue": behavior.ewma_daily_revenue,
            # ADVERSARIAL: purchases ×N each joining views ×N inside
            # the same 3-day band → touch rows grow ~N² (bounded by
            # per-user windows, never corpus-quadratic) — recorded to
            # watch, not to stay flat
            "multi_touch_attribution": behavior.multi_touch_attribution,
            # two aggregates, one row out — growth tracks the scans
            "ab_test_lift": behavior.ab_test_lift,
            # candidate state is O(1/eps) per partition at ANY size;
            # recount is a broadcast semi-join — growth tracks the two
            # corpus scans (star_dir's documents ARE the N× corpus)
            "heavy_hitter_lines": entrymod.q_heavy_hitter_lines,
            # WAU explode is a bounded ×7 map; users and days are
            # unchanged by replication — growth tracks the distinct
            "rolling_active_users": behavior.rolling_active_users,
            # replication multiplies transition WEIGHTS, not nodes or
            # edges: the per-round join/aggregate tables are constant
            # size, so growth must track the edge-build scan alone
            "item_pagerank": entrymod.q_item_pagerank,
            # same argument: the undirected edge set is unchanged, so
            # wedge/closure joins are constant — growth tracks the scan
            "coview_triangles": entrymod.q_coview_triangles,
            # ECDF bands: distinct-price grain is capped by the value
            # domain; band windows hold ~1/n_bands of it each
            "segment_price_ks": entrymod.q_segment_price_ks,
        }
    )
    # round 6: the as-of join (union + per-user window — replication
    # multiplies events per user, the window's adversarial axis) and
    # the domain-mixture selection (per-(source, band) windows; bands
    # spread the quality scores so no window degenerates to a group's
    # whole partition). Growth for both must track the event/doc scans.
    star_ops.update(
        {
            "purchase_last_view_asof": entrymod.q_purchase_last_view_asof,
            "corpus_mixture_select": entrymod.q_corpus_mixture_select,
        }
    )
    for name, fn in star_ops.items():
        s_t, b_t = timed_ab(
            lambda: fn(spark, sf_dir)
            .write.format("noop")
            .mode("overwrite")
            .save(),
            lambda: fn(spark, star_dir)
            .write.format("noop")
            .mode("overwrite")
            .save(),
        )
        results[name] = {"1x": s_t, f"{replicas}x": b_t}

    # candidate-count evidence for the fuzzy-match prefilter: output
    # pair counts at 1x vs Nx (the length-band+block design should
    # grow pairs ~N^2 ONLY within true duplicate groups, never explode
    # toward all-pairs of the replicated table)
    fuzzy_rows = {
        tag: entrymod.q_fuzzy_part_names(spark, d).count()
        for tag, d in [("1x", sf_dir), (f"{replicas}x", star_dir)]
    }
    for name, r in results.items():
        r["growth"] = round(r[f"{replicas}x"] / max(r["1x"], 0.01), 1)

    # VERDICT r09 item 4: normalize the capped pair generators by
    # EMITTED pair count. Wall growth alone can't separate "output
    # genuinely grew N²-within-groups" (lossless prefix filtering,
    # expected) from "per-pair cost grew" (a structural regression) —
    # seconds-per-1K-emitted-pairs is the structure-free number: flat
    # per-pair cost at 10× means the candidate machinery scales, the
    # extra wall time IS the extra output.
    def _pair_norm(name: str, n_small: int, n_big: int) -> dict:
        r = results[name]
        spk_s = r["1x"] / max(n_small, 1) * 1000
        spk_b = r[f"{replicas}x"] / max(n_big, 1) * 1000
        return {
            "pairs_1x": n_small,
            f"pairs_{replicas}x": n_big,
            "sec_per_kpair_1x": round(spk_s, 4),
            f"sec_per_kpair_{replicas}x": round(spk_b, 4),
            "per_pair_growth": round(spk_b / max(spk_s, 1e-9), 2),
        }

    doc_pair_ops = {
        "ngram_jaccard_pairs": lambda d: dedup.ngram_jaccard_pairs(
            d, threshold=0.5
        ),
        "ngram_jaccard_pairs_uncapped": lambda d: dedup.ngram_jaccard_pairs(
            d, threshold=0.5, uncapped=True
        ),
        "ngram_jaccard_pairs_cap50": lambda d: dedup.ngram_jaccard_pairs(
            d, threshold=0.5, max_candidates_per_doc=50
        ),
    }
    pair_normalized = {
        name: _pair_norm(name, fn(df_small).count(), fn(df_big).count())
        for name, fn in doc_pair_ops.items()
    }
    pair_normalized["fuzzy_part_name_matches"] = _pair_norm(
        "fuzzy_part_name_matches",
        fuzzy_rows["1x"],
        fuzzy_rows[f"{replicas}x"],
    )
    fuzzy_uncapped = {
        tag: dedup.fuzzy_string_matches(
            load_table(spark, d, "part"),
            "p_name",
            "p_partkey",
            "p_brand",
            max_distance=2,
            uncapped=True,
        ).count()
        for tag, d in [("1x", sf_dir), (f"{replicas}x", star_dir)]
    }
    pair_normalized["fuzzy_part_name_matches_uncapped"] = _pair_norm(
        "fuzzy_part_name_matches_uncapped",
        fuzzy_uncapped["1x"],
        fuzzy_uncapped[f"{replicas}x"],
    )
    # --- r11 (VERDICT r10 item 4): the media legs, probed like
    # everything else instead of assumed from plan shape. Fixture
    # GROUPS scale 1x → Nx (more groups = more images/clips/videos AND
    # linearly more true near-dup pairs; inter-group 64-bit signatures
    # are effectively random, so band collisions track real duplicate
    # density, not N²). Reported per op: wall growth, decode/hash
    # seconds-per-item for the Arrow decode tables (the pure-Python
    # codec cost VERDICT r10 flagged as the dominant term), and
    # pair-normalized growth for the banded joins. Fixtures stage to
    # parquet first so generation cost stays out of the timed window.
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (  # noqa: PLC0415
        multimodal as mm,
    )

    media_dir = os.path.join(tempfile.gettempdir(), f"media{replicas}x")
    os.makedirs(media_dir, exist_ok=True)
    base_groups = {"image": 16, "audio": 16, "video": 12}
    table_fns = {
        "image": mm.synthetic_near_dup_image_table,
        "audio": mm.synthetic_near_dup_audio_table,
        "video": mm.synthetic_near_dup_video_table,
    }
    big_tag = f"{replicas}x"
    fixtures = {}
    for tag, mult in (("1x", 1), (big_tag, replicas)):
        for kind in base_groups:
            path = os.path.join(media_dir, f"{kind}_{tag}.parquet")
            table_fns[kind](spark, base_groups[kind] * mult).write.mode(
                "overwrite"
            ).parquet(path)
            fixtures[(kind, tag)] = spark.read.parquet(path)

    media_results: dict[str, dict] = {}
    media_pairs: dict[str, dict] = {}
    for kind in base_groups:
        d_s, d_b = fixtures[(kind, "1x")], fixtures[(kind, big_tag)]
        n_s, n_b = d_s.count(), d_b.count()
        ops_m = {
            f"media_{kind}_hash_table": dedup.MEDIA_FINGERPRINTS[kind].table,
            f"media_{kind}_near_dups": partial(
                dedup.media_near_dups, modality=kind
            ),
            f"media_{kind}_survivors": partial(
                dedup.media_dedup_survivors, modality=kind
            ),
            f"media_{kind}_incremental": lambda d, k=kind: (
                dedup.media_incremental(
                    d.filter(F.col("media_id") % 6 == 1),
                    d.filter(F.col("media_id") % 6 != 1),
                    k,
                )
            ),
        }
        for name, fn in ops_m.items():
            s_t, b_t = timed_ab(
                lambda: fn(d_s).write.format("noop").mode("overwrite").save(),
                lambda: fn(d_b).write.format("noop").mode("overwrite").save(),
            )
            entry = {
                "1x": s_t,
                big_tag: b_t,
                "growth": round(b_t / max(s_t, 0.01), 1),
            }
            if name.endswith("hash_table"):
                # decode+hash cost per item — the honest number for
                # the pure-Python codec kernels behind mapInPandas
                entry["items_1x"] = n_s
                entry[f"items_{replicas}x"] = n_b
                entry["sec_per_item_1x"] = round(s_t / max(n_s, 1), 4)
                entry[f"sec_per_item_{replicas}x"] = round(
                    b_t / max(n_b, 1), 4
                )
            media_results[name] = entry
        p_s = dedup.media_near_dups(d_s, kind).count()
        p_b = dedup.media_near_dups(d_b, kind).count()
        r = media_results[f"media_{kind}_near_dups"]
        media_pairs[f"media_{kind}_near_dups"] = {
            "pairs_1x": p_s,
            f"pairs_{replicas}x": p_b,
            "sec_per_kpair_1x": round(r["1x"] / max(p_s, 1) * 1000, 4),
            f"sec_per_kpair_{replicas}x": round(
                r[big_tag] / max(p_b, 1) * 1000, 4
            ),
            "per_pair_growth": round(
                (r[big_tag] / max(p_b, 1)) / max(r["1x"] / max(p_s, 1), 1e-9),
                2,
            ),
        }

    print(
        json.dumps(
            {
                "replicas": replicas,
                "seconds": results,
                "fuzzy_match_pairs": fuzzy_rows,
                "pair_normalized": pair_normalized,
                "media": media_results,
                "media_pair_normalized": media_pairs,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
