"""Gates for the precomputed-expected oracles of the approximate ops.

Two layers of independence:

1. ``tools/pyxxh64`` must match Spark's ``xxhash64`` bit-for-bit across
   type paths (long, int-seeded chain, strings spanning every tail-size
   branch of the algorithm).
2. ``tools/gen_expected``'s pure-Python generators must reproduce the
   Spark operator outputs on a DIFFERENT dataset (sf0.001) than the one
   the committed expected files were generated from (sf0.01) — so the
   generator can't be accidentally fitted to one dataset's quirks.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
    dedup,
    similarity,
)
from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.tables import load_table
from tools import gen_expected
from tools.pyxxh64 import xxhash64


def _canon(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]
    rows = []
    for row in df.itertuples(index=False):
        rows.append(
            tuple(
                round(v, 6) if isinstance(v, float) else int(v)
                for v in row
            )
        )
    return sorted(rows)


def test_pyxxh64_matches_spark(spark):
    cases = [
        ("", "a", "abcd", "abcdefg", "abcdefgh", "x" * 31, "y" * 32,
         "z" * 33, "tok en-ized text with spaces " * 3),
        (0, 1, -1, 2**62, -(2**62)),
    ]
    str_cols = [F.xxhash64(F.lit(s)) for s in cases[0]]
    long_cols = [F.xxhash64(F.lit(v).cast("long")) for v in cases[1]]
    chain = [
        F.xxhash64(F.lit(7), F.lit(-12345).cast("long")),
        F.xxhash64(F.lit("ab"), F.lit("cd")),
    ]
    got = spark.range(1).select(*str_cols, *long_cols, *chain).collect()[0]
    want = (
        [xxhash64(s) for s in cases[0]]
        + [xxhash64(v) for v in cases[1]]
        + [xxhash64(("int", 7), -12345), xxhash64("ab", "cd")]
    )
    assert list(got) == want


def test_generators_match_spark_on_alternate_sf(spark, sf_dir):
    docs_pdf = pd.read_parquet(f"{sf_dir}/documents.parquet")
    vecs = gen_expected.load_embeddings(sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    pairs = [
        (
            gen_expected.gen_minhash(docs_pdf),
            dedup.minhash_dedup_pairs(docs, threshold=0.5),
        ),
        (
            gen_expected.gen_simhash(docs_pdf),
            dedup.simhash_near_dups(docs, max_hamming=3),
        ),
        (
            gen_expected.gen_lsh_topk(vecs),
            similarity.lsh_topk(emb, emb.filter(F.col("vec_id") < 10), k=5),
        ),
        (
            # registered config: trained coarse centroids + 8 probes
            gen_expected.gen_ivf_topk(vecs),
            similarity.ivf_topk(
                emb,
                emb.filter(F.col("vec_id") < 10),
                k=5,
                n_probe=8,
                train_iters=2,
            ),
        ),
        (
            # untrained 4-probe variant still mirrored (train_iters=0)
            gen_expected.gen_ivf_topk(vecs, n_probe=4, train_iters=0),
            similarity.ivf_topk(emb, emb.filter(F.col("vec_id") < 10), k=5),
        ),
        (
            gen_expected.gen_cosine_dups_lsh(vecs),
            similarity.cosine_dup_pairs_lsh(emb, threshold=0.4),
        ),
        (
            gen_expected.gen_kmeans_clusters(vecs),
            similarity.kmeans_clusters(emb),
        ),
        (
            gen_expected.gen_pca_project(vecs),
            similarity.pca_project(emb),
        ),
        (
            gen_expected.gen_minhash_incremental(docs_pdf),
            dedup.minhash_incremental(
                dedup.minhash_signatures(
                    docs.filter(F.col("doc_id") % 2 == 0)
                ),
                docs.filter(F.col("doc_id") % 2 == 1),
            ),
        ),
    ]
    for expected, spark_df in pairs:
        got = spark_df.toPandas()
        assert _canon(got) == _canon(expected)


def test_hll_generator_matches_spark_on_alternate_sf(spark, sf_dir):
    import __spark_entry__ as entrymod

    expected = gen_expected.gen_hll_users(sf_dir)
    got = entrymod.q_hll_users(spark, sf_dir).toPandas()

    def canon(df):
        df = df[sorted(df.columns)]
        return sorted(
            tuple(
                v if isinstance(v, str)
                else round(v, 6) if isinstance(v, float)
                else int(v)
                for v in row
            )
            for row in df.itertuples(index=False)
        )

    assert canon(got) == canon(expected)
    # sanity: the estimator is actually close at sf0.001 (15 users/type)
    assert (got["err_pct"] < 15.0).all()


def test_join_size_generator_matches_spark_on_alternate_sf(spark, sf_dir):
    import __spark_entry__ as entrymod

    expected = gen_expected.gen_join_size_estimate(sf_dir)
    got = entrymod.q_join_size_estimate(spark, sf_dir).toPandas()
    assert int(got.exact_join_size[0]) == int(expected.exact_join_size[0])
    assert int(got.cms_estimate[0]) == int(expected.cms_estimate[0])
    # the CMS inner product can only overestimate the true join size
    assert int(got.cms_estimate[0]) >= int(got.exact_join_size[0])


def test_pagerank_generator_matches_spark_on_alternate_sf(spark, sf_dir):
    import __spark_entry__ as entrymod

    expected = gen_expected.gen_item_pagerank(sf_dir)
    got = entrymod.q_item_pagerank(spark, sf_dir).toPandas()
    # scaled ranks are EXACT integers — compare them bit-for-bit, not
    # through the float-rounding canonicalizer
    g = sorted(zip(got["item_key"], got["rank_scaled"]))
    e = sorted(zip(expected["item_key"], expected["rank_scaled"]))
    assert [(int(a), int(b)) for a, b in g] == [
        (int(a), int(b)) for a, b in e
    ]


def test_hits_generator_matches_spark_on_alternate_sf(spark, sf_dir):
    import __spark_entry__ as entrymod

    expected = gen_expected.gen_item_hits(sf_dir)
    got = entrymod.q_item_hits_scores(spark, sf_dir).toPandas()
    g = sorted(zip(got["item_key"], got["hub_scaled"], got["auth_scaled"]))
    e = sorted(
        zip(
            expected["item_key"],
            expected["hub_scaled"],
            expected["auth_scaled"],
        )
    )
    assert [(int(a), int(b), int(c)) for a, b, c in g] == [
        (int(a), int(b), int(c)) for a, b, c in e
    ]


def test_bpe_generator_matches_spark_on_alternate_sf(spark, sf_dir):
    import __spark_entry__ as entrymod

    expected = gen_expected.gen_bpe_tokens(sf_dir)
    got = entrymod.q_doc_bpe_tokens(spark, sf_dir).toPandas()
    assert _canon(got) == _canon(expected)
    # sanity: merges actually compress — fewer BPE tokens than chars,
    # more than words (the </w>-terminated lower bound)
    assert (got["n_bpe_tokens"] >= got["n_words"]).all()
    assert got["n_bpe_tokens"].sum() < expected["n_words"].sum() * 8


def test_compression_ratio_generator_matches_spark_on_alternate_sf(
    spark, sf_dir
):
    import __spark_entry__ as entrymod

    expected = gen_expected.gen_compression_ratio(sf_dir)
    got = entrymod.q_doc_compression_ratio(spark, sf_dir).toPandas()
    assert _canon(got) == _canon(expected)
    # natural prose must compress but not vanish: every non-empty doc's
    # ratio strictly inside (0, 1.5)
    nz = got[got["n_bytes"] > 0]
    assert ((nz["ratio"] > 0) & (nz["ratio"] < 1.5)).all()


def test_bpe_token_stream_generator_matches_spark_on_alternate_sf(
    spark, sf_dir
):
    import __spark_entry__ as entrymod

    expected = gen_expected.gen_bpe_token_stream(sf_dir)
    got = entrymod.q_doc_bpe_token_stream(spark, sf_dir).toPandas()
    key = ["doc_id", "token_pos", "token"]
    assert [tuple(r) for r in got[key].itertuples(index=False)] == [
        tuple(r) for r in expected[key].itertuples(index=False)
    ]
    # the stream's per-doc token counts must agree with bpe_token_counts
    counts = entrymod.q_doc_bpe_tokens(spark, sf_dir).toPandas()
    per_doc = got.groupby("doc_id").size()
    for doc_id, n in zip(counts["doc_id"], counts["n_bpe_tokens"]):
        assert per_doc.get(doc_id, 0) == n


def test_dhash_generator_matches_spark_on_alternate_group_count(spark):
    """The dhash replica must agree with the full Spark path (encode →
    pixel decode → hash → banded join) on a DIFFERENT fixture size
    (24 groups) than the committed expected files (16), so the
    generator can't be fitted to one fixture's quirks."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        multimodal as mm,
    )

    tbl = mm.synthetic_near_dup_image_table(spark, 24)
    got_h = _canon(mm.dhash_table(tbl).toPandas())
    exp_h = _canon(gen_expected.gen_image_dhash(24))
    assert got_h == exp_h
    got_p = _canon(dedup.media_near_dups(tbl, "image").toPandas())
    exp_p = _canon(gen_expected.gen_image_dhash_dups(24))
    assert got_p == exp_p


def test_indexed_ivf_pq_generator_matches_spark_on_alternate_sf(
    spark, sf_dir, tmp_path
):
    """The train-once/scan-batches replica must agree with the real
    persisted-index path (versioned commit + load + per-batch ADC
    scan) at sf0.001 — a different corpus than the committed expected
    files."""
    vecs = gen_expected.load_embeddings(sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    cent, books = similarity.train_ivf_pq_index(emb, train_iters=2)
    similarity.save_ivf_pq_index(spark, cent, books, path)
    queries = emb.filter(F.col("vec_id") < 10)
    parts = []
    for batch_id, parity in ((1, 0), (2, 1)):
        parts.append(
            similarity.ivf_pq_topk_indexed(
                emb.filter(F.col("vec_id") % 2 == parity),
                queries, path, k=5, n_probe=8, refine_factor=16,
            ).withColumn("batch_id", F.lit(batch_id).cast("long"))
        )
    got = parts[0].unionByName(parts[1]).toPandas()
    assert _canon(got) == _canon(gen_expected.gen_ivf_pq_topk_indexed(vecs))


def test_jpeg_dhash_generator_matches_spark_on_alternate_group_count(spark):
    """The codec-math replica must agree with the full Spark path
    (JPEG encode → entropy decode → IDCT → hash) on a DIFFERENT
    fixture size (14 groups) than the committed expected files (10)."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        multimodal as mm,
    )

    tbl = mm.synthetic_jpeg_image_table(spark, 14)
    got = _canon(mm.dhash_table(tbl).toPandas())
    assert got == _canon(gen_expected.gen_jpeg_dhash(14))


def test_streaming_image_dedup_fixture_exercises_cross_batch_path():
    """The batch split (%6 ∈ {2,4} then {3,5,0}) must actually drive
    batch-2 rows into STORE entries batch 1 appended (odd-group bases,
    %6 == 4) — the cross-batch path the streaming gate exists to pin —
    and the store-seed path (matches to %6 == 1 bases) and keep path
    must all occur."""
    df = gen_expected.gen_streaming_image_dedup(16)
    store_match_mods = {
        int(m) % 6 for m in df["matched_store_id"] if m != -1
    }
    assert 4 in store_match_mods  # cross-batch: batch-1-appended base
    assert 1 in store_match_mods  # seeded store hit
    assert bool(df["keep"].any()) and bool((~df["keep"]).any())
    # batch-2 rows (%6 in {3,5,0}) include at least one hit on a
    # batch-1-appended odd base
    b2 = df[df["media_id"].mod(6).isin([3, 5, 0])]
    assert (b2["matched_store_id"].mod(6) == 4).any()


def test_codes_ivf_pq_generator_matches_spark_on_alternate_sf(
    spark, sf_dir, tmp_path
):
    """The persisted-codes replica must agree with the real path
    (train on evens → commit index → build codes → APPEND odd batch →
    scan from the codes snapshot) at sf0.001 — and the codes snapshot
    after build+append must equal a fresh full-corpus encode
    (append-encode-once ≡ encode-all, bit-for-bit)."""
    vecs = gen_expected.load_embeddings(sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "idx")
    cent, books = similarity.train_ivf_pq_index(even, train_iters=2)
    similarity.save_ivf_pq_index(spark, cent, books, path)
    similarity.build_ivf_pq_codes(spark, even, path)
    similarity.append_ivf_pq_codes(spark, odd, path)

    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.sources import (
        versioned,
    )

    snapshot = versioned.read_version(spark, f"{path}/codes").toPandas()
    fresh = similarity.ivf_pq_codes_table(emb, cent, books).toPandas()
    snap = {r.neighbor_id: (r.cell, list(r.codes))
            for r in snapshot.itertuples()}
    full = {r.neighbor_id: (r.cell, list(r.codes))
            for r in fresh.itertuples()}
    assert snap == full

    got = similarity.ivf_pq_topk_from_codes(
        spark,
        emb.filter(F.col("vec_id") < 10),
        path,
        k=5,
        n_probe=8,
        refine_corpus=emb,
        refine_factor=16,
    ).toPandas()
    assert _canon(got) == _canon(gen_expected.gen_ivf_pq_topk_codes(vecs))


def test_semantic_incremental_matches_replica_on_alternate_sf(
    spark, sf_dir, tmp_path
):
    """The embedding incremental-gate replica must agree with the real
    lifecycle (train on evens → commit index + even codes → gate batch
    1 → append keepers → gate batch 2) at sf0.001 — a different
    dataset than the committed sf0.01 expected file, so the generator
    can't be fitted to one corpus's quirks."""
    vecs = gen_expected.load_embeddings(sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    initial = emb.filter(F.col("vec_id") % 2 == 0)
    cent, books = similarity.train_ivf_pq_index(initial, train_iters=2)
    similarity.save_ivf_pq_index(spark, cent, books, path)
    similarity.build_ivf_pq_codes(spark, initial, path)
    got = []
    for batch_no, parity in ((1, 1), (2, 3)):
        batch = emb.filter(F.col("vec_id") % 4 == parity)
        dec = similarity.semantic_dedup_incremental(
            spark, batch, path, corpus=emb, threshold=0.4, n_probe=8
        ).localCheckpoint(eager=True)
        keepers = batch.join(
            dec.filter(F.col("keep")).select("vec_id"), "vec_id"
        )
        similarity.append_ivf_pq_codes(spark, keepers, path)
        got.append(dec.toPandas().assign(batch_id=batch_no))
    got_df = pd.concat(got, ignore_index=True)
    want = gen_expected.gen_semantic_incremental(vecs)
    assert _canon(got_df) == _canon(want)
    # the gate must exercise all three decision paths at this SF too
    assert (want["matched_store_id"] >= 0).any()
    assert (want["matched_batch_id"] >= 0).any()
    assert want["keep"].any()


def test_audio_fingerprint_generator_matches_spark_on_alternate_group_count(
    spark,
):
    """The closed-form segment-energy replica must agree with the full
    Spark path (WAV encode → PCM decode → fingerprint → banded join)
    on a DIFFERENT fixture size (24 groups) than the committed
    expected files (16), so the generator can't be fitted to one
    fixture's quirks."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        multimodal as mm,
    )

    tbl = mm.synthetic_near_dup_audio_table(spark, 24)
    got_h = _canon(mm.audio_fingerprint_table(tbl).toPandas())
    exp_h = _canon(gen_expected.gen_audio_fingerprint(24))
    assert got_h == exp_h
    got_p = _canon(dedup.media_near_dups(tbl, "audio").toPandas())
    exp_p = _canon(gen_expected.gen_audio_fingerprint_dups(24))
    assert got_p == exp_p
    got_s = _canon(dedup.media_dedup_survivors(tbl, "audio").toPandas())
    assert got_s == _canon(gen_expected.gen_audio_dedup_survivors(24))
    inc = dedup.media_incremental(
        mm.audio_fingerprint_table(tbl.filter(F.col("media_id") % 6 == 1)),
        tbl.filter(F.col("media_id") % 6 != 1),
        "audio",
    )
    assert _canon(inc.toPandas()) == _canon(
        gen_expected.gen_audio_fp_incremental(24)
    )


def test_streaming_minhash_generator_matches_spark_on_alternate_sf(spark):
    """The sequential two-batch replica must agree with the real
    streaming path (file-source micro-batches + versioned store/
    decision commits) at sf0.001 — a different corpus than the
    committed expected file (sf0.01)."""
    import pyarrow.parquet as papq

    import __spark_entry__ as entrymod

    sf_dir = "/root/testdata/sf0.001"
    got = _canon(
        entrymod.q_streaming_minhash_dedup(spark, sf_dir).toPandas()
    )
    docs = papq.read_table(f"{sf_dir}/documents.parquet").to_pandas()
    exp = _canon(gen_expected.gen_streaming_minhash(docs))
    assert got == exp


def test_image_survivor_generator_matches_spark_on_alternate_group_count(spark):
    """Union-find replica vs the full Spark path (hash → banded join →
    connected components → survivor election) at a different fixture
    size than the committed expected file."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        multimodal as mm,
    )

    tbl = mm.synthetic_near_dup_image_table(spark, 24)
    got = _canon(dedup.media_dedup_survivors(tbl, "image").toPandas())
    exp = _canon(gen_expected.gen_image_dedup_survivors(24))
    assert got == exp


def test_image_incremental_generator_matches_spark_on_alternate_group_count(
    spark,
):
    """Brute-force incremental replica vs the banded store/batch join
    at a different fixture size than the committed expected file."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        multimodal as mm,
    )

    tbl = mm.synthetic_near_dup_image_table(spark, 24)
    store = mm.dhash_table(tbl.filter(F.col("media_id") % 6 == 1))
    batch = tbl.filter(F.col("media_id") % 6 != 1)
    got = _canon(
        dedup.media_incremental(store, batch, "image").toPandas()
    )
    exp = _canon(gen_expected.gen_image_dhash_incremental(24))
    assert got == exp


def _canon_mixed(df: pd.DataFrame) -> list[tuple]:
    """_canon with string-column tolerance (snapshot labels)."""
    df = df[sorted(df.columns)]
    rows = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if isinstance(v, float):
                vals.append(round(v, 6))
            elif isinstance(v, str):
                vals.append(v)
            else:
                vals.append(int(v))
        rows.append(tuple(vals))
    return sorted(rows)


def test_store_forget_generators_match_spark_on_alternate_sf(
    spark, sf_dir
):
    """The two RTBF store-forget replicas (VERDICT r11 item 1) must
    agree with the full engine lifecycle — build store → forget →
    gate/scan both snapshots — at sf0.001, a different corpus than
    the committed sf0.01 expected files."""
    import pyarrow.parquet as apq

    import __spark_entry__ as entrymod

    docs = apq.read_table(f"{sf_dir}/documents.parquet").to_pandas()
    vecs = gen_expected.load_embeddings(sf_dir)
    qmap = entrymod.queries()
    got_dedup = qmap["dedup_store_forget"](spark, sf_dir).toPandas()
    assert _canon_mixed(got_dedup) == _canon_mixed(
        gen_expected.gen_dedup_store_forget(docs)
    )
    got_ann = qmap["ann_store_forget"](spark, sf_dir).toPandas()
    assert _canon_mixed(got_ann) == _canon_mixed(
        gen_expected.gen_ann_store_forget(vecs)
    )


def _assert_matches_oracle_at_sf001(spark, sf_dir, name):
    """Registered query ``name`` against its ``oracle_sql()`` at sf0.01,
    compared exactly as tools/check_oracles.py compares every query."""
    import os

    import __spark_entry__ as entrymod
    from tools.check_oracles import canon, oracle_connection, value_repr

    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.isdir(sf001):
        pytest.skip(f"no sf0.01 testdata beside {sf_dir}")
    got = canon(entrymod.queries()[name](spark, sf001).toPandas())
    with oracle_connection(sf001) as con:
        want = canon(con.execute(entrymod.oracle_sql()[name]).df())
    assert list(got.columns) == list(want.columns)
    assert value_repr(got) == value_repr(want)


@pytest.mark.parametrize(
    "name",
    [
        "streaming_minhash_dedup",
        "streaming_semantic_dedup",
        "streaming_image_dedup",
        "streaming_video_dedup",
        "semantic_incremental_embeddings",
    ],
)
def test_dedup_gate_matches_expected_oracle_at_sf001(spark, sf_dir, name):
    """The incremental dedup gates against their committed expected
    parquet, at sf0.01 (the only scale those files are generated for)."""
    _assert_matches_oracle_at_sf001(spark, sf_dir, name)


@pytest.mark.parametrize(
    "name",
    [
        "image_dhash_dups",
        "image_dedup_survivors",
        "image_dhash_incremental",
        "audio_fingerprint_dups",
        "audio_dedup_survivors",
        "audio_fingerprint_incremental",
        "video_fingerprint_dups",
        "video_dedup_survivors",
        "video_fingerprint_incremental",
        "dedup_semantic_embeddings",
        "multimodal_curation_funnel",
        "minhash_incremental_docs",
        "dedup_store_forget",
    ],
)
def test_dedup_query_matches_oracle_at_sf001(spark, sf_dir, name):
    """The batch dedup queries built on the shared decision core of
    operators/dedup.py (fingerprint spec, survivor election, keep
    election) against their oracles at sf0.01."""
    _assert_matches_oracle_at_sf001(spark, sf_dir, name)


@pytest.mark.parametrize(
    "name",
    [
        "event_raw",
        "dim_event",
        "dim_user",
        "dim_parameter",
        "dim_item",
        "fact_events",
        "kpi_view_count_by_period",
        "kpi_item_view_rank_by_period",
        "kpi_most_viewed_item_latest_period",
        "kpi_top_event_type_by_period",
        "kpi_view_trend_by_period",
        "kpi_top_items_view_share",
    ],
)
def test_paper_query_matches_oracle_at_sf001(spark, sf_dir, name):
    """The paper's star-schema builds and KPI views (the warehouse view
    SQL of ``plans/marketing.KPI_SQL``) against their DuckDB SQL over
    the sf0.01 tables."""
    _assert_matches_oracle_at_sf001(spark, sf_dir, name)
