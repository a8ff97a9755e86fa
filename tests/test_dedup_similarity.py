"""Dedup + similarity operators: hand-computed micro-fixtures with known
duplicate structure, plus recall checks of the approximate paths against
the exact ones."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
    dedup,
    similarity,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "The  Quick Brown   Fox jumps over the lazy dog"),  # ws/case dup of 1
    (4, "the quick brown fox jumps over the sleepy dog"),  # near dup (1 word)
    (5, "completely different content about spark engines"),
    (6, "short text"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_duplicates_groups(docs):
    groups = dedup.exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0]["keep_id"] == 1
    assert groups[0]["n_docs"] == 3  # 1, 2, 3 normalize identically


def test_dedup_exact_survivors(docs):
    out = dedup.dedup_exact(docs)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1, 4, 5, 6]


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.4).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # exact dups have jaccard 1.0; the one-word-changed doc overlaps 4/10-ish
    assert (1, 2) in got
    assert (1, 3) in got
    assert (2, 3) in got
    assert (1, 4) in got
    assert all(p[0] < p[1] for p in got)


def test_minhash_dedup_pairs_subset_of_exact(docs):
    mh = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_dedup_pairs(docs, threshold=0.4).collect()
    }
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.4).collect()
    }
    assert mh <= exact
    assert (1, 2) in mh


def test_simhash_identical_texts_same_hash(docs):
    sh = {r["id"]: r["sh"] for r in dedup.simhash_table(docs).collect()}
    assert sh[1] == sh[2] == sh[3]
    assert sh[1] != sh[5]


def test_simhash_near_dups_finds_exact_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_near_dups(docs, max_hamming=3).collect()
    }
    assert (1, 2) in pairs
    assert (2, 3) in pairs


VECS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0, 0.0]),   # closest to 0
    (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 0
    (3, [0.7, 0.7, 0.0, 0.0]),   # diagonal
    (4, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
]


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<float>")


def test_brute_force_topk_ordering(vecs):
    out = similarity.brute_force_topk(
        vecs, vecs.filter(F.col("vec_id") == 0), k=4
    ).collect()
    order = [r["neighbor_id"] for r in out]
    assert order == [1, 3, 2, 4]
    assert [r["rank"] for r in out] == [1, 2, 3, 4]
    assert out[0]["cosine_sim"] > 0.99


def test_ivf_topk_returns_neighbors(spark):
    import math

    # ring of 2-d unit vectors: neighbors are adjacent angles
    ring = [
        (i, [math.cos(i / 16 * 2 * math.pi), math.sin(i / 16 * 2 * math.pi)])
        for i in range(16)
    ]
    df = spark.createDataFrame(ring, "vec_id long, embedding array<float>")
    out = similarity.ivf_topk(
        df, df.filter(F.col("vec_id") == 0), k=2, n_cells=4, n_probe=4
    ).collect()
    assert len(out) == 2
    assert all(r["query_id"] == 0 for r in out)


def test_ivf_pq_indexed_bit_identical_to_retrain(spark, sf_dir, tmp_path):
    """The persist-once lifecycle (train → versioned commit → load →
    scan) must reproduce the retrain path BIT-FOR-BIT on static data:
    parquet round-trips IEEE doubles exactly, so ivf_pq_topk_indexed
    == ivf_pq_topk row-for-row, and the loaded artifacts equal the
    trained ones element-wise (VERDICT r09 item 3)."""
    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "ivfpq_index")
    cent, books = similarity.train_ivf_pq_index(emb, train_iters=1)
    versions = similarity.save_ivf_pq_index(spark, cent, books, path)
    assert versions == {"centroids": 1, "codebooks": 1}
    cent2, books2 = similarity.load_ivf_pq_index(spark, path)
    assert cent2 == [(c, [float(x) for x in v]) for c, v in cent]
    assert books2.shape == books.shape and np.array_equal(books2, books)

    retrain = similarity.ivf_pq_topk(
        emb, queries, k=5, n_probe=4, train_iters=1, refine_factor=4
    ).collect()
    indexed = similarity.ivf_pq_topk_indexed(
        emb, queries, path, k=5, n_probe=4, refine_factor=4
    ).collect()
    assert [tuple(r) for r in indexed] == [tuple(r) for r in retrain]

    # a second index generation commits as version 2 and time-travel
    # to version 1 still reproduces the original scan
    similarity.save_ivf_pq_index(spark, cent, books, path)
    v1 = similarity.ivf_pq_topk_indexed(
        emb, queries, path, k=5, n_probe=4, refine_factor=4, version=1
    ).collect()
    assert [tuple(r) for r in v1] == [tuple(r) for r in retrain]


def test_lsh_topk_recall_vs_exact(spark):
    import random

    rnd = random.Random(7)
    data = [
        (i, [rnd.uniform(-1, 1) for _ in range(64)]) for i in range(200)
    ]
    df = spark.createDataFrame(data, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(df, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.lsh_topk(
            df, q, k=5, bands=8, bits_per_band=2, probe_hamming=0
        ).collect()
    }
    # banded LSH with 8 bands of 2 bits is permissive: expect decent recall
    assert len(approx & exact) / len(exact) >= 0.5


def test_connected_components_multihop(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    comps = {
        r["id"]: r["component"]
        for r in dedup.connected_components(edges).collect()
    }
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                     20: 20, 21: 20, 22: 20}


def test_dedup_near_docs_keeps_min_id(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again today"),
        (2, "the quick brown fox jumps over the lazy dog again tomorrow"),
        (3, "completely different text about spark engines and scale"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(
        r["doc_id"]
        for r in dedup.dedup_near_docs(df, threshold=0.5).collect()
    )
    assert kept == [1, 3]


def test_jaccard_prefix_filter_exact_at_fractional_threshold(docs, spark):
    """threshold=0.1 with |S|=30 exercises the float-ceil hazard
    (30*0.1 -> 3.0000000000000004); the integer filter must keep the
    prefix math lossless vs a brute-force pair computation."""
    texts = [
        (1, " ".join(f"w{i}" for i in range(32))),
        (2, " ".join(f"w{i}" for i in range(8)) + " " +
            " ".join(f"x{i}" for i in range(25))),
        (3, " ".join(f"y{i}" for i in range(32))),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]) for r in
           dedup.ngram_jaccard_pairs(df, threshold=0.1).collect()}
    # brute force on shingle sets
    from pyspark.sql import functions as F
    sets = {r["id"]: set(r["sh_set"]) for r in
            dedup._shingle_sets(df, "text", "doc_id", 3).collect()}
    expect = set()
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            if inter and inter / len(sets[a] | sets[b]) >= 0.1:
                expect.add((a, b))
    assert got == expect and got


def test_dedup_semantic_chain_collapses(spark):
    # A~B and B~C but A!~C: clustering must still collapse the chain to
    # ONE survivor (per-pair keep-min would keep A and C). Vector d is
    # orthogonal — survives alone.
    # Unit vectors at 0deg/25deg/50deg: adjacent cosines ~0.906 >= 0.9,
    # the 0-50 cosine ~0.643 < 0.9.
    import math

    def v(deg):
        return [math.cos(math.radians(deg)), math.sin(math.radians(deg)), 0.0]

    rows = [(1, v(0)), (2, v(25)), (3, v(50)), (4, [0.0, 0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["vec_id"]: r["n_merged"]
        for r in dedup.dedup_semantic(df, threshold=0.9).collect()
    }
    assert out == {1: 3, 4: 1}


def test_ivf_training_maintains_or_improves_recall(spark, sf_dir):
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        similarity,
    )
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.tables import (
        load_table,
    )
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }

    def recall(df):
        got = {(r["query_id"], r["neighbor_id"]) for r in df.collect()}
        return len(got & truth) / len(truth)

    untrained = recall(similarity.ivf_topk(emb, queries, k=5))
    trained = recall(similarity.ivf_topk(emb, queries, k=5, train_iters=3))
    assert trained >= untrained - 1e-9
    assert trained > 0.5
    # Training is deterministic: same iterations, same cells.
    c1 = similarity.train_ivf_centroids(emb, iters=2)
    c2 = similarity.train_ivf_centroids(emb, iters=2)
    assert c1 == c2


def test_kmeans_clusters_shape_and_determinism(spark, sf_dir):
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.tables import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.kmeans_clusters(emb, n_cells=4, iters=2)
    rows = out.collect()
    # total assignment: every vector exactly once, cells within range
    assert len(rows) == emb.count()
    assert {r["cell"] for r in rows} <= {1, 2, 3, 4}
    assert all(-1.0 <= r["centroid_sim"] <= 1.0 for r in rows)
    # deterministic end-to-end (hash seeds + decimal means, no RNG)
    again = similarity.kmeans_clusters(emb, n_cells=4, iters=2).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]
    # plan: assignment is a projection — no join operator at all
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_fuzzy_string_matches_blocked(spark):
    rows = [
        (1, "red widget", "B1"),
        (2, "red widgets", "B1"),   # distance 1, same block -> match
        (3, "red widget", "B2"),    # identical text, DIFFERENT block -> no pair
        (4, "blue bolt", "B1"),     # far from everything
        (5, "red midget", "B1"),    # distance 1 from id 1, 2 from id 2
    ]
    df = spark.createDataFrame(rows, "pid long, name string, brand string")
    out = dedup.fuzzy_string_matches(df, "name", "pid", "brand", max_distance=2)
    got = {(r["id_a"], r["id_b"]): r["distance"] for r in out.collect()}
    assert got == {(1, 2): 1, (1, 5): 1, (2, 5): 2}


def test_fuzzy_string_matches_length_band_is_lossless(spark):
    # A pair whose length gap exceeds max_distance can never be within
    # distance (edit distance >= length gap), so the prefilter must not
    # drop any true match: brute-force check on a small block.
    import itertools

    names = ["abc", "abcd", "abcdef", "xbc", "abzzzc", "ab"]
    rows = [(i, n, "B") for i, n in enumerate(names)]
    df = spark.createDataFrame(rows, "pid long, name string, brand string")
    out = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in dedup.fuzzy_string_matches(
            df, "name", "pid", "brand", max_distance=2
        ).collect()
    }

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    expect = {
        (i, j): lev(names[i], names[j])
        for i, j in itertools.combinations(range(len(names)), 2)
        if lev(names[i], names[j]) <= 2
    }
    assert out == expect


def test_ngram_jaccard_cap_equivalence_and_bound(docs):
    """Opt-in candidate cap: a cap above every doc's candidate count is
    row-identical to the uncapped run with truncated all-false; a
    binding cap keeps at most N pairs per id_a, all flagged."""
    base = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.4).collect()
    }
    loose = dedup.ngram_jaccard_pairs(
        docs, threshold=0.4, max_candidates_per_doc=100
    ).collect()
    assert {(r["id_a"], r["id_b"], r["jaccard"]) for r in loose} == base
    assert all(r["truncated"] is False for r in loose)
    tight = dedup.ngram_jaccard_pairs(
        docs, threshold=0.4, max_candidates_per_doc=1
    ).collect()
    per_a: dict[int, int] = {}
    for r in tight:
        per_a[r["id_a"]] = per_a.get(r["id_a"], 0) + 1
    assert all(v <= 1 for v in per_a.values())
    # doc 1 had >=2 candidates uncapped, so its surviving pair is flagged
    flagged = {r["id_a"] for r in tight if r["truncated"]}
    assert 1 in flagged
    # capped output is a subset of the uncapped pair set
    assert {
        (r["id_a"], r["id_b"], r["jaccard"]) for r in tight
    } <= base


def test_fuzzy_matches_cap_equivalence_and_bound(spark):
    """Opt-in duplicate-group cap: above every group size the result is
    row-identical with truncated all-false; a binding cap keeps the K
    smallest rids per (block, name) and flags affected pairs."""
    rows = [(i, "red widget", "B1") for i in range(1, 6)] + [
        (10, "red widgets", "B1"),
        (11, "blue bolt", "B1"),
    ]
    df = spark.createDataFrame(rows, "pid long, name string, brand string")
    base = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in dedup.fuzzy_string_matches(
            df, "name", "pid", "brand", max_distance=2
        ).collect()
    }
    loose = dedup.fuzzy_string_matches(
        df, "name", "pid", "brand", max_distance=2, max_ids_per_name=50
    ).collect()
    assert {(r["id_a"], r["id_b"], r["distance"]) for r in loose} == base
    assert all(r["truncated"] is False for r in loose)
    tight = dedup.fuzzy_string_matches(
        df, "name", "pid", "brand", max_distance=2, max_ids_per_name=2
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["truncated"] for r in tight}
    # "red widget" group capped to rids {1, 2}: self-pair (1,2) plus
    # cross-name pairs to the uncapped "red widgets" record 10
    assert set(got) == {(1, 2), (1, 10), (2, 10)}
    # every pair touching the capped group is flagged
    assert all(got.values())
    assert {
        (r["id_a"], r["id_b"], r["distance"]) for r in tight
    } <= base


def test_embedding_outliers_flags_injected_vector(spark):
    """Four tight vectors around [1,0] plus one at [9,0]: the far
    vector's centroid distance exceeds 2x the group mean; the tight
    ones stay unflagged. A second group with identical vectors has
    avg_dist 0 and flags nothing (0 > 2*0 is false)."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        similarity,
    )

    rows = [
        (1, "s", [1.0, 0.0]),
        (2, "s", [1.1, 0.0]),
        (3, "s", [0.9, 0.0]),
        (4, "s", [1.0, 0.1]),
        (5, "s", [9.0, 0.0]),
        (6, "t", [2.0, 2.0]),
        (7, "t", [2.0, 2.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )
    out = {r["vec_id"]: r for r in similarity.embedding_outliers(df).collect()}
    assert out[5]["is_outlier"] is True
    assert all(out[i]["is_outlier"] is False for i in (1, 2, 3, 4, 6, 7))
    assert out[6]["dist"] == 0.0 and out[6]["avg_dist"] == 0.0


def test_pca_project_semantics(spark):
    """Semantic gate the mirrored replica cannot provide (an ordering
    bug would be mirrored): components come out in DESCENDING
    explained-variance order, the dominant axis of an anisotropic
    cloud is recovered (component 0 separates the two x-stretched
    blobs), and projections are mean-centered (each component sums to
    ~0)."""
    import numpy as np

    rng = np.random.RandomState(7)
    pts = np.concatenate(
        [
            rng.normal([10.0, 0.0, 0.0], [1.0, 0.2, 0.1], (40, 3)),
            rng.normal([-10.0, 0.0, 0.0], [1.0, 0.2, 0.1], (40, 3)),
        ]
    ).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(pts)],
        "vec_id long, embedding array<float>",
    )
    out = similarity.pca_project(df, n_components=3).toPandas()
    assert len(out) == 80 * 3
    by_comp = {
        k: g["value"].to_numpy() for k, g in out.groupby("component")
    }
    var = [by_comp[k].var() for k in range(3)]
    assert var[0] > var[1] > var[2]
    # the x-axis dominates: component 0 must split the two blobs
    c0 = out[out["component"] == 0].sort_values("vec_id")["value"].to_numpy()
    assert (c0[:40] > 0).all() != (c0[40:] > 0).all()
    for k in range(3):
        assert abs(by_comp[k].sum()) < 1e-2 * len(by_comp[k])


def test_pca_whiten_unit_variance(spark):
    """whiten=True divides each component by sqrt(eigenvalue), so the
    projected sample variance (ddof=1, matching the covariance
    denominator) is ~1 on every kept component."""
    import numpy as np

    rng = np.random.RandomState(3)
    pts = (rng.normal(0, [5.0, 2.0, 0.5], (120, 3))).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(pts)],
        "vec_id long, embedding array<float>",
    )
    out = similarity.pca_project(df, n_components=3, whiten=True).toPandas()
    for k, g in out.groupby("component"):
        assert abs(g["value"].var(ddof=1) - 1.0) < 0.05, k


def test_cross_source_ngram_matrix_counts_distinct_shared_grams(spark):
    """Two sources sharing one 13-token span -> exactly the spans'
    distinct 13-grams in their cell; a third source with disjoint text
    appears in no pair; repeats within a source never inflate counts
    (the grain is DISTINCT grams per source)."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        dedup,
    )

    span = " ".join(f"w{i}" for i in range(14))  # 14 tokens -> two 13-grams
    rows = [
        (1, span + " tail_a only_a", "A"),
        (2, span + " tail_b", "B"),
        (3, span, "A"),  # duplicate span inside A: no double count
        (4, "totally different words " * 5, "C"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = dedup.cross_source_ngram_matrix(df).collect()
    cells = {(r["source_a"], r["source_b"]): r["shared_ngrams"] for r in out}
    # A and B share exactly the two 13-grams of the common 14-token span
    assert cells == {("A", "B"): 2}


def test_cross_source_ngram_matrix_short_docs_use_full_join(spark):
    """Docs shorter than n collapse to their full token-join (the
    word_shingles contract) — two sources with the same short doc
    share exactly that one gram."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        dedup,
    )

    df = spark.createDataFrame(
        [(1, "tiny shared doc", "A"), (2, "tiny shared doc", "B")],
        ["doc_id", "text", "source"],
    )
    out = dedup.cross_source_ngram_matrix(df).collect()
    assert [(r["source_a"], r["source_b"], r["shared_ngrams"]) for r in out] == [
        ("A", "B", 1)
    ]


def test_default_caps_on_with_uncapped_escape_hatch(docs):
    """Round 9: the worst-case caps are DEFAULT-ON — the default run
    carries the observability column (all-false below the cap) and
    ``uncapped=True`` restores the exact legacy schema/rows."""
    default_pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.4)
    assert "truncated" in default_pairs.columns
    esc = dedup.ngram_jaccard_pairs(docs, threshold=0.4, uncapped=True)
    assert "truncated" not in esc.columns
    assert {
        (r["id_a"], r["id_b"], r["jaccard"]) for r in default_pairs.collect()
    } == {(r["id_a"], r["id_b"], r["jaccard"]) for r in esc.collect()}


def test_hotspots_gram_cap_observable(spark):
    """Default-on gram cap: below the cap the report is identical with
    n_docs_truncated 0; a binding cap counts only each doc's first N
    grams and reports how many docs were cut — never silent."""
    rows = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f g h"),
        (3, "x y a b c z z z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = dedup.shared_gram_hotspots(df, n=3, min_docs=2, top=10)
    assert all(r["n_docs_truncated"] == 0 for r in full.collect())
    esc = dedup.shared_gram_hotspots(
        df, n=3, min_docs=2, top=10, uncapped=True
    )
    assert "n_docs_truncated" not in esc.columns
    assert {(r["gram"], r["n_docs"], r["n_occurrences"])
            for r in full.collect()} == {
        (r["gram"], r["n_docs"], r["n_occurrences"]) for r in esc.collect()
    }
    capped = dedup.shared_gram_hotspots(
        df, n=3, min_docs=2, top=10, max_grams_per_doc=2
    ).collect()
    # docs 1..3 each have 6 grams > 2 → all three truncated; only the
    # first two grams of each doc are counted
    assert all(r["n_docs_truncated"] == 3 for r in capped)
    grams = {r["gram"] for r in capped}
    assert grams == {"a b c", "b c d"}


def test_forget_documents_wires_purge_and_store(spark, tmp_path):
    """forget_documents (VERDICT r11 item 1): one call purges the
    primary versioned table (history rewritten) AND forgets the
    derived store rows (new store version, history kept) — stores
    first, so a mid-crash leaves the recrawl gate already open."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.sources import (
        versioned as vt,
    )

    docs_path = str(tmp_path / "docs")
    store_path = str(tmp_path / "sigs")
    frame = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id long, text string"
    )
    vt.write_version(frame, docs_path)
    vt.write_version(
        frame.select("doc_id", F.xxhash64("text").alias("fingerprint")),
        store_path,
    )
    out = dedup.forget_documents(
        spark,
        [1, 4],
        table_path=docs_path,
        table_key="doc_id",
        stores=((store_path, "doc_id"),),
    )
    assert out["stores"][store_path][0] == 2  # store committed v2
    # primary table: purged from EVERY version (history rewritten)
    assert sorted(
        r.doc_id for r in vt.read_version(spark, docs_path, 1).collect()
    ) == [0, 2, 3, 5]
    # store: current snapshot forgot the ids, history still has them
    assert sorted(
        r.doc_id for r in vt.read_version(spark, store_path).collect()
    ) == [0, 2, 3, 5]
    assert vt.read_version(spark, store_path, 1).count() == 6


def test_remove_from_ann_store_codes_first(spark, tmp_path):
    """remove_from_ann_store: forgets codes AND vectors (reverse of
    the append order), and tolerates a codes-only store (no vectors
    table)."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        similarity,
    )
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.sources import (
        versioned as vt,
    )

    path = str(tmp_path / "idx")
    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.5, 0.25]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    cent, books = similarity.train_ivf_pq_index(
        emb, n_cells=2, m=2, ksub=4, dim=4, train_iters=1
    )
    similarity.save_ivf_pq_index(spark, cent, books, path)
    similarity.build_ivf_pq_codes(spark, emb, path, index=(cent, books))
    out = similarity.remove_from_ann_store(spark, path, [2, 5])
    assert "vectors" not in out  # codes-only store tolerated
    kept = sorted(
        r.neighbor_id
        for r in vt.read_version(spark, f"{path}/codes").collect()
    )
    assert kept == [0, 1, 3, 4, 6, 7, 8, 9, 10, 11]
    vt.write_version(emb, f"{path}/vectors")
    out2 = similarity.remove_from_ann_store(spark, path, [7])
    assert out2["vectors"][0] == 2
    assert sorted(
        r.vec_id
        for r in vt.read_version(spark, f"{path}/vectors").collect()
    ) == [0, 1, 2, 3, 4, 5, 6, 8, 9, 10, 11]
    # pre-forget codes snapshot still time-travels
    assert vt.read_version(spark, f"{path}/codes", 1).count() == 12
