"""Similarity search over embedding columns (``array<float>``).

Green-field scale operators (SURVEY.md §2.5 / BASELINE.json north star):

- ``brute_force_topk`` — exact cosine top-k: broadcast the query set,
  compute dot products with ``zip_with``/``aggregate`` (JVM-side, no
  Python in the row loop), rank per query with a bounded window. Exact
  baseline; cost O(N·Q) — fine when Q is small even at huge N because
  the scan is embarrassingly parallel and shuffle-free until the final
  per-query top-k (tiny).
- ``lsh_topk`` — random-hyperplane (signed random projection) LSH: each
  vector gets a b-bit signature from deterministic pseudo-random
  hyperplanes; candidates = rows sharing a signature band with the
  query; exact cosine re-rank within candidates. The scale path: the
  bucket join shuffles only band-collision pairs.
- ``ivf_topk`` — IVF-style coarse quantization without a training step:
  deterministic sampled centroids, assign every vector to its nearest
  centroid (broadcast centroids), probe the closest ``n_probe`` cells
  per query. Mirrors FAISS IVF-Flat's structure in pure DataFrame ops.

All cosine math uses double precision and built-in higher-order
functions; embeddings normalize once up front so cosine = dot.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import trunc6


def _norm(vec: Column) -> Column:
    return F.sqrt(
        F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x)
    )


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def with_unit_vector(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "unit_vec"
) -> DataFrame:
    """L2-normalize once so every later cosine is a plain dot product."""
    n = _norm(F.col(vec_col))
    return df.withColumn(
        out_col,
        F.transform(F.col(vec_col), lambda x: x.cast("double") / n),
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Output: (query_id, neighbor_id, cosine_sim, rank). Excludes
    self-matches. The query side is broadcast — at 100 TB the corpus
    scan is the only big stage and it's shuffle-free; the window runs
    per query id over pre-filtered candidates.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim", trunc6(cosine(F.col("q_vec"), F.col("c_vec"))))
        .select("query_id", "neighbor_id", "cosine_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def _hyperplane(seed: int, dim: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane (hash-derived,
    reproducible across runs/partitions without RNG state)."""
    import hashlib  # noqa: PLC0415
    import struct  # noqa: PLC0415

    out: list[float] = []
    for i in range(dim):
        h = hashlib.md5(f"{seed}:{i}".encode()).digest()
        (u,) = struct.unpack("<Q", h[:8])
        out.append((u / 2**64) * 2.0 - 1.0)
    return out


def _probe_masks(bits_per_band: int, probe_hamming: int) -> list[int]:
    """Every XOR mask of Hamming weight ≤ ``probe_hamming`` over a
    ``bits_per_band``-bit band value — the multi-probe bucket ball."""
    from itertools import combinations  # noqa: PLC0415

    masks = [0]
    for d in range(1, probe_hamming + 1):
        for combo in combinations(range(bits_per_band), d):
            m = 0
            for i in combo:
                m |= 1 << i
            masks.append(m)
    return masks


def banded_signature_rows(
    df: DataFrame,
    planes: list[list[float]],
    bands: int,
    bits_per_band: int,
    id_col: str,
    vec_col: str,
    role: str,
) -> DataFrame:
    """Exploded (role_id, role_vec, band, band_bits) rows — band j's
    bit i = sign(vec · plane[j·b + i]) over plane slice [j·b, (j+1)·b)
    — computed in Arrow batches.

    Why not a Spark expression: a 920-plane signature as a
    ``zip_with``/``aggregate`` expression embeds a 58,880-double array
    literal whose analysis cost the driver pays on
    EVERY plan build (measured 16-21 s per query — the analyzer walks
    the literal's children across fixpoint passes). Here the plane
    matrix rides the UDF closure instead, and the batch math
    accumulates the dot products with a dim-ordered loop of
    elementwise adds — ``acc += x_d · y_d`` for d = 0..dim-1 — which
    is BIT-IDENTICAL to the sequential fold the pure-Python oracle
    replica (tools/gen_expected.py:seq_dot) evaluates: per (row,
    plane) the additions happen in the same order with no
    reassociation, independent of Arrow batch size (a single BLAS
    matmul would NOT guarantee that — gemm blocking reorders sums by
    shape). Verified by the unchanged expected-file oracle.
    """
    import numpy as np  # noqa: PLC0415

    pl = np.array(planes, dtype=np.float64)
    schema = T.StructType(
        [
            T.StructField(f"{role}_id", T.LongType()),
            T.StructField(f"{role}_vec", T.ArrayType(T.FloatType())),
            T.StructField("band", T.IntegerType()),
            T.StructField("band_bits", T.LongType()),
        ]
    )

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            # Rows whose length differs from the plane dim keep an
            # all-zero signature — a zip_with fold's semantics
            # (zip_with pads the shorter side with nulls, the fold
            # propagates null, null > 0 is false for every bit), which
            # the exact verify downstream then resolves. Identical-
            # length inputs (every production path) take the
            # vectorized kernel unchanged.
            dim_p = pl.shape[1]
            lens = np.fromiter(
                (len(v) for v in pdf[vec_col]), dtype=np.int64, count=len(pdf)
            )
            ok = lens == dim_p
            vals = np.zeros((len(pdf), bands), dtype=np.int64)
            if ok.any():
                mat = np.array(
                    [
                        np.asarray(v, dtype=np.float64)
                        for v, good in zip(pdf[vec_col], ok)
                        if good
                    ],
                    dtype=np.float64,
                )
                acc = np.zeros(
                    (int(ok.sum()), pl.shape[0]), dtype=np.float64
                )
                for d in range(dim_p):
                    acc += mat[:, d : d + 1] * pl[:, d][None, :]
                bits = acc > 0.0
                ok_vals = np.zeros((int(ok.sum()), bands), dtype=np.int64)
                for j in range(bands):
                    for i in range(bits_per_band):
                        ok_vals[:, j] |= (
                            bits[:, j * bits_per_band + i].astype(np.int64)
                            << i
                        )
                vals[ok] = ok_vals
            yield pd.DataFrame(
                {
                    f"{role}_id": np.repeat(
                        pdf[id_col].to_numpy(), bands
                    ),
                    f"{role}_vec": [
                        v for v in pdf[vec_col] for _ in range(bands)
                    ],
                    "band": np.tile(
                        np.arange(bands, dtype=np.int32), len(pdf)
                    ),
                    "band_bits": vals.reshape(-1),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(batches, schema)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits_per_band: int = 20,
    bands: int = 46,
    probe_hamming: int = 3,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH with banding
    and MULTI-PROBE (Lv et al. 2007): the query probes not just its
    own bucket per band but every bucket within ``probe_hamming`` bit
    flips, so each band's 20-bit key can be made highly selective
    (few random collisions) without collapsing recall. Candidates then
    get exact cosine re-ranking.

    Geometry (measured on the sf0.1 corpus, tools/scale_probe.py
    --recall): the r8 config (8 bands × 4 bits, no probing) scanned
    40% of the corpus per query for recall@5 0.74 — barely a filter
    (VERDICT r08 item 5). 46 bands × 20 bits with the Hamming≤3 probe
    ball measures recall@5 0.78 at candidate fraction 0.087 — 4.6×
    fewer exact scores at better recall. The full radius curve
    (RECALL_PROBE.json ``curves.lsh_probe_hamming``, r12): radius
    0→recall 0.00, 1→0.06@0.002, 2→0.26@0.018, 3→0.78@0.087,
    4→0.98@0.287 — the default radius 3 sits at the knee (the next
    step buys +0.20 recall for 3.3× the exact-score cost; callers
    needing ≥0.95 recall pass ``probe_hamming=4`` and pay it
    knowingly). Query-DIRECTED probing
    (flipping only the lowest-|margin| bits) was also swept and
    performs far WORSE here (recall 0.06-0.56 at equal probe budget):
    with true neighbors at cosine 0.35-0.45 each signature bit flips
    with ~0.35 probability nearly independent of the query's margin,
    so the margin carries no information about WHICH bits differ —
    naive ball probing is the right move in the near-orthogonal
    regime, contra the paper's near-neighbor intuition.

    Cost shape at 100 TB: the probe ball multiplies only the QUERY
    side (Q × bands × 1351 probe rows — broadcast), never the corpus;
    the corpus side stays one row per (vector, band). The broadcast
    probe rows carry ONLY (query_id, band, band_bits) — 24 bytes each,
    so the full ball for 10K queries is ~15 GB-rows → ~15 MB of longs,
    NOT 10K × 62K copies of the embedding (ADVICE r09: vectors in the
    probe ball detonate the broadcast at any realistic query count).
    Candidates reduce to distinct (query_id, neighbor_id) BEFORE any
    vector touches a shuffle; both vectors are re-joined by id for the
    exact cosine only after dedup. The 920-plane signature is ~29×
    more scan-side compute than the old 32-bit one — map-only work,
    the cheap currency — traded for 4.6× less candidate scoring, the
    shuffle-and-payload currency. The join key is (band, probed_bits):
    shuffle ∝ collisions, never O(N·Q).
    """
    n_planes = bands * bits_per_band
    planes = [_hyperplane(s, dim) for s in range(n_planes)]
    # The 920-plane signature is the most CPU-intense projection in the
    # ANN family; a small parquet yields one scan split and would
    # serialize it (30.7 s → 2.5 s measured at sf0.01). Spread the
    # corpus before the signature — at production scale the scan is
    # already split and AQE-exempt user repartition is a no-op cost
    # next to the projection. The conf may be "auto" under
    # AQE-managed partition counts (ADVICE r09) — fall back to the
    # context's default parallelism.
    spark = corpus.sparkSession
    conf_parts = str(spark.conf.get("spark.sql.shuffle.partitions"))
    n_parts = (
        int(conf_parts)
        if conf_parts.isdigit()
        else spark.sparkContext.defaultParallelism
    )
    corpus = corpus.repartition(n_parts)

    # one ≤64-bit signature PER BAND (total bits exceed one long),
    # each from its own plane slice — band j uses planes
    # [j*b, (j+1)*b), preserving the single-signature bit order.
    c = banded_signature_rows(
        corpus, planes, bands, bits_per_band, id_col, vec_col, "neighbor"
    )
    q = banded_signature_rows(
        queries, planes, bands, bits_per_band, id_col, vec_col, "query"
    )
    masks = _probe_masks(bits_per_band, probe_hamming)
    # one static array literal (SQL parse, no per-element py4j) —
    # the probe ball is the same for every band value.
    masks_lit = F.expr(
        "array(" + ",".join(f"{m}L" for m in masks) + ")"
    )
    # probe rows are id+key only — the embedding never rides the
    # broadcast or the candidate shuffle (ADVICE r09).
    q = q.select(
        "query_id",
        "band",
        F.explode(
            F.transform(masks_lit, lambda m: F.col("band_bits").bitwiseXOR(m))
        ).alias("band_bits"),
    )
    candidates = (
        c.select("neighbor_id", "band", "band_bits")
        .join(F.broadcast(q), ["band", "band_bits"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    # re-join both vectors by id: the query side is broadcast (Q rows);
    # the corpus side is a keyed equi-join against the deduped
    # candidate list — vectors appear exactly once per surviving pair.
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    nv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("neighbor_vec"),
    )
    scored = (
        candidates.join(F.broadcast(qv), "query_id")
        .join(nv, "neighbor_id")
        .withColumn(
            "cosine_sim",
            trunc6(cosine(F.col("query_vec"), F.col("neighbor_vec"))),
        )
        .select("query_id", "neighbor_id", "cosine_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def sampled_centroids(
    corpus: DataFrame, id_col: str, vec_col: str, n_cells: int
) -> DataFrame:
    """(cell, centroid) — deterministic pseudo-random seed centroids:
    the ``n_cells`` rows with the smallest id-hash. Planned as a top-k
    (TakeOrdered), so the seeding pass is one cheap scan even on a huge
    corpus.

    The id rides as a secondary sort key everywhere: ordering by the
    hash alone leaves xxhash64-collision ties engine-defined, and the
    pure-Python oracle (tools/gen_expected.py) breaks the same tie on
    id — the total order must match bit-for-bit on both sides."""
    return (
        corpus.select(
            F.xxhash64(F.col(id_col)).alias("__h"),
            F.col(id_col).alias("__sid"),
            F.col(vec_col).alias("centroid"),
        )
        .orderBy("__h", "__sid")
        .limit(n_cells)
        .withColumn(
            "cell", F.row_number().over(Window.orderBy("__h", "__sid"))
        )
        .select("cell", "centroid")
    )


def _centroid_literal(rows: list[tuple[int, list[float]]]):
    """Inline a bounded (cell, centroid) table as an array-of-structs
    literal — the FAISS posture of an in-memory coarse quantizer. Keeps
    cell assignment a pure projection: no broadcast exchange, no
    nested-loop join operator anywhere in the plan.

    Built as ONE ``F.expr`` SQL string, not nested ``F.lit`` calls: a
    cells×dim literal is hundreds of scalars, and per-scalar Column
    construction costs a py4j round-trip each (measured ~1.6 s per
    build at 8×64 — paid once per Lloyd iteration); ``F.lit`` of the
    whole nested list costs ~0.3 s of element-wise py4j conversion per
    plan build, and a transform-with-index struct wrapper is NOT
    constant-folded (it rebuilt the struct array per ROW, +1.4 s at
    sf0.1). ``repr(x)`` is the shortest round-trip decimal, so
    CAST('…' AS DOUBLE) reconstructs the identical double."""
    parts = []
    for cell, cen in rows:
        arr = ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in cen)
        parts.append(
            f"named_struct('cell', {int(cell)}, 'centroid', array({arr}))"
        )
    return F.expr("array(" + ",".join(parts) + ")")


def _cell_structs(vec: Column, centroid_lit):
    return F.transform(
        centroid_lit,
        lambda e: F.struct(
            (-cosine(vec, e["centroid"])).alias("nsim"),
            e["cell"].alias("cell"),
        ),
    )


def _nearest_cells(vec: Column, centroid_lit, probes: int):
    """array of the ``probes`` nearest cell ids for ``vec``.

    ``probes == 1`` (the per-row corpus assignment — the expression
    evaluated once per corpus row, i.e. the scale-critical path) picks
    the minimum struct directly instead of sorting all n_cells
    candidates: ``array_min`` over struct<nsim, cell> walks the same
    (sim DESC, cell ASC) total order as ``array_sort(...)[1]``, so the
    chosen cell is bit-identical, without the O(n log n) sort."""
    ranked = _cell_structs(vec, centroid_lit)
    if probes == 1:
        return F.array(F.array_min(ranked)["cell"])
    return F.transform(
        F.slice(F.array_sort(ranked), 1, probes), lambda s: s["cell"]
    )


def _cell_assign_arrays(cent):
    """Precomputed centroid arrays for :func:`_nearest_cells_np` —
    (cell_ids int64 (C,), cent_mat float64 (C, dim), cent_norms (C,)).
    Norms replay the ``_norm`` fold exactly: cumsum along dim is the
    same sequential ``acc + c_d·c_d`` chain, then one sqrt."""
    import numpy as np  # noqa: PLC0415

    # ascending cell id: the kernel's stable argsort breaks similarity
    # ties by ROW POSITION, which must equal the struct order's
    # cell-ascending tie-break regardless of the caller's list order
    rows = sorted(cent, key=lambda cv: cv[0])
    cell_ids = np.array([c for c, _ in rows], dtype=np.int64)
    cent_mat = np.array([v for _, v in rows], dtype=np.float64)
    cent_norms = np.sqrt(np.cumsum(cent_mat * cent_mat, axis=1)[:, -1])
    return cell_ids, cent_mat, cent_norms


def _nearest_cells_np(mat, cell_ids, cent_mat, cent_norms, probes):
    """(nearest cell ids (n, probes), row norms (n,), sorted nsims
    (n, probes)) for float64 rows
    ``mat`` — the numpy image of the :func:`_nearest_cells` /
    :func:`_cell_structs` expression, bit-identical by construction
    (r12; the expression form is interpreted per row — higher-order
    transform/aggregate never enter codegen — and measured ~1 ms/row
    at 16 cells × 64 dims, the dominant cost of every encode, probe
    and Lloyd assignment pass):

    - dot: dim-ordered ``acc += x_d·c_d`` accumulation — the exact
      sequential fold of ``_dot`` (no BLAS, no pairwise reassociation);
    - norms: cumsum fold + sqrt on both sides (``_norm``);
    - cosine: dot / (norm_v · norm_c), one multiply then one divide —
      the ``cosine`` op order;
    - ranking: stable argsort over -sim keeps the (sim DESC, cell ASC)
      struct total order, ties resolving to the smaller cell because
      rows arrive in ascending-cell order; NaN sorts last on both
      engines (Spark structs and numpy argsort).
    """
    import numpy as np  # noqa: PLC0415

    n = mat.shape[0]
    dots = np.zeros((n, len(cell_ids)))
    for d in range(mat.shape[1]):
        dots += mat[:, d : d + 1] * cent_mat[:, d][None, :]
    nv = np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])
    nsim = -(dots / (nv[:, None] * cent_norms[None, :]))
    order = np.argsort(nsim, axis=1, kind="stable")[:, :probes]
    return cell_ids[order], nv, np.take_along_axis(nsim, order, axis=1)


def _collect_centroids(
    centroids: DataFrame,
) -> list[tuple[int, list[float]]]:
    return [
        (r["cell"], [float(x) for x in r["centroid"]])
        for r in centroids.select("cell", "centroid").collect()
    ]


def train_ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    iters: int = 5,
    seeds: list[tuple[int, list[float]]] | None = None,
) -> list[tuple[int, list[float]]]:
    """Lloyd-iteration k-means refinement of the sampled seed centroids
    (cosine assignment, per-dimension mean update) — FAISS IVF training
    as a DataFrame loop. Returns the trained (cell, centroid) rows
    driver-side — O(n_cells × dim), the in-memory coarse quantizer.

    Per iteration: ONE corpus scan (assignment is a literal-centroid
    projection, zero joins) feeding one shuffle keyed (cell, dim) for
    the mean — linear in corpus size, map-side combinable. The driver
    assembles the O(n_cells × dim) per-dimension means into centroid
    lists itself (it must collect them anyway), so there is no second
    shuffle regrouping by cell. Cells that lose all members keep their
    previous centroid (the FAISS empty-cell rule) instead of vanishing.

    Deterministic end to end — and ENGINE-REPRODUCIBLE, which is what
    lets an independent oracle pin the result: hash-sampled seeds; the
    mean accumulates in DECIMAL(38,12) (exact, shuffle-order-free) with
    a single IEEE division after (double AVG would drift with partition
    order and flip near-tie assignments next iteration); assignment
    ties break to the smaller cell id.
    """
    # seeds: callers already holding a sampled_centroids prefix (the
    # IVF-PQ composition shares ONE hash-ordered sample job between
    # the coarse seeds and the PQ training sample) pass it in; the
    # list must be exactly what sampled_centroids(..., n_cells) would
    # return — same total order, cells 1..n_cells.
    cent = (
        list(seeds)
        if seeds is not None
        else _collect_centroids(
            sampled_centroids(corpus, id_col, vec_col, n_cells)
        )
    )
    import numpy as np  # noqa: PLC0415

    vecs = corpus.select(
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v")
    )
    for _ in range(iters):
        # Assignment + (cell, dim, val) explode in ONE Arrow batch
        # kernel (r12): the expression form paid a fresh n_cells×dim
        # literal's analysis+codegen per ITERATION plus the
        # interpreted per-row cosine scan, and needed a cache()
        # barrier so codegen wouldn't re-evaluate the assignment per
        # exploded element. The kernel is :func:`_nearest_cells_np`
        # (bit-identical math); the explode is a numpy repeat/tile;
        # the mean still accumulates in DECIMAL(38,12) over the same
        # value multiset, so trained centroids are unchanged.
        assign_arrays = _cell_assign_arrays(cent)

        def assign_batches(it, _arrays=assign_arrays):
            for pdf in it:
                if not len(pdf):
                    continue
                mat = np.vstack(pdf["__v"].to_numpy()).astype(np.float64)
                cells, _nv, _ns = _nearest_cells_np(mat, *_arrays, 1)
                n, dim = mat.shape
                yield pd.DataFrame(
                    {
                        "cell": np.repeat(
                            cells[:, 0].astype(np.int32), dim
                        ),
                        "dim": np.tile(np.arange(dim, dtype=np.int32), n),
                        "val": mat.reshape(-1),
                    }
                )

        means = (
            vecs.mapInPandas(assign_batches, "cell int, dim int, val double")
            .groupBy("cell", "dim")
            .agg(
                (
                    F.sum(F.col("val").cast("decimal(38,12)")).cast("double")
                    / F.count("val")
                ).alias("m")
            )
        )
        by_cell: dict[int, list[tuple[int, float]]] = {}
        for r in means.collect():
            by_cell.setdefault(r["cell"], []).append((r["dim"], float(r["m"])))
        updated = {
            cell: [m for _, m in sorted(dims)]
            for cell, dims in by_cell.items()
        }
        cent = [(cell, updated.get(cell, old)) for cell, old in cent]
    return cent


def kmeans_clusters(
    df: DataFrame,
    n_cells: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Iterative k-means clustering of an embedding corpus: Lloyd
    training (:func:`train_ivf_centroids`) then one assignment pass —
    (id, cell, trunc6 cosine to the final centroid) per vector. The
    registered face of the engine's iterative-algorithm family (the
    reference has none; SURVEY §2.5 greenfield).

    Scale: training is iters × (one scan + one (cell, dim)-keyed
    shuffle); the final assignment is a single scan-speed projection
    against the literal centroids. Nothing grows with corpus² and the
    driver holds only O(n_cells × dim) floats.
    """
    import numpy as np  # noqa: PLC0415

    cent = train_ivf_centroids(df, id_col, vec_col, n_cells, iters)
    assign_arrays = _cell_assign_arrays(cent)
    id_type = df.schema[id_col].dataType.simpleString()

    # Final assignment via the shared numpy kernel (see
    # _nearest_cells_np for the bit-identity argument with the
    # expression form). trunc6 is replayed as floor(x·1e6)/
    # 1e6 + 0.0 — floor of an integral-valued double divides to the
    # same double, and + 0.0 canonicalizes numpy's -0.0 the way SQL
    # floor-through-LONG never produces one.
    def assign_batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            mat = np.vstack(pdf["__v"].to_numpy()).astype(np.float64)
            cells, _nv, nsims = _nearest_cells_np(mat, *assign_arrays, 1)
            yield pd.DataFrame(
                {
                    id_col: pdf["__id"],
                    "cell": cells[:, 0],
                    "centroid_sim": np.floor(-nsims[:, 0] * 1e6) / 1e6
                    + 0.0,
                }
            )

    return (
        df.select(
            F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
        )
        .mapInPandas(
            assign_batches,
            f"{id_col} {id_type}, cell long, centroid_sim double",
        )
        .orderBy(id_col)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 4,
    train_iters: int = 0,
) -> DataFrame:
    """IVF-Flat-style ANN: deterministic centroids → cell assignment →
    probe the n_probe nearest cells per query → exact re-rank inside
    probed cells.

    With ``train_iters=0`` (default) centroids are the deterministic
    hash sample — a two-pass plan with no training loop, and the form
    the precomputed oracle pins. ``train_iters>0`` runs Lloyd
    refinement (:func:`train_ivf_centroids`) first, which tightens
    cells and raises recall at the same ``n_probe`` — the production
    posture at 100 TB, where training cost amortizes over every query.

    Cell assignment is a pure PROJECTION, not a join: the centroid
    table is O(n_cells × dim) by construction (the FAISS in-memory
    coarse quantizer), so it is collected once and inlined as an array
    literal; per-row argmax/top-probe runs inside whole-stage codegen
    with no broadcast exchange and no nested-loop operator anywhere in
    the plan. The probe join then shuffles only (query, cell) pairs.
    Negating the similarity inside the sort struct gives (sim DESC,
    cell ASC) under the default ascending struct order — the same
    deterministic tie-break the window form used.
    """
    if train_iters > 0:
        cent = train_ivf_centroids(corpus, id_col, vec_col, n_cells, train_iters)
    else:
        cent = _collect_centroids(
            sampled_centroids(corpus, id_col, vec_col, n_cells)
        )
    centroid_lit = _centroid_literal(cent)

    # assignment stays the literal-centroid EXPRESSION here (an Arrow
    # kernel was tried in r12 and measured 1.6× WORSE for this shape:
    # both join inputs became python stages, so the broadcast build
    # and the probe side each paid a worker round-trip that the
    # interpreted per-row scan never cost at these candidate volumes)
    def assign(df: DataFrame, role: str, probes: int) -> DataFrame:
        cells = _nearest_cells(F.col(vec_col), centroid_lit, probes)
        return df.select(
            F.col(id_col).alias(f"{role}_id"),
            F.col(vec_col).alias(f"{role}_vec"),
            F.explode(cells).alias("cell"),
        )

    c = assign(corpus, "neighbor", 1)
    q = assign(queries, "query", n_probe)
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine_sim", trunc6(cosine(F.col("query_vec"), F.col("neighbor_vec")))
        )
        .select("query_id", "neighbor_id", "cosine_sim")
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def cosine_dup_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding near-duplicate pairs: all (id_a < id_b) with
    cosine ≥ threshold.

    This is the O(N²) correctness baseline — a block nested-loop with
    exact cosine. It exists to oracle-check
    :func:`cosine_dup_pairs_lsh`, which is the 100 TB path; run the
    exact form only on bounded slices. Cosine is computed as
    dot/(norm·norm) in one pass (not via pre-normalized vectors) so the
    float rounding matches the oracle formula bit-for-bit.
    """
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    a = base.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"))
    b = base.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine_sim", trunc6(cosine(F.col("v_a"), F.col("v_b"))))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def cosine_dup_pairs_lsh(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int = 48,
    bands: int = 12,
) -> DataFrame:
    """Embedding near-dup pairs at scale: random-hyperplane LSH banding
    generates candidates (pairs sharing ≥1 signature band), then exact
    cosine verifies. Recall rises with more/narrower bands; the verify
    step keeps precision exact.

    Default banding is 12 bands × 4 bits. The old 8×2-bit config had
    only 4 keys per band, so ~90% of ALL pairs collided somewhere —
    candidate volume was effectively O(N²) (measured: 1.78M of 2.0M
    pairs at sf0.1), an all-pairs join wearing an LSH costume. At 4
    bits/band a random (sim≈0) pair collides in a band with p=1/16
    (~0.54 over 12 bands at this N; drops as signatures decorrelate
    with real data), while a threshold-level 0.4-cosine pair (bit-match
    p≈0.63) still lands together in ≥1 band with p≈0.90 — measured
    recall is tracked by tools/scale_probe.py against the exact
    baseline.

    Scale shape — verify INSIDE each band bucket, dedup survivors
    after. The earlier form materialized the distinct candidate-pair
    set (O(collisions) rows) and re-joined both vectors onto every
    pair, shipping ~128 doubles per pair through Arrow (measured:
    ~0.5 GB and two extra joins at sf0.1 for 1.07M candidates — the
    query's dominant cost). Here each (band, band_key) bucket flows
    once through ``applyInPandas`` — Arrow payload is O(N·bands) rows,
    not O(pairs) — and numpy verifies all in-bucket pairs row-wise,
    chunked to bound memory. A pair colliding in k bands is verified k
    times (k ≤ bands, cheap numpy-side) and collapsed by the final
    ``distinct``, which now runs on the tiny ≥threshold survivor set
    instead of the full candidate set. The bucket shuffle is pinned to
    the session shuffle parallelism because AQE sizes coalescing from
    the exchange's input bytes and cannot see the quadratic in-bucket
    compute.

    The verify math is row-wise products + axis-1 sums + floor-trunc —
    float-identical to the independent generator
    (tools/gen_expected.py), so the pair set and sims are unchanged
    from the join-based form.
    """
    planes = [_hyperplane(s, dim) for s in range(bits)]
    bits_per_band = bits // bands
    id_type = df.schema[id_col].dataType.simpleString()

    # Signatures + banding in ONE Arrow batch kernel
    # (:func:`banded_signature_rows` — r12): the expression form
    # (interpreted higher-order transform/zip_with/aggregate over
    # bits × dim per ROW — these never enter whole-stage codegen)
    # measured ~1 ms/row at 48 planes, the query's dominant stage.
    # The kernel's dim-ordered ``acc += x_d·y_d`` loop is the same
    # sequential fold bit-for-bit (see its docstring), and its band b
    # bit i = plane b·bits_per_band + i layout matches
    # bit_band_exprs(sig)'s shift/mask split exactly, so the banded
    # rows — hence candidate buckets, hence the verified pair set —
    # are unchanged (pinned by the committed expected files).
    banded = banded_signature_rows(
        df, planes, bands, bits_per_band, id_col, vec_col, "q"
    ).select(
        F.col("q_id").alias("id"),
        F.col("q_vec").alias("v"),
        "band",
        F.col("band_bits").alias("band_key"),
    )
    n_part = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    rep = banded.repartition(n_part, "band", "band_key")
    out_schema = f"id_a {id_type}, id_b {id_type}, cosine_sim double"
    chunk = 250_000  # pairs per numpy batch: bounds temporaries ~250 MB

    def bucket_verify(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np  # noqa: PLC0415

        ids = pdf["id"].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame(
                {
                    "id_a": pdf["id"].iloc[:0],
                    "id_b": pdf["id"].iloc[:0],
                    "cosine_sim": pd.Series([], dtype="float64"),
                }
            )
        mat = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
        # per-ROW norms once per bucket (r12): the chunk loop used to
        # recompute sqrt(Σx²) per PAIR side — identical doubles (same
        # per-row sum + sqrt, same product order), k× less work for a
        # row in k pairs
        norms = np.sqrt((mat * mat).sum(axis=1))
        ii, jj = np.triu_indices(n, 1)
        out_a, out_b, out_s = [], [], []
        for s in range(0, len(ii), chunk):
            i2, j2 = ii[s : s + chunk], jj[s : s + chunk]
            mat_a, mat_b = mat[i2], mat[j2]
            num = (mat_a * mat_b).sum(axis=1)
            den = norms[i2] * norms[j2]
            sim = np.floor(num / den * 1e6) / 1e6
            keep = sim >= threshold
            id_a, id_b = ids[i2[keep]], ids[j2[keep]]
            a_first = id_a < id_b
            out_a.append(np.where(a_first, id_a, id_b))
            out_b.append(np.where(a_first, id_b, id_a))
            out_s.append(sim[keep])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cosine_sim": np.concatenate(out_s),
            }
        )

    return (
        rep.groupBy("band", "band_key")
        .applyInPandas(bucket_verify, out_schema)
        .distinct()
    )


def cosine_dup_pairs_blocked(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """EXACT all-pairs cosine ≥ threshold via a blocked similarity join
    — the workhorse for mid-threshold embedding dedup, where LSH
    banding degenerates (band collision probability is too high to
    prune, so candidates ≈ all pairs and the per-pair machinery is pure
    overhead).

    Plan: hash every vector into one of ``n_blocks`` blocks; replicate
    each row to the ``n_blocks`` block-pairs it participates in
    (shuffle amplification = n_blocks, the classic blocked-matrix
    tradeoff — pick n_blocks ≈ sqrt(parallelism)); one
    ``applyInPandas`` per block pair does a single numpy matmul for
    all its pairs. O(N²/B²) work per task, BLAS throughput, and no
    per-pair join rows ever materialize JVM-side.
    """
    id_type = df.schema[id_col].dataType.simpleString()
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    tagged = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), blk.alias("blk")
    )
    rep = tagged.select(
        "id", "v", "blk",
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("other"),
    )
    left = rep.filter(F.col("blk") <= F.col("other")).select(
        F.col("blk").alias("bi"), F.col("other").alias("bj"),
        "id", "v", F.lit("L").alias("side"),
    )
    right = rep.filter(F.col("blk") > F.col("other")).select(
        F.col("other").alias("bi"), F.col("blk").alias("bj"),
        "id", "v", F.lit("R").alias("side"),
    )
    both = left.unionByName(right)

    out_schema = f"id_a {id_type}, id_b {id_type}, cosine_sim double"

    def compute(key, pdf):
        import numpy as np  # noqa: PLC0415

        bi, bj = key
        lhs = pdf[pdf["side"] == "L"]
        rhs = lhs if bi == bj else pdf[pdf["side"] == "R"]
        if len(lhs) == 0 or len(rhs) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine_sim": []})
        mat_l = np.vstack(lhs["v"].to_numpy()).astype(np.float64)
        mat_r = np.vstack(rhs["v"].to_numpy()).astype(np.float64)
        norm_l = np.sqrt((mat_l * mat_l).sum(axis=1))
        norm_r = np.sqrt((mat_r * mat_r).sum(axis=1))
        sim = (mat_l @ mat_r.T) / np.outer(norm_l, norm_r)
        sim = np.floor(sim * 1e6) / 1e6
        ids_l = lhs["id"].to_numpy()
        ids_r = rhs["id"].to_numpy()
        ii, jj = np.nonzero(sim >= threshold)
        id_a = ids_l[ii]
        id_b = ids_r[jj]
        # Same-block pairs appear twice (symmetric matrix): keep one
        # triangle. Cross-block pairs appear once in arbitrary id
        # order: keep all, normalize to (min, max). np.where (not
        # np.minimum) so non-numeric id dtypes (strings) work too.
        keep = (id_a < id_b) if bi == bj else (id_a != id_b)
        a_first = id_a < id_b
        lo = np.where(a_first, id_a, id_b)[keep]
        hi = np.where(a_first, id_b, id_a)[keep]
        return pd.DataFrame(
            {"id_a": lo, "id_b": hi, "cosine_sim": sim[ii, jj][keep]}
        )

    return both.groupBy("bi", "bj").applyInPandas(compute, out_schema)


def embedding_profile(
    df: DataFrame,
    vec_col: str = "embedding",
    group_col: str = "label",
) -> DataFrame:
    """Per-group embedding-corpus diagnostics: vector count, dimension,
    mean L2 norm, and centroid norm — the drift/collapse signals a
    training pipeline tracks per source (a centroid norm near the mean
    norm flags a degenerate, low-diversity cluster).

    All JVM-side: the per-vector norm is a sequential HOF fold
    (deterministic element order), the centroid is posexplode →
    per-(group, dim) mean — one shuffle keyed (group, dim), map-side
    combinable, so the exchange carries O(groups × dims) rows whatever
    the corpus size.

    Every cross-row SUM accumulates in DECIMAL(38,12), never double:
    double addition is accumulation-order-dependent across
    partitionings/engines, and these aggregates feed a floor-1e-6
    truncation for the exact oracle compare — a value ~1 ulp from a
    grid boundary would flip the floor nondeterministically. The
    decimal sum is exact and order-independent; the single division /
    sqrt that follows is one deterministic IEEE op, identical in any
    engine (same pattern as nation_trade_volume's revenue sums).
    """
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    sumsq = F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x)
    t6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    dsum = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")  # noqa: E731

    norms = df.select(F.col(group_col), F.sqrt(sumsq).alias("__norm"))
    per_group = norms.groupBy(group_col).agg(
        F.count("*").alias("n_vecs"),
        t6(dsum(F.col("__norm")) / F.count("*")).alias("avg_norm"),
    )
    dims = df.select(
        F.col(group_col), F.posexplode(vec).alias("pos", "x")
    )
    centroid = dims.groupBy(group_col, "pos").agg(
        (dsum(F.col("x")) / F.count("*")).alias("c")
    )
    cnorm = centroid.groupBy(group_col).agg(
        (F.max("pos") + 1).cast("long").alias("dim"),
        t6(F.sqrt(dsum(F.col("c") * F.col("c")))).alias("centroid_norm"),
    )
    return per_group.join(cnorm, group_col).select(
        group_col, "n_vecs", "dim", "avg_norm", "centroid_norm"
    ).orderBy(group_col)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN
# ---------------------------------------------------------------------------


def _scalar_unit(vec) -> list[float]:
    """Scalar left-fold normalization — the same IEEE sequence as
    ``with_unit_vector``'s aggregate, so driver-side sample vectors and
    engine-side column vectors land on identical doubles."""
    import math  # noqa: PLC0415

    acc = 0.0
    for x in vec:
        acc += float(x) * float(x)
    n = math.sqrt(acc)
    return [float(x) / n for x in vec]


def _refine_topk(
    shortlist: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact-cosine re-rank of a compressed-domain shortlist — the
    standard FAISS ``refine`` step (``IndexRefineFlat``): the
    approximate index proposes ~refine_factor×k candidates per query,
    then the candidates' ORIGINAL vectors are fetched and re-scored
    with true cosine so quantization error cannot misorder the final
    top-k. Output matches :func:`lsh_topk`/:func:`ivf_topk`:
    (query_id, neighbor_id, cosine_sim, rank).

    Scale shape: the shortlist is O(queries × refine_factor × k) rows —
    bounded by CONFIG, not corpus size — so it joins the corpus
    broadcast; one corpus-side probe scan, no extra shuffle of the
    corpus."""
    qvec = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    sl = shortlist.join(qvec, "query_id")  # tiny x tiny
    nvec = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv")
    )
    rescored = nvec.join(F.broadcast(sl), "neighbor_id").select(
        "query_id",
        "neighbor_id",
        trunc6(cosine(F.col("__qv"), F.col("__nv"))).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def train_pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 16,
    ksub: int = 64,
    dim: int = 64,
    train_sample: int = 512,
    iters: int = 3,
    sample: list[tuple[int, list[float]]] | None = None,
):
    """Per-subspace k-means codebooks trained on a BOUNDED deterministic
    sample — the FAISS posture (train on a sample in memory, encode the
    corpus distributed). Returns an (m, ksub, dim/m) float64 ndarray.

    The sample is the ``train_sample`` smallest-id-hash rows (the
    ``sampled_centroids`` total order), collected to the driver:
    O(train_sample × dim) — bounded by CONFIG, never by corpus size,
    the same justification as the IVF centroid literal. A caller that
    already collected that prefix (the IVF-PQ composition) passes it
    via ``sample`` to skip the collect job. Training is
    ``iters`` Lloyd rounds per subspace in numpy; every call is
    mirrored by the pure-Python oracle call-for-call, so the codebooks
    — and therefore the codes — are bit-identical. Empty clusters keep
    their previous centroid (deterministic, no re-seeding)."""
    import numpy as np  # noqa: PLC0415

    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    if sample is None:
        sample = _collect_centroids(
            sampled_centroids(corpus, id_col, vec_col, train_sample)
        )
    x = np.array([_scalar_unit(cen) for _, cen in sample], dtype=np.float64)
    n_seed = min(ksub, len(x))
    books = np.empty((m, n_seed, dsub), dtype=np.float64)
    for s in range(m):
        xs = x[:, s * dsub : (s + 1) * dsub]
        cs = xs[:n_seed].copy()  # hash-order seeds, already shuffled
        for _ in range(iters):
            d = ((xs[:, None, :] - cs[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            for c in range(n_seed):
                mask = a == c
                if mask.any():
                    cs[c] = xs[mask].mean(axis=0)
        books[s] = cs
    return books


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 16,
    ksub: int = 64,
    dim: int = 64,
    train_sample: int = 512,
    iters: int = 3,
    refine_factor: int = 0,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC) — Jégou et al., "Product quantization for nearest neighbor
    search" (TPAMI 2011): the compressed-domain scale path where even
    the VECTORS no longer fit the budget.

    - Vectors are unit-normalized (squared L2 then ranks like cosine)
      and split into ``m`` subspaces of ``dim/m`` dims.
    - Codebooks: per-subspace Lloyd-trained on a bounded deterministic
      sample (:func:`train_pq_codebooks`) — trained, not sampled,
      because on a near-orthogonal corpus sampled codebooks measured
      ~2× worse recall.
    - Encoding: Arrow-batched numpy argmin per subspace (ties → lowest
      code, numpy argmin semantics). A vector becomes ``m`` small ints
      — here 16 codes standing in for 64 doubles, so the ADC scan set
      is ~32× smaller than the raw vectors.
    - Query: per query an m×ksub LUT of subspace distances computed
      once (same numpy kernel); each corpus row's approximate distance
      is m LUT lookups summed in subspace order by a plain expression
      fold — fixed IEEE sequence, replayed exactly by the pure-Python
      oracle.

    Scale shape: training is driver-bounded (sample × dim); encoding
    and LUTs are shuffle-free Arrow map stages; the ADC scan is one
    pass over the CODES with the (small by contract) query LUTs
    broadcast; the only shuffle is the final per-query top-k. Compose
    with IVF cells to cut the scanned fraction — this operator is the
    compressed scorer.

    ``refine_factor > 0`` adds the FAISS refine step: the ADC pass
    keeps only a top-(refine_factor × k) shortlist per query, which is
    then re-ranked by TRUE cosine over the original vectors
    (:func:`_refine_topk`) — measured recall@5 rises 0.40 → 0.92 at
    refine_factor=10 on the sf0.1 corpus (RECALL_PROBE.json) for one
    extra config-bounded broadcast join. Output columns switch from
    ``pq_dist`` to ``cosine_sim`` accordingly.
    """
    import numpy as np  # noqa: PLC0415

    dsub = dim // m
    books = train_pq_codebooks(
        corpus, id_col, vec_col, m, ksub, dim, train_sample, iters
    )
    id_type = corpus.schema[id_col].dataType.simpleString()

    def unit(df: DataFrame) -> DataFrame:
        return with_unit_vector(df, vec_col, "__u")

    def encode_batches(it):
        for pdf in it:
            x = np.vstack(pdf["__u"].to_numpy()).astype(np.float64)
            out = np.empty((len(x), m), dtype=np.int32)
            for s in range(m):
                xs = x[:, s * dsub : (s + 1) * dsub]
                d = ((xs[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
                out[:, s] = d.argmin(axis=1)
            yield pd.DataFrame(
                {"neighbor_id": pdf["__id"], "codes": list(out)}
            )

    def lut_batches(it):
        for pdf in it:
            x = np.vstack(pdf["__u"].to_numpy()).astype(np.float64)
            rows = []
            for i in range(len(x)):
                rows.append(
                    [
                        (
                            (
                                x[i, s * dsub : (s + 1) * dsub][None, :]
                                - books[s]
                            )
                            ** 2
                        ).sum(axis=1).tolist()
                        for s in range(m)
                    ]
                )
            yield pd.DataFrame({"query_id": pdf["__id"], "lut": rows})

    codes = unit(corpus).select(
        F.col(id_col).alias("__id"), "__u"
    ).mapInPandas(encode_batches, f"neighbor_id {id_type}, codes array<int>")
    luts = unit(queries).select(
        F.col(id_col).alias("__id"), "__u"
    ).mapInPandas(
        lut_batches, f"query_id {id_type}, lut array<array<double>>"
    )
    # ADC: one pass over codes × (broadcast) query LUTs; codes are
    # 0-based numpy argmin indexes, element_at is 1-based. Unrolled
    # chain (same add order as the fold) — see :func:`_adc_dist`.
    dist = _adc_dist(m)
    scored = (
        codes.crossJoin(F.broadcast(luts))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            trunc6(dist).alias("pq_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("pq_dist").asc(), F.col("neighbor_id")
    )
    if refine_factor > 0:
        shortlist = (
            scored.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= refine_factor * k)
            .select("query_id", "neighbor_id")
        )
        return _refine_topk(shortlist, corpus, queries, k, id_col, vec_col)
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 16,
    ksub: int = 64,
    dim: int = 64,
    train_sample: int = 512,
    iters: int = 3,
    train_iters: int = 0,
    refine_factor: int = 0,
) -> DataFrame:
    """IVF-PQ: the composed FAISS ``IVFx,PQy`` index — coarse cells cut
    the scanned fraction to ~n_probe/n_cells, PQ codes shrink what IS
    scanned ~32×. Together they answer ANN against data that fits
    neither a full scan budget nor a vector-sized memory budget.

    Coarse stage: the deterministic sampled-centroid literal and
    cosine cell assignment of :func:`ivf_topk` (cell choice is a pure
    projection). Fine stage: the trained subspace codebooks, Arrow
    numpy encoding, and LUT-summed asymmetric distances of
    :func:`pq_topk` — but the ADC join is keyed on ``cell``, so the
    shuffle carries only (probed-cell, codes) pairs instead of the
    all-pairs cross of the flat PQ scan.

    ``train_iters > 0`` Lloyd-refines the coarse centroids
    (:func:`train_ivf_centroids`) so probed cells cover more true
    neighbors; ``refine_factor > 0`` exact-re-ranks the ADC
    top-(refine_factor × k) shortlist per query with true cosine
    (:func:`_refine_topk`, output columns ``cosine_sim``/``rank``) —
    the two standard FAISS quality knobs, both config-bounded. The
    measured n_probe curve (RECALL_PROBE.json ``curves.ivf_pq_n_probe``,
    r12 — 16 cells, refine 16×, this corpus): 1→recall@5 0.24 @ 0.061
    scanned, 2→0.40@0.127, 4→0.50@0.25, 8→0.82@0.501, 16→0.98@1.0.
    The registered default n_probe=8 is the knee this NEAR-ORTHOGONAL
    corpus allows (true neighbors at cosine 0.35–0.45 spread across
    cells, so recall rises roughly linearly in scanned fraction — on
    clustered real embeddings the same curve saturates far earlier
    and a smaller n_probe buys the same recall).
    Residual encoding (quantizing x − centroid, FAISS's third knob)
    was measured and deliberately NOT adopted: on this near-orthogonal
    corpus the coarse centroids explain little variance, and the
    residual-PQ shortlist recall came out WORSE (0.72 vs 0.82 raw at
    identical probe/refine settings) while adding a per-(query, cell)
    LUT cost — revisit only for corpora with real cluster structure.
    Without them, ranking is by compressed-domain distance
    (deterministic; the pure-Python oracle replays cells, codes, LUTs,
    and the fold call-for-call either way).
    """
    cent, books = train_ivf_pq_index(
        corpus, id_col, vec_col, n_cells, m, ksub, dim,
        train_sample, iters, train_iters,
    )
    return _ivf_pq_scan(
        corpus, queries, cent, books, k, id_col, vec_col,
        n_probe, refine_factor,
    )


def train_ivf_pq_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    m: int = 16,
    ksub: int = 64,
    dim: int = 64,
    train_sample: int = 512,
    iters: int = 3,
    train_iters: int = 0,
):
    """Train the IVF-PQ index artifact — (coarse centroids, subspace
    codebooks) — WITHOUT scanning anything: the training half of
    :func:`ivf_pq_topk`, split out (VERDICT r09 item 3) so the index
    can be trained once, persisted to the versioned table layer
    (:func:`save_ivf_pq_index`), and reused across incremental
    batches instead of being retrained per query. Deterministic:
    identical inputs + params → bit-identical centroids and books."""
    # ONE hash-ordered sample job serves both trainers: the coarse
    # seeds are exactly the first n_cells rows of the PQ training
    # sample (identical sampled_centroids total order), so there is no
    # second TakeOrdered collect against the corpus.
    base_sample = _collect_centroids(
        sampled_centroids(
            corpus, id_col, vec_col, max(train_sample, n_cells)
        )
    )
    base_sample = sorted(base_sample)  # cell asc == hash total order
    seeds = base_sample[:n_cells]
    if train_iters > 0:
        cent = train_ivf_centroids(
            corpus, id_col, vec_col, n_cells, train_iters, seeds=seeds
        )
    else:
        cent = seeds
    books = train_pq_codebooks(
        corpus, id_col, vec_col, m, ksub, dim, train_sample,
        iters, sample=base_sample[:train_sample],
    )
    return cent, books


def save_ivf_pq_index(spark, cent, books, path: str) -> dict:
    """Commit a trained IVF-PQ index to the VERSIONED table layer —
    two index-sized tables, ``{path}/centroids`` (cell, centroid) and
    ``{path}/codebooks`` (subspace, code, centroid) — the embedding
    analog of the image dHash store (operators/dedup.py:
    media_incremental): at 100 TB nobody retrains per query;
    the index is state, batches are data. Atomic versioned commits
    give rollback/time-travel over index generations for free; the
    payload is O(n_cells·dim + m·ksub·dim/m) doubles — kilobytes —
    and parquet round-trips IEEE doubles exactly, so a loaded index
    reproduces the retrain path bit-for-bit."""
    from ..sources import versioned  # noqa: PLC0415

    # ONE-slice local relations (r12): plain createDataFrame slices
    # these KILOBYTE-sized tables across defaultParallelism, so each
    # commit launched 32 tasks and wrote 32 tiny files — and every
    # later index load paid 32 footer reads (guide §6: small files
    # hurt twice). One slice from the start is the right layout for
    # index-sized state at any scale; measured 2.8–6.7 s → 0.5 s per
    # write. (NOT coalesce(1): that makes one task deserialize all 32
    # pickled parent partitions serially — measured 7.2 s.)
    def one_slice(rows, schema):
        return spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), schema
        )

    cent_df = one_slice(
        [(int(c), [float(x) for x in v]) for c, v in cent],
        "cell int, centroid array<double>",
    )
    book_rows = [
        (s, c, [float(x) for x in books[s][c]])
        for s in range(books.shape[0])
        for c in range(books.shape[1])
    ]
    book_df = one_slice(
        book_rows, "subspace int, code int, centroid array<double>"
    )
    return {
        "centroids": versioned.write_version(cent_df, f"{path}/centroids"),
        "codebooks": versioned.write_version(book_df, f"{path}/codebooks"),
    }


def load_ivf_pq_index(spark, path: str, version: int | None = None):
    """Load a persisted IVF-PQ index (latest version by default, or
    time-travel to a prior index generation). Bounded collect —
    n_cells + m·ksub rows by construction, never corpus-scaled."""
    import numpy as np  # noqa: PLC0415

    from ..sources import versioned  # noqa: PLC0415

    cent = sorted(
        (r["cell"], [float(x) for x in r["centroid"]])
        for r in versioned.read_version(
            spark, f"{path}/centroids", version
        ).collect()
    )
    rows = versioned.read_version(
        spark, f"{path}/codebooks", version
    ).collect()
    m = 1 + max(r["subspace"] for r in rows)
    n_seed = 1 + max(r["code"] for r in rows)
    dsub = len(rows[0]["centroid"])
    books = np.empty((m, n_seed, dsub), dtype=np.float64)
    for r in rows:
        books[r["subspace"], r["code"]] = [float(x) for x in r["centroid"]]
    return cent, books


def ivf_pq_topk_indexed(
    corpus: DataFrame,
    queries: DataFrame,
    index_path: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    refine_factor: int = 0,
    version: int | None = None,
) -> DataFrame:
    """IVF-PQ ADC scan against a PERSISTED index: load centroids +
    codebooks from the versioned layer and score ``corpus`` (typically
    an incremental batch) without any training job — the persist-once
    lifecycle VERDICT r09 item 3 asked for. Bit-identical to
    :func:`ivf_pq_topk` on the same data when the index was trained on
    it (pinned by the oracle and pytest)."""
    cent, books = load_ivf_pq_index(
        corpus.sparkSession, index_path, version
    )
    return _ivf_pq_scan(
        corpus, queries, cent, books, k, id_col, vec_col,
        n_probe, refine_factor,
    )


def ivf_pq_codes_table(
    corpus: DataFrame,
    cent,
    books,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(neighbor_id, cell, codes) for every corpus vector — the
    ENCODE stage of IVF-PQ as a standalone frame, so the codes can be
    committed to the versioned layer and never recomputed: at 100 TB
    the corpus is encoded ONCE at load time and every later query
    ADC-scans the 32×-smaller persisted codes, not the vectors
    (:func:`build_ivf_pq_codes` / :func:`ivf_pq_topk_from_codes`).
    Map-only (literal-centroid cell assignment + Arrow numpy argmin
    per subspace), zero shuffles; deterministic — identical index +
    vectors → bit-identical codes."""
    import numpy as np  # noqa: PLC0415

    m, dsub = books.shape[0], books.shape[2]
    assign_arrays = _cell_assign_arrays(cent)
    id_type = corpus.schema[id_col].dataType.simpleString()

    # Cell assignment + unit-normalization moved INTO the Arrow batch
    # (r12, was the interpreted _nearest_cells/with_unit_vector
    # expression pair feeding the kernel): one pass computes norms,
    # units and cells via :func:`_nearest_cells_np` — bit-identical
    # math (see its docstring) — and only (id, vec) crosses the
    # boundary instead of (id, unit, cell).
    def encode_batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            mat = np.vstack(pdf["__v"].to_numpy()).astype(np.float64)
            cells, nv, _ns = _nearest_cells_np(mat, *assign_arrays, 1)
            x = mat / nv[:, None]
            out = np.empty((len(x), m), dtype=np.int32)
            for s in range(m):
                xs = x[:, s * dsub : (s + 1) * dsub]
                d = ((xs[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
                out[:, s] = d.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf["__id"],
                    "cell": cells[:, 0].astype(np.int32),
                    "codes": list(out),
                }
            )

    return corpus.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
    ).mapInPandas(
        encode_batches,
        f"neighbor_id {id_type}, cell int, codes array<int>",
    )


def build_ivf_pq_codes(
    spark,
    corpus: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index=None,
) -> int:
    """Encode ``corpus`` with the persisted index and COMMIT the codes
    as ``{index_path}/codes`` (versioned, replace) — the initial-load
    half of the persisted-codes lifecycle. Callers already holding
    the index artifacts pass ``index=(cent, books)`` to skip the
    bounded load collect (parquet round-trips IEEE doubles exactly,
    so both paths are bit-identical — pinned by pytest)."""
    from ..sources import versioned  # noqa: PLC0415

    cent, books = index or load_ivf_pq_index(spark, index_path)
    codes = ivf_pq_codes_table(corpus, cent, books, id_col, vec_col)
    return versioned.write_version(codes, f"{index_path}/codes")


def append_ivf_pq_codes(
    spark,
    batch: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index=None,
) -> int:
    """Encode an INCREMENTAL batch with the persisted index and append
    its codes to ``{index_path}/codes`` — no retraining, no re-encode
    of history: the append commit writes only the new batch's prefix
    (manifest extension, nothing rewritten). The crawl-load posture:
    each load encodes its own rows once; queries scan the union.
    ``index=(cent, books)`` skips the per-call load collect (see
    :func:`build_ivf_pq_codes`)."""
    from ..sources import versioned  # noqa: PLC0415

    cent, books = index or load_ivf_pq_index(spark, index_path)
    codes = ivf_pq_codes_table(batch, cent, books, id_col, vec_col)
    return versioned.write_version(
        codes, f"{index_path}/codes", mode="append"
    )


def ivf_pq_topk_from_codes(
    spark,
    queries: DataFrame,
    index_path: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    refine_corpus: DataFrame | None = None,
    refine_factor: int = 0,
    version: int | None = None,
    codes_version: int | None = None,
    index=None,
) -> DataFrame:
    """IVF-PQ top-k where the ONLY corpus-scaled input is the
    PERSISTED codes snapshot — vectors are never rescanned (except
    the candidate shortlist when ``refine_factor > 0``, which joins
    ``refine_corpus`` by id for the exact re-rank). Completes the
    persist-once lifecycle (VERDICT r09 item 3): train once
    (:func:`train_ivf_pq_index` → :func:`save_ivf_pq_index`), encode
    each load once (:func:`build_ivf_pq_codes` /
    :func:`append_ivf_pq_codes`), and answer every query from index +
    codes alone — the FAISS on-disk posture expressed as versioned
    parquet tables. ``codes_version`` time-travels the CODES snapshot
    independently of the index generation (the codes table commits on
    every append/forget while the index is trained once — the
    :func:`remove_from_ann_store` pre/post comparison needs exactly
    this split). Callers already holding the index artifacts pass
    ``index=(cent, books)`` to skip the bounded load collect (both
    paths bit-identical — parquet round-trips doubles exactly)."""
    from ..sources import versioned  # noqa: PLC0415

    cent, books = index or load_ivf_pq_index(spark, index_path, version)
    codes = versioned.read_version(
        spark,
        f"{index_path}/codes",
        version if codes_version is None else codes_version,
    )
    return _ivf_pq_scan(
        refine_corpus,
        queries,
        cent,
        books,
        k,
        id_col,
        vec_col,
        n_probe,
        refine_factor,
        codes=codes,
    )


def _probe_table(
    queries: DataFrame,
    cent,
    books,
    n_probe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, cells, lut) — ONE row per query, the PROBE half of
    every ADC scan, shared by :func:`_ivf_pq_scan` and
    :func:`semantic_dedup_incremental` so both paths carry bit-
    identical LUT math. One Arrow pass builds BOTH probe halves: the
    LUT (numpy, per query) and the probed-cell list (assignment stays
    the deterministic literal cosine). The LUT is carried ONCE per
    query — :func:`_adc_scores` explodes the cells into the tiny
    (query_id, cell) broadcast and re-attaches the LUT by a second
    query_id broadcast join, so broadcast bytes are flat in
    ``n_probe`` (VERDICT r11 item 4: the earlier per-(query, cell)
    row shape replicated each ~16 KB LUT ``n_probe``×, growing the
    broadcast as batch × n_probe × LUT). An even earlier form ran
    q_cells and luts as two shuffle-joined DataFrames: correct, but
    two extra tiny jobs inside the broadcast build (~0.5 s of the r05
    embedding_topk_ivf_pq regression — VERDICT r05 item 3)."""
    import numpy as np  # noqa: PLC0415

    m, dsub = books.shape[0], books.shape[2]
    assign_arrays = _cell_assign_arrays(cent)
    id_type = queries.schema[id_col].dataType.simpleString()

    # Cell probing + unit-normalization moved INTO the Arrow batch
    # (r12, same rationale and bit-identity as ivf_pq_codes_table's
    # encode): one pass per query computes norms, units, the n_probe
    # nearest cells and the LUT.
    def probe_batches(it):
        for pdf in it:
            if not len(pdf):  # empty Arrow batch: vstack would raise
                continue
            mat = np.vstack(pdf["__v"].to_numpy()).astype(np.float64)
            probe_cells, nv, _ns = _nearest_cells_np(
                mat, *assign_arrays, n_probe
            )
            x = mat / nv[:, None]
            qid, cells, luts = [], [], []
            for i in range(len(x)):
                lut_i = [
                    (
                        (x[i, s * dsub : (s + 1) * dsub][None, :] - books[s])
                        ** 2
                    ).sum(axis=1).tolist()
                    for s in range(m)
                ]
                qid.append(pdf["__id"].iloc[i])
                cells.append([int(c) for c in probe_cells[i]])
                luts.append(lut_i)
            yield pd.DataFrame(
                {"query_id": qid, "cells": cells, "lut": luts}
            )

    return queries.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
    ).mapInPandas(
        probe_batches,
        f"query_id {id_type}, cells array<int>, lut array<array<double>>",
    )


def _adc_scores(codes_df: DataFrame, probe: DataFrame, m: int) -> DataFrame:
    """Cell-keyed ADC join against a de-replicated probe: the probed-
    cell fan-out broadcasts only (query_id, cell) pairs — bytes flat
    in ``n_probe`` — and each query's LUT is attached ONCE by a
    second query_id-keyed broadcast join after the cell match
    (VERDICT r11 item 4). Row multiset per (query, cell, neighbor)
    and the sequential :func:`_adc_dist` add order are unchanged, so
    results stay bit-identical to the replicated-LUT shape (expected
    oracles unchanged). Returns (query_id, neighbor_id, pq_dist)."""
    cells = probe.select("query_id", F.explode("cells").alias("cell"))
    luts = probe.select("query_id", "lut")
    return (
        codes_df.join(F.broadcast(cells), "cell")
        .join(F.broadcast(luts), "query_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id", trunc6(_adc_dist(m)).alias("pq_dist")
        )
    )


def _adc_dist(m: int):
    """ADC distance of one (codes, lut) row pair — a statically
    UNROLLED chain of m ``element_at`` adds (r12; was a
    zip_with+aggregate fold, which higher-order-function evaluation
    interprets per candidate row — measured the hottest expression of
    the gate's decisions job). The chain adds ``lut[s][code_s]`` in
    subspace order from a 0.0 seed — the same IEEE sequence as the
    fold and the replica's ``acc += lut[s][code]`` loop, but as a
    plain expression tree whole-stage codegen compiles."""
    acc = F.lit(0.0)
    for s in range(m):
        acc = acc + F.element_at(
            F.element_at(F.col("lut"), s + 1),
            F.element_at(F.col("codes"), s + 1) + F.lit(1),
        )
    return acc


def _ivf_pq_scan(
    corpus: DataFrame,
    queries: DataFrame,
    cent,
    books,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    refine_factor: int = 0,
    codes: DataFrame | None = None,
) -> DataFrame:
    """The scan half of IVF-PQ (see :func:`ivf_pq_topk` for the full
    cost-shape story): literal-centroid cell assignment, Arrow numpy
    encoding, per-query LUTs, cell-keyed ADC join, per-query top-k,
    optional exact re-rank. A precomputed ``codes`` frame (the
    persisted-codes path) skips the encode stage entirely; ``corpus``
    is then only consulted for the exact re-rank shortlist."""
    if codes is None:
        codes = ivf_pq_codes_table(corpus, cent, books, id_col, vec_col)
    if refine_factor > 0 and corpus is None:
        raise ValueError(
            "refine_factor > 0 needs refine_corpus (original vectors)"
        )
    # probe feeds two projections inside _adc_scores (cells + luts);
    # pin it once so the tiny Arrow probe pass runs once, not twice
    # (the [[aqe-exchange-reuse]] discipline).
    probe = _probe_table(
        queries, cent, books, n_probe, id_col, vec_col
    ).localCheckpoint(eager=False)
    scored = _adc_scores(codes, probe, books.shape[0])
    w = Window.partitionBy("query_id").orderBy(
        F.col("pq_dist").asc(), F.col("neighbor_id")
    )
    if refine_factor > 0:
        shortlist = (
            scored.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= refine_factor * k)
            .select("query_id", "neighbor_id")
        )
        return _refine_topk(shortlist, corpus, queries, k, id_col, vec_col)
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def _probe_codes_table(
    batch: DataFrame,
    cent,
    books,
    n_probe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, vec, cells, lut, cell, codes) — the PROBE half
    (:func:`_probe_table`) and the ENCODE half
    (:func:`ivf_pq_codes_table`) of the incremental gate computed in
    ONE Arrow pass over the batch, with the raw vector carried through
    so the exact-verify joins and the output spine read the pinned
    frame instead of rescanning the batch. Each half is bit-identical
    to its standalone kernel: same :func:`_nearest_cells_np`
    assignment (the n_probe head's first cell IS the encode cell),
    same LUT math, same per-subspace argmin."""
    import numpy as np  # noqa: PLC0415

    m, dsub = books.shape[0], books.shape[2]
    assign_arrays = _cell_assign_arrays(cent)
    id_type = batch.schema[id_col].dataType.simpleString()
    vec_type = batch.schema[vec_col].dataType.simpleString()

    def batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            mat = np.vstack(pdf["__v"].to_numpy()).astype(np.float64)
            probe_cells, nv, _ns = _nearest_cells_np(
                mat, *assign_arrays, max(n_probe, 1)
            )
            x = mat / nv[:, None]
            out = np.empty((len(x), m), dtype=np.int32)
            for s in range(m):
                xs = x[:, s * dsub : (s + 1) * dsub]
                d = ((xs[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
                out[:, s] = d.argmin(axis=1)
            cells, luts = [], []
            for i in range(len(x)):
                lut_i = [
                    (
                        (x[i, s * dsub : (s + 1) * dsub][None, :] - books[s])
                        ** 2
                    ).sum(axis=1).tolist()
                    for s in range(m)
                ]
                cells.append([int(c) for c in probe_cells[i]])
                luts.append(lut_i)
            yield pd.DataFrame(
                {
                    "query_id": pdf["__id"],
                    "vec": pdf["__v"],
                    "cells": cells,
                    "lut": luts,
                    "cell": probe_cells[:, 0].astype(np.int32),
                    "codes": list(out),
                }
            )

    return batch.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    ).mapInPandas(
        batches,
        f"query_id {id_type}, vec {vec_type}, cells array<int>,"
        " lut array<array<double>>, cell int, codes array<int>",
    )


def semantic_dedup_incremental(
    spark,
    batch: DataFrame,
    index_path: str,
    corpus: DataFrame,
    threshold: float = 0.4,
    n_probe: int = 8,
    adc_margin: float = 1.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    version: int | None = None,
    index=None,
) -> DataFrame:
    """Incremental SEMANTIC near-dup gate over the persisted IVF-PQ
    codes store — the embedding leg of the crawl-load posture
    (operators/dedup.py: ``minhash_incremental`` for text,
    ``media_incremental`` for image, audio and video fingerprints):
    each incoming batch of embeddings is checked against the
    already-ingested corpus AND against its own batch without ever
    rescanning the corpus vectors.

    The store is the versioned CODES table (``{index_path}/codes``,
    written by :func:`build_ivf_pq_codes` / :func:`append_ivf_pq_codes`
    — ~m bytes per vector, 32× smaller than the raw embeddings) plus
    the kilobyte-sized index itself. The gate:

    1. loads the persisted index (no training job — the index is
       state, batches are data);
    2. probes each batch vector's ``n_probe`` nearest coarse cells and
       builds its ADC LUT in one Arrow pass (:func:`_probe_table`,
       bit-identical to the top-k scan path);
    3. ADC-RANGE-CHECKS the store codes in the probed cells: for unit
       vectors ``‖a−b‖² = 2−2·cos(a,b)``, so candidates are code rows
       with quantized distance ≤ ``(2−2·threshold)·adc_margin`` — the
       margin absorbs PQ quantization error; the shuffle carries only
       probed-cell pairs, never all-pairs against the corpus;
    4. EXACTLY verifies the bounded shortlist by id-joining the
       original vectors (batch side + ``corpus`` side) and keeping
       pairs with exact cosine ≥ ``threshold`` — precision is exact,
       recall is bounded by probing (misses outside the probed cells
       or the ADC radius, like the probabilistic MinHash store; unlike
       the pigeonhole Hamming stores, which are exact within radius);
    5. elects greedy first-occurrence survivors: min store id, else
       min smaller batch id — the shared incremental-dedup contract
       (operators/dedup.py:_elect).

    ``corpus`` is the raw vectors table consulted ONLY for the exact
    re-rank shortlist join (candidate-bounded) — at 100 TB the gate
    scans the codes snapshot, not the vectors. Callers append the
    keepers' codes via :func:`append_ivf_pq_codes` so the next batch
    dedups against everything kept so far.

    INVARIANT (ADVICE r11): every id in the codes store must appear in
    ``corpus`` — a code row whose vector is absent survives the ADC
    range check but is silently dropped by the re-rank id-join,
    quietly reducing recall instead of erroring. Writers must commit
    vectors BEFORE codes (``run_streaming_semantic_dedup`` does) so a
    mid-commit crash leaves an orphan vector (harmless — never probed
    without its code), never an unverifiable code.

    Output: one row per batch vector — (id_col, matched_store_id,
    matched_batch_id, keep), -1 sentinels for no-match.
    """
    from ..sources import versioned  # noqa: PLC0415
    from .dedup import _elect  # noqa: PLC0415

    # callers holding the artifacts (one load per micro-batch, shared
    # with the keeper append) pass index=(cent, books); both paths are
    # bit-identical since parquet round-trips doubles exactly
    cent, books = index or load_ivf_pq_index(spark, index_path, version)
    store_codes = versioned.read_version(
        spark, f"{index_path}/codes", version
    )
    # ONE Arrow pass over the batch computes probe cells + LUT + PQ
    # codes AND carries the raw vector (r12; was: an eager batch pin,
    # an eager probe pass, and a second encode pass inside the
    # decisions job — three batch scans and two python stages). The
    # pinned combined frame feeds every consumer: probe halves, batch
    # codes, both verify vector joins, and the output spine. Each
    # half is bit-identical to its former standalone kernel — same
    # _nearest_cells_np assignment, same LUT math, same codes argmin.
    combined = _probe_codes_table(
        batch, cent, books, n_probe, id_col, vec_col
    ).localCheckpoint(eager=True)
    probe = combined.select("query_id", "cells", "lut")
    batch_codes = combined.select(
        F.col("query_id").alias("neighbor_id"), "cell", "codes"
    )
    adc_radius = (2.0 - 2.0 * threshold) * adc_margin

    def shortlist(codes_df: DataFrame) -> DataFrame:
        return _adc_scores(codes_df, probe, books.shape[0]).filter(
            F.col("pq_dist") <= F.lit(adc_radius)
        )

    batch_vecs = combined.select(
        F.col("query_id").alias("__qid"), F.col("vec").alias("__qv")
    )

    def verified(cands: DataFrame, right: DataFrame, out: str) -> DataFrame:
        right_vecs = right.select(
            F.col(id_col).alias("__nid"), F.col(vec_col).alias("__nv")
        )
        # exact cosine recomputed dot/(norm·norm) — the oracle formula
        # (cosine_dup_pairs discipline), not the pre-normalized dot.
        return (
            cands.join(F.broadcast(batch_vecs),
                       F.col("query_id") == F.col("__qid"))
            .join(right_vecs, F.col("neighbor_id") == F.col("__nid"))
            .withColumn(
                "cosine_sim",
                trunc6(cosine(F.col("__qv"), F.col("__nv"))),
            )
            .filter(F.col("cosine_sim") >= F.lit(threshold))
            .groupBy("query_id")
            .agg(F.min("neighbor_id").alias(out))
            .select(F.col("query_id").alias(id_col), out)
        )

    store_hits = verified(shortlist(store_codes), corpus, "matched_store_id")
    batch_hits = verified(
        shortlist(batch_codes).filter(
            F.col("neighbor_id") < F.col("query_id")
        ),
        combined.select(
            F.col("query_id").alias(id_col), F.col("vec").alias(vec_col)
        ),
        "matched_batch_id",
    )
    return _elect(
        combined.select(F.col("query_id").alias(id_col)),
        store_hits,
        batch_hits,
        id_col,
    )


def embedding_outliers(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    group_col: str = "label",
    factor: float = 2.0,
) -> DataFrame:
    """Per-source embedding outlier detection — flag vectors whose L2
    distance to their source centroid exceeds ``factor ×`` the source's
    mean distance: the corrupt-embedding / wrong-batch filter a
    training pipeline runs before semantic dedup or ANN indexing
    (a zeroed, truncated, or mis-normalized vector lands far from its
    source's centroid).

    Scale shape: centroids are one posexplode → (group, dim)-keyed
    mean (the exchange carries O(groups × dims) rows, map-side
    combined); they come back as a per-group ARRAY via a broadcast
    join (O(groups) rows), so the distance pass is map-only — a
    sequential ``zip_with``/``aggregate`` fold per vector, no shuffle.
    The per-group mean distance is one more decimal-exact aggregate.

    Determinism discipline (same as ``embedding_profile``): per-vector
    folds are sequential HOFs (element order fixed in any engine),
    cross-row sums accumulate in DECIMAL(38,12), and both the distance
    and the group mean are floor-truncated at 1e-6 BEFORE the flag
    comparison, so the outlier verdict is bit-reproducible.
    """
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    t6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    dsum = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")  # noqa: E731

    dims = df.select(
        F.col(group_col), F.posexplode(vec).alias("pos", "x")
    )
    centroid = dims.groupBy(group_col, "pos").agg(
        (dsum(F.col("x")) / F.count("*")).alias("c")
    )
    cent_arr = centroid.groupBy(group_col).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "c"))),
            lambda s: s["c"],
        ).alias("__cvec")
    )
    sq = F.zip_with(vec, F.col("__cvec"), lambda x, c: (x - c) * (x - c))
    # truncate each distance IMMEDIATELY (per-row transcendental →
    # trunc6, the repo-wide rule): the group mean then sums exact
    # 6-decimal values in DECIMAL(28,6), so it can never land a last
    # ulp from a floor boundary the way a raw-double sum can
    dist = t6(F.sqrt(F.aggregate(sq, F.lit(0.0), lambda a, x: a + x)))
    with_dist = df.join(F.broadcast(cent_arr), group_col).select(
        F.col(id_col), F.col(group_col), dist.alias("__dist")
    )
    dsum6 = lambda c: F.sum(c.cast("decimal(28,6)")).cast("double")  # noqa: E731
    stats = with_dist.groupBy(group_col).agg(
        t6(dsum6(F.col("__dist")) / F.count("*")).alias("__avg")
    )
    return (
        with_dist.join(F.broadcast(stats), group_col)
        .select(
            id_col,
            group_col,
            F.col("__dist").alias("dist"),
            F.col("__avg").alias("avg_dist"),
            (
                F.col("__dist") > F.lit(factor) * F.col("__avg")
            ).alias("is_outlier"),
        )
    )


def pca_project(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_components: int = 4,
    whiten: bool = False,
) -> DataFrame:
    """Distributed PCA projection of an embedding column — the
    dimensionality-reduction / whitening step an embedding pipeline
    runs before clustering or coarse quantization (sklearn
    ``PCA(n_components, whiten)`` semantics, re-expressed for a corpus
    that does not fit one machine).

    Scale shape: the covariance moments come from ONE Arrow-batched
    scan — each batch reduces to its O(dim²) per-batch integer moment
    sums IN numpy (vectorized outer products; measured ~3× — 4.3 s →
    1.6 s warm at sf0.1 — over the equivalent explode-into-hash-
    aggregate expression form, whose per-row dim²/2 struct
    allocations dominate), so the only shuffle
    carries #batches × O(dim²) rows regardless of corpus size. Driver
    work is the O(dim²) moment collect + one ``eigh`` of the dim×dim
    matrix (same bounded-driver-state argument as the k-means/PQ
    trainers above); the projection pass is a shuffle-free expression
    map with the mean and component matrix folded in as broadcast
    literals.

    Determinism (this is what makes the pure-Python expected-oracle
    replica, tools/gen_expected.py:gen_pca_project, exact): float32
    products are EXACT in double (24-bit significands), each term is
    floor-scaled to a 1e-12 integer grid, and the moment sums
    accumulate those integers in DECIMAL(38,0) — exact and
    order-independent, so the covariance matrix handed to ``eigh`` is
    bit-identical on every run and both sides of the oracle run the
    same LAPACK on it. Components order by descending eigenvalue
    (ties: ascending component index) and pin sign so the
    largest-|loading| coordinate is positive; per-row projections are
    sequential ``F.aggregate`` folds (mirrored fold order in the
    replica) truncated to 6 decimals.

    Output: (id_col, component, value) — ``n_components`` rows per
    input row, exploded to scalars for the driver contract. Rows with
    a NULL or wrong-width vector are dropped (documented, counted
    nowhere better than the caller's own quality checks).
    """
    import numpy as np  # noqa: PLC0415

    dim_row = df.select(F.size(F.col(vec_col)).alias("d")).filter(
        F.col("d") > 0
    ).first()
    if dim_row is None:
        raise ValueError("pca_project: no non-empty vectors")
    dim = dim_row["d"]
    if not 1 <= n_components <= dim:
        raise ValueError(f"n_components={n_components} outside [1, {dim}]")
    clean = df.filter(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
    )

    vec = F.col(vec_col)

    from pyspark.sql.types import (  # noqa: PLC0415
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    moment_schema = StructType(
        [
            StructField("i", IntegerType()),
            StructField("j", IntegerType()),
            StructField("v", LongType()),
            StructField("n", LongType()),
        ]
    )
    iu, ju = np.triu_indices(dim)

    def moment_batches(it):
        import pandas as pd  # noqa: PLC0415

        # Preallocate the (chunk, dim, dim) outer-product work buffers
        # ONCE per task and compute into them with out=/copyto: the
        # chunked loop used to allocate ~3 fresh large temporaries per
        # chunk, which glibc serves by mmap and munmaps on free, so
        # every chunk re-paid the kernel page faults (measured ~1 ms/
        # page on this host: 36 s for a 2000×64 corpus; 0.06 s into
        # warm buffers). Buffer reuse is the guide §4.5 discipline
        # (init heavyweight state once per task); the op sequence
        # (multiply, multiply, floor, int64 cast, sum) is the same
        # IEEE/int math as before, and int64 chunk sums are exact, so
        # the decimal aggregate — hence the PCA basis — is
        # bit-identical at any chunk size.
        chunk_rows = 256
        obuf = np.empty((chunk_rows, dim, dim))
        oibuf = np.empty((chunk_rows, dim, dim), dtype=np.int64)
        fbuf = np.empty((chunk_rows, dim))
        fibuf = np.empty((chunk_rows, dim), dtype=np.int64)
        for pdf in it:
            # int64 per-chunk sums can't overflow
            # (|x·y|·1e12 < 1e12 per row, chunks ≤ 2000 rows)
            for lo in range(0, len(pdf), chunk_rows):
                chunk = pdf[vec_col].iloc[lo : lo + chunk_rows]
                if not len(chunk):
                    continue
                mat = np.vstack(chunk.to_numpy()).astype(np.float64)
                r = len(mat)
                fb = fbuf[:r]
                np.multiply(mat, 1e12, out=fb)
                np.floor(fb, out=fb)
                fib = fibuf[:r]
                np.copyto(fib, fb, casting="unsafe")
                f = fib.sum(axis=0)
                ob = obuf[:r]
                np.multiply(mat[:, :, None], mat[:, None, :], out=ob)
                np.multiply(ob, 1e12, out=ob)
                np.floor(ob, out=ob)
                oib = oibuf[:r]
                np.copyto(oib, ob, casting="unsafe")
                s = oib.sum(axis=0)[iu, ju]
                yield pd.DataFrame(
                    {
                        "i": np.concatenate(
                            [np.arange(dim), iu]
                        ).astype(np.int32),
                        "j": np.concatenate(
                            [np.full(dim, -1), ju]
                        ).astype(np.int32),
                        "v": np.concatenate([f, s]),
                        "n": np.full(dim + len(iu), len(mat)),
                    }
                )

    moments = (
        clean.select(vec_col)
        .mapInPandas(moment_batches, moment_schema)
        .groupBy("i", "j")
        .agg(
            F.sum(F.col("v").cast("decimal(38,0)")).alias("s"),
            F.sum("n").alias("n"),
        )
        .collect()
    )
    if not moments:
        raise ValueError("pca_project: need >= 2 vectors")
    n_rows = next(int(r["n"]) for r in moments if r["j"] == -1)
    if n_rows < 2:
        raise ValueError("pca_project: need >= 2 vectors")
    mu = np.zeros(dim)
    second = np.zeros((dim, dim))
    for r in moments:
        v = float(int(r["s"])) / 1e12
        if r["j"] == -1:
            mu[r["i"]] = v / n_rows
        else:
            second[r["i"], r["j"]] = v
            second[r["j"], r["i"]] = v
    cov = (second - n_rows * np.outer(mu, mu)) / (n_rows - 1)
    eigvals, eigvecs = np.linalg.eigh(cov)
    order = np.argsort(-eigvals, kind="stable")[:n_components]
    comps = []
    for k in order:
        v = eigvecs[:, k]
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        if whiten and eigvals[k] > 0:
            v = v / np.sqrt(eigvals[k])
        comps.append([float(x) for x in v])

    # Projection pass: one shuffle-free Arrow-batched map with the mean
    # and component matrix held as a numpy closure (O(dim × k) state, the
    # same bounded-broadcast posture as the literal form). The fold
    # semantics are preserved EXACTLY: Spark's sequential F.aggregate
    # left-fold (0.0 + p1) + p2 … is replayed by np.cumsum along the dim
    # axis (strictly sequential accumulation), on the identical doubles
    # (float32→float64 widening is exact, centered and product terms are
    # single IEEE ops on both sides), then floor-truncated like trunc6.
    # An earlier expression form ran the k×dim fold interpreted per row
    # (higher-order functions don't codegen) and dominated the 10×
    # scale probe: 2.39 → 11.44 s, 4.8× growth (VERDICT r05 item 4).
    comp_mat = np.array(comps, dtype=np.float64)  # (k, dim)
    mu_arr = mu.copy()
    id_type = df.schema[id_col].dataType.simpleString()
    n_comp = len(comps)

    def project_batches(it):
        import pandas as pd  # noqa: PLC0415

        # Same once-per-task work-buffer discipline as moment_batches
        # (the fresh (rows, k, dim) product + cumsum temporaries paid
        # the mmap first-touch faults per batch); op sequence and the
        # strictly-sequential cumsum fold are unchanged, so projected
        # values stay bit-identical.
        chunk_rows = 512
        pbuf = np.empty((chunk_rows, n_comp, dim))
        cbuf = np.empty((chunk_rows, n_comp, dim))
        for pdf in it:
            for lo in range(0, len(pdf), chunk_rows):
                ids_chunk = pdf[id_col].iloc[lo : lo + chunk_rows]
                if not len(ids_chunk):
                    continue
                mat = np.vstack(
                    pdf[vec_col].iloc[lo : lo + chunk_rows].to_numpy()
                ).astype(np.float64)
                r = len(mat)
                centered = mat - mu_arr[None, :]
                # (rows, k, dim) products, cumsum over dim =
                # sequential fold
                pb = pbuf[:r]
                np.multiply(
                    centered[:, None, :], comp_mat[None, :, :], out=pb
                )
                cb = cbuf[:r]
                np.cumsum(pb, axis=2, out=cb)
                folds = cb[:, :, -1]
                # + 0.0 canonicalizes -0.0 → +0.0 (exact identity for
                # every other double): Spark's trunc6 floors through
                # LONG, which never yields a negative zero, and the
                # fold's 0.0 seed absorbs a leading -0.0 the cumsum
                # would keep.
                vals = np.floor(folds * 1e6) / 1e6 + 0.0
                ids = np.repeat(ids_chunk.to_numpy(), n_comp)
                yield pd.DataFrame(
                    {
                        id_col: ids,
                        "component": np.tile(
                            np.arange(n_comp, dtype=np.int64), r
                        ),
                        "value": vals.reshape(-1),
                    }
                )

    return clean.select(id_col, vec_col).mapInPandas(
        project_batches,
        f"{id_col} {id_type}, component long, value double",
    )


def remove_from_ann_store(spark, index_path: str, ids) -> dict:
    """Forget vectors from the persisted IVF-PQ store (VERDICT r11
    item 1): remove their rows from ``{index_path}/codes``
    (neighbor_id) and, when the gate's vectors table exists, from
    ``{index_path}/vectors`` (vec_id). Each removal is an anti-join
    rewrite committed as a NEW VERSION
    (sources/versioned.py:remove_ids) — a deleted vector disappears
    from :func:`ivf_pq_topk_from_codes` and from the
    :func:`semantic_dedup_incremental` gate immediately, while time
    travel still answers pre-forget states.

    Crash ordering — the REVERSE of the append order: codes are
    removed FIRST, vectors second, so a crash between the two commits
    leaves an orphan vector (harmless: never probed without its code)
    and never an unverifiable code — the codes ⊆ vectors invariant
    the exact re-rank id-join depends on (ADVICE r11). The index
    itself (centroids/codebooks) is statistics, not content — it
    keeps serving and needs no retrain."""
    from ..sources import versioned  # noqa: PLC0415

    out = {
        "codes": versioned.remove_ids(
            spark, f"{index_path}/codes", ids, "neighbor_id"
        )
    }
    if versioned.table_versions(f"{index_path}/vectors"):
        out["vectors"] = versioned.remove_ids(
            spark, f"{index_path}/vectors", ids, "vec_id"
        )
    return out
