"""Generate independent expected outputs for the approximate operators.

The LSH/IVF-family queries (`minhash_lsh_dups`, `simhash_near_dups`,
`embedding_topk_lsh`, `embedding_topk_ivf`, `embedding_cosine_dups_lsh`)
use Spark's ``xxhash64``, which DuckDB cannot reproduce in SQL — so
their DuckDB oracle reads a precomputed expected parquet instead. This
script computes those expected outputs with implementations INDEPENDENT
of the Spark operators: pure-Python XXH64 (``tools/pyxxh64.py``, itself
verified bit-for-bit against Spark), sequential-sum float math matching
the SQL ``aggregate`` semantics, and numpy only where the Spark side is
numpy too (the Arrow-vectorized verify of ``cosine_dup_pairs_lsh``).

Usage: python tools/gen_expected.py [sf_dir] [out_dir]
Defaults: /root/testdata/sf0.01 → /root/repo/expected/sf0.01

The outputs are committed; ``oracle_sql()`` reads them via
``read_parquet`` at the driver's comparison SF (0.01).
"""

from __future__ import annotations

import math
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from tools.pyxxh64 import xxhash64

SIGN = 1 << 63
M64 = (1 << 64) - 1


def to_signed(u: int) -> int:
    return u - (1 << 64) if u >= SIGN else u


def trunc6(x: float) -> float:
    return math.floor(x * 1e6) / 1e6


# --- text primitives (mirror operators/dedup.py semantics exactly) -----


def tokens(text: str) -> list[str]:
    return re.split(r"\s+", text.strip().lower())


def word_shingles(text: str, n: int = 3) -> list[str]:
    toks = tokens(text)
    k = len(toks) - (n - 1)
    out = []
    for i in range(max(k, 1)):
        out.append(" ".join(toks[i : i + n]))
    seen: dict[str, None] = {}
    for s in out:
        seen.setdefault(s)
    return list(seen)


def shingle_hash_sets(docs: pd.DataFrame, n: int = 3) -> dict[int, list[int]]:
    return {
        int(r.doc_id): [xxhash64(s) for s in word_shingles(r.text, n)]
        for r in docs.itertuples()
    }


# --- minhash_lsh_dups --------------------------------------------------


def gen_minhash(docs: pd.DataFrame) -> pd.DataFrame:
    num_hashes, bands, threshold = 64, 16, 0.5
    rows_per_band = num_hashes // bands
    sets = shingle_hash_sets(docs, 3)
    # per-seed chained prefix: xxhash64(int i, long h) re-seeds with the
    # int hash first, so precompute that half once per i
    sigs: dict[int, list[int]] = {}
    for doc_id, hs in sets.items():
        sig = [
            min(xxhash64(("int", i), h) for h in hs)
            for i in range(num_hashes)
        ]
        sigs[doc_id] = sig
    buckets: dict[tuple[int, int], list[int]] = {}
    for doc_id, sig in sigs.items():
        for b in range(bands):
            chunk = sig[b * rows_per_band : (b + 1) * rows_per_band]
            band_hash = xxhash64(",".join(str(x) for x in chunk))
            buckets.setdefault((b, band_hash), []).append(doc_id)
    cands: set[tuple[int, int]] = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cands.add((ids[i], ids[j]))
    out = {"id_a": [], "id_b": [], "jaccard": []}
    for id_a, id_b in sorted(cands):
        sa, sb = set(sets[id_a]), set(sets[id_b])
        common = len(sa & sb)
        jac = trunc6(common / (len(sa) + len(sb) - common))
        if jac >= threshold:
            out["id_a"].append(id_a)
            out["id_b"].append(id_b)
            out["jaccard"].append(jac)
    return pd.DataFrame(out).astype(
        {"id_a": "int64", "id_b": "int64", "jaccard": "float64"}
    )


def gen_minhash_incremental(
    docs: pd.DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
) -> pd.DataFrame:
    """Mirror of operators/dedup.py:minhash_incremental over the
    registered even/odd doc_id split: even ids are the signature
    store, odd ids the incoming batch; verification is the
    signature-component match fraction (pure integer equality)."""
    sigs = _minhash_sigs(docs, num_hashes)
    store = {d: s for d, s in sigs.items() if d % 2 == 0}
    batch = {d: s for d, s in sigs.items() if d % 2 == 1}
    return _minhash_decisions(store, batch, threshold, num_hashes, bands)


def _minhash_sigs(
    docs: pd.DataFrame, num_hashes: int = 64
) -> dict[int, list[int]]:
    sets = shingle_hash_sets(docs, 3)
    return {
        d: [
            min(xxhash64(("int", i), h) for h in hs)
            for i in range(num_hashes)
        ]
        for d, hs in sets.items()
    }


def _minhash_decisions(
    store: dict[int, list[int]],
    batch: dict[int, list[int]],
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
) -> pd.DataFrame:
    """Shared store-vs-batch decision replica (the
    minhash_incremental contract) over prebuilt signature maps —
    factored out of :func:`gen_minhash_incremental` so
    :func:`gen_dedup_store_forget` mirrors the identical banding and
    verification math against two store snapshots."""
    rpb = num_hashes // bands

    def band_keys(sig: list[int]) -> list[tuple[int, int]]:
        return [
            (
                b,
                xxhash64(
                    ",".join(str(x) for x in sig[b * rpb : (b + 1) * rpb])
                ),
            )
            for b in range(bands)
        ]

    store_buckets: dict[tuple[int, int], list[int]] = {}
    for d, s in store.items():
        for key in band_keys(s):
            store_buckets.setdefault(key, []).append(d)
    batch_buckets: dict[tuple[int, int], list[int]] = {}
    for d, s in batch.items():
        for key in band_keys(s):
            batch_buckets.setdefault(key, []).append(d)

    def est_ok(a: list[int], b: list[int]) -> bool:
        matches = sum(1 for x, y in zip(a, b) if x == y)
        return matches >= threshold * num_hashes

    out = {
        "doc_id": [],
        "matched_store_id": [],
        "matched_batch_id": [],
        "keep": [],
    }
    for d in sorted(batch):
        s = batch[d]
        store_cands = {
            c for key in band_keys(s) for c in store_buckets.get(key, [])
        }
        batch_cands = {
            c
            for key in band_keys(s)
            for c in batch_buckets.get(key, [])
            if c < d
        }
        ms = min(
            (c for c in store_cands if est_ok(s, store[c])), default=-1
        )
        mb = min(
            (c for c in batch_cands if est_ok(s, batch[c])), default=-1
        )
        out["doc_id"].append(d)
        out["matched_store_id"].append(ms)
        out["matched_batch_id"].append(mb)
        out["keep"].append(ms == -1 and mb == -1)
    return pd.DataFrame(out).astype(
        {
            "doc_id": "int64",
            "matched_store_id": "int64",
            "matched_batch_id": "int64",
            "keep": "bool",
        }
    )


def gen_dedup_store_forget(docs: pd.DataFrame) -> pd.DataFrame:
    """Mirror of the dedup_store_forget query (VERDICT r11 item 1):
    even doc_ids build the signature store; ids %10==0 are then
    FORGOTTEN (remove_from_store); the recrawl batch re-submits the
    forgotten docs' text plus %10==4 retained controls under new ids
    (+1_000_000). Decisions are computed against BOTH store snapshots
    — pre_forget (time travel: the ghost signature still flags its
    own recrawl) and post_forget (the recrawl is KEPT; controls stay
    flagged)."""
    sigs = _minhash_sigs(docs)
    store_pre = {d: s for d, s in sigs.items() if d % 2 == 0}
    store_post = {d: s for d, s in store_pre.items() if d % 10 != 0}
    batch = {
        d + 1_000_000: s
        for d, s in store_pre.items()
        if d % 10 in (0, 4)
    }
    frames = []
    for label, store in (
        ("pre_forget", store_pre),
        ("post_forget", store_post),
    ):
        f = _minhash_decisions(store, batch)
        f.insert(0, "snapshot", label)
        frames.append(f)
    return pd.concat(frames, ignore_index=True)


# --- simhash_near_dups -------------------------------------------------


def gen_simhash(docs: pd.DataFrame) -> pd.DataFrame:
    max_hamming = 3
    n_bands = max_hamming + 1
    bits_per_band = 64 // n_bands
    mask = (1 << bits_per_band) - 1
    sh_by_id: dict[int, int] = {}
    for r in docs.itertuples():
        hs = np.array(
            [xxhash64(t) for t in tokens(r.text)], dtype=np.int64
        ).astype(np.uint64)
        n = len(hs)
        sh_u = 0
        for i in range(64):
            c = int(((hs >> np.uint64(i)) & np.uint64(1)).sum())
            if 2 * c > n:
                sh_u |= 1 << i
        sh_by_id[int(r.doc_id)] = to_signed(sh_u)
    buckets: dict[tuple[int, int], list[int]] = {}
    for doc_id, sh in sh_by_id.items():
        for b in range(n_bands):
            key = (sh >> (b * bits_per_band)) & mask
            buckets.setdefault((b, key), []).append(doc_id)
    cands: set[tuple[int, int]] = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cands.add((ids[i], ids[j]))
    out = {"id_a": [], "id_b": [], "hamming": []}
    for id_a, id_b in sorted(cands):
        ham = bin((sh_by_id[id_a] ^ sh_by_id[id_b]) & M64).count("1")
        if ham <= max_hamming:
            out["id_a"].append(id_a)
            out["id_b"].append(id_b)
            out["hamming"].append(ham)
    return pd.DataFrame(out).astype(
        {"id_a": "int64", "id_b": "int64", "hamming": "int32"}
    )


# --- embedding ops -----------------------------------------------------


def seq_dot(a, b) -> float:
    """Sequential left-fold sum, matching SQL aggregate() rounding."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def seq_norm(a) -> float:
    acc = 0.0
    for x in a:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def seq_cosine(a, b) -> float:
    return seq_dot(a, b) / (seq_norm(a) * seq_norm(b))


def load_embeddings(sf_dir: str) -> list[tuple[int, list[float]]]:
    emb = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    return [(int(r.vec_id), list(r.embedding)) for r in emb.itertuples()]


def _hyperplanes(bits: int, dim: int) -> list[list[float]]:
    # Same deterministic md5 derivation as similarity._hyperplane —
    # setup constants, not Spark compute, so sharing the formula is fine.
    import hashlib
    import struct

    planes = []
    for seed in range(bits):
        out = []
        for i in range(dim):
            h = hashlib.md5(f"{seed}:{i}".encode()).digest()
            (u,) = struct.unpack("<Q", h[:8])
            out.append((u / 2**64) * 2.0 - 1.0)
        planes.append(out)
    return planes


def _signature(vec: list[float], planes: list[list[float]]) -> int:
    sig = 0
    for i, plane in enumerate(planes):
        if seq_dot(vec, plane) > 0:
            sig |= 1 << i
    return sig  # bits<=63 everywhere so never hits the int64 sign bit


def _rank_topk(
    scored: dict[int, dict[int, float]], k: int
) -> pd.DataFrame:
    out = {"query_id": [], "neighbor_id": [], "cosine_sim": [], "rank": []}
    for qid in sorted(scored):
        ranked = sorted(scored[qid].items(), key=lambda t: (-t[1], t[0]))
        for rank, (nid, sim) in enumerate(ranked[:k], start=1):
            out["query_id"].append(qid)
            out["neighbor_id"].append(nid)
            out["cosine_sim"].append(sim)
            out["rank"].append(rank)
    return pd.DataFrame(out).astype(
        {
            "query_id": "int64",
            "neighbor_id": "int64",
            "cosine_sim": "float64",
            "rank": "int64",
        }
    )


def gen_lsh_topk(vecs: list[tuple[int, list[float]]]) -> pd.DataFrame:
    """Replica of the round-9 multi-probe banded LSH (46 bands × 20
    bits, Hamming≤3 probe ball on the query side): per-band
    sequential-fold signatures from plane slices [j*b, (j+1)*b), the
    probe ball unioned over bands, exact trunc6 cosine re-rank of the
    candidate set."""
    from itertools import combinations  # noqa: PLC0415

    k, bits_per_band, bands, probe_d = 5, 20, 46, 3
    dim = len(vecs[0][1])
    planes = _hyperplanes(bands * bits_per_band, dim)
    queries = [(i, v) for i, v in vecs if i < 10]
    band_sig = {
        i: [
            _signature(v, planes[j * bits_per_band : (j + 1) * bits_per_band])
            for j in range(bands)
        ]
        for i, v in vecs
    }
    masks = [0]
    for d in range(1, probe_d + 1):
        for combo in combinations(range(bits_per_band), d):
            m = 0
            for i in combo:
                m |= 1 << i
            masks.append(m)
    corpus_buckets: dict[tuple[int, int], list[int]] = {}
    for i, _ in vecs:
        for b in range(bands):
            corpus_buckets.setdefault((b, band_sig[i][b]), []).append(i)
    by_id = dict(vecs)
    scored: dict[int, dict[int, float]] = {}
    for qid, qvec in queries:
        cand: set[int] = set()
        for b in range(bands):
            for m in masks:
                cand.update(
                    corpus_buckets.get((b, band_sig[qid][b] ^ m), [])
                )
        cand.discard(qid)
        scored[qid] = {
            nid: trunc6(seq_cosine(qvec, by_id[nid])) for nid in cand
        }
    return _rank_topk(scored, k)


def gen_ivf_topk(
    vecs: list[tuple[int, list[float]]],
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 8,
    train_iters: int = 2,
) -> pd.DataFrame:
    """Mirror of the REGISTERED ``q_embedding_topk_ivf`` config:
    Lloyd-trained coarse centroids (``_lloyd_centroids``) + 8-probe
    search. ``train_iters=0`` reproduces the untrained hash-sample
    centroids."""
    by_id = dict(vecs)
    if train_iters > 0:
        cent = _lloyd_centroids(vecs, n_cells, train_iters)
        centroids = sorted(cent.items())
    else:
        hashed = sorted((xxhash64(i), i) for i, _ in vecs)
        centroids = [
            (cell + 1, by_id[i])
            for cell, (_, i) in enumerate(hashed[:n_cells])
        ]

    def probe(vec: list[float], probes: int) -> list[int]:
        sims = sorted(
            ((cell, seq_cosine(vec, cv)) for cell, cv in centroids),
            key=lambda t: (-t[1], t[0]),
        )
        return [cell for cell, _ in sims[:probes]]

    cell_members: dict[int, list[int]] = {}
    for i, v in vecs:
        cell_members.setdefault(probe(v, 1)[0], []).append(i)
    scored: dict[int, dict[int, float]] = {}
    for qid, qvec in ((i, v) for i, v in vecs if i < 10):
        cand: set[int] = set()
        for cell in probe(qvec, n_probe):
            cand.update(cell_members.get(cell, []))
        cand.discard(qid)
        scored[qid] = {
            nid: trunc6(seq_cosine(qvec, by_id[nid])) for nid in cand
        }
    return _rank_topk(scored, k)


def _decimal12(x: float):
    """Mirror Spark's CAST(double AS DECIMAL(38,12)): Java
    BigDecimal.valueOf goes through Double.toString — the SHORTEST
    round-trip decimal, which Python's repr() also produces — then
    rounds HALF_UP at scale 12. Decimal(repr(x)) reproduces it exactly
    (Decimal(x) would expand the full binary value instead and can
    round the 12th digit differently)."""
    from decimal import ROUND_HALF_UP, Decimal  # noqa: PLC0415

    return Decimal(repr(float(x))).quantize(
        Decimal("1E-12"), rounding=ROUND_HALF_UP
    )


def _lloyd_centroids(
    vecs: list[tuple[int, list[float]]], n_cells: int, iters: int
) -> dict[int, list[float]]:
    """Independent Lloyd trainer mirroring
    ``similarity.train_ivf_centroids`` semantics: smallest-id-hash
    seeds, cosine assignment with (sim DESC, cell ASC) tie-break,
    per-dim means accumulated in decimal-12 with one float division,
    empty cells keep their centroid. Shared by the kmeans, trained-IVF
    and trained-IVF-PQ replicas."""
    hashed = sorted((xxhash64(i), i) for i, _ in vecs)
    by_id = dict(vecs)
    cent: dict[int, list[float]] = {
        cell + 1: [float(x) for x in by_id[i]]
        for cell, (_, i) in enumerate(hashed[:n_cells])
    }

    def best(v: list[float]) -> int:
        return min(
            ((c, seq_cosine(v, cv)) for c, cv in cent.items()),
            key=lambda t: (-t[1], t[0]),
        )[0]

    for _ in range(iters):
        members: dict[int, list[list[float]]] = {}
        for _i, v in vecs:
            fv = [float(x) for x in v]
            members.setdefault(best(fv), []).append(fv)
        for cell, vs in members.items():
            n = len(vs)
            cent[cell] = [
                float(sum(_decimal12(v[d]) for v in vs)) / n
                for d in range(len(vs[0]))
            ]
    return cent


def gen_kmeans_clusters(
    vecs: list[tuple[int, list[float]]], n_cells: int = 8, iters: int = 3
) -> pd.DataFrame:
    """Independent Lloyd k-means mirroring operators/similarity.py
    semantics (see ``_lloyd_centroids``)."""
    cent = _lloyd_centroids(vecs, n_cells, iters)

    def best(v: list[float]) -> int:
        return min(
            ((c, seq_cosine(v, cv)) for c, cv in cent.items()),
            key=lambda t: (-t[1], t[0]),
        )[0]

    out = {"vec_id": [], "cell": [], "centroid_sim": []}
    for i, v in sorted(vecs):
        fv = [float(x) for x in v]
        c = best(fv)
        out["vec_id"].append(i)
        out["cell"].append(c)
        out["centroid_sim"].append(trunc6(seq_cosine(fv, cent[c])))
    return pd.DataFrame(out).astype(
        {"vec_id": "int64", "cell": "int64", "centroid_sim": "float64"}
    )


def gen_cosine_dups_lsh(vecs: list[tuple[int, list[float]]]) -> pd.DataFrame:
    threshold, bits, bands = 0.4, 48, 12
    bits_per_band = bits // bands
    mask = (1 << bits_per_band) - 1
    dim = len(vecs[0][1])
    planes = _hyperplanes(bits, dim)
    sig = {i: _signature(v, planes) for i, v in vecs}
    buckets: dict[tuple[int, int], list[int]] = {}
    for i, _ in vecs:
        for b in range(bands):
            key = (sig[i] >> (b * bits_per_band)) & mask
            buckets.setdefault((b, key), []).append(i)
    cands: set[tuple[int, int]] = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cands.add((ids[i], ids[j]))
    by_id = dict(vecs)
    pairs = sorted(cands)
    # Verify step mirrors the Spark side's Arrow/numpy batch math
    # (row-wise products + axis-1 pairwise sums), not sequential folds.
    mat_a = np.vstack([by_id[a] for a, _ in pairs]).astype(np.float64)
    mat_b = np.vstack([by_id[b] for _, b in pairs]).astype(np.float64)
    num = (mat_a * mat_b).sum(axis=1)
    den = np.sqrt((mat_a * mat_a).sum(axis=1)) * np.sqrt(
        (mat_b * mat_b).sum(axis=1)
    )
    sim = np.floor(num / den * 1e6) / 1e6
    keep = sim >= threshold
    return pd.DataFrame(
        {
            "id_a": np.array([a for a, _ in pairs])[keep],
            "id_b": np.array([b for _, b in pairs])[keep],
            "cosine_sim": sim[keep],
        }
    ).astype({"id_a": "int64", "id_b": "int64", "cosine_sim": "float64"})


def gen_hll_users(sf_dir: str, p: int = 10) -> pd.DataFrame:
    """Independent HLL: per-event_type distinct-user estimate mirroring
    ``operators.sketches.hll_distinct`` arithmetic exactly — unsigned
    xxhash64 bucketing, exact-integer harmonic sum, single-division
    estimate, linear-counting branch, floor-4 truncation."""
    ev = pq.read_table(
        f"{sf_dir}/events.parquet", columns=["event_type", "user_id"]
    ).to_pandas()
    m = 1 << p
    sb = 64 - p
    maxr = sb + 1
    regs: dict[str, dict[int, int]] = {}
    exact: dict[str, set] = {}
    for t, u in zip(ev.event_type, ev.user_id):
        h = xxhash64(int(u)) & M64
        b = h >> sb
        sfx = h & ((1 << sb) - 1)
        rho = maxr if sfx == 0 else maxr - sfx.bit_length()
        r = regs.setdefault(t, {})
        if rho > r.get(b, 0):
            r[b] = rho
        exact.setdefault(t, set()).add(int(u))
    alpha = 0.7213 / (1 + 1.079 / m)
    numerator = alpha * m * m * float(1 << maxr)
    rows = []
    for t in sorted(regs):
        r = regs[t]
        used = len(r)
        s_used = sum(1 << (maxr - rho) for rho in r.values())
        empties = m - used
        s_total = float(s_used + empties * (1 << maxr))
        e_raw = numerator / s_total
        if e_raw <= 2.5 * m and empties > 0:
            est = float(m) * math.log(float(m) / float(empties))
        else:
            est = e_raw
        est4 = math.floor(est * 1e4) / 1e4
        n = len(exact[t])
        err = math.floor(abs(est4 - n) / n * 100 * 1e4) / 1e4
        rows.append((t, n, est4, used, err))
    return pd.DataFrame(
        rows,
        columns=["event_type", "n_exact", "hll_estimate", "buckets_used", "err_pct"],
    )


def gen_pq_topk(
    vecs: list[tuple[int, list[float]]],
    k: int = 5,
    m: int = 16,
    ksub: int = 64,
    dim: int = 64,
    train_sample: int = 512,
    iters: int = 3,
    refine_factor: int = 10,
) -> pd.DataFrame:
    """Independent PQ-ADC mirror of ``similarity.pq_topk``: Lloyd
    codebooks trained on the hash-ordered sample, numpy encoding and
    LUTs CALL-FOR-CALL identical to the engine kernels (numpy's
    pairwise reductions differ from scalar folds, so sharing the numpy
    formulas is what makes codes and LUT values bit-identical), the
    distance fold and floor-6 truncation scalar like the engine's
    expression."""
    dsub = dim // m

    def unit(v):
        n = seq_norm(v)
        return [float(x) / n for x in v]

    hashed = sorted((xxhash64(i), i) for i, _ in vecs)
    by_id = dict(vecs)
    sample = np.array(
        [unit(by_id[sid]) for _, sid in hashed[:train_sample]],
        dtype=np.float64,
    )
    n_seed = min(ksub, len(sample))
    books = np.empty((m, n_seed, dsub), dtype=np.float64)
    for s in range(m):
        xs = sample[:, s * dsub : (s + 1) * dsub]
        cs = xs[:n_seed].copy()
        for _ in range(iters):
            d = ((xs[:, None, :] - cs[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            for c in range(n_seed):
                mask = a == c
                if mask.any():
                    cs[c] = xs[mask].mean(axis=0)
        books[s] = cs

    x = np.vstack([np.array(unit(v), dtype=np.float64) for _, v in vecs])
    enc = np.empty((len(vecs), m), dtype=np.int64)
    for s in range(m):
        xs = x[:, s * dsub : (s + 1) * dsub]
        d = ((xs[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
        enc[:, s] = d.argmin(axis=1)
    codes = {i: enc[row] for row, (i, _) in enumerate(vecs)}

    score_col = "cosine_sim" if refine_factor > 0 else "pq_dist"
    out = {"query_id": [], "neighbor_id": [], score_col: [], "rank": []}
    for row, (qid, qv) in enumerate(vecs):
        if qid >= 10:
            continue
        lut = [
            ((x[row, s * dsub : (s + 1) * dsub][None, :] - books[s]) ** 2)
            .sum(axis=1)
            .tolist()
            for s in range(m)
        ]
        scored = []
        for nid, _ in vecs:
            if nid == qid:
                continue
            acc = 0.0
            for s in range(m):
                acc += lut[s][codes[nid][s]]
            scored.append((math.floor(acc * 1e6) / 1e6, nid))
        scored.sort()
        if refine_factor > 0:
            # FAISS refine: exact-cosine re-rank of the ADC shortlist,
            # mirroring similarity._refine_topk (trunc6 seq cosine on
            # the ORIGINAL vectors, ties to the smaller id).
            ranked = sorted(
                (
                    (trunc6(seq_cosine(qv, by_id[nid])), nid)
                    for _, nid in scored[: refine_factor * k]
                ),
                key=lambda t: (-t[0], t[1]),
            )[:k]
        else:
            ranked = scored[:k]
        for rank, (d, nid) in enumerate(ranked, start=1):
            out["query_id"].append(qid)
            out["neighbor_id"].append(nid)
            out[score_col].append(d)
            out["rank"].append(rank)
    return pd.DataFrame(out).astype(
        {
            "query_id": "int64",
            "neighbor_id": "int64",
            score_col: "float64",
            "rank": "int64",
        }
    )


def gen_ivf_pq_topk(
    vecs: list[tuple[int, list[float]]],
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 8,
    m: int = 16,
    ksub: int = 64,
    dim: int = 64,
    train_sample: int = 512,
    iters: int = 3,
    train_iters: int = 2,
    refine_factor: int = 16,
) -> pd.DataFrame:
    """Independent IVF-PQ mirror of ``similarity.ivf_pq_topk``: the
    sampled-centroid cosine cell machinery of ``gen_ivf_topk`` composed
    with the trained-codebook numpy PQ of ``gen_pq_topk`` — candidates
    come from the ``n_probe`` nearest cells, ranked by the
    compressed-domain distance."""
    dsub = dim // m

    def unit(v):
        n = seq_norm(v)
        return [float(x) / n for x in v]

    hashed = sorted((xxhash64(i), i) for i, _ in vecs)
    by_id = dict(vecs)
    if train_iters > 0:
        centroids = sorted(_lloyd_centroids(vecs, n_cells, train_iters).items())
    else:
        centroids = [
            (cell + 1, by_id[i])
            for cell, (_, i) in enumerate(hashed[:n_cells])
        ]

    def probe(vec, probes):
        sims = sorted(
            ((cell, seq_cosine(vec, cv)) for cell, cv in centroids),
            key=lambda t: (-t[1], t[0]),
        )
        return [cell for cell, _ in sims[:probes]]

    cell_members: dict[int, list[int]] = {}
    for i, v in vecs:
        cell_members.setdefault(probe(v, 1)[0], []).append(i)

    sample = np.array(
        [unit(by_id[sid]) for _, sid in hashed[:train_sample]],
        dtype=np.float64,
    )
    n_seed = min(ksub, len(sample))
    books = np.empty((m, n_seed, dsub), dtype=np.float64)
    for s in range(m):
        xs = sample[:, s * dsub : (s + 1) * dsub]
        cs = xs[:n_seed].copy()
        for _ in range(iters):
            d = ((xs[:, None, :] - cs[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            for c in range(n_seed):
                mask = a == c
                if mask.any():
                    cs[c] = xs[mask].mean(axis=0)
        books[s] = cs

    x = np.vstack([np.array(unit(v), dtype=np.float64) for _, v in vecs])
    enc = np.empty((len(vecs), m), dtype=np.int64)
    for s in range(m):
        xs = x[:, s * dsub : (s + 1) * dsub]
        d = ((xs[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
        enc[:, s] = d.argmin(axis=1)
    row_of = {i: row for row, (i, _) in enumerate(vecs)}

    score_col = "cosine_sim" if refine_factor > 0 else "pq_dist"
    out = {"query_id": [], "neighbor_id": [], score_col: [], "rank": []}
    for qid, qv in vecs:
        if qid >= 10:
            continue
        qrow = row_of[qid]
        lut = [
            ((x[qrow, s * dsub : (s + 1) * dsub][None, :] - books[s]) ** 2)
            .sum(axis=1)
            .tolist()
            for s in range(m)
        ]
        cand: set[int] = set()
        for cell in probe(qv, n_probe):
            cand.update(cell_members.get(cell, []))
        cand.discard(qid)
        scored = []
        for nid in cand:
            acc = 0.0
            for s in range(m):
                acc += lut[s][enc[row_of[nid], s]]
            scored.append((math.floor(acc * 1e6) / 1e6, nid))
        scored.sort()
        if refine_factor > 0:
            ranked = sorted(
                (
                    (trunc6(seq_cosine(qv, by_id[nid])), nid)
                    for _, nid in scored[: refine_factor * k]
                ),
                key=lambda t: (-t[0], t[1]),
            )[:k]
        else:
            ranked = scored[:k]
        for rank, (d, nid) in enumerate(ranked, start=1):
            out["query_id"].append(qid)
            out["neighbor_id"].append(nid)
            out[score_col].append(d)
            out["rank"].append(rank)
    return pd.DataFrame(out).astype(
        {
            "query_id": "int64",
            "neighbor_id": "int64",
            score_col: "float64",
            "rank": "int64",
        }
    )


def gen_pca_project(
    vecs: list[tuple[int, list[float]]],
    n_components: int = 4,
    whiten: bool = False,
) -> pd.DataFrame:
    """Mirror of operators/similarity.py:pca_project, call for call:
    floor-scaled 1e-12 integer moment sums (exact, order-independent),
    the identical covariance formula, the same ``np.linalg.eigh`` on
    the bit-identical matrix, descending-eigenvalue stable order,
    largest-|loading|-positive sign pinning, and sequential projection
    folds truncated to 6 decimals."""
    import numpy as np  # noqa: PLC0415

    dim = len(vecs[0][1])
    n_rows = len(vecs)
    first_sums = [0] * dim
    second_sums: dict[tuple[int, int], int] = {}
    for _, v in vecs:
        fv = [float(x) for x in v]
        for i in range(dim):
            first_sums[i] += math.floor(fv[i] * 1e12)
            for j in range(i, dim):
                second_sums[(i, j)] = second_sums.get((i, j), 0) + math.floor(
                    fv[i] * fv[j] * 1e12
                )
    mu = np.zeros(dim)
    second = np.zeros((dim, dim))
    for i in range(dim):
        mu[i] = (float(first_sums[i]) / 1e12) / n_rows
    for (i, j), s in second_sums.items():
        val = float(s) / 1e12
        second[i, j] = val
        second[j, i] = val
    cov = (second - n_rows * np.outer(mu, mu)) / (n_rows - 1)
    eigvals, eigvecs = np.linalg.eigh(cov)
    order = np.argsort(-eigvals, kind="stable")[:n_components]
    comps = []
    for k in order:
        vec = eigvecs[:, k]
        if vec[int(np.argmax(np.abs(vec)))] < 0:
            vec = -vec
        if whiten and eigvals[k] > 0:
            vec = vec / np.sqrt(eigvals[k])
        comps.append([float(x) for x in vec])

    out = {"vec_id": [], "component": [], "value": []}
    for i, v in sorted(vecs):
        centered = [float(x) - mu[d] for d, x in enumerate(v)]
        for k, comp in enumerate(comps):
            acc = 0.0
            for a, b in zip(centered, comp):
                acc = acc + a * b
            out["vec_id"].append(i)
            out["component"].append(k)
            out["value"].append(trunc6(acc))
    return pd.DataFrame(out).astype(
        {"vec_id": "int64", "component": "int64", "value": "float64"}
    )


def _bpe_train(texts: list[str], n_merges: int) -> list[tuple[str, str]]:
    """INDEPENDENT BPE trainer (Counter-based, written separately from
    functions/bpe.py on purpose — two implementations agreeing is a
    stronger gate than one mirrored one). Same pinned semantics:
    whitespace words lowercased, </w> end marker, merge the most
    frequent pair per round (ties: lexicographically smallest), stop
    when no pair repeats. Tokenization splits on ASCII whitespace only
    (re [ \\t\\n\\x0b\\f\\r]) — Java \\s, the Spark-side split —
    never str.split(), which also splits Unicode whitespace
    (ADVICE r07)."""
    from collections import Counter  # noqa: PLC0415

    wf: Counter = Counter()
    for t in texts:
        for w in re.split(r"[ \t\n\x0b\f\r]+", (t or "").lower()):
            if w:
                wf[tuple(w) + ("</w>",)] += 1
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pc: Counter = Counter()
        for sym, c in wf.items():
            for p in zip(sym, sym[1:]):
                pc[p] += c
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pc[best] < 2:
            break
        merges.append(best)
        new: Counter = Counter()
        for sym, c in wf.items():
            s = list(sym)
            out: list[str] = []
            i = 0
            while i < len(s):
                if i + 1 < len(s) and (s[i], s[i + 1]) == best:
                    out.append(s[i] + s[i + 1])
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            new[tuple(out)] += c
        wf = new
    return merges


def _bpe_symbols(
    word: str, ranks: dict[tuple[str, str], int]
) -> list[str]:
    s = list(word) + ["</w>"]
    while len(s) > 1:
        cand = [
            (ranks[p], i)
            for i, p in enumerate(zip(s, s[1:]))
            if p in ranks
        ]
        if not cand:
            break
        _, i = min(cand)
        s[i : i + 2] = [s[i] + s[i + 1]]
    return s


def _bpe_count(word: str, ranks: dict[tuple[str, str], int]) -> int:
    return len(_bpe_symbols(word, ranks))


def gen_compression_ratio(sf_dir: str, level: int = 6) -> pd.DataFrame:
    """Expected output of text.compression_ratio: zlib level-6 size per
    document — same interpreter/zlib as the Spark-side batches (the
    md5 precedent: in-container determinism, re-validated at sf0.001
    by the generator gate)."""
    import math
    import zlib

    docs = pq.read_table(f"{sf_dir}/documents.parquet").to_pandas()
    out = {"doc_id": [], "n_bytes": [], "n_compressed": [], "ratio": []}
    for r in docs.itertuples():
        raw = (r.text or "").encode("utf-8")
        comp = zlib.compress(raw, level) if raw else b""
        out["doc_id"].append(int(r.doc_id))
        out["n_bytes"].append(len(raw))
        out["n_compressed"].append(len(comp))
        out["ratio"].append(
            math.floor(len(comp) / len(raw) * 1e6) / 1e6 if raw else 0.0
        )
    df = pd.DataFrame(out)
    for c in ("doc_id", "n_bytes", "n_compressed"):
        df[c] = df[c].astype("int64")
    return df


def gen_bpe_token_stream(sf_dir: str, n_merges: int = 50) -> pd.DataFrame:
    """Expected output of bpe_tokenize: the (doc_id, token_pos, token)
    stream under full-corpus-trained merges — independent replica, same
    ASCII-whitespace tokenization as the trainer."""
    docs = pq.read_table(f"{sf_dir}/documents.parquet").to_pandas()
    merges = _bpe_train([r.text for r in docs.itertuples()], n_merges)
    ranks = {p: i for i, p in enumerate(merges)}
    cache: dict[str, list[str]] = {}
    out = {"doc_id": [], "token_pos": [], "token": []}
    for r in docs.itertuples():
        pos = 0
        for w in [
            x
            for x in re.split(r"[ \t\n\x0b\f\r]+", (r.text or "").lower())
            if x
        ]:
            if w not in cache:
                cache[w] = _bpe_symbols(w, ranks)
            for s in cache[w]:
                out["doc_id"].append(int(r.doc_id))
                out["token_pos"].append(pos)
                out["token"].append(s)
                pos += 1
    df = pd.DataFrame(out)
    df["doc_id"] = df["doc_id"].astype("int64")
    df["token_pos"] = df["token_pos"].astype("int64")
    return df


def gen_bpe_tokens(sf_dir: str, n_merges: int = 50) -> pd.DataFrame:
    """Expected output of functions/bpe.py end to end: training runs
    over the WHOLE corpus (mirroring train_bpe_merges_spark, whose
    only corpus-scaled stage is the distributed word count), apply
    over every document."""
    docs = pq.read_table(f"{sf_dir}/documents.parquet").to_pandas()
    merges = _bpe_train([r.text for r in docs.itertuples()], n_merges)
    ranks = {p: i for i, p in enumerate(merges)}
    cache: dict[str, int] = {}
    out = {"doc_id": [], "n_words": [], "n_bpe_tokens": []}
    for r in docs.itertuples():
        words = [
            w
            for w in re.split(r"[ \t\n\x0b\f\r]+", (r.text or "").lower())
            if w
        ]
        total = 0
        for w in words:
            if w not in cache:
                cache[w] = _bpe_count(w, ranks)
            total += cache[w]
        out["doc_id"].append(int(r.doc_id))
        out["n_words"].append(len(words))
        out["n_bpe_tokens"].append(total)
    return pd.DataFrame(out).astype(
        {"doc_id": "int64", "n_words": "int64", "n_bpe_tokens": "int64"}
    )


def gen_hll_user_overlap(sf_dir: str, p: int = 10) -> pd.DataFrame:
    """Independent HLL pairwise-overlap mirror of
    ``operators.sketches.hll_pairwise_overlap``: per-type registers,
    union = cell-wise MAX, intersection = inclusion-exclusion on the
    floor-4 estimates (same arithmetic order as the Spark plan)."""
    ev = pq.read_table(
        f"{sf_dir}/events.parquet", columns=["event_type", "user_id"]
    ).to_pandas()
    m = 1 << p
    sb = 64 - p
    maxr = sb + 1
    regs: dict[str, dict[int, int]] = {}
    for t, u in zip(ev.event_type, ev.user_id):
        h = xxhash64(int(u)) & M64
        b = h >> sb
        sfx = h & ((1 << sb) - 1)
        rho = maxr if sfx == 0 else maxr - sfx.bit_length()
        r = regs.setdefault(t, {})
        if rho > r.get(b, 0):
            r[b] = rho
    alpha = 0.7213 / (1 + 1.079 / m)
    numerator = alpha * m * m * float(1 << maxr)

    def est(r: dict[int, int]) -> float:
        used = len(r)
        s_used = sum(1 << (maxr - rho) for rho in r.values())
        empties = m - used
        s_total = float(s_used + empties * (1 << maxr))
        e_raw = numerator / s_total
        if e_raw <= 2.5 * m and empties > 0:
            e = float(m) * math.log(float(m) / float(empties))
        else:
            e = e_raw
        return math.floor(e * 1e4) / 1e4

    types = sorted(regs)
    rows = []
    for i, a in enumerate(types):
        for b in types[i + 1:]:
            union = dict(regs[a])
            for k, v in regs[b].items():
                if v > union.get(k, 0):
                    union[k] = v
            ea, eb, eu = est(regs[a]), est(regs[b]), est(union)
            inter = max(ea + eb - eu, 0.0)
            rows.append(
                (a, b, ea, eb, eu, math.floor(inter * 1e4) / 1e4)
            )
    return pd.DataFrame(
        rows,
        columns=[
            "group_a", "group_b", "est_a", "est_b", "est_union",
            "est_intersection",
        ],
    )


def gen_cms_user_counts(
    sf_dir: str, depth: int = 4, width: int = 2048
) -> pd.DataFrame:
    """Independent count-min sketch mirroring
    ``operators.sketches.cms_registers``/``cms_point_estimates``:
    per-row cell = xxhash64(int i, long user_id) mod width (Spark's
    seed-chained literal prefix), estimate = min cell count over hash
    rows for the deterministic watchlist (user_id % 37 == 0)."""
    ev = pq.read_table(
        f"{sf_dir}/events.parquet", columns=["user_id"]
    ).to_pandas()
    regs: list[dict[int, int]] = [{} for _ in range(depth)]
    for u in ev.user_id:
        for i in range(depth):
            c = xxhash64(("int", i), int(u)) % width
            regs[i][c] = regs[i].get(c, 0) + 1
    watch = sorted({int(u) for u in ev.user_id if int(u) % 37 == 0})
    rows = [
        (
            u,
            min(
                regs[i].get(xxhash64(("int", i), u) % width, 0)
                for i in range(depth)
            ),
        )
        for u in watch
    ]
    return pd.DataFrame(rows, columns=["user_id", "est_count"]).astype(
        {"user_id": "int64", "est_count": "int64"}
    )


def gen_join_size_estimate(
    sf_dir: str, depth: int = 4, width: int = 2048
) -> pd.DataFrame:
    """Independent AGMS/CMS join-size estimator mirroring
    ``operators.sketches.cms_join_size_estimate`` for
    events.user_id ⋈ orders.o_custkey: per-side CMS registers via
    pyxxh64 (seed-chained, mod width), estimate = min over hash rows
    of the register inner products; exact = Σ f_A(k)·f_B(k)."""
    from collections import Counter

    ev = pq.read_table(
        f"{sf_dir}/events.parquet", columns=["user_id"]
    ).to_pandas()
    orders = pq.read_table(
        f"{sf_dir}/orders.parquet", columns=["o_custkey"]
    ).to_pandas()

    def registers(vals) -> list[dict[int, int]]:
        regs: list[dict[int, int]] = [{} for _ in range(depth)]
        for v in vals:
            for i in range(depth):
                cell = xxhash64(("int", i), int(v)) % width
                regs[i][cell] = regs[i].get(cell, 0) + 1
        return regs

    ra = registers(ev.user_id)
    rb = registers(orders.o_custkey)
    est = min(
        sum(c * rb[i].get(cell, 0) for cell, c in ra[i].items())
        for i in range(depth)
    )
    fa = Counter(int(v) for v in ev.user_id)
    fb = Counter(int(v) for v in orders.o_custkey)
    exact = sum(c * fb.get(k, 0) for k, c in fa.items())
    ratio = (
        math.floor(est / exact * 1e6) / 1e6 if exact > 0 else None
    )
    return pd.DataFrame(
        [(exact, est, ratio)],
        columns=["exact_join_size", "cms_estimate", "overestimate_ratio"],
    ).astype({"exact_join_size": "int64", "cms_estimate": "int64"})


def gen_item_pagerank(
    sf_dir: str, iters: int = 15, damping_pct: int = 85
) -> pd.DataFrame:
    """Independent scaled-integer PageRank mirroring
    ``operators.graph.pagerank`` over the co-view transition edges
    (consecutive view items per user, ordered by (ts, event_id)).
    Every update is Python int multiply / floor-divide on the same
    1e-12 / 1e-6 grids, so the match is bit-for-bit."""
    import json as _json

    RANK_SCALE = 10**12
    PROB_SCALE = 10**6
    ev = pq.read_table(
        f"{sf_dir}/events.parquet",
        columns=["user_id", "ts", "event_id", "event_type", "props"],
    ).to_pandas()
    views = ev[ev.event_type == "view"].sort_values(
        ["user_id", "ts", "event_id"]
    )
    edges: dict[tuple[int, int], int] = {}
    for _, grp in views.groupby("user_id", sort=False):
        items = [int(_json.loads(p)["k"]) for p in grp.props]
        for a, b in zip(items, items[1:]):
            edges[(a, b)] = edges.get((a, b), 0) + 1
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    n = len(nodes)
    out_w: dict[int, int] = {}
    for (a, _), w in edges.items():
        out_w[a] = out_w.get(a, 0) + w
    probs = {
        (a, b): (w * PROB_SCALE) // out_w[a] for (a, b), w in edges.items()
    }
    rank = {v: RANK_SCALE // n for v in nodes}
    teleport = 100 - damping_pct
    for _ in range(iters):
        inflow = {v: 0 for v in nodes}
        for (a, b), p in probs.items():
            inflow[b] += (rank[a] * p) // PROB_SCALE
        dang = sum(rank[v] for v in nodes if v not in out_w)
        rank = {
            v: (RANK_SCALE * teleport) // (100 * n)
            + (damping_pct * (inflow[v] + dang // n)) // 100
            for v in nodes
        }
    rows = sorted(
        ((v, rank[v], rank[v] / float(RANK_SCALE)) for v in nodes),
        key=lambda r: (-r[1], r[0]),
    )
    return pd.DataFrame(
        rows, columns=["item_key", "rank_scaled", "pagerank"]
    ).astype({"item_key": "int64", "rank_scaled": "int64"})


def gen_item_hits(sf_dir: str, iters: int = 8) -> pd.DataFrame:
    """Independent scaled-integer HITS mirroring
    ``operators.graph.hits`` over the distinct co-view transition
    edges: exact integer sums with per-round (raw·10¹²)//total
    normalization, bit-for-bit."""
    import json as _json

    RANK_SCALE = 10**12
    ev = pq.read_table(
        f"{sf_dir}/events.parquet",
        columns=["user_id", "ts", "event_id", "event_type", "props"],
    ).to_pandas()
    views = ev[ev.event_type == "view"].sort_values(
        ["user_id", "ts", "event_id"]
    )
    edges = set()
    for _, grp in views.groupby("user_id", sort=False):
        items = [int(_json.loads(p)["k"]) for p in grp.props]
        for a, b in zip(items, items[1:]):
            edges.add((a, b))
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    n = len(nodes)
    hub = {v: RANK_SCALE // n for v in nodes}
    auth = dict(hub)

    def norm(raw: dict) -> dict:
        total = sum(raw.values())
        return {v: (raw[v] * RANK_SCALE) // total for v in raw}

    for _ in range(iters):
        araw = {v: 0 for v in nodes}
        for a, b in edges:
            araw[b] += hub[a]
        auth = norm(araw)
        hraw = {v: 0 for v in nodes}
        for a, b in edges:
            hraw[a] += auth[b]
        hub = norm(hraw)
    rows = sorted(
        (
            (
                v,
                hub[v],
                auth[v],
                hub[v] / float(RANK_SCALE),
                auth[v] / float(RANK_SCALE),
            )
            for v in nodes
        ),
        key=lambda r: (-r[2], r[0]),
    )
    return pd.DataFrame(
        rows,
        columns=[
            "item_key",
            "hub_scaled",
            "auth_scaled",
            "hub_score",
            "authority_score",
        ],
    ).astype(
        {"item_key": "int64", "hub_scaled": "int64", "auth_scaled": "int64"}
    )


def _dhash_replica(
    g: int, w: int, h: int, variant: int, palette: bool = False
) -> int:
    """From-scratch dHash of near-dup fixture group (g, variant),
    computed STRAIGHT from the pattern arithmetic — no byte encoding,
    no package import — so a match proves the committed encoders, the
    pixel decoders, and the hash are mutually consistent inverses
    (functions/multimodal.py:synthetic_near_dup_image_table shares
    only the pattern formulas). ``palette`` selects the ≤256-color
    variant the GIF groups use (r10)."""
    return _dhash_from_px(_pattern_px(g, w, h, variant, palette))


def _pattern_px(
    g: int, w: int, h: int, variant: int, palette: bool = False
) -> list[list[tuple[int, int, int]]]:
    """The near-dup fixture pattern grid (base + corner-whitening
    variants) — the pattern-arithmetic half of the replica, shared by
    the lossless-format dHash replica and the JPEG replica."""
    if palette:
        px = []
        for y in range(h):
            row = []
            for x in range(w):
                v = (x * 17 + y * 23 + g * 41) % 255
                row.append((v, (v * 3) % 256, (v * 7) % 256))
            px.append(row)
    else:
        px = [
            [
                (
                    (x * 17 + y * 23 + g * 41) % 256,
                    (x * 29 + y * 13 + g * 57) % 256,
                    (x * 11 + y * 31 + g * 73) % 256,
                )
                for x in range(w)
            ]
            for y in range(h)
        ]

    def box_bounds(t: int, size: int, n: int) -> tuple[int, int]:
        lo = t * size // n
        return lo, min(max((t + 1) * size // n, lo + 1), size)

    if variant >= 1:
        y0, y1 = box_bounds(0, h, 8)
        x0, x1 = box_bounds(0, w, 9)
        for y in range(y0, y1):
            for x in range(x0, x1):
                px[y][x] = (255, 255, 255)
    if variant >= 2:
        y0, y1 = box_bounds(7, h, 8)
        x0, x1 = box_bounds(8, w, 9)
        for y in range(y0, y1):
            for x in range(x0, x1):
                px[y][x] = (255, 255, 255)

    return px


def _dhash_from_px(px: list[list[tuple[int, int, int]]]) -> int:
    """The dHash arithmetic from an explicit pixel grid — shared by
    the pattern-grid replica above and the JPEG replica below."""
    h, w = len(px), len(px[0])

    def box_bounds(t: int, size: int, n: int) -> tuple[int, int]:
        lo = t * size // n
        return lo, min(max((t + 1) * size // n, lo + 1), size)

    gray = [[(299 * r + 587 * gg + 114 * b) // 1000 for (r, gg, b) in row]
            for row in px]
    box = [[0] * 9 for _ in range(8)]
    for ty in range(8):
        y0, y1 = box_bounds(ty, h, 8)
        for tx in range(9):
            x0, x1 = box_bounds(tx, w, 9)
            vals = [gray[y][x] for y in range(y0, y1) for x in range(x0, x1)]
            box[ty][tx] = sum(vals) // len(vals)
    bits = 0
    for ty in range(8):
        for tx in range(8):
            if box[ty][tx + 1] > box[ty][tx]:
                bits |= 1 << (ty * 8 + tx)
    return bits - (1 << 64) if bits >= SIGN else bits


def gen_image_dhash(groups: int = 16) -> pd.DataFrame:
    """(media_id, dhash) for the perceptual near-dup image fixture."""
    rows = []
    for g in range(groups):
        w, h = 18 + (g % 5) * 3, 16 + (g % 3) * 4
        for v in range(3):
            rows.append(
                (
                    g * 3 + v + 1,
                    _dhash_replica(g, w, h, v, palette=(g % 4 == 3)),
                )
            )
    return pd.DataFrame(rows, columns=["media_id", "dhash"])


def gen_image_dhash_dups(groups: int = 16, max_hamming: int = 3) -> pd.DataFrame:
    """Brute-force all-pairs Hamming ≤ radius over the fixture hashes —
    the exact answer the banded join must reproduce (the banding is a
    lossless pigeonhole filter, so recall is 1.0 by construction)."""
    hashes = gen_image_dhash(groups)
    ids = hashes["media_id"].tolist()
    hs = hashes["dhash"].tolist()
    rows = []
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            d = bin((hs[i] ^ hs[j]) & M64).count("1")
            if d <= max_hamming:
                rows.append((ids[i], ids[j], d))
    return pd.DataFrame(rows, columns=["media_id_a", "media_id_b", "hamming"])


# --- JPEG replica: the codec math replayed without the byte layer ---
# (tools-side reimplementation of the documented contract in
# functions/multimodal.py: literal cos(k·π/16) table, floor(x+0.5)
# rounding everywhere, fDCT accumulation y-outer/x-inner, IDCT
# v-outer/u-inner — so a match proves the committed encoder's
# Huffman/marker/bit-stuffing byte layer is lossless.)
_J_COS16 = [
    1.0, 0.9807852804032304, 0.9238795325112867, 0.8314696123025452,
    0.7071067811865476, 0.5555702330196023, 0.38268343236508984,
    0.19509032201612833, 6.123233995736766e-17,
]
_J_COS32 = [
    (_J_COS16[a] if a <= 8 else -_J_COS16[16 - a])
    if a <= 16
    else (_J_COS16[32 - a] if 32 - a <= 8 else -_J_COS16[16 - (32 - a)])
    for a in range(32)
]
_J_COS = [[_J_COS32[((2 * x + 1) * u) % 32] for u in range(8)]
          for x in range(8)]
_J_ISQRT2 = 0.7071067811865476
_J_QT_LUM = [
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
]
_J_QT_CHROM = [
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
]


def _j_round(x: float) -> int:
    return math.floor(x + 0.5)


def _j_clamp(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _j_quality(table: list[int], quality: int) -> list[int]:
    q = max(1, min(100, quality))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    return [max(1, min(255, (t * scale + 50) // 100)) for t in table]


def _jpeg_decoded_replica(
    px: list[list[tuple[int, int, int]]],
    quality: int,
    grayscale: bool = False,
    subsampling: str = "444",
) -> list[list[tuple[int, int, int]]]:
    """Decoded pixel grid after one baseline-JPEG round trip —
    closed-form codec math (color transform → edge-replicated pad →
    optional 2×2-mean chroma subsample → per-block fDCT → quantize →
    dequantize → IDCT → clamp → replication upsample →
    inverse color), no bytes."""
    h, w = len(px), len(px[0])
    n_comp = 1 if grayscale else 3
    # chroma decimation factors mirror the encoder: 420 halves both
    # axes, 422 horizontally only, 444 neither
    fx = 2 if subsampling in ("420", "422") and n_comp == 3 else 1
    fy = 2 if subsampling == "420" and n_comp == 3 else 1
    sub = fx > 1 or fy > 1
    mcu_w, mcu_h = 8 * fx, 8 * fy
    qts = [_j_quality(_J_QT_LUM, quality)] + (
        [_j_quality(_J_QT_CHROM, quality)] * 2 if n_comp == 3 else []
    )
    bw = (w + mcu_w - 1) // mcu_w * mcu_w
    bh = (h + mcu_h - 1) // mcu_h * mcu_h
    full = [[[0] * bw for _ in range(bh)] for _ in range(n_comp)]
    for y in range(bh):
        sy = min(y, h - 1)
        for x in range(bw):
            sx = min(x, w - 1)
            r, g, b = px[sy][sx]
            ycc = (
                _j_clamp(_j_round(0.299 * r + 0.587 * g + 0.114 * b)),
                _j_clamp(_j_round(
                    -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
                )),
                _j_clamp(_j_round(
                    0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
                )),
            )
            for c in range(n_comp):
                full[c][y][x] = ycc[c]
    planes = [full[0]]
    scale = [(1, 1)]
    if n_comp == 3:
        if sub:
            for c in (1, 2):
                planes.append(
                    [
                        [
                            _j_round(
                                sum(
                                    full[c][fy * y + dy][fx * x + dx]
                                    for dy in range(fy)
                                    for dx in range(fx)
                                )
                                / float(fx * fy)
                            )
                            for x in range(bw // fx)
                        ]
                        for y in range(bh // fy)
                    ]
                )
            scale = [(1, 1), (fx, fy), (fx, fy)]
        else:
            planes += [full[1], full[2]]
            scale = [(1, 1), (1, 1), (1, 1)]
    out_planes = []
    for c in range(n_comp):
        plane = planes[c]
        qt = qts[c]
        ph, pw = len(plane), len(plane[0])
        decoded = [[0] * pw for _ in range(ph)]
        for by in range(0, ph, 8):
            for bx in range(0, pw, 8):
                # forward DCT, y outer x inner
                coef = [[0.0] * 8 for _ in range(8)]
                for v in range(8):
                    for u in range(8):
                        acc = 0.0
                        for y in range(8):
                            for x in range(8):
                                acc += (
                                    float(planes[c][by + y][bx + x] - 128)
                                    * _J_COS[x][u] * _J_COS[y][v]
                                )
                        cu = _J_ISQRT2 if u == 0 else 1.0
                        cv = _J_ISQRT2 if v == 0 else 1.0
                        coef[v][u] = 0.25 * cu * cv * acc
                # quantize then dequantize
                deq = [[0.0] * 8 for _ in range(8)]
                for i in range(64):
                    q = _j_round(coef[i // 8][i % 8] / qt[i])
                    deq[i // 8][i % 8] = float(q * qt[i])
                # inverse DCT, v outer u inner
                for y in range(8):
                    for x in range(8):
                        acc = 0.0
                        for v in range(8):
                            for u in range(8):
                                cu = _J_ISQRT2 if u == 0 else 1.0
                                cv = _J_ISQRT2 if v == 0 else 1.0
                                acc += (
                                    cu * cv * deq[v][u]
                                    * _J_COS[x][u] * _J_COS[y][v]
                                )
                        decoded[by + y][bx + x] = _j_clamp(
                            _j_round(0.25 * acc) + 128
                        )
        out_planes.append(decoded)
    rows_out = []
    for y in range(h):
        row = []
        for x in range(w):
            if n_comp == 1:
                gval = out_planes[0][y][x]
                row.append((gval, gval, gval))
            else:
                yv = out_planes[0][y][x]
                cb = out_planes[1][y // scale[1][1]][x // scale[1][0]]
                cr = out_planes[2][y // scale[2][1]][x // scale[2][0]]
                row.append(
                    (
                        _j_clamp(_j_round(yv + 1.402 * (cr - 128))),
                        _j_clamp(_j_round(
                            yv - 0.344136 * (cb - 128)
                            - 0.714136 * (cr - 128)
                        )),
                        _j_clamp(_j_round(yv + 1.772 * (cb - 128))),
                    )
                )
        rows_out.append(row)
    return rows_out


def gen_jpeg_dhash(groups: int = 10) -> pd.DataFrame:
    """(media_id, dhash) for the baseline-JPEG fixture
    (functions/multimodal.py:synthetic_jpeg_image_table): pattern
    grid → closed-form codec round-trip math → dHash, no bytes."""
    rows = []
    for g in range(groups):
        w, h = 18 + (g % 5) * 3, 16 + (g % 3) * 4
        quality = (70, 80, 90, 100)[g % 4]
        for v in range(3):
            px = _pattern_px(g, w, h, v)
            dec = _jpeg_decoded_replica(
                px,
                quality,
                grayscale=(g % 5 == 4),
                subsampling="420" if g % 2 else "444",
            )
            rows.append((g * 3 + v + 1, _dhash_from_px(dec)))
    return pd.DataFrame(rows, columns=["media_id", "dhash"])


def gen_ivf_pq_topk_indexed(
    vecs: list[tuple[int, list[float]]],
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 8,
    m: int = 16,
    ksub: int = 64,
    dim: int = 64,
    train_sample: int = 512,
    iters: int = 3,
    train_iters: int = 2,
    refine_factor: int = 16,
) -> pd.DataFrame:
    """Independent mirror of the persist-once index lifecycle
    (similarity.ivf_pq_topk_indexed): ONE set of centroids/codebooks
    trained on the full corpus, then TWO incremental batches (even /
    odd vec_id) ADC-scanned against that same index — per-(batch,
    query) top-k. The index artifacts are computed once outside the
    batch loop, mirroring train-once/persist/scan-many."""
    dsub = dim // m

    def unit(v):
        n = seq_norm(v)
        return [float(x) / n for x in v]

    hashed = sorted((xxhash64(i), i) for i, _ in vecs)
    by_id = dict(vecs)
    if train_iters > 0:
        centroids = sorted(
            _lloyd_centroids(vecs, n_cells, train_iters).items()
        )
    else:
        centroids = [
            (cell + 1, by_id[i])
            for cell, (_, i) in enumerate(hashed[:n_cells])
        ]

    def probe(vec, probes):
        sims = sorted(
            ((cell, seq_cosine(vec, cv)) for cell, cv in centroids),
            key=lambda t: (-t[1], t[0]),
        )
        return [cell for cell, _ in sims[:probes]]

    sample = np.array(
        [unit(by_id[sid]) for _, sid in hashed[:train_sample]],
        dtype=np.float64,
    )
    n_seed = min(ksub, len(sample))
    books = np.empty((m, n_seed, dsub), dtype=np.float64)
    for s in range(m):
        xs = sample[:, s * dsub : (s + 1) * dsub]
        cs = xs[:n_seed].copy()
        for _ in range(iters):
            d = ((xs[:, None, :] - cs[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            for c in range(n_seed):
                mask = a == c
                if mask.any():
                    cs[c] = xs[mask].mean(axis=0)
        books[s] = cs

    x = np.vstack([np.array(unit(v), dtype=np.float64) for _, v in vecs])
    enc = np.empty((len(vecs), m), dtype=np.int64)
    for s in range(m):
        xs = x[:, s * dsub : (s + 1) * dsub]
        d = ((xs[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
        enc[:, s] = d.argmin(axis=1)
    row_of = {i: row for row, (i, _) in enumerate(vecs)}

    score_col = "cosine_sim" if refine_factor > 0 else "pq_dist"
    out = {
        "batch_id": [], "query_id": [], "neighbor_id": [],
        score_col: [], "rank": [],
    }
    for batch_id, parity in ((1, 0), (2, 1)):
        cell_members: dict[int, list[int]] = {}
        for i, v in vecs:
            if i % 2 == parity:
                cell_members.setdefault(probe(v, 1)[0], []).append(i)
        for qid, qv in vecs:
            if qid >= 10:
                continue
            qrow = row_of[qid]
            lut = [
                (
                    (x[qrow, s * dsub : (s + 1) * dsub][None, :] - books[s])
                    ** 2
                ).sum(axis=1).tolist()
                for s in range(m)
            ]
            cand: set[int] = set()
            for cell in probe(qv, n_probe):
                cand.update(cell_members.get(cell, []))
            cand.discard(qid)
            scored = []
            for nid in cand:
                acc = 0.0
                for s in range(m):
                    acc += lut[s][enc[row_of[nid], s]]
                scored.append((math.floor(acc * 1e6) / 1e6, nid))
            scored.sort()
            if refine_factor > 0:
                ranked = sorted(
                    (
                        (trunc6(seq_cosine(qv, by_id[nid])), nid)
                        for _, nid in scored[: refine_factor * k]
                    ),
                    key=lambda t: (-t[0], t[1]),
                )[:k]
            else:
                ranked = scored[:k]
            for rank, (d, nid) in enumerate(ranked, start=1):
                out["batch_id"].append(batch_id)
                out["query_id"].append(qid)
                out["neighbor_id"].append(nid)
                out[score_col].append(d)
                out["rank"].append(rank)
    return pd.DataFrame(out).astype(
        {
            "batch_id": "int64",
            "query_id": "int64",
            "neighbor_id": "int64",
            score_col: "float64",
            "rank": "int64",
        }
    )


def _ivf_pq_index_replica(
    vecs: list[tuple[int, list[float]]],
    n_cells: int = 16,
    m: int = 16,
    ksub: int = 64,
    dim: int = 64,
    train_sample: int = 512,
    iters: int = 3,
    train_iters: int = 2,
):
    """From-scratch replica of the PERSISTED IVF-PQ index lifecycle
    (similarity.train_ivf_pq_index on the EVEN-id initial load +
    ivf_pq_codes_table over every vector): returns
    ``(probe, x, enc, row_of, by_id)`` — the probed-cell function,
    the unit-normalized vector matrix, the code matrix for ALL
    vectors encoded with the one even-trained index, and the id→row /
    id→vector maps. Shared by :func:`gen_ivf_pq_topk_codes` and
    :func:`gen_semantic_incremental` so both mirror the identical
    index artifact."""
    dsub = dim // m

    def unit(v):
        n = seq_norm(v)
        return [float(x) / n for x in v]

    by_id = dict(vecs)
    train_vecs = [(i, v) for i, v in vecs if i % 2 == 0]
    hashed = sorted((xxhash64(i), i) for i, _ in train_vecs)
    if train_iters > 0:
        centroids = sorted(
            _lloyd_centroids(train_vecs, n_cells, train_iters).items()
        )
    else:
        centroids = [
            (cell + 1, by_id[i])
            for cell, (_, i) in enumerate(hashed[:n_cells])
        ]

    def probe(vec, probes):
        sims = sorted(
            ((cell, seq_cosine(vec, cv)) for cell, cv in centroids),
            key=lambda t: (-t[1], t[0]),
        )
        return [cell for cell, _ in sims[:probes]]

    sample = np.array(
        [unit(by_id[sid]) for _, sid in hashed[:train_sample]],
        dtype=np.float64,
    )
    n_seed = min(ksub, len(sample))
    books = np.empty((m, n_seed, dsub), dtype=np.float64)
    for s in range(m):
        xs = sample[:, s * dsub : (s + 1) * dsub]
        cs = xs[:n_seed].copy()
        for _ in range(iters):
            d = ((xs[:, None, :] - cs[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            for c in range(n_seed):
                mask = a == c
                if mask.any():
                    cs[c] = xs[mask].mean(axis=0)
        books[s] = cs

    x = np.vstack([np.array(unit(v), dtype=np.float64) for _, v in vecs])
    enc = np.empty((len(vecs), m), dtype=np.int64)
    for s in range(m):
        xs = x[:, s * dsub : (s + 1) * dsub]
        d = ((xs[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
        enc[:, s] = d.argmin(axis=1)
    row_of = {i: row for row, (i, _) in enumerate(vecs)}
    return probe, books, x, enc, row_of, by_id


def gen_ivf_pq_topk_codes(
    vecs: list[tuple[int, list[float]]],
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 8,
    m: int = 16,
    ksub: int = 64,
    dim: int = 64,
    train_sample: int = 512,
    iters: int = 3,
    train_iters: int = 2,
    refine_factor: int = 16,
    store_ids: set | None = None,
) -> pd.DataFrame:
    """Independent mirror of the persisted-codes lifecycle
    (similarity.ivf_pq_topk_from_codes): index trained on the EVEN-id
    initial load only; every vector (initial + appended odd batch)
    encoded with that one index; queries answered from index + codes
    over the union — exactly what the versioned codes snapshot holds
    after build (even, replace) + append (odd). ``store_ids``
    restricts the candidate side to a forgotten-store snapshot
    (remove_ids — :func:`gen_ann_store_forget`); None means every
    vector's code is in the store."""
    dsub = dim // m
    probe, books, x, enc, row_of, by_id = _ivf_pq_index_replica(
        vecs, n_cells, m, ksub, dim, train_sample, iters, train_iters
    )
    cell_members: dict[int, list[int]] = {}
    for i, v in vecs:
        if store_ids is not None and i not in store_ids:
            continue
        cell_members.setdefault(probe(v, 1)[0], []).append(i)

    score_col = "cosine_sim" if refine_factor > 0 else "pq_dist"
    out = {"query_id": [], "neighbor_id": [], score_col: [], "rank": []}
    for qid, qv in vecs:
        if qid >= 10:
            continue
        qrow = row_of[qid]
        lut = [
            ((x[qrow, s * dsub : (s + 1) * dsub][None, :] - books[s]) ** 2)
            .sum(axis=1)
            .tolist()
            for s in range(m)
        ]
        cand: set[int] = set()
        for cell in probe(qv, n_probe):
            cand.update(cell_members.get(cell, []))
        cand.discard(qid)
        scored = []
        for nid in cand:
            acc = 0.0
            for s in range(m):
                acc += lut[s][enc[row_of[nid], s]]
            scored.append((math.floor(acc * 1e6) / 1e6, nid))
        scored.sort()
        if refine_factor > 0:
            ranked = sorted(
                (
                    (trunc6(seq_cosine(qv, by_id[nid])), nid)
                    for _, nid in scored[: refine_factor * k]
                ),
                key=lambda t: (-t[0], t[1]),
            )[:k]
        else:
            ranked = scored[:k]
        for rank, (d, nid) in enumerate(ranked, start=1):
            out["query_id"].append(qid)
            out["neighbor_id"].append(nid)
            out[score_col].append(d)
            out["rank"].append(rank)
    return pd.DataFrame(out).astype(
        {
            "query_id": "int64",
            "neighbor_id": "int64",
            score_col: "float64",
            "rank": "int64",
        }
    )


def gen_ann_store_forget(
    vecs: list[tuple[int, list[float]]],
) -> pd.DataFrame:
    """Mirror of the ann_store_forget query (VERDICT r11 item 1):
    the persisted-codes lifecycle (even-trained index, even build +
    odd append), then vec_id %7==0 rows FORGOTTEN from the codes
    store (remove_from_ann_store). Top-k answered against BOTH
    snapshots — pre_forget (time travel still serves the deleted
    vectors) and post_forget (they have disappeared from every
    result list)."""
    kept = {i for i, _ in vecs if i % 7 != 0}
    frames = []
    for label, store in (("pre_forget", None), ("post_forget", kept)):
        f = gen_ivf_pq_topk_codes(vecs, store_ids=store)
        f.insert(0, "snapshot", label)
        frames.append(f)
    return pd.concat(frames, ignore_index=True)


def gen_semantic_incremental(
    vecs: list[tuple[int, list[float]]],
    threshold: float = 0.4,
    n_cells: int = 16,
    n_probe: int = 8,
    adc_margin: float = 1.5,
    m: int = 16,
    ksub: int = 64,
    dim: int = 64,
    train_sample: int = 512,
    iters: int = 3,
    train_iters: int = 2,
) -> pd.DataFrame:
    """Independent mirror of the embedding incremental near-dup gate
    (similarity.semantic_dedup_incremental over the persisted codes
    store): index trained once on the EVEN-id initial load, whose
    codes seed the store; two crawl batches (vec_id % 4 == 1, then
    % 4 == 3) are gated in order — candidates are store/batch vectors
    whose assigned cell is among the query's n_probe probed cells AND
    whose trunc6 ADC distance ≤ (2−2·threshold)·adc_margin; the
    shortlist is verified with exact trunc6 sequential cosine ≥
    threshold; min store id / min smaller batch id win; each batch's
    KEEPERS append their codes to the store before the next batch."""
    dsub = dim // m
    probe, books, x, enc, row_of, by_id = _ivf_pq_index_replica(
        vecs, n_cells, m, ksub, dim, train_sample, iters, train_iters
    )
    radius = (2.0 - 2.0 * threshold) * adc_margin
    cell_of = {i: probe(v, 1)[0] for i, v in vecs}

    def adc(lut, nid: int) -> float:
        acc = 0.0
        for s in range(m):
            acc += lut[s][enc[row_of[nid], s]]
        return trunc6(acc)

    store_ids: list[int] = [i for i, _ in vecs if i % 2 == 0]
    rows = {
        "batch_id": [], "vec_id": [], "matched_store_id": [],
        "matched_batch_id": [], "keep": [],
    }
    for batch_no, parity in ((1, 1), (2, 3)):
        batch = [(i, v) for i, v in vecs if i % 4 == parity]
        keepers: list[int] = []
        for qid, qv in batch:
            qrow = row_of[qid]
            lut = [
                (
                    (x[qrow, s * dsub : (s + 1) * dsub][None, :] - books[s])
                    ** 2
                )
                .sum(axis=1)
                .tolist()
                for s in range(m)
            ]
            probed = set(probe(qv, n_probe))
            best_store = -1
            for nid in store_ids:
                if nid == qid or cell_of[nid] not in probed:
                    continue
                if adc(lut, nid) > radius:
                    continue
                if trunc6(seq_cosine(qv, by_id[nid])) >= threshold:
                    best_store = nid if best_store < 0 else min(best_store, nid)
            best_batch = -1
            for nid, nv in batch:
                if nid >= qid or cell_of[nid] not in probed:
                    continue
                if adc(lut, nid) > radius:
                    continue
                if trunc6(seq_cosine(qv, nv)) >= threshold:
                    best_batch = nid if best_batch < 0 else min(best_batch, nid)
            keep = best_store < 0 and best_batch < 0
            if keep:
                keepers.append(qid)
            rows["batch_id"].append(batch_no)
            rows["vec_id"].append(qid)
            rows["matched_store_id"].append(best_store)
            rows["matched_batch_id"].append(best_batch)
            rows["keep"].append(keep)
        store_ids.extend(keepers)
    return pd.DataFrame(rows).astype(
        {
            "batch_id": "int64",
            "vec_id": "int64",
            "matched_store_id": "int64",
            "matched_batch_id": "int64",
            "keep": "bool",
        }
    )


def gen_streaming_semantic(
    vecs: list[tuple[int, list[float]]],
) -> pd.DataFrame:
    """Expected decisions snapshot for the STREAMING semantic gate —
    identical decisions to the batch lifecycle
    (:func:`gen_semantic_incremental`; the stream replays the same two
    batches through the same gate), keyed by vec_id alone (the
    insert-if-absent decisions merge holds one row per vector)."""
    return (
        gen_semantic_incremental(vecs)
        .drop(columns=["batch_id"])
        .sort_values("vec_id")
        .reset_index(drop=True)
    )


def _afp_replica(g: int, variant: int) -> int:
    """From-scratch audio fingerprint of near-dup fixture (g, variant)
    computed from the CLOSED-FORM segment energies — count · amp² per
    segment, no WAV bytes, no sample loop, no package import — so a
    match proves the committed WAV encoder, the PCM decoder, and the
    energy-delta fingerprint are mutually consistent inverses
    (functions/multimodal.py:synthetic_near_dup_audio_table shares
    only the amplitude formula)."""
    n = 650 + g * 13
    segs = 65

    def amp(i: int) -> int:
        if variant >= 1 and i == 0:
            return 25000 + (g % 5) * 1000
        if variant >= 2 and i == segs - 1:
            return 25000 + (g % 7) * 700
        return 100 + ((i * 37 + g * 101) * 2654435761 % (1 << 32)) % 4000

    energies = []
    for i in range(segs):
        lo = i * n // segs
        hi = min(max((i + 1) * n // segs, lo + 1), n)
        a = amp(i)
        energies.append((hi - lo) * a * a)
    bits = 0
    for i in range(segs - 1):
        if energies[i + 1] > energies[i]:
            bits |= 1 << i
    return bits - (1 << 64) if bits >= SIGN else bits


def gen_audio_fingerprint(groups: int = 16) -> pd.DataFrame:
    """(media_id, afp) for the audio near-dup fixture."""
    rows = []
    for g in range(groups):
        for v in range(3):
            rows.append((g * 3 + v + 1, _afp_replica(g, v)))
    return pd.DataFrame(rows, columns=["media_id", "afp"])


def gen_audio_fingerprint_dups(
    groups: int = 16, max_hamming: int = 3
) -> pd.DataFrame:
    """Brute-force all-pairs Hamming ≤ radius over the fixture audio
    fingerprints — the exact answer the banded join must reproduce."""
    fps = gen_audio_fingerprint(groups)
    ids = fps["media_id"].tolist()
    hs = fps["afp"].tolist()
    rows = []
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            d = bin((hs[i] ^ hs[j]) & M64).count("1")
            if d <= max_hamming:
                rows.append((ids[i], ids[j], d))
    return pd.DataFrame(rows, columns=["media_id_a", "media_id_b", "hamming"])


def gen_streaming_minhash(
    docs: pd.DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
) -> pd.DataFrame:
    """Sequential two-micro-batch replica of the streaming near-dup
    gate (streaming/pipeline.py:run_streaming_minhash_dedup): store
    seeded with even-id signatures; batch 1 = ids %4==1 plus recrawls
    of even docs (%20==0 -> +300000, %40==0 -> +400000); batch 2 =
    ids %4==3 plus recrawls of batch-1 docs (%20==1 -> +200000) and
    even docs (%10==0 -> +100000). After each batch the SURVIVORS'
    signatures join the store — so batch 2's +200000 recrawls must
    match the store entries batch 1 appended, the cross-batch path
    the oracle exists to pin."""
    rpb = num_hashes // bands
    text_by_id = dict(zip(docs["doc_id"], docs["text"]))
    sets = shingle_hash_sets(docs, 3)
    sig_cache = {
        d: [
            min(xxhash64(("int", i), h) for h in hs)
            for i in range(num_hashes)
        ]
        for d, hs in sets.items()
    }

    def band_keys(sig: list[int]) -> list[tuple[int, int]]:
        return [
            (
                b,
                xxhash64(
                    ",".join(str(x) for x in sig[b * rpb : (b + 1) * rpb])
                ),
            )
            for b in range(bands)
        ]

    def est_ok(a: list[int], b: list[int]) -> bool:
        return sum(1 for x, y in zip(a, b) if x == y) >= threshold * num_hashes

    evens = sorted(d for d in text_by_id if d % 2 == 0)
    odds = sorted(d for d in text_by_id if d % 2 == 1)
    store = {d: sig_cache[d] for d in evens}
    batches = [
        sorted(
            [d for d in odds if d % 4 == 1]
            + [d + 300000 for d in evens if d % 20 == 0]
            + [d + 400000 for d in evens if d % 40 == 0]
        ),
        sorted(
            [d for d in odds if d % 4 == 3]
            + [d + 200000 for d in odds if d % 20 == 1]
            + [d + 100000 for d in evens if d % 10 == 0]
        ),
    ]
    out = {
        "doc_id": [],
        "matched_store_id": [],
        "matched_batch_id": [],
        "keep": [],
    }
    for batch_ids in batches:
        batch = {d: sig_cache[d % 100000] for d in batch_ids}
        store_buckets: dict[tuple[int, int], list[int]] = {}
        for d, sg in store.items():
            for key in band_keys(sg):
                store_buckets.setdefault(key, []).append(d)
        batch_buckets: dict[tuple[int, int], list[int]] = {}
        for d, sg in batch.items():
            for key in band_keys(sg):
                batch_buckets.setdefault(key, []).append(d)
        survivors = {}
        for d in sorted(batch):
            sg = batch[d]
            store_cands = {
                c for key in band_keys(sg) for c in store_buckets.get(key, [])
            }
            batch_cands = {
                c
                for key in band_keys(sg)
                for c in batch_buckets.get(key, [])
                if c < d
            }
            ms = min(
                (c for c in store_cands if est_ok(sg, store[c])), default=-1
            )
            mb = min(
                (c for c in batch_cands if est_ok(sg, batch[c])), default=-1
            )
            out["doc_id"].append(d)
            out["matched_store_id"].append(ms)
            out["matched_batch_id"].append(mb)
            out["keep"].append(ms == -1 and mb == -1)
            if ms == -1 and mb == -1:
                survivors[d] = sg
        store.update(survivors)
    df = pd.DataFrame(out).astype(
        {
            "doc_id": "int64",
            "matched_store_id": "int64",
            "matched_batch_id": "int64",
            "keep": "bool",
        }
    )
    return df.sort_values("doc_id").reset_index(drop=True)


def gen_image_dedup_survivors(
    groups: int = 16, max_hamming: int = 3
) -> pd.DataFrame:
    """Union-find over the brute-force dHash pair set: min-id survivor
    per component with member count, singletons at n_merged=1 — the
    independent replica of operators/dedup.py:media_dedup_survivors
    (modality "image")."""
    pairs = gen_image_dhash_dups(groups, max_hamming)
    ids = list(range(1, groups * 3 + 1))
    parent = {i: i for i in ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["media_id_a"], pairs["media_id_b"]):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    members: dict[int, int] = {}
    for i in ids:
        members[find(i)] = members.get(find(i), 0) + 1
    rows = sorted((root, n) for root, n in members.items())
    return pd.DataFrame(
        rows, columns=["media_id", "n_merged"]
    ).astype({"media_id": "int64", "n_merged": "int64"})


def gen_image_dhash_incremental(
    groups: int = 16, max_hamming: int = 3
) -> pd.DataFrame:
    """Brute-force replica of operators/dedup.py:media_incremental
    (modality "image") over the registered split: EVEN groups' base images (media_id%6==1)
    are the persisted hash store; everything else is the incoming
    batch — so even-group variants exercise the store-hit path,
    odd-group variants the batch-internal path, and odd-group BASES
    the keep path (nothing like them indexed or earlier in batch)."""
    hashes = gen_image_dhash(groups)
    hs = dict(zip(hashes["media_id"], hashes["dhash"]))
    store = sorted(i for i in hs if i % 6 == 1)
    batch = sorted(i for i in hs if i % 6 != 1)

    def ham(a: int, b: int) -> int:
        return bin((a ^ b) & M64).count("1")

    out = {"media_id": [], "matched_store_id": [],
           "matched_batch_id": [], "keep": []}
    for d in batch:
        ms = min((c for c in store if ham(hs[d], hs[c]) <= max_hamming),
                 default=-1)
        mb = min((c for c in batch
                  if c < d and ham(hs[d], hs[c]) <= max_hamming),
                 default=-1)
        out["media_id"].append(d)
        out["matched_store_id"].append(ms)
        out["matched_batch_id"].append(mb)
        out["keep"].append(ms == -1 and mb == -1)
    return pd.DataFrame(out).astype(
        {"media_id": "int64", "matched_store_id": "int64",
         "matched_batch_id": "int64", "keep": "bool"}
    )


def gen_streaming_image_dedup(
    groups: int = 16, max_hamming: int = 3
) -> pd.DataFrame:
    """Sequential two-micro-batch replica of the streaming image
    dedup gate (streaming/pipeline.py:run_streaming_media_dedup, "image"):
    store seeded with even-group BASE hashes (media_id%6==1);
    batch 1 = even-group v1 + odd-group bases (%6 in {2,4});
    batch 2 = even-group v2 + odd-group v1/v2 (%6 in {3,5,0}).
    After each batch the SURVIVORS' hashes join the store — so
    batch 2's odd-group variants must hit the odd-group bases
    batch 1 appended, the cross-batch path the oracle exists to
    pin. Same min-id semantics as hamming_incremental."""
    hashes = gen_image_dhash(groups)
    return _streaming_hash_replica(
        dict(zip(hashes["media_id"], hashes["dhash"])), max_hamming
    )


def gen_streaming_video_dedup(
    groups: int = 12, max_hamming: int = 4
) -> pd.DataFrame:
    """Sequential two-micro-batch replica of the streaming VIDEO
    dedup gate (streaming/pipeline.py:run_streaming_media_dedup, "video") —
    the image gate's split and min-id semantics over independently
    recomputed temporal fingerprints (:func:`_vfp_replica`)."""
    fps = gen_video_fingerprint(groups)
    return _streaming_hash_replica(
        dict(zip(fps["media_id"], fps["vfp"])), max_hamming
    )


def _streaming_hash_replica(
    hs: dict[int, int], max_hamming: int
) -> pd.DataFrame:
    """Shared two-batch store/decision walk of the streaming
    signature-dedup replicas: store = even-group bases (%6==1),
    batch 1 = %6 in {2,4}, batch 2 = %6 in {3,5,0}; survivors'
    signatures join the store between batches."""

    def ham(a: int, b: int) -> int:
        return bin((a ^ b) & M64).count("1")

    store = sorted(i for i in hs if i % 6 == 1)
    batches = [
        sorted(i for i in hs if i % 6 in (2, 4)),
        sorted(i for i in hs if i % 6 in (3, 5, 0)),
    ]
    out = {"media_id": [], "matched_store_id": [],
           "matched_batch_id": [], "keep": []}
    for batch in batches:
        kept = []
        for d in batch:
            ms = min(
                (c for c in store if ham(hs[d], hs[c]) <= max_hamming),
                default=-1,
            )
            mb = min(
                (c for c in batch
                 if c < d and ham(hs[d], hs[c]) <= max_hamming),
                default=-1,
            )
            keep = ms == -1 and mb == -1
            if keep:
                kept.append(d)
            out["media_id"].append(d)
            out["matched_store_id"].append(ms)
            out["matched_batch_id"].append(mb)
            out["keep"].append(keep)
        store = sorted(store + kept)
    df = pd.DataFrame(out).astype(
        {"media_id": "int64", "matched_store_id": "int64",
         "matched_batch_id": "int64", "keep": "bool"}
    )
    return df.sort_values("media_id").reset_index(drop=True)


def gen_audio_dedup_survivors(
    groups: int = 16, max_hamming: int = 3
) -> pd.DataFrame:
    """Union-find over the brute-force audio fingerprint pair set —
    the independent replica of operators/dedup.py:
    media_dedup_survivors, modality "audio" (same union-find as the
    image twin)."""
    pairs = gen_audio_fingerprint_dups(groups, max_hamming)
    ids = list(range(1, groups * 3 + 1))
    parent = {i: i for i in ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["media_id_a"], pairs["media_id_b"]):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    members: dict[int, int] = {}
    for i in ids:
        members[find(i)] = members.get(find(i), 0) + 1
    rows = sorted((root, n) for root, n in members.items())
    return pd.DataFrame(
        rows, columns=["media_id", "n_merged"]
    ).astype({"media_id": "int64", "n_merged": "int64"})


def gen_audio_fp_incremental(
    groups: int = 16, max_hamming: int = 3
) -> pd.DataFrame:
    """Brute-force replica of operators/dedup.py:
    media_incremental (modality "audio") over the registered split — same
    store/batch partition rule as the image twin (even-group bases =
    store, media_id%6==1)."""
    fps = gen_audio_fingerprint(groups)
    hs = dict(zip(fps["media_id"], fps["afp"]))
    store = sorted(i for i in hs if i % 6 == 1)
    batch = sorted(i for i in hs if i % 6 != 1)

    def ham(a: int, b: int) -> int:
        return bin((a ^ b) & M64).count("1")

    out = {"media_id": [], "matched_store_id": [],
           "matched_batch_id": [], "keep": []}
    for d in batch:
        ms = min((c for c in store if ham(hs[d], hs[c]) <= max_hamming),
                 default=-1)
        mb = min((c for c in batch
                  if c < d and ham(hs[d], hs[c]) <= max_hamming),
                 default=-1)
        out["media_id"].append(d)
        out["matched_store_id"].append(ms)
        out["matched_batch_id"].append(mb)
        out["keep"].append(ms == -1 and mb == -1)
    return pd.DataFrame(out).astype(
        {"media_id": "int64", "matched_store_id": "int64",
         "matched_batch_id": "int64", "keep": "bool"}
    )


def _vfp_replica(g: int, variant: int) -> tuple[int, int]:
    """From-scratch temporal video fingerprint of near-dup fixture
    (g, variant): per-frame pattern grid → closed-form JPEG codec
    round-trip math (:func:`_jpeg_decoded_replica`, no bytes) →
    per-frame dHash → even sampling of at most 8 frames → strict
    per-bit majority fold — mirroring functions/multimodal.py:
    video_fingerprint without touching the MJPEG byte layer, so a
    match additionally pins the marker-walk frame splitter as
    lossless. Returns (n_frames, vfp)."""
    w, h = 18 + (g % 5) * 3, 16 + (g % 3) * 4
    quality = (70, 80, 90, 100)[g % 4]
    nf = 4 + g % 3 + (6 if g % 6 == 5 else 0)
    idx = list(range(nf)) if nf <= 8 else [i * nf // 8 for i in range(8)]
    hashes = []
    for f in idx:
        px = _pattern_px(g * 17 + f, w, h, variant)
        dec = _jpeg_decoded_replica(
            px,
            quality,
            grayscale=(g % 5 == 4),
            subsampling="420" if g % 2 else "444",
        )
        hashes.append(_dhash_from_px(dec) & M64)
    k = len(hashes)
    bits = 0
    for j in range(64):
        if 2 * sum((hh >> j) & 1 for hh in hashes) > k:
            bits |= 1 << j
    return nf, to_signed(bits)


def gen_video_fingerprint(groups: int = 12) -> pd.DataFrame:
    """(media_id, n_frames, vfp) for the video near-dup fixture."""
    rows = [
        (g * 3 + v + 1, *_vfp_replica(g, v))
        for g in range(groups)
        for v in range(3)
    ]
    return pd.DataFrame(
        rows, columns=["media_id", "n_frames", "vfp"]
    ).astype({"media_id": "int64", "n_frames": "int32", "vfp": "int64"})


def gen_video_fingerprint_dups(
    groups: int = 12, max_hamming: int = 4
) -> pd.DataFrame:
    """Brute-force all-pairs Hamming ≤ radius over the fixture video
    fingerprints — the exact answer the banded join must reproduce."""
    fps = gen_video_fingerprint(groups)
    ids = fps["media_id"].tolist()
    hs = fps["vfp"].tolist()
    rows = []
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            d = bin((hs[i] ^ hs[j]) & M64).count("1")
            if d <= max_hamming:
                rows.append((ids[i], ids[j], d))
    return pd.DataFrame(
        rows, columns=["media_id_a", "media_id_b", "hamming"]
    )


def gen_video_dedup_survivors(
    groups: int = 12, max_hamming: int = 4
) -> pd.DataFrame:
    """Union-find over the brute-force video fingerprint pair set —
    the independent replica of operators/dedup.py:
    media_dedup_survivors, modality "video" (same union-find as the
    image/audio twins)."""
    pairs = gen_video_fingerprint_dups(groups, max_hamming)
    ids = list(range(1, groups * 3 + 1))
    parent = {i: i for i in ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["media_id_a"], pairs["media_id_b"]):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    members: dict[int, int] = {}
    for i in ids:
        members[find(i)] = members.get(find(i), 0) + 1
    rows = sorted((root, n) for root, n in members.items())
    return pd.DataFrame(
        rows, columns=["media_id", "n_merged"]
    ).astype({"media_id": "int64", "n_merged": "int64"})


def gen_video_fp_incremental(
    groups: int = 12, max_hamming: int = 4
) -> pd.DataFrame:
    """Brute-force replica of operators/dedup.py:
    media_incremental (modality "video") over the registered split — same
    store/batch partition rule as the image/audio twins (even-group
    bases = store, media_id%6==1)."""
    fps = gen_video_fingerprint(groups)
    hs = dict(zip(fps["media_id"], fps["vfp"]))
    store = sorted(i for i in hs if i % 6 == 1)
    batch = sorted(i for i in hs if i % 6 != 1)

    def ham(a: int, b: int) -> int:
        return bin((a ^ b) & M64).count("1")

    out = {"media_id": [], "matched_store_id": [],
           "matched_batch_id": [], "keep": []}
    for d in batch:
        ms = min((c for c in store if ham(hs[d], hs[c]) <= max_hamming),
                 default=-1)
        mb = min((c for c in batch
                  if c < d and ham(hs[d], hs[c]) <= max_hamming),
                 default=-1)
        out["media_id"].append(d)
        out["matched_store_id"].append(ms)
        out["matched_batch_id"].append(mb)
        out["keep"].append(ms == -1 and mb == -1)
    return pd.DataFrame(out).astype(
        {"media_id": "int64", "matched_store_id": "int64",
         "matched_batch_id": "int64", "keep": "bool"}
    )


def gen_avi_duration(groups: int = 12, fps: int = 10) -> pd.DataFrame:
    """(media_id, duration_ms, fps) for the AVI-wrapped video fixture
    groups (g % 3 == 1) — closed form: the encoder writes
    dwMicroSecPerFrame = 1e6/fps and dwTotalFrames = the fixture frame
    count, and the avih definition is total · usec // 1000."""
    usec = 1_000_000 // fps
    rows = []
    for g in range(groups):
        if g % 3 != 1:
            continue
        nf = 4 + g % 3 + (6 if g % 6 == 5 else 0)
        for v in range(3):
            rows.append((g * 3 + v + 1, nf * usec // 1000, fps))
    return pd.DataFrame(
        rows, columns=["media_id", "duration_ms", "fps"]
    ).astype({"media_id": "int64", "duration_ms": "int64", "fps": "int32"})


def gen_mp4_frames(groups: int = 10) -> pd.DataFrame:
    """Mirror of the media_mp4_frames query (VERDICT r11 item 6):
    per group, two MJPEG-in-MP4 remuxes of the near-dup fixture's
    base frames (codec math vfp — :func:`_vfp_replica` variant 0,
    byte layer never touched, so a match pins the stbl sample walk
    as lossless) and two avc1-class remuxes of closed-form opaque
    samples (md5-chain content fingerprint recomputed here from the
    same byte formula)."""
    import hashlib

    rows = []
    for g in range(groups):
        nf, vfp = _vfp_replica(g, 0)
        n_opaque = 3 + g % 4
        acc = hashlib.md5()
        for f in range(n_opaque):
            sample = bytes(
                (g * 31 + f * 7 + k * 3) % 256
                for k in range(40 + (g * 5 + f) % 23)
            )
            acc.update(hashlib.md5(sample).digest())
        cfp = acc.hexdigest()
        rows.append((g * 4 + 1, "jpeg", nf, vfp, None))
        rows.append((g * 4 + 2, "jpeg", nf, vfp, None))
        rows.append((g * 4 + 3, "avc1", n_opaque, -1, cfp))
        rows.append((g * 4 + 4, "avc1", n_opaque, -1, cfp))
    # vfp is -1-sentinel int64 (never NULL): a mixed None/int column
    # would coerce to float64 and shred the low mantissa bits
    return pd.DataFrame(
        {
            "media_id": pd.array(
                [r[0] for r in rows], dtype="int64"
            ),
            "codec": pd.array([r[1] for r in rows], dtype="object"),
            "n_samples": pd.array(
                [r[2] for r in rows], dtype="int32"
            ),
            "vfp": pd.array([r[3] for r in rows], dtype="int64"),
            "content_fp": pd.array(
                [r[4] for r in rows], dtype="object"
            ),
        }
    )


def gen_multimodal_funnel_media() -> pd.DataFrame:
    """Expected MEDIA rows of the multimodal curation funnel
    (plans/curation.py:multimodal_curation_funnel): per modality,
    total = fixture rows + 2 injected garbage payloads, decodable =
    fixture rows (garbage falls out at the Arrow skip gate), dedup =
    union-find survivor count over the independently recomputed
    brute-force pair sets (radius 3 for image/audio, 4 for video —
    the operators' defaults). The TEXT rows of the report are a pure
    DuckDB oracle; only these media stages need the replica."""
    rows = []
    for kind, total_items, survivors in (
        ("image", 16 * 3, len(gen_image_dedup_survivors(16, 3))),
        ("audio", 16 * 3, len(gen_audio_dedup_survivors(16, 3))),
        ("video", 12 * 3, len(gen_video_dedup_survivors(12, 4))),
    ):
        rows += [
            (kind, "0_total", total_items + 2, 0),
            (kind, "1_decodable", total_items, 0),
            (kind, "2_dedup", survivors, 0),
        ]
    return pd.DataFrame(
        rows, columns=["modality", "stage", "n_items", "n_tokens"]
    ).astype({"n_items": "int64", "n_tokens": "int64"})


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "expected",
            os.path.basename(sf_dir.rstrip("/")),
        )
    )
    os.makedirs(out_dir, exist_ok=True)
    docs = pq.read_table(f"{sf_dir}/documents.parquet").to_pandas()
    vecs = load_embeddings(sf_dir)
    for name, df in [
        ("minhash_lsh_dups", gen_minhash(docs)),
        ("simhash_near_dups", gen_simhash(docs)),
        ("embedding_topk_lsh", gen_lsh_topk(vecs)),
        ("embedding_topk_ivf", gen_ivf_topk(vecs)),
        ("embedding_cosine_dups_lsh", gen_cosine_dups_lsh(vecs)),
        ("embedding_kmeans_clusters", gen_kmeans_clusters(vecs)),
        ("hll_distinct_users_by_type", gen_hll_users(sf_dir)),
        ("cms_user_counts", gen_cms_user_counts(sf_dir)),
        ("hll_user_overlap_by_type", gen_hll_user_overlap(sf_dir)),
        ("embedding_topk_pq", gen_pq_topk(vecs)),
        ("embedding_topk_ivf_pq", gen_ivf_pq_topk(vecs)),
        ("embedding_pca_project", gen_pca_project(vecs)),
        ("doc_bpe_tokens", gen_bpe_tokens(sf_dir)),
        ("doc_bpe_token_stream", gen_bpe_token_stream(sf_dir)),
        ("doc_compression_ratio", gen_compression_ratio(sf_dir)),
        ("minhash_incremental_docs", gen_minhash_incremental(docs)),
        ("item_pagerank", gen_item_pagerank(sf_dir)),
        ("join_size_estimate", gen_join_size_estimate(sf_dir)),
        ("item_hits_scores", gen_item_hits(sf_dir)),
        ("media_image_dhash", gen_image_dhash()),
        ("image_dhash_dups", gen_image_dhash_dups()),
        ("streaming_minhash_dedup", gen_streaming_minhash(docs)),
        ("image_dedup_survivors", gen_image_dedup_survivors()),
        ("image_dhash_incremental", gen_image_dhash_incremental()),
        ("media_audio_fingerprint", gen_audio_fingerprint()),
        ("audio_fingerprint_dups", gen_audio_fingerprint_dups()),
        ("audio_dedup_survivors", gen_audio_dedup_survivors()),
        ("audio_fingerprint_incremental", gen_audio_fp_incremental()),
        ("embedding_topk_ivf_pq_indexed", gen_ivf_pq_topk_indexed(vecs)),
        ("embedding_topk_ivf_pq_codes", gen_ivf_pq_topk_codes(vecs)),
        ("streaming_image_dedup", gen_streaming_image_dedup()),
        ("media_jpeg_dhash", gen_jpeg_dhash()),
        ("semantic_incremental_embeddings", gen_semantic_incremental(vecs)),
        ("streaming_semantic_dedup", gen_streaming_semantic(vecs)),
        ("media_video_fingerprint", gen_video_fingerprint()),
        ("video_fingerprint_dups", gen_video_fingerprint_dups()),
        ("video_dedup_survivors", gen_video_dedup_survivors()),
        ("video_fingerprint_incremental", gen_video_fp_incremental()),
        ("multimodal_funnel_media", gen_multimodal_funnel_media()),
        ("streaming_video_dedup", gen_streaming_video_dedup()),
        ("media_avi_duration", gen_avi_duration()),
        ("dedup_store_forget", gen_dedup_store_forget(docs)),
        ("ann_store_forget", gen_ann_store_forget(vecs)),
        ("media_mp4_frames", gen_mp4_frames()),
    ]:
        path = os.path.join(out_dir, f"{name}.parquet")
        df.to_parquet(path, index=False)
        print(f"{name}: {len(df)} rows -> {path}")


if __name__ == "__main__":
    main()
