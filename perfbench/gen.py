"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same seed writes byte-identical parquet files (no wall-clock values, no
hash-randomised ordering). The program under test only ever sees these
files; the planted truth the checkers need is returned to the caller.

Layouts follow the repository's synthetic test tables (the star schema,
``events``, ``embeddings``, ``documents``) so the package's loaders read
them unchanged. ``scale`` shrinks the inputs for the smoke self-test;
the benchmark runs at scale 1.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
BASE_DAY = dt.datetime(2024, 1, 1)
_US_PER_DAY = 86_400_000_000
_BASE_US = (BASE_DAY - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)

# Sizes per workload. ``METRICS.md`` records the same numbers.
ETL_SIZES = dict(
    base_events=20_000, base_days=30, users=600, items=2_000,
    changed_frac=0.01, new_frac=0.01, late_frac=0.005,
    item_changed_frac=0.01, item_new_frac=0.005,
)
DEDUP_SIZES = dict(seed_store=100, batch=200)


# --------------------------------------------------------------------------
# etl_bi_query: a base day plus small seeded daily deltas
# --------------------------------------------------------------------------

def _events_table(ids, ts_us, users, types, values, items) -> pa.Table:
    return pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array(types, pa.string()),
        "value": pa.array(values, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in items], pa.string()),
    })


def _part_table(keys, names, brands, types, sizes, prices) -> pa.Table:
    return pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array(names, pa.string()),
        "p_brand": pa.array(brands, pa.string()),
        "p_type": pa.array(types, pa.string()),
        "p_size": pa.array(sizes, pa.int32()),
        "p_retailprice": pa.array(prices, pa.float64()),
    })


_COLOURS = ("red", "blue", "green", "black", "white", "small", "large", "steel")
_NOUNS = ("ring", "widget", "bolt", "gear", "valve", "spring", "lamp", "hinge")
_PTYPES = ("ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD")


def _random_parts(rng: np.random.Generator, keys: np.ndarray) -> dict:
    return dict(
        keys=keys,
        names=[f"{_COLOURS[a]} {_NOUNS[b]}" for a, b in
               zip(rng.integers(0, 8, len(keys)), rng.integers(0, 8, len(keys)))],
        brands=[f"Brand#{b}" for b in rng.integers(1, 26, len(keys))],
        types=[_PTYPES[t] for t in rng.integers(0, 6, len(keys))],
        sizes=rng.integers(1, 51, len(keys)),
        prices=np.round(rng.uniform(900.0, 1000.0, len(keys)), 1),
    )


def _random_events(rng, ids, day_lo, day_hi, users, items):
    n = len(ids)
    return dict(
        ids=ids,
        ts_us=_BASE_US + np.sort(
            rng.integers(day_lo * _US_PER_DAY, day_hi * _US_PER_DAY, n)
        ),
        users=rng.integers(0, users, n),
        types=[EVENT_TYPES[t] for t in rng.integers(0, len(EVENT_TYPES), n)],
        values=np.round(rng.uniform(0.01, 500.0, n), 2),
        items=rng.integers(0, items, n),
    )


def etl_inputs(seed: int, out_dir: str, n_deltas: int, scale: float = 1.0) -> list[str]:
    """Write ``day00`` (the base load) and ``day01..`` (daily deltas).

    Each delta holds, relative to the base: ``changed_frac`` existing
    fact keys with a new value (SCD-1 updates), ``new_frac`` new events
    on the new day, ``late_frac`` new events dated inside the base range
    (late arrivals), ``item_changed_frac`` items with a new price and
    ``item_new_frac`` new items. Returns the day directories in order.
    """
    s = ETL_SIZES
    rng = np.random.default_rng([seed, 1])
    n0 = max(200, int(s["base_events"] * scale))
    n_items = max(50, int(s["items"] * scale))
    users = max(20, int(s["users"] * scale))
    days = []

    ev = _random_events(rng, np.arange(n0), 0, s["base_days"], users, n_items)
    parts = _random_parts(rng, np.arange(n_items))
    d0 = os.path.join(out_dir, "day00")
    write_table(_events_table(**ev), os.path.join(d0, "events.parquet"))
    write_table(_part_table(**parts), os.path.join(d0, "part.parquet"))
    days.append(d0)

    next_event, next_item = n0, n_items
    base_keys = dict(zip(ev["ids"].tolist(), zip(ev["ts_us"].tolist(), ev["users"].tolist(),
                                                  ev["types"], ev["items"].tolist())))
    for day in range(1, n_deltas + 1):
        n_changed = max(1, int(n0 * s["changed_frac"]))
        changed = np.sort(rng.choice(n0, n_changed, replace=False))
        ch = [base_keys[i] for i in changed.tolist()]
        n_new = max(1, int(n0 * s["new_frac"]))
        new = _random_events(rng, np.arange(next_event, next_event + n_new),
                             s["base_days"] + day - 1, s["base_days"] + day,
                             users + day, next_item)
        next_event += n_new
        n_late = max(1, int(n0 * s["late_frac"]))
        late = _random_events(rng, np.arange(next_event, next_event + n_late),
                              0, s["base_days"], users, n_items)
        next_event += n_late
        delta = dict(
            ids=np.concatenate([changed, new["ids"], late["ids"]]),
            ts_us=np.concatenate([[c[0] for c in ch], new["ts_us"], late["ts_us"]]).astype(np.int64),
            users=np.concatenate([[c[1] for c in ch], new["users"], late["users"]]),
            types=[c[2] for c in ch] + new["types"] + late["types"],
            values=np.concatenate([np.round(rng.uniform(0.01, 500.0, n_changed), 2),
                                   new["values"], late["values"]]),
            items=np.concatenate([[c[3] for c in ch], new["items"], late["items"]]),
        )
        n_ich = max(1, int(n_items * s["item_changed_frac"]))
        n_inew = max(1, int(n_items * s["item_new_frac"]))
        ikeys = np.concatenate([np.sort(rng.choice(next_item, n_ich, replace=False)),
                                np.arange(next_item, next_item + n_inew)])
        next_item += n_inew
        dd = os.path.join(out_dir, f"day{day:02d}")
        write_table(_events_table(**delta), os.path.join(dd, "events.parquet"))
        write_table(_part_table(**_random_parts(rng, ikeys)), os.path.join(dd, "part.parquet"))
        days.append(dd)
    return days


# --------------------------------------------------------------------------
# etl_bi_query: a seeded read sequence over the KPI views
# --------------------------------------------------------------------------

def base_periods() -> list[str]:
    """The ``yyyy-mm-dd`` days the base load covers."""
    return [(BASE_DAY + dt.timedelta(days=d)).strftime("%Y-%m-%d")
            for d in range(ETL_SIZES["base_days"])]


def bi_read_pool(views: list[str], periods: list[str]) -> list[str]:
    """Distinct BI reads: each KPI view whole, period-filtered windows
    and top-k slices. ``periods`` are the warehouse's ``yyyy-mm-dd``
    days; windows are drawn from them so every read returns rows."""
    q = [f"SELECT * FROM {v}" for v in views]
    mid = periods[len(periods) // 2]
    q.append("SELECT * FROM view_trend_by_period WHERE "
             f"period >= TIMESTAMP '{periods[0]} 00:00:00' AND period <= TIMESTAMP '{mid} 00:00:00'")
    q.append("SELECT * FROM item_view_rank_by_period WHERE item_view_rank <= 3")
    return q


def bi_read_sequence(seed: int, n_pool: int, passes: int) -> list[int]:
    """Seeded read order (indices into the pool): ``passes`` shuffled
    passes over the whole pool, so every run reads the same multiset."""
    rng = random.Random(seed * 7919 + 3)
    order = []
    for _ in range(passes):
        p = list(range(n_pool))
        rng.shuffle(p)
        order += p
    return order


# --------------------------------------------------------------------------
# dedup_stream: stores, micro-batches and their planted truth
# --------------------------------------------------------------------------

DIM = 64


def _alt_rank(u: np.ndarray) -> int:
    """GF(2) rank of the alternating matrix U + U^T."""
    m = (u ^ u.T).astype(np.uint8) % 2
    rank, rows = 0, [int("".join(map(str, r)), 2) for r in m]
    for bit in reversed(range(m.shape[0])):
        piv = next((i for i, r in enumerate(rows) if r >> bit & 1), None)
        if piv is None:
            continue
        p = rows.pop(piv)
        rows = [r ^ p if r >> bit & 1 else r for r in rows]
        rank += 1
    return rank


def low_coherence_vectors(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` unit vectors in 64-d with pairwise |cosine| <= 1/4.

    Each basis is a Hadamard basis with its signs flipped by a binary
    quadratic form: rows inside one basis are orthogonal, and two bases
    whose forms differ by a form of alternating rank >= 4 are at most
    1/4 apart. Far below the gate's 0.4 threshold, so only the planted
    duplicates can ever match.
    """
    bits = np.array([[x >> i & 1 for i in range(6)] for x in range(DIM)], np.int64)
    hadamard = (-1.0) ** ((bits @ bits.T) % 2)
    forms: list[np.ndarray] = []
    while len(forms) * DIM < n:
        u = np.triu(rng.integers(0, 2, (6, 6)))
        if all(_alt_rank(u ^ f) >= 4 for f in forms):
            forms.append(u)
    out = []
    for u in forms:
        signs = (-1.0) ** np.einsum("xi,ij,xj->x", bits, u, bits)
        out.append(hadamard * signs[None, :] / 8.0)
    allv = np.concatenate(out)
    return allv[rng.permutation(len(allv))[:n]]


_SYL = [c + v for c in "bcdfghjklmnprstvz" for v in "aeiou"]


def _vocab(rng: np.random.Generator, n: int = 5000) -> list[str]:
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        words.add("".join(_SYL[i] for i in rng.integers(0, len(_SYL), k)))
    return sorted(words)


@dataclass
class DedupPlan:
    """Seed stores, per-tick batches and the decision each item must get."""
    seed_vectors: pa.Table
    seed_docs: pa.Table
    vector_batches: list[pa.Table] = field(default_factory=list)
    doc_batches: list[pa.Table] = field(default_factory=list)
    # id -> (keep, matched_store_id, matched_batch_id)
    vector_truth: dict[int, tuple[bool, int, int]] = field(default_factory=dict)
    doc_truth: dict[int, tuple[bool, int, int]] = field(default_factory=dict)


def _near_vector(rng, v):
    return v + rng.normal(0.0, 0.0125, DIM)


def _near_text(rng, text, vocab):
    words = text.split()
    i = int(rng.integers(0, len(words)))
    words[i] = vocab[int(rng.integers(0, len(vocab)))]
    return " ".join(words)


def _batch_mix(rng, n, store_ids, first_id):
    """Plan one batch: returns rows of (id, kind, origin). Kinds: fresh,
    store_exact, store_near, batch_exact, batch_near. Batch duplicates
    always follow their origin (larger id), so the origin survives."""
    rows, fresh_ids = [], []
    kinds = rng.choice(
        ["fresh", "store_exact", "store_near", "batch_exact", "batch_near"],
        size=n, p=[0.5, 0.15, 0.15, 0.1, 0.1],
    )
    for j, kind in enumerate(kinds):
        vid = first_id + j
        if kind.startswith("batch") and not fresh_ids:
            kind = "fresh"
        if kind == "fresh":
            fresh_ids.append(vid)
            rows.append((vid, "fresh", -1))
        elif kind.startswith("store"):
            rows.append((vid, kind, int(store_ids[int(rng.integers(0, len(store_ids)))])))
        else:
            rows.append((vid, kind, int(fresh_ids[int(rng.integers(0, len(fresh_ids)))])))
    return rows, fresh_ids


def dedup_inputs(seed: int, n_ticks: int, scale: float = 1.0) -> DedupPlan:
    """Plan the seeded stores and ``n_ticks`` micro-batches per gate.

    Each batch mixes fresh items (kept), exact and near duplicates of
    stored items (dropped, matched to the store) and exact and near
    duplicates of earlier items of the same batch (dropped, matched
    within the batch). Every kept item joins the store, so the stores
    grow by about half a batch per tick.
    """
    rng = np.random.default_rng([seed, 2])
    # The seed store trains the index (64 codes per subspace), so it
    # does not shrink with ``scale``.
    n_seed = DEDUP_SIZES["seed_store"]
    n_batch = max(20, int(DEDUP_SIZES["batch"] * scale))
    n_vec = n_seed + n_ticks * n_batch
    base = low_coherence_vectors(rng, n_vec)
    vocab = _vocab(rng)

    def fresh_doc():
        return " ".join(vocab[int(i)] for i in rng.integers(0, len(vocab), int(rng.integers(40, 80))))

    vecs = {i: base[i] for i in range(n_seed)}
    docs = {i: fresh_doc() for i in range(n_seed)}
    plan = DedupPlan(
        seed_vectors=_vector_table(list(range(n_seed)), [vecs[i] for i in range(n_seed)]),
        seed_docs=_doc_table(list(range(n_seed)), [docs[i] for i in range(n_seed)]),
    )
    stored_v, stored_d = list(range(n_seed)), list(range(n_seed))
    next_base = n_seed
    for tick in range(n_ticks):
        first = 1_000_000 * (tick + 1)
        for gate in ("vector", "doc"):
            store = stored_v if gate == "vector" else stored_d
            rows, fresh_ids = _batch_mix(rng, n_batch, store, first)
            ids, payload = [], []
            truth = plan.vector_truth if gate == "vector" else plan.doc_truth
            pool = vecs if gate == "vector" else docs
            for vid, kind, origin in rows:
                if kind == "fresh":
                    if gate == "vector":
                        pool[vid] = base[next_base]
                        next_base += 1
                    else:
                        pool[vid] = fresh_doc()
                    item = pool[vid]
                    truth[vid] = (True, -1, -1)
                else:
                    src = pool[origin]
                    near = kind.endswith("near")
                    if gate == "vector":
                        item = _near_vector(rng, src) if near else src
                    else:
                        item = _near_text(rng, src, vocab) if near else src
                    truth[vid] = (False, origin, -1) if kind.startswith("store") else (False, -1, origin)
                ids.append(vid)
                payload.append(item)
            store.extend(fresh_ids)
            if gate == "vector":
                plan.vector_batches.append(_vector_table(ids, payload))
            else:
                plan.doc_batches.append(_doc_table(ids, payload))
    return plan


def _vector_table(ids, vecs) -> pa.Table:
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array([np.asarray(v, np.float32).tolist() for v in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array([i % 10 for i in ids], pa.int32()),
    })


def _doc_table(ids, texts) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(ids), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


# --------------------------------------------------------------------------
# etl_bi_query: the star-schema tables of the query mix, and its order
# --------------------------------------------------------------------------

# Row counts of the generated tables (the layout of the repository's
# sf0.01 test tables). ``METRICS.md`` records the same numbers.
QUERY_SIZES = dict(customer=1_500, supplier=100, part=2_000, orders=15_000,
                   lineitem=60_000, events=10_000, documents=500)

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_DOC_WORDS = ("a", "the", "agg", "batch", "big", "column", "customer", "data", "fast",
              "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
              "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
              "value", "vector", "window")
_LANGS = ("de", "en", "en", "en", "es", "fr", "zh")


def _days_us(rng, lo: dt.datetime, n_days: int, n: int) -> np.ndarray:
    base = (lo - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
    return base + rng.integers(0, n_days, n) * _US_PER_DAY


def query_tables(seed: int, out_dir: str, scale: float = 1.0) -> None:
    """Write ``<table>.parquet`` for every table the query mix reads,
    with the column names and types of the repository's test tables."""
    rng = np.random.default_rng([seed, 3])
    n = {k: max(20, int(v * scale)) for k, v in QUERY_SIZES.items()}
    ts = pa.timestamp("us")

    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": pa.array(_REGIONS)}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2)),
            "c_mktsegment": pa.array([_SEGMENTS[i] for i in
                                      rng.integers(0, 5, n["customer"])]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2)),
        }),
        "part": _part_table(**_random_parts(rng, np.arange(n["part"]))),
    }
    no = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        # A tenth of the customers place no order.
        "o_custkey": pa.array(rng.integers(0, n["customer"] * 9 // 10, no), pa.int64()),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, no), 2)),
        "o_orderdate": pa.array(_days_us(rng, dt.datetime(1995, 1, 1), 2400, no), ts),
        "o_orderpriority": pa.array([_PRIORITIES[i] for i in rng.integers(0, 5, no)]),
    })
    nl = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, nl)]),
        "l_shipdate": pa.array(_days_us(rng, dt.datetime(1995, 1, 2), 2500, nl), ts),
    })
    tables["events"] = _events_table(**_random_events(
        rng, np.arange(n["events"]), 0, 30, 150, 100))
    nd = n["documents"]
    texts = [" ".join(_DOC_WORDS[i] for i in rng.integers(0, len(_DOC_WORDS),
                                                          int(rng.integers(8, 90))))
             for _ in range(nd)]
    # Every tenth document repeats an earlier one, for the dedup queries.
    texts = [texts[i - 5] if i % 10 == 9 else t for i, t in enumerate(texts)]
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([_LANGS[i] for i in rng.integers(0, len(_LANGS), nd)]),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    for name, table in tables.items():
        write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def query_order(seed: int, names: list[str]) -> list[str]:
    """The query mix in a seeded order: every name once."""
    order = sorted(names)
    random.Random(seed * 104729 + 11).shuffle(order)
    return order


def write_table(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
