"""Output checks, run untimed after the measured operations.

- ``EtlReplica``: an independent pandas replica of the warehouse the
  daily pipeline must produce (dimension and fact merges, stable and
  contiguous surrogate keys, SCD-1 updates), with the KPI views
  evaluated by DuckDB over the replica tables.
- ``duckdb_kpi``: the same KPI SQL run by DuckDB over warehouse files.
- ``same_as_oracle``: a registered query's result against its DuckDB
  oracle over the generated tables, compared as the repository's
  oracle gate compares them.
- ``dedup_mismatches``: gate decisions against the planted truth.

Every check returns what differs, in words or as ids; None or an empty
result means pass.
"""

from __future__ import annotations

import glob
import os
import re

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

_VIEW_DDL = re.compile(r"^\s*CREATE OR REPLACE TEMPORARY VIEW (\w+) AS", re.I)


def kpi_view_sql(warehouse_kpi_sql: dict[str, str]) -> dict[str, str]:
    """View name -> SELECT body of the package's KPI view DDL."""
    return {name: _VIEW_DDL.sub("", sql, count=1) for name, sql in warehouse_kpi_sql.items()}


def _canon_value(v):
    if isinstance(v, (pd.Timestamp, np.datetime64)):
        return pd.Timestamp(v).strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        return None if np.isnan(v) else float(v)
    if v is None:
        return None
    return str(v)


def canon_rows(df: pd.DataFrame) -> list[tuple]:
    """Order-insensitive, engine-neutral rows: columns by name, values
    as Python scalars, timestamps as text, rows sorted."""
    cols = sorted(df.columns)
    rows = [tuple(_canon_value(v) for v in r) for r in df[cols].itertuples(index=False)]
    return sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


def same_rows(got: pd.DataFrame, want: pd.DataFrame, tol: float = 2e-6) -> str | None:
    """None when equal as row multisets (floats within ``tol``)."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    g, w = canon_rows(got), canon_rows(want)
    if len(g) != len(w):
        return f"{len(g)} rows != {len(w)}"
    for a, b in zip(g, w):
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or abs(float(x) - float(y)) > tol:
                    return f"row {a} != {b}"
            elif x != y:
                return f"row {a} != {b}"
    return None


# --------------------------------------------------------------------------
# etl_bi_query: the daily pipeline
# --------------------------------------------------------------------------

def _read_day(day_dir: str) -> tuple[pd.DataFrame, pd.DataFrame]:
    ev = pq.read_table(os.path.join(day_dir, "events.parquet")).to_pandas()
    ev["k"] = ev["props"].str.extract(r'"k":\s*(-?\d+)')[0].astype("int64")
    part = pq.read_table(os.path.join(day_dir, "part.parquet")).to_pandas()
    return ev, part


class EtlReplica:
    """The warehouse state after each applied day, computed in pandas."""

    def __init__(self):
        self.d_event: dict[int, int] = {}
        self.d_user: dict[int, int] = {}
        self.d_parameter: dict[str, int] = {}
        self.d_item: dict[int, tuple] = {}
        # (event_id, event_name, k) -> [event_time, user, value, guid]
        self.fact: dict[tuple, list] = {}
        self.event_raw: pd.DataFrame | None = None

    @staticmethod
    def _extend(dim: dict, keys) -> None:
        nxt = max(dim.values(), default=0) + 1
        for key in sorted(set(keys) - dim.keys()):
            dim[key] = nxt
            nxt += 1

    def apply(self, day_dir: str) -> None:
        ev, part = _read_day(day_dir)
        raw = ev.sort_values("event_id").reset_index(drop=True)
        self.event_raw = raw.assign(guid_event_raw=np.arange(1, len(raw) + 1))
        self._extend(self.d_event, ev["event_id"].tolist())
        self._extend(self.d_user, ev["user_id"].tolist())
        self._extend(self.d_parameter, ev["event_type"].tolist())
        for r in part.itertuples(index=False):
            self.d_item[int(r.p_partkey)] = (r.p_name, r.p_brand, r.p_type,
                                             int(r.p_size), float(r.p_retailprice))
        rows = list(zip(ev["event_id"].tolist(), ev["event_type"].tolist(), ev["k"].tolist(),
                        ev["ts"].tolist(), ev["user_id"].tolist(), ev["value"].tolist()))
        if not self.fact:
            # Bootstrap: guids follow newest-first event time, id ascending.
            rows.sort(key=lambda r: (-r[3].value, r[0]))
            for g, r in enumerate(rows, 1):
                self.fact[r[:3]] = [r[3], r[4], r[5], g]
            return
        nxt = max(v[3] for v in self.fact.values()) + 1
        for r in sorted(rows, key=lambda r: r[0]):
            if r[:3] in self.fact:
                self.fact[r[:3]][:3] = [r[3], r[4], r[5]]
            else:
                self.fact[r[:3]] = [r[3], r[4], r[5], nxt]
                nxt += 1

    def f_events(self) -> pd.DataFrame:
        keys = list(self.fact)
        vals = [self.fact[k] for k in keys]
        return pd.DataFrame({
            "event_id": [k[0] for k in keys],
            "event_time": [v[0] for v in vals],
            "event_user_id": [v[1] for v in vals],
            "event_name": [k[1] for k in keys],
            "event_value": [v[2] for v in vals],
            "event_parameter_value": [k[2] for k in keys],
            "guid_event": [v[3] for v in vals],
        })

    def d_item_frame(self) -> pd.DataFrame:
        ids = sorted(self.d_item)
        cols = list(zip(*[self.d_item[i] for i in ids]))
        return pd.DataFrame({
            "item_id": ids, "item_name": list(cols[0]), "item_brand": list(cols[1]),
            "item_type": list(cols[2]), "item_size": list(cols[3]),
            "item_price": list(cols[4]),
        })

    def kpis(self, view_sql: dict[str, str]) -> dict[str, pd.DataFrame]:
        con = duckdb.connect()
        try:
            con.register("f_events", self.f_events())
            con.register("d_item", self.d_item_frame())
            return {name: con.execute(sql).df() for name, sql in view_sql.items()}
        finally:
            con.close()


def _read_table_dir(path: str) -> pd.DataFrame:
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)


def _contiguous(values) -> bool:
    v = sorted(int(x) for x in values)
    return v == list(range(1, len(v) + 1))


def check_warehouse(replica: EtlReplica, warehouse_dir: str) -> list[str]:
    """Row counts, unique contiguous guids, SCD-1 values, key maps."""
    problems = []

    def tbl(name):
        return _read_table_dir(os.path.join(warehouse_dir, name))

    for name, dim, key, guid in (
        ("d_event", replica.d_event, "event_id", "guid_event"),
        ("d_user", replica.d_user, "user_id", "guid_user"),
        ("d_parameter", replica.d_parameter, "parameter_name", "guid_parameter"),
    ):
        got = tbl(name)
        if len(got) != len(dim):
            problems.append(f"{name}: {len(got)} rows, replica {len(dim)}")
        if not _contiguous(got[guid]):
            problems.append(f"{name}: {guid} not unique and contiguous")
        if dict(zip(got[key].tolist(), got[guid].tolist())) != dim:
            problems.append(f"{name}: key -> {guid} map differs from replica")

    got = tbl("d_item")
    err = same_rows(got, replica.d_item_frame())
    if err:
        problems.append(f"d_item: {err}")

    got = tbl("f_events")
    if not _contiguous(got["guid_event"]):
        problems.append("f_events: guid_event not unique and contiguous")
    err = same_rows(got, replica.f_events())
    if err:
        problems.append(f"f_events: {err}")

    got = tbl("event_raw")
    want = replica.event_raw.rename(columns={"k": "item_key"})[
        ["event_id", "ts", "user_id", "event_type", "value", "item_key", "guid_event_raw"]]
    err = same_rows(got, want)
    if err:
        problems.append(f"event_raw: {err}")
    return problems


def check_bi_export(export_dir: str, want: dict[str, pd.DataFrame]) -> list[str]:
    """The exported KPI CSVs against the replica's KPI results."""
    problems = []
    for name, expected in want.items():
        files = sorted(glob.glob(os.path.join(export_dir, name, "*.csv")))
        if not files:
            problems.append(f"bi_export/{name}: no csv")
            continue
        got = pd.concat([pd.read_csv(f) for f in files], ignore_index=True)
        exp = expected.copy()
        for c in exp.columns:
            if pd.api.types.is_datetime64_any_dtype(exp[c]):
                exp[c] = exp[c].dt.strftime("%Y-%m-%d %H:%M:%S")
        err = same_rows(got, exp)
        if err:
            problems.append(f"bi_export/{name}: {err}")
    return problems


# --------------------------------------------------------------------------
# etl_bi_query: BI reads
# --------------------------------------------------------------------------

def duckdb_kpi(warehouse_dir: str, view_sql: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with the KPI views defined over the
    warehouse's parquet files."""
    con = duckdb.connect()
    for t in ("f_events", "d_item"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(warehouse_dir, t)}/*.parquet')"
        )
    for name, sql in view_sql.items():
        con.execute(f"CREATE VIEW {name} AS {sql}")
    return con


# --------------------------------------------------------------------------
# etl_bi_query: the query mix
# --------------------------------------------------------------------------

def duckdb_tables(tables_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per generated table, as the
    repository's oracle gate (``tools/check_oracles.py``) defines them."""
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        name = os.path.basename(f)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    return con


def same_as_oracle(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """The oracle gate's comparison: column names, row count and the
    order-insensitive value representation of ``check_oracles``."""
    from check_oracles import canon, value_repr

    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"{len(g)} rows != {len(w)}"
    gv, wv = value_repr(g), value_repr(w)
    if gv != wv:
        i = next(i for i, (a, b) in enumerate(zip(gv, wv)) if a != b)
        return f"row {i}: {gv[i]} != {wv[i]}"
    return None


# --------------------------------------------------------------------------
# dedup_stream
# --------------------------------------------------------------------------

def dedup_mismatches(decisions: pd.DataFrame, id_col: str,
                     truth: dict[int, tuple[bool, int, int]]) -> set[int]:
    """Ids whose decision differs from the planted truth (including
    ids the gate never decided). A planted store duplicate must name
    its origin as ``matched_store_id``; a planted batch duplicate must
    name its origin as ``matched_batch_id``."""
    got = {
        int(r[0]): (bool(r[1]), int(r[2]), int(r[3]))
        for r in decisions[[id_col, "keep", "matched_store_id", "matched_batch_id"]]
        .itertuples(index=False)
    }
    bad = set()
    for vid, (keep, store_id, batch_id) in truth.items():
        g = got.get(vid)
        if g is None or g[0] != keep:
            bad.add(vid)
        elif store_id >= 0 and g[1] != store_id:
            bad.add(vid)
        elif batch_id >= 0 and g[2] != batch_id:
            bad.add(vid)
    return bad
