"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py            # all tests, smoke runs included
    python3 perfbench/selftest.py --no-smoke # generators and checkers only

1. The generators are deterministic: the same seed writes byte-identical
   inputs, another seed writes other inputs.
2. Each checker accepts a correct output and rejects one planted
   corruption (a flipped KPI count, a wrong guid, a flipped keep
   decision, a changed query value).
3. BENCHMARK.json names the workloads and exactly the metrics they
   print.
4. A tiny-scale smoke run of every workload, untraced and traced, prints
   every metric the manifest names and fails no check.

Exits 0 when every test passes. Run from the repository root.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

import checks  # noqa: E402
import gen  # noqa: E402

FAILURES: list[str] = []


def expect(cond: bool, what: str) -> None:
    print(f"{'ok  ' if cond else 'FAIL'} {what}")
    if not cond:
        FAILURES.append(what)


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _write_inputs(seed: int, out: str) -> None:
    gen.etl_inputs(seed, os.path.join(out, "etl"), 2, 0.05)
    gen.query_tables(seed, os.path.join(out, "tables"), 0.05)
    plan = gen.dedup_inputs(seed, 2, 0.1)
    for i, t in enumerate([plan.seed_vectors, plan.seed_docs, *plan.vector_batches,
                           *plan.doc_batches]):
        gen.write_table(t, os.path.join(out, "dedup", f"t{i}.parquet"))
    with open(os.path.join(out, "orders.json"), "w") as fh:
        json.dump({"reads": gen.bi_read_sequence(seed, 10, 2),
                   "queries": gen.query_order(seed, ["a", "b", "c", "d", "e"]),
                   "truth": sorted(plan.vector_truth.items()) + sorted(plan.doc_truth.items())},
                  fh)


def test_determinism(tmp: str) -> None:
    digests = []
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        _write_inputs(seed, os.path.join(tmp, name))
        digests.append(_digest(os.path.join(tmp, name)))
    expect(digests[0] == digests[1], "same seed gives byte-identical inputs")
    expect(digests[0] != digests[2], "another seed gives other inputs")


def _fake_warehouse(replica: checks.EtlReplica, wh: str) -> None:
    """The warehouse tables the replica says the pipeline must write."""
    import pandas as pd

    def put(name, df):
        os.makedirs(os.path.join(wh, name), exist_ok=True)
        df.to_parquet(os.path.join(wh, name, "part-0.parquet"), index=False)

    for name, dim, key, guid in (
        ("d_event", replica.d_event, "event_id", "guid_event"),
        ("d_user", replica.d_user, "user_id", "guid_user"),
        ("d_parameter", replica.d_parameter, "parameter_name", "guid_parameter"),
    ):
        put(name, pd.DataFrame({key: list(dim), guid: list(dim.values())}))
    put("d_item", replica.d_item_frame())
    put("f_events", replica.f_events())
    put("event_raw", replica.event_raw.rename(columns={"k": "item_key"})[
        ["event_id", "ts", "user_id", "event_type", "value", "item_key", "guid_event_raw"]])


def _fake_export(kpis: dict, out: str) -> None:
    for name, df in kpis.items():
        os.makedirs(os.path.join(out, name), exist_ok=True)
        df.to_csv(os.path.join(out, name, "part-0.csv"), index=False,
                  date_format="%Y-%m-%d %H:%M:%S")


def test_checkers(tmp: str) -> None:
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.plans import marketing

    days = gen.etl_inputs(3, os.path.join(tmp, "in"), 1, 0.05)
    replica = checks.EtlReplica()
    for d in days:
        replica.apply(d)
    view_sql = checks.kpi_view_sql(marketing.WAREHOUSE_KPI_SQL)
    kpis = replica.kpis(view_sql)

    export = os.path.join(tmp, "export")
    _fake_export(kpis, export)
    expect(checks.check_bi_export(export, kpis) == [], "export check accepts the replica's KPIs")
    flipped = {k: v.copy() for k, v in kpis.items()}
    flipped["view_count_by_period"].loc[0, "item_view"] += 1
    _fake_export(flipped, export)
    expect(checks.check_bi_export(export, kpis) != [], "export check rejects a flipped KPI count")

    wh = os.path.join(tmp, "wh")
    _fake_warehouse(replica, wh)
    expect(checks.check_warehouse(replica, wh) == [], "warehouse check accepts the replica")
    con = checks.duckdb_kpi(wh, view_sql)
    got = con.execute("SELECT * FROM view_count_by_period").df()
    con.close()
    expect(checks.same_rows(got, kpis["view_count_by_period"]) is None,
           "BI read check accepts DuckDB over the warehouse files")
    bad = got.copy()
    bad.loc[0, "item_view"] += 1
    expect(checks.same_rows(bad, kpis["view_count_by_period"]) is not None,
           "BI read check rejects a flipped KPI count")
    replica.d_user[next(iter(replica.d_user))] += 10_000
    expect(checks.check_warehouse(replica, wh) != [], "warehouse check rejects a wrong guid")

    plan = gen.dedup_inputs(3, 1, 0.1)
    import pandas as pd

    truth = plan.vector_truth
    decisions = pd.DataFrame({
        "vec_id": list(truth),
        "keep": [t[0] for t in truth.values()],
        "matched_store_id": [t[1] for t in truth.values()],
        "matched_batch_id": [t[2] for t in truth.values()],
    })
    expect(checks.dedup_mismatches(decisions, "vec_id", truth) == set(),
           "dedup check accepts the planted truth")
    decisions.loc[0, "keep"] = not decisions.loc[0, "keep"]
    expect(checks.dedup_mismatches(decisions, "vec_id", truth) == {int(decisions.loc[0, "vec_id"])},
           "dedup check rejects a flipped keep decision")

    df = pd.DataFrame({"k": ["a", "b"], "v": [1.5, 2.25]})
    expect(checks.same_as_oracle(df, df.iloc[::-1]) is None,
           "query check accepts the oracle's rows in another order")
    expect(checks.same_as_oracle(df, df.assign(v=[1.5, 2.5])) is not None,
           "query check rejects a changed value")


def test_manifest() -> None:
    """BENCHMARK.json names exactly the metrics every workload prints."""
    import run
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        manifest = json.load(fh)
    expect({w["name"] for w in manifest["workloads"]} == set(workloads.WORKLOADS),
           "the manifest names every workload")
    expect({m["name"]: m["unit"] for m in manifest["end_to_end"]} == run.END_TO_END,
           "the manifest's end-to-end metrics are the ones printed")
    expect({m["name"]: m["unit"] for m in manifest["per_layer"]} == run.per_layer_names(),
           "the manifest's per-layer metrics are the ones printed")


def test_smoke() -> None:
    sys.path.insert(0, HERE)
    import run
    import workloads

    for workload in sorted(workloads.WORKLOADS):
        for trace in (0, 1):
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                 "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", "0.1"],
                cwd=ROOT, capture_output=True, text=True, timeout=900,
            )
            what = f"smoke {workload} --trace {trace}"
            if proc.returncode != 0:
                expect(False, f"{what}: exit {proc.returncode}: {proc.stderr[-2000:]}")
                continue
            out = json.loads(proc.stdout.strip().splitlines()[-1])
            names = run.per_layer_names() if trace else run.END_TO_END
            expect(set(out["metrics"]) == set(names), f"{what} prints every named metric")
            expect(out["failed"] == 0 and out["correct"], f"{what} has failed_frac == 0")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--no-smoke", action="store_true", help="skip the Spark smoke runs")
    args = ap.parse_args()
    work = os.path.join(HERE, "_work")
    os.makedirs(work, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=work)
    try:
        test_determinism(os.path.join(tmp, "det"))
        test_checkers(os.path.join(tmp, "chk"))
        test_manifest()
        if not args.no_smoke:
            test_smoke()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"{len(FAILURES)} failed" if FAILURES else "all self-tests pass")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
