"""Core-scaling probe (VERDICT r12 item 6): measure the top wall-clock
queries at Nx-replicated data under DIFFERENT core counts and record
the low-core/high-core wall ratio per query.

Why this exists: at sf0.1 the 8-core/32-core bench ratio is flat
(median 1.08 in the driver's r12 run) because per-job fixed cost
dominates — which proves nothing about whether the plans parallelize.
This probe replicates the inputs 10x (the scale_probe construction:
shifted ids, symlinked small dims) so the data-scaled stages carry
real work, then runs each query through tools/measure_query.py in a
subprocess per core count (the session master is local[$SPARK_GRAFT_
CPUS], so a fresh process per core count is required). A query whose
big-data ratio stays ~1 gets a named cause or a fix (the VERDICT
contract).

Usage:
    python tools/core_probe.py --replicas 10 --cores 32,8 \
        --queries q1,q2,... --out PATH \
        [--extra cc_frontier=/tmp/cc_probe_out.json ...]

The builder reuses /tmp/docs{N}x.parquet and /tmp/star{N}x when they
already exist (same construction as tools/scale_probe.py)."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

BASE = "/root/testdata/sf0.1/documents.parquet"


def build_dirs(replicas: int) -> str:
    """Build (or reuse) the Nx-replicated star dir; returns its path."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.session import (  # noqa: PLC0415
        get_spark,
    )
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.tables import (  # noqa: PLC0415
        load_table,
    )

    sf_dir = os.path.dirname(BASE)
    big_path = os.path.join(tempfile.gettempdir(), f"docs{replicas}x.parquet")
    star_dir = os.path.join(tempfile.gettempdir(), f"star{replicas}x")
    done_marker = os.path.join(star_dir, ".core_probe_built")
    if os.path.exists(done_marker):
        return star_dir
    spark = get_spark("core_probe_build")
    if not os.path.exists(big_path):
        docs = spark.read.parquet(BASE)
        parts = [
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 1_000_000))
            for i in range(replicas)
        ]
        big = parts[0]
        for p in parts[1:]:
            big = big.unionByName(p)
        big.write.mode("overwrite").parquet(big_path)
    os.makedirs(star_dir, exist_ok=True)
    replicated = {
        "events": "event_id",
        "orders": "o_orderkey",
        "embeddings": "vec_id",
        "part": "p_partkey",
        "supplier": "s_suppkey",
        "lineitem": "l_orderkey",
    }
    for t in os.listdir(sf_dir):
        link = os.path.join(star_dir, t)
        if t.removesuffix(".parquet") in replicated:
            if os.path.islink(link):
                os.remove(link)
        elif t == "documents.parquet":
            if os.path.islink(link) or os.path.exists(link):
                os.remove(link)
            os.symlink(big_path, link)
        elif not os.path.exists(link):
            os.symlink(os.path.join(sf_dir, t), link)
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
    with open(done_marker, "w") as fh:
        fh.write(str(time.time()))
    spark.stop()
    return star_dir


LINE_RE = re.compile(r"^\s*([0-9.]+)s\s+jobs=(-?\d+)\s+(\S+)")


def measure(star_dir: str, cores: int, queries: list[str]) -> dict:
    """Run tools/measure_query.py in a subprocess pinned to `cores`."""
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = star_dir
    env["SPARK_GRAFT_CPUS"] = str(cores)
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "measure_query.py"),
         "--repeat", "2", *queries],
        capture_output=True, text=True, env=env, cwd=REPO,
        timeout=7200, check=False,
    )
    out = {}
    for line in proc.stdout.splitlines():
        m = LINE_RE.match(line)
        if m:
            out[m.group(3)] = {
                "sec": float(m.group(1)), "jobs": int(m.group(2))
            }
    if proc.returncode != 0 and not out:
        sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-4000:])
        raise SystemExit(f"measure subprocess rc={proc.returncode}")
    return out


def main() -> None:
    args = sys.argv[1:]

    def opt(name, default=None):
        if name in args:
            i = args.index(name)
            v = args[i + 1]
            del args[i : i + 2]
            return v
        return default

    replicas = int(opt("--replicas", "10"))
    cores = [int(c) for c in opt("--cores", "32,8").split(",")]
    queries = opt("--queries", "").split(",")
    out_path = opt("--out")
    if out_path is None:
        raise SystemExit("core_probe: --out PATH is required")
    extras = {}
    while "--extra" in args:
        k, _, p = opt("--extra").partition("=")
        with open(p) as fh:
            extras[k] = json.load(fh)
    star_dir = build_dirs(replicas)
    per_core: dict[int, dict] = {}
    for c in cores:
        per_core[c] = measure(star_dir, c, queries)
        print(json.dumps({"cores": c, "results": per_core[c]}))
    hi, lo = max(cores), min(cores)
    ratios = {}
    for q in queries:
        a, b = per_core.get(hi, {}).get(q), per_core.get(lo, {}).get(q)
        if a and b:
            ratios[q] = {
                f"sec_{hi}c": a["sec"],
                f"sec_{lo}c": b["sec"],
                "ratio_low_over_high": round(b["sec"] / max(a["sec"], 0.01), 2),
            }
    result = {
        "replicas": replicas,
        "data_dir": star_dir,
        "cores": cores,
        "ratio_definition": f"{lo}-core wall / {hi}-core wall at "
        f"{replicas}x data (parallel plans >> 1; fixed-cost-bound ~1)",
        "per_query": ratios,
        **extras,
    }
    with open(out_path, "w") as fh:
        json.dump(result, fh, indent=1)
    print(json.dumps({"written": out_path, "per_query": ratios}))


if __name__ == "__main__":
    main()
