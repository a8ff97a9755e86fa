"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_bi_query --seed 1 --seconds 16 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, runs it against the package in ``local[nproc]`` mode, checks every
output, and prints one JSON object as the last line of stdout: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``; both workloads print the same names. Everything the run writes goes under
``perfbench/_work/`` and is removed at the end, except the span dump of
a traced run (``perfbench/_work/spans-<workload>-<seed>.json``).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# End-to-end metrics, the same on every workload: the set-up, the CPU
# seconds the run's fixed timed work cost, and the bytes that work wrote
# per byte of input it took. The work's wall time is a per-layer metric:
# on a shared host it follows the CPU time the host steals (a quarter of
# it in some runs), which moves it by more than any bound allows.
END_TO_END = {"setup_s": "s", "work_cpu_s": "s", "write_amp": "ratio"}

_SPAN_FIELDS = (("s", "s"), ("jobs", "count"), ("tasks", "count"))


def per_layer_names() -> dict[str, str]:
    """Per-layer metric name -> unit. Every workload prints all of them;
    a layer the workload does not call reads 0."""
    import workloads

    names = {"session.get_spark.s": "s", "trace.overhead_s": "s", "peak_rss_mb": "MB",
             "work_s": "s", "steal_frac": "ratio",
             "etl_full_load_s": "s", "etl_day_p50_s": "s", "etl_write_amp": "ratio",
             "read_p50_ms": "ms", "read_p90_ms": "ms", "query_p50_s": "s",
             "query_p90_s": "s", "semantic_batch_p50_s": "s", "minhash_batch_p50_s": "s"}
    for stage in workloads.stage_names():
        names.update({f"plans.pipeline.{stage}.{k}": u for k, u in _SPAN_FIELDS})
    names["sources.writers.bytes_written"] = "bytes"
    names["sources.writers.files_written"] = "count"
    for view in workloads.view_names():
        names.update({f"plans.marketing.{view}.p50_ms": "ms",
                      f"plans.marketing.{view}.jobs": "count",
                      f"plans.marketing.{view}.tasks": "count"})
    for q in workloads.QUERY_MIX:
        names.update({f"query.{q}.s": "s", f"query.{q}.jobs": "count"})
    for gate in ("semantic", "minhash"):
        names.update({f"streaming.pipeline.{gate}.batch_s": "s",
                      f"streaming.pipeline.{gate}.jobs": "count",
                      f"streaming.pipeline.{gate}.tasks": "count",
                      f"streaming.pipeline.{gate}.late_over_early": "ratio",
                      f"streaming.pipeline.{gate}.keep_frac": "ratio"})
    names.update({"sources.versioned.codes_rows": "count",
                  "sources.versioned.vectors_rows": "count",
                  "sources.versioned.signatures_rows": "count",
                  "sources.versioned.store_bytes_written": "bytes",
                  "operators.similarity.train_ivf_pq_index.s": "s",
                  "operators.similarity.build_ivf_pq_codes.s": "s",
                  "sources.versioned.write_version.s": "s"})
    return names


def _span_stats(spans: list[dict]) -> dict:
    if not spans:
        return {"s": 0.0, "jobs": 0, "tasks": 0}
    med = statistics.median
    return {
        "s": med(s["end"] - s["start"] for s in spans),
        "jobs": med(s["jobs"] for s in spans),
        "tasks": med(s["tasks"] for s in spans),
    }


def per_layer(tracer, res, peak_rss_mb: float) -> dict[str, float]:
    """Medians over the traced spans of each layer, plus the workload's
    own per-layer figures; 0 for what the workload does not run."""
    import workloads

    out = dict.fromkeys(per_layer_names(), 0.0)
    out.update({"session.get_spark.s": _span_stats(tracer.named("session.get_spark"))["s"],
                "trace.overhead_s": tracer.probe_s, "peak_rss_mb": peak_rss_mb})
    days = {s["id"] for s in tracer.named("etl.day")}
    for stage in workloads.stage_names():
        spans = [s for s in tracer.named(f"plans.pipeline.{stage}") if s["parent"] in days]
        out.update({f"plans.pipeline.{stage}.{k}": v for k, v in _span_stats(spans).items()})
    for view in workloads.view_names():
        st = _span_stats(tracer.named(f"plans.marketing.{view}"))
        out.update({f"plans.marketing.{view}.p50_ms": st["s"] * 1000,
                    f"plans.marketing.{view}.jobs": st["jobs"],
                    f"plans.marketing.{view}.tasks": st["tasks"]})
    for q in workloads.QUERY_MIX:
        st = _span_stats(tracer.named(f"query.{q}"))
        out.update({f"query.{q}.s": st["s"], f"query.{q}.jobs": st["jobs"]})
    for gate in ("semantic", "minhash"):
        # The first tick is the warm-up, as in the batch metrics.
        st = _span_stats(tracer.named(f"streaming.pipeline.{gate}")[1:])
        out.update({f"streaming.pipeline.{gate}.batch_s": st["s"],
                    f"streaming.pipeline.{gate}.jobs": st["jobs"],
                    f"streaming.pipeline.{gate}.tasks": st["tasks"]})
    for name in ("operators.similarity.train_ivf_pq_index",
                 "operators.similarity.build_ivf_pq_codes",
                 "sources.versioned.write_version"):
        out[f"{name}.s"] = _span_stats(tracer.named(name))["s"]
    out.update(res.layers)
    return out


def _versions() -> dict:
    info = {"nproc": len(os.sched_getaffinity(0)), "python": platform.python_version()}
    try:
        import pyspark

        info["spark"] = pyspark.__version__
    except ImportError:
        info["spark"] = None
    try:
        java = subprocess.run(["java", "-version"], capture_output=True, text=True,
                              timeout=30)
        info["java"] = (java.stderr or java.stdout).splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        info["java"] = None
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=30)
        info["git_sha"] = sha.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        info["git_sha"] = None
    return info


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    if spark is None:
        return
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _pin_environment(work: str) -> None:
    """Point every temp and scratch location into the work directory,
    pin Spark to this host's cores, and put the package on the Python
    workers' path (they are launched outside the repository root)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier; the smoke self-test runs at a tiny scale")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"perfbench: the package is not under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    import workloads
    from spans import RssSampler, Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(HERE, "_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _pin_environment(work)
    run_id = f"{args.workload}-{args.seed}-{int(time.time())}"
    tracer = Tracer(run_id, bool(args.trace),
                    [os.path.join(work, d) for d in ("warehouse", "index", "mh_store")])
    ctx = workloads.Ctx(seed=args.seed, seconds=args.seconds, work=work, tracer=tracer,
                        scale=args.scale)
    try:
        with RssSampler(enabled=tracer.enabled) as rss:
            try:
                res = workloads.WORKLOADS[args.workload](ctx)
                if tracer.enabled:
                    values = per_layer(tracer, res, rss.peak / 2**20)
            finally:
                _stop_spark(ctx.spark)
    finally:
        if tracer.enabled:
            tracer.dump(os.path.join(base, f"spans-{args.workload}-{args.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)

    for line in ctx.log:
        print(f"perfbench: check failed: {line}", file=sys.stderr)
    attempted = len(res.op_s)
    if tracer.enabled:
        units = per_layer_names()
    else:
        values, units = res.metrics, END_TO_END
    summary = dict(res.summary, **res.layers, **res.metrics, failed_frac=res.failed / attempted,
                   ops=attempted, trace=args.trace, **_versions())
    print("perfbench summary: " + json.dumps(summary, sort_keys=True))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": attempted,
        "failed": res.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
