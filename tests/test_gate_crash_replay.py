"""Crash replay of the streaming dedup gates' commit order.

Every gate runs through ``streaming.pipeline._run_gate_stream``, which
declares its commits as data: the decisions, then ``early`` stores
(concurrent with the decisions) and ``late`` stores (strictly after
them, in order). For each declared commit step this test lets the step
land and then kills the trigger, in the worst interleaving the
declaration allows: steps declared to run before it have landed, steps
that may run concurrently with it or after it have not. The gate is
then re-run on the SAME checkpoint, so Spark replays the batch, and the
final decisions and every store must equal a run without a crash.
"""

from __future__ import annotations

import inspect
import os
import shutil
import threading

import pyarrow as pa
import pyarrow.parquet as pa_pq
import pytest
from pyspark.sql import functions as F

from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
    multimodal,
)
from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
    dedup,
    similarity,
)
from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.sources import (
    versioned as vt,
)
from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.streaming import pipeline

_CRASH = "injected crash"


def _write_media_batch(rows, dst):
    pa_pq.write_table(
        pa.table({
            "media_id": pa.array([r[0] for r in rows], pa.int64()),
            "media_type": pa.array([r[1] for r in rows]),
            "payload": pa.array([r[2] for r in rows], pa.binary()),
            "meta_source": pa.array([r[3] for r in rows]),
        }),
        dst,
    )


def _seed_media(spark, base, rows, table_fn):
    """One batch of near-dup triples (ids 2..12); the store holds the
    base of group 0 (id 1), so the batch has store hits, within-batch
    hits and keepers."""
    _write_media_batch(
        [r for r in rows if r[0] != 1], f"{base}/src/b0.parquet"
    )
    seed = spark.createDataFrame(
        [r for r in rows if r[0] == 1], multimodal.MEDIA_SCHEMA
    )
    vt.write_version(table_fn(seed), f"{base}/store")


def _seed_image(spark, base, sf_dir):
    _seed_media(
        spark, base, multimodal.synthetic_near_dup_image_rows(4),
        dedup.MEDIA_FINGERPRINTS["image"].table,
    )


def _seed_video(spark, base, sf_dir):
    _seed_media(
        spark, base, multimodal.synthetic_near_dup_video_rows(4),
        dedup.MEDIA_FINGERPRINTS["video"].table,
    )


def _write_batch_with_copies(tbl, id_col, ids, copies, dst):
    """Write the ``ids`` rows of ``tbl`` plus exact copies of the rows
    ``copies`` maps new ids to, as one batch file."""
    pos = {v: i for i, v in enumerate(tbl[id_col].to_pylist())}
    extra = tbl.take([pos[src] for src in copies.values()])
    extra = extra.set_column(
        extra.schema.get_field_index(id_col), id_col,
        pa.array(list(copies), pa.int64()),
    )
    pa_pq.write_table(
        pa.concat_tables([tbl.take([pos[i] for i in ids]), extra]), dst
    )


def _seed_minhash(spark, base, sf_dir):
    """Eight documents plus copies of two stored documents (store hits)
    and of two batch documents (within-batch hits)."""
    path = os.path.join(sf_dir, "documents.parquet")
    docs = pa_pq.read_table(path, columns=["doc_id", "text"])
    ids = docs["doc_id"].to_pylist()
    stored, batch = ids[:8], ids[8:16]
    _write_batch_with_copies(
        docs, "doc_id", batch,
        {10**6 + 1: stored[0], 10**6 + 2: stored[1],
         10**6 + 3: batch[0], 10**6 + 4: batch[1]},
        f"{base}/src/b0.parquet",
    )
    seed = spark.read.parquet(path).filter(F.col("doc_id").isin(stored))
    vt.write_version(
        dedup.minhash_signatures(seed.select("doc_id", "text"))
        .withColumnRenamed("id", "doc_id"),
        f"{base}/store",
    )


def _seed_semantic(spark, base, sf_dir):
    """Index trained on the even vec_ids; the batch is eight odd ones
    plus copies of two indexed vectors and of two batch vectors."""
    path = os.path.join(sf_dir, "embeddings.parquet")
    emb = pa_pq.read_table(path)
    ids = emb["vec_id"].to_pylist()
    stored = [i for i in ids if i % 2 == 0]
    batch = [i for i in ids if i % 2 == 1][:8]
    _write_batch_with_copies(
        emb, "vec_id", batch,
        {10**6 + 1: stored[0], 10**6 + 2: stored[1],
         10**6 + 3: batch[0], 10**6 + 4: batch[1]},
        f"{base}/src/b0.parquet",
    )
    initial = spark.read.parquet(path).filter(F.col("vec_id") % 2 == 0)
    index = f"{base}/index"
    cent, books = similarity.train_ivf_pq_index(initial, train_iters=2)
    similarity.save_ivf_pq_index(spark, cent, books, index)
    similarity.build_ivf_pq_codes(spark, initial, index, index=(cent, books))
    vt.write_version(initial, f"{index}/vectors")


def _media_gate(modality):
    def run(spark, *args, **kwargs):
        return pipeline.run_streaming_media_dedup(
            spark, modality, *args, **kwargs
        )

    return run


# modality -> (fixture, gate, name of its store or index directory)
MODALITIES = {
    "image": (_seed_image, _media_gate("image"), "store"),
    "video": (_seed_video, _media_gate("video"), "store"),
    "minhash": (_seed_minhash, pipeline.run_streaming_minhash_dedup, "store"),
    "semantic": (
        _seed_semantic, pipeline.run_streaming_semantic_dedup, "index"
    ),
}


def _snapshot(spark, path):
    return sorted(tuple(r) for r in vt.read_version(spark, path).collect())


@pytest.mark.parametrize("modality", sorted(MODALITIES))
def test_gate_survives_a_crash_after_every_commit_step(
    spark, sf_dir, tmp_path, monkeypatch, modality
):
    seed_fn, gate, stores_dir = MODALITIES[modality]

    def run(spark, base):
        return gate(
            spark, f"{base}/src", f"{base}/{stores_dir}", f"{base}/dec",
            checkpoint_dir=f"{base}/ckpt",
        )

    seed = str(tmp_path / "seed")
    os.makedirs(f"{seed}/src")
    seed_fn(spark, seed, sf_dir)

    # The runner's declaration, captured from its call, as paths
    # relative to the run's base directory.
    declared = {}
    real_runner = pipeline._run_gate_stream

    def runner_spy(*args, **kwargs):
        arg = inspect.signature(real_runner).bind(*args, **kwargs).arguments
        base = os.path.dirname(arg["decisions_path"])
        rel = lambda p: os.path.relpath(p, base)  # noqa: E731
        declared.update(
            decisions=rel(arg["decisions_path"]),
            early=[rel(s.path) for s in arg["early"]],
            late=[rel(s.path) for s in arg["late"]],
        )
        return real_runner(*args, **kwargs)

    monkeypatch.setattr(pipeline, "_run_gate_stream", runner_spy)
    real_commit = pipeline.append_if_absent

    def fresh(name):
        base = str(tmp_path / name)
        shutil.copytree(seed, base)
        return base

    def final_state(base, out):
        stores = declared["early"] + declared["late"]
        return (
            sorted(tuple(r) for r in out.collect()),
            {p: _snapshot(spark, os.path.join(base, p)) for p in stores},
        )

    # No-crash run. It also checks that the runner keeps its declared
    # order: a late store starts only once every step before it landed.
    # The decisions commit holds off until a late store starts (or 5 s
    # pass), so a runner that does not wait for it is caught every time.
    events, lock = [], threading.Lock()
    late_started = threading.Event()

    def ordered_commit(sess, path, df, keys):
        step = os.path.relpath(path, base)
        with lock:
            events.append(("start", step))
        if step == declared["decisions"]:
            late_started.wait(timeout=5)
        elif step in declared["late"]:
            late_started.set()
        out = real_commit(sess, path, df, keys)
        with lock:
            events.append(("landed", step))
        return out

    base = fresh("clean")
    monkeypatch.setattr(pipeline, "append_if_absent", ordered_commit)
    want = final_state(base, run(spark, base))
    keep = [row[-1] for row in want[0]]
    assert any(keep) and not all(keep), want[0]
    dec, early, late = (declared[k] for k in ("decisions", "early", "late"))
    for j, store in enumerate(late):
        start = events.index(("start", store))
        for before in [dec, *early, *late[:j]]:
            assert events.index(("landed", before)) < start, (store, events)

    for k, crash_at in enumerate([dec, *early, *late]):
        # Worst case: only the steps declared to finish before
        # ``crash_at`` have landed with it.
        must_land = (
            {dec, *early, *late[: late.index(crash_at)]}
            if crash_at in late
            else set()
        )
        base = fresh(f"crash{k}")

        def crashing_commit(sess, path, df, keys, base=base,
                            crash_at=crash_at, must_land=must_land):
            step = os.path.relpath(path, base)
            if step in must_land:
                return real_commit(sess, path, df, keys)
            if step == crash_at:
                real_commit(sess, path, df, keys)
                raise RuntimeError(f"{_CRASH} after {step} landed")
            raise RuntimeError(f"{_CRASH} before {step} landed")

        monkeypatch.setattr(pipeline, "append_if_absent", crashing_commit)
        with pytest.raises(Exception, match=_CRASH):
            run(spark, base)
        monkeypatch.setattr(pipeline, "append_if_absent", real_commit)
        # Same checkpoint: Spark replays the batch the crash cut.
        got = final_state(base, run(spark, base))
        assert got == want, f"{modality}: crash after {crash_at} landed"
