"""Text analysis, multimodal plumbing, and the streaming pipeline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
    multimodal,
    text as text_fn,
)
from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.streaming import pipeline
from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.tables import (
    load_table,
    table_path,
)


@pytest.fixture(scope="module")
def samples(spark):
    rows = [
        (1, "the cat and the dog went to the park and that is that"),
        (2, "el gato de la casa que vive con los perros"),
        (3, "der hund und die katze das ist gut und der rest"),
        (4, ""),
        (5, "!!! ??? ***"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_language_id(samples):
    out = {
        r["doc_id"]: r["lang"]
        for r in samples.select(
            "doc_id", text_fn.language_id(F.col("text")).alias("lang")
        ).collect()
    }
    assert out[1] == "en"
    assert out[2] == "es"
    assert out[3] == "de"
    assert out[4] == "und"
    assert out[5] == "und"


def test_token_counts(samples):
    out = {
        r["doc_id"]: (r["n"], r["b"])
        for r in samples.select(
            "doc_id",
            text_fn.token_count(F.col("text")).alias("n"),
            text_fn.bpe_token_count(F.col("text")).alias("b"),
        ).collect()
    }
    assert out[1][0] == 13
    assert out[4] == (0, 0)
    assert out[5][0] == 3  # whitespace tokens
    assert out[5][1] == 9  # each symbol is its own BPE-ish token


def test_quality_and_ratios(samples):
    prof = {r["doc_id"]: r for r in text_fn.profile_documents(samples).collect()}
    assert prof[5]["punct_ratio"] > 0.5
    assert prof[1]["stopword_ratio"] > 0.3
    assert 0.0 <= prof[1]["quality"] <= 1.0
    assert prof[4]["n_tokens"] == 0


def test_fingerprint_normalizes_whitespace_case(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world")], "id long, text string"
    )
    fps = [
        r["fp"]
        for r in df.select(text_fn.fingerprint(F.col("text")).alias("fp")).collect()
    ]
    assert fps[0] == fps[1]


def test_media_features_schema_and_hash(spark):
    docs = spark.createDataFrame(
        [(1, "abc", "en", "s", 3)], "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = multimodal.media_feature_table(docs).collect()[0]
    assert out["n_bytes"] == 3
    assert out["media_type"] == "image/fake"
    assert out["payload_hash"] == "900150983cd24fb0d6963f7d28e17f72"  # md5("abc")
    assert out["decoded_width"] == 3 % 1024 + 1


def test_decode_stub_raises_on_none():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image_stub(None)


def test_decode_image_real_formats():
    """Real pure-Python decode: encoder round-trips for BMP and PPM,
    spec edge cases (top-down BMP negative height, BITMAPCOREHEADER,
    PPM comments/whitespace), and the documented fake fallback for
    unknown payloads."""
    import struct

    assert multimodal.decode_image(multimodal.encode_bmp(13, 7)) == (13, 7)
    assert multimodal.decode_image(multimodal.encode_ppm(5, 9)) == (5, 9)
    # top-down BMP stores a negative height — normalized to positive
    td = bytearray(multimodal.encode_bmp(6, 4))
    struct.pack_into("<i", td, 22, -4)
    assert multimodal.decode_image(bytes(td)) == (6, 4)
    # legacy BITMAPCOREHEADER: 12-byte info header, uint16 dims
    core = (
        struct.pack("<2sIHHI", b"BM", 26, 0, 0, 26)
        + struct.pack("<IHHHH", 12, 31, 17, 1, 24)
    )
    assert multimodal.decode_image(core) == (31, 17)
    # PPM header comments and arbitrary whitespace are spec-legal
    ppm = b"P6 # comment\n# full line\n 10\t20 #w h\n255\n" + b"\x00" * 600
    assert multimodal.decode_image(ppm) == (10, 20)
    # unknown format falls back to the deterministic fake
    blob = b"not an image"
    assert multimodal.decode_image(blob) == multimodal.decode_image_stub(blob)
    # truncated PPM header also falls back instead of raising
    assert multimodal.decode_image(b"P6 ") == multimodal.decode_image_stub(
        b"P6 "
    )
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(None)


def test_decode_image_png_gif_jpeg():
    """Round 7 formats: encoder round-trips, a real decompressible PNG,
    marker-scan robustness for JPEG (leading APP0 segment, fill bytes,
    progressive SOF2), and truncation fallbacks."""
    import struct
    import zlib

    assert multimodal.decode_image(multimodal.encode_png(13, 7)) == (13, 7)
    assert multimodal.decode_image(multimodal.encode_gif(640, 480)) == (
        640,
        480,
    )
    assert multimodal.decode_image(multimodal.encode_jpeg(1920, 1080)) == (
        1920,
        1080,
    )
    # the hand-built stored-block IDAT is a genuinely valid zlib stream
    png = multimodal.encode_png(4, 3)
    idat_off = png.index(b"IDAT") + 4
    idat_len = struct.unpack_from(">I", png, png.index(b"IDAT") - 4)[0]
    raw = zlib.decompress(png[idat_off : idat_off + idat_len])
    assert len(raw) == 3 * (1 + 3 * 4)  # h x (filter byte + 3w)
    # closed-form size the SQL oracle uses: 68 + h + 3wh
    assert len(png) == 68 + 3 + 3 * 4 * 3
    assert len(multimodal.encode_gif(9, 5)) == 14
    assert len(multimodal.encode_jpeg(9, 5)) == 23
    # JPEG with an APP0 (JFIF) segment and a fill byte before SOF2
    sof = struct.pack(">BHHB", 8, 33, 44, 1) + bytes([1, 0x11, 0])
    jfif = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    jpg = b"\xff\xd8" + jfif + b"\xff" + b"\xff\xc2" + struct.pack(
        ">H", 2 + len(sof)
    ) + sof + b"\xff\xd9"
    assert multimodal.decode_image(jpg) == (44, 33)
    # GIF87a variant also parses
    g87 = bytearray(multimodal.encode_gif(7, 3))
    g87[:6] = b"GIF87a"
    assert multimodal.decode_image(bytes(g87)) == (7, 3)
    # truncated signatures fall back to the fake instead of raising
    for trunc in (b"\x89PNG\r\n\x1a\n\x00\x00", b"GIF89a\x05", b"\xff\xd8\xff"):
        assert multimodal.decode_image(trunc) == multimodal.decode_image_stub(
            trunc
        )
    # JPEG whose segments end without any SOF marker -> fake
    nosof = b"\xff\xd8" + jfif + b"\xff\xd9"
    assert multimodal.decode_image(nosof) == multimodal.decode_image_stub(
        nosof
    )


def test_riff_wav_meta_real_parse():
    """Round-8 WAV/RIFF parse: encoder round-trip (duration from the
    fmt byte rate + data size, exact square-wave RMS), chunk-walk
    robustness (extra chunks, odd-size word alignment), and None for
    everything that is not a well-formed RIFF/WAVE."""
    import struct

    # 16000 samples @ 16 kHz mono 16-bit -> exactly 1000 ms; RMS = A/32768
    wav = multimodal.encode_wav(16000, 16000, amplitude=12345)
    assert multimodal.riff_wav_meta(wav) == (1000, 16000, 12345 / 32768.0)
    # non-integer duration floors like the container math says
    dur, sr, _ = multimodal.riff_wav_meta(
        multimodal.encode_wav(22051, 22050, amplitude=7)
    )
    assert (dur, sr) == (22051 * 2 * 1000 // (22050 * 2), 22050)
    # a LIST chunk with an ODD size before fmt/data: the walker must
    # skip its pad byte or it desyncs off the chunk grid
    body = wav[12:]
    odd = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00" + body
    wavodd = b"RIFF" + struct.pack("<I", 4 + len(odd)) + b"WAVE" + odd
    assert multimodal.riff_wav_meta(wavodd) == (
        1000, 16000, 12345 / 32768.0,
    )
    # not RIFF / truncated / RIFF-but-not-WAVE -> None (fake fallback)
    for bad in (b"", b"RIFF", b"RIFFxxxxAVI ", b"not audio at all"):
        assert multimodal.riff_wav_meta(bad) is None
    assert multimodal.media_duration_ms(b"xyz") == multimodal.fake_duration_ms(
        b"xyz"
    )
    assert multimodal.media_duration_ms(wav) == 1000


def test_mp4_duration_meta_real_parse():
    """Round-8 MP4/ISO-BMFF parse: encoder round-trip for v0 and v1
    mvhd headers, 64-bit largesize boxes, size==0 to-end boxes, and
    None for anything that is not a well-formed MP4."""
    import struct

    # 90000 ticks at timescale 90000 -> exactly 1000 ms
    assert multimodal.mp4_duration_meta(
        multimodal.encode_mp4(90000, 90000)
    ) == (1000, 90000)
    # v1 (64-bit) header, non-integer ms floors per the container math
    assert multimodal.mp4_duration_meta(
        multimodal.encode_mp4(600, 601, version=1)
    ) == (601 * 1000 // 600, 600)
    # a largesize (size==1) moov box must still parse
    mp4 = multimodal.encode_mp4(1000, 2500)
    moov = mp4[20:]
    large = (
        struct.pack(">I", 1)
        + b"moov"
        + struct.pack(">Q", 8 + len(moov))
        + moov[8:]
    )
    assert multimodal.mp4_duration_meta(mp4[:20] + large) == (2500, 1000)
    # size==0 (to end of file) on the moov box
    tail0 = struct.pack(">I", 0) + moov[4:]
    assert multimodal.mp4_duration_meta(mp4[:20] + tail0) == (2500, 1000)
    # not MP4 / truncated / zero timescale -> None (fake fallback)
    for bad in (b"", b"RIFFxxxxWAVE", b"\x00\x00\x00\x14ftypisom",
                multimodal.encode_mp4(0, 100)):
        assert multimodal.mp4_duration_meta(bad) is None
    # media_duration_ms dispatch: WAV -> RIFF math, MP4 -> mvhd math,
    # unknown -> fake
    assert multimodal.media_duration_ms(mp4) == 2500
    wav = multimodal.encode_wav(8000, 8000, 5)
    assert multimodal.media_duration_ms(wav) == 1000
    assert multimodal.media_duration_ms(b"???") == (
        multimodal.fake_duration_ms(b"???")
    )


def test_video_meta_mp4_real_unknown_fake(spark):
    """video_meta: MP4 rows report mvhd-derived duration/timescale,
    unknown containers keep the fake duration with NULL timescale."""
    rows = [
        (1, "video/mp4", multimodal.encode_mp4(1000, 4500), "f"),
        (2, "application/octet-stream", b"not a video", "f"),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in multimodal.video_meta(df).collect()}
    assert got[1]["duration_ms"] == 4500
    assert got[1]["timescale"] == 1000
    assert got[2]["duration_ms"] == multimodal.fake_duration_ms(b"not a video")
    assert got[2]["timescale"] is None


def test_audio_features_wav_real_unknown_fake(spark):
    """audio_features: WAV rows report header-derived duration/rate and
    PCM RMS; unknown containers keep the documented deterministic
    fakes — both paths in one Arrow batch."""
    rows = [
        (1, "audio/wav", multimodal.encode_wav(8000, 8000, 100), "f"),
        (2, "application/octet-stream", b"just some bytes", "f"),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in multimodal.audio_features(df).collect()}
    assert got[1]["duration_ms"] == 1000
    assert got[1]["sample_rate"] == 8000
    assert abs(got[1]["rms"] - 100 / 32768.0) < 1e-12
    blob = b"just some bytes"
    assert got[2]["duration_ms"] == multimodal.fake_duration_ms(blob)
    assert got[2]["sample_rate"] == 16000
    assert abs(got[2]["rms"] - (sum(blob) / len(blob)) / 255.0) < 1e-12


def test_bounded_state_partitions_restores_conf(spark):
    """The streaming state-partition pin must restore the session conf
    on BOTH the clean path and the exception path — a leaked value
    would silently retune every later batch query in the session."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    with pipeline.bounded_state_partitions(spark, 3):
        assert spark.conf.get(key) == "3"
    assert spark.conf.get(key) == old
    with pytest.raises(RuntimeError, match="boom"):
        with pipeline.bounded_state_partitions(spark, 5):
            assert spark.conf.get(key) == "5"
            raise RuntimeError("boom")
    assert spark.conf.get(key) == old


def test_streaming_counts_match_batch(spark, sf_dir):
    out = pipeline.run_stream_to_memory(
        spark, table_path(sf_dir, "events"), query_name="t_stream"
    )
    # load_table normalizes the on-disk nanos timestamp whatever this
    # reader build surfaces it as (bigint vs TIMESTAMP_NTZ).
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            "event_type",
        )
        .count()
    )
    assert out.count() == batch.count()
    assert out.agg(F.sum("n_events")).collect()[0][0] == 1000


def test_watermark_drops_late_events(spark, tmp_path):
    """Append-mode windowed agg: an event arriving in a later batch,
    older than (max event time - watermark), must be excluded from the
    finalized windows the sink emits."""
    import datetime as dt
    import os
    import shutil
    import time

    base = dt.datetime(2024, 5, 1, 0, 30, 0)

    def write_one(path, rows):
        df = spark.createDataFrame(
            [(i, int(ts.timestamp() * 1e9), 1, "view", 1.0, "{}")
             for i, ts in enumerate(rows)],
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string",
        )
        df.coalesce(1).write.mode("overwrite").parquet(path)

    f1 = str(tmp_path / "w1"); f2 = str(tmp_path / "w2")
    f3 = str(tmp_path / "w3")
    # Batch 1: events at t0 and t0+6h (advances the watermark to
    # t0+4h — but watermark application lags one batch).
    write_one(f1, [base, base + dt.timedelta(hours=6)])
    # Batch 2: another on-time event; the t0 window (end t0+1h <
    # watermark) is finalized and evicted at this batch.
    write_one(f2, [base + dt.timedelta(hours=7)])
    # Batch 3: a late event back at t0+1min — far beyond the 2h
    # watermark, state already evicted: must be dropped.
    write_one(f3, [base + dt.timedelta(minutes=1)])
    src = str(tmp_path / "wstream"); os.makedirs(src)
    now = time.time()
    for i, f in enumerate([f1, f2, f3]):
        part = [p for p in os.listdir(f) if p.endswith(".parquet")][0]
        dst = os.path.join(src, f"{i:03d}.parquet")
        shutil.copy(os.path.join(f, part), dst)
        os.utime(dst, (now + i * 10, now + i * 10))

    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.streaming import (
        pipeline as sp,
    )

    stream = sp.read_event_stream(spark, src + "/*")
    agg = sp.streaming_event_counts(stream, "1 hour", "2 hours")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_counts")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = [
        (r["window_start"], r["n_events"])
        for r in spark.table("wm_counts").collect()
    ]
    # The t0 window finalized with ONLY the on-time event; the late
    # arrival was dropped — no double count, no spurious re-emission.
    t0_window = base.replace(minute=0)
    assert rows.count((t0_window, 1)) == 1
    assert (t0_window, 2) not in rows


def test_winnow_guarantee_and_robustness(spark):
    # Two docs sharing a substring of length >= k+w-1 (=8 for k=5,w=4)
    # must share at least one fingerprint; the shared set is invariant
    # to where the substring sits in the document (position-robust).
    shared = "quartzite"
    rows = [
        (1, f"aaaa {shared} bbbb"),
        (2, f"cccc dddd eeee {shared}"),
        (3, "nothing in common here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {
        r["doc_id"]: set(r["fingerprints"])
        for r in text_fn.winnow_fingerprints(df).collect()
    }
    assert fps[1] & fps[2], "shared substring must yield a common fingerprint"
    assert all(fps.values()), "every non-empty doc gets fingerprints"
    assert not (fps[1] & fps[3])


def test_streaming_dedup_collapses_replayed_stream(spark, sf_dir, tmp_path):
    # An at-least-once source (same prefix mounted twice) must collapse
    # to exactly the distinct source rows — state-based dedup across
    # micro-batches, not just in-batch distinct.
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.streaming import (
        pipeline as sp,
    )
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.tables import (
        load_table,
        table_path,
    )

    out = sp.run_dedup_stream_to_memory(
        spark, table_path(sf_dir, "events"), query_name="dedup_test"
    )
    src = load_table(spark, sf_dir, "events")
    assert out.count() == src.count()
    assert out.select("event_id").distinct().count() == src.count()


def test_redact_pii_patterns(spark):
    rows = [
        (1, "mail me at jane.doe+x@corp.example.org today"),
        (2, "server 192.168.1.254 and phone 555-867-5309 up"),
        (3, "no pii here at all"),
        (4, "two mails: a@b.io and c.d@e-f.co end"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n"], r["red"])
        for r in df.select(
            "doc_id",
            text_fn.pii_hits(F.col("text")).alias("n"),
            text_fn.redact_pii(F.col("text")).alias("red"),
        ).collect()
    }
    assert out[1] == (1, "mail me at [PII] today")
    assert out[2] == (2, "server [PII] and phone [PII] up")
    assert out[3] == (0, "no pii here at all")
    assert out[4] == (2, "two mails: [PII] and [PII] end")


def test_top_terms_counts_and_ties(spark):
    rows = [(1, "apple banana apple"), (2, "banana cherry"), (3, "  Apple  ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        (r["term"], r["term_count"])
        for r in text_fn.top_terms(df, "text", 2).collect()
    ]
    # apple appears 3x (case-folded), banana 2x; cherry cut by k=2
    assert got == [("apple", 3), ("banana", 2)]


def test_streaming_hll_equals_batch(spark, sf_dir):
    """Register MAX is micro-batch-order invariant, so the streamed
    sketch must equal the batch sketch exactly — including the
    estimate finalized from it."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        sketches,
    )
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.tables import (
        load_table,
    )

    streamed = pipeline.run_hll_stream_to_memory(
        spark, table_path(sf_dir, "events"), query_name="hll_regs_test"
    ).collect()
    batch = (
        sketches.hll_distinct(
            load_table(spark, sf_dir, "events"), "user_id", ["event_type"]
        )
        .orderBy("event_type")
        .collect()
    )
    assert [tuple(r) for r in streamed] == [tuple(r) for r in batch]


def test_chunk_documents_windows(spark):
    """Chunk boundaries: 100 tokens with size=64/stride=48 gives chunks
    [1..64], [49..100], [97..100] — overlapping by 16, last one ragged."""
    words = " ".join(f"w{i}" for i in range(1, 101))
    df = spark.createDataFrame([(1, words), (2, "a b")],
                               "doc_id long, text string")
    out = {
        (r["doc_id"], r["chunk_index"]): r["n_tokens"]
        for r in text_fn.chunk_documents(df).collect()
    }
    assert out == {
        (1, 0): 64, (1, 1): 52, (1, 2): 4,
        (2, 0): 2,
    }


def test_sketch_streams_to_versioned_layer(spark, tmp_path):
    """Production-shaped sketch sink: the streaming HLL registers land
    in the versioned table layer via foreachBatch — one atomic version
    per micro-batch. Across >= 2 micro-batches the FINAL version's
    registers (finalized) must equal the memory-sink path bit-for-bit
    (register MAX is micro-batch-order invariant), and the intermediate
    version must equal the batch sketch over the first file alone (time
    travel to an ingest point)."""
    import datetime as dt
    import os
    import time

    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        sketches,
    )
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.sources import (
        versioned as vt,
    )
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.streaming import (
        pipeline as sp,
    )

    base = dt.datetime(2024, 3, 1, 12, 0, 0)

    def _write(path, rows):
        spark.createDataFrame(
            [(i, base, i % 7, "view" if i % 2 else "buy", float(i), "{}")
             for i in rows],
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(path)

    src = str(tmp_path / "stream")
    os.makedirs(src, exist_ok=True)
    now = time.time()
    batches = [list(range(1, 40)), list(range(30, 80))]
    for i, rows in enumerate(batches):
        f = str(tmp_path / f"b{i}")
        _write(f, rows)
        part = [p for p in os.listdir(f) if p.endswith(".parquet")][0]
        dst = os.path.join(src, f"{i:03d}.parquet")
        os.rename(os.path.join(f, part), dst)
        os.utime(dst, (now + i * 10, now + i * 10))

    tbl = str(tmp_path / "hll_regs")
    via_versioned = sp.run_hll_stream_to_versioned(
        spark, src + "/*", tbl, checkpoint_dir=str(tmp_path / "ck_hll")
    ).collect()
    via_memory = sp.run_hll_stream_to_memory(
        spark, src + "/*", query_name="hll_vs_versioned_test"
    ).collect()
    assert [tuple(r) for r in via_versioned] == [tuple(r) for r in via_memory]
    versions = vt.table_versions(tbl)
    assert len(versions) >= 2  # one atomic commit per micro-batch
    # time travel: the first version's registers ARE the batch sketch
    # over the first file alone
    first_regs = vt.read_version(spark, tbl, versions[0])
    first_batch = sketches.hll_registers(
        spark.read.parquet(os.path.join(src, "000.parquet")),
        "user_id",
        ["event_type"],
    )
    canon = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    assert canon(first_regs) == canon(first_batch)



def test_unigram_surprisal_values_and_bands(spark):
    """Hand-computed check: corpus tokens a,a,a,b,a → N=5, s(a)=-ln(4/5),
    s(b)=-ln(1/5), each floor-truncated at 6 decimals BEFORE the mean;
    empty docs report 0.0/'head'."""
    import math

    df = spark.createDataFrame(
        [(1, "a a a"), (2, "b a"), (3, "   ")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["mean_surprisal"], r["ppl_band"])
        for r in text_fn.unigram_surprisal(
            df, head_max=0.5, tail_min=1.0
        ).collect()
    }
    s_a = math.floor(-math.log(4 / 5) * 1e6) / 1e6
    s_b = math.floor(-math.log(1 / 5) * 1e6) / 1e6
    m1 = math.floor(s_a * 3 / 3 * 1e6) / 1e6
    m2 = math.floor((s_a + s_b) / 2 * 1e6) / 1e6
    assert got[1] == (3, m1, "head")       # 0.223143 < 0.5
    assert got[2] == (2, m2, "middle")     # 0.916290 in [0.5, 1.0]
    assert got[3] == (0, 0.0, "head")      # empty doc


def test_bigram_surprisal_hand_computed(spark):
    """doc1 'a b a c', doc2 'a b': model c(a,b)=2, c(b,a)=1, c(a,c)=1,
    c(a,.)=3, c(b,.)=1 -> s(a,b)=trunc6(ln(3/2))=0.405465, s(b,a)=0,
    s(a,c)=trunc6(ln 3)=1.098612. doc1 mean=(0.405465+0+1.098612)/3 =
    0.501359; doc2 mean=0.405465; a 1-token doc has 0 bigrams."""
    df = spark.createDataFrame(
        [(1, "a b a c"), (2, "a b"), (3, "solo")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r for r in text_fn.bigram_surprisal(df).collect()
    }
    assert out[1]["n_bigrams"] == 3
    assert out[1]["mean_bigram_surprisal"] == 0.501359
    assert out[2]["n_bigrams"] == 1
    assert out[2]["mean_bigram_surprisal"] == 0.405465
    assert out[3]["n_bigrams"] == 0
    assert out[3]["mean_bigram_surprisal"] == 0.0


def test_source_divergence_hand_computed(spark):
    """A='x x y' (x:2,y:1,T=3), B='x z' (x:1,z:1,T=2), C='q'. Shared
    support of (A,B) is {x}: pa=2/3, pb=1/2, term=trunc6((2/3)ln(8/7)
    +(1/2)ln(6/7))=0.011945; private mass (1-2/3)+(1-1/2); JSD =
    trunc6(0.5*(0.8333...*0.693147+0.011945)) = 0.294783. Disjoint
    pairs (A,C),(B,C) must still appear, at exactly ln2 = 0.693147."""
    df = spark.createDataFrame(
        [(1, "x x", "A"), (2, "y", "A"), (3, "x z", "B"), (4, "q", "C")],
        "doc_id long, text string, source string",
    )
    out = {
        (r["source_a"], r["source_b"]): r
        for r in text_fn.source_unigram_divergence(df).collect()
    }
    assert set(out) == {("A", "B"), ("A", "C"), ("B", "C")}
    assert out[("A", "B")]["n_shared_terms"] == 1
    assert out[("A", "B")]["js_divergence"] == 0.294783
    for pair in [("A", "C"), ("B", "C")]:
        assert out[pair]["n_shared_terms"] == 0
        assert out[pair]["js_divergence"] == 0.693147


def test_streaming_doc_quality_gate_multibatch_converges(spark, tmp_path):
    """The streaming quality gate over a THREE-file corpus (three
    micro-batches under maxFilesPerTrigger=1) converges to exactly the
    batch gopher rollup of the union — per-(source, keep) doc and
    token counts."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.streaming import (
        pipeline as sp,
    )

    good = "the quick brown fox jumps over the lazy dog " * 3  # 27 words
    bad = "zzz qqq"  # fails min_words
    rows = [
        (i, good if i % 3 else bad, "en", f"s{i % 2}", 1)
        for i in range(12)
    ]
    src = tmp_path / "docs"
    for part in range(3):
        spark.createDataFrame(
            [r for r in rows if r[0] % 3 == part],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.mode("append").parquet(str(src))

    got = {
        (r["source"], r["keep"]): (r["n_docs"], r["n_words"])
        for r in sp.run_doc_quality_stream_to_memory(
            spark, str(src) + "/*.parquet", query_name="gate_mb"
        ).collect()
    }
    flags = text_fn.gopher_quality_flags(
        spark.read.parquet(str(src)),
        min_words=20,
        max_words=100_000,
        min_stopword_ratio=0.05,
        extra_cols=("source",),
    )
    expect = {
        (r["source"], r["keep"]): (r["n_docs"], r["n_words"])
        for r in flags.groupBy("source", "keep")
        .agg(F.count("*").alias("n_docs"), F.sum("n_words").alias("n_words"))
        .collect()
    }
    assert got == expect
    # both keep outcomes are actually present in the fixture
    assert {k for _s, k in got} == {True, False}


def test_streaming_crawl_triage_matches_batch(spark, tmp_path):
    """The triage stream (gate + NFC audit + script mix, production
    path: one text column, no injection) over a multi-file corpus
    converges to the batch composition of the same three operators —
    per-(source, keep, dominant_script, changed) counts."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.streaming import (
        pipeline as sp,
    )

    good = "the quick brown fox jumps over the lazy dog " * 3
    rows = [
        (0, good + " привет мир", "en", "s0", 1),     # cyrillic tail
        (1, good + " e\u0301e\u0301", "en", "s0", 1),  # decomposed marks
        (2, good, "en", "s1", 1),
        (3, "zzz qqq", "en", "s1", 1),                # fails gate
        (4, good + " 世界 漢字 世界 漢字 世界 漢字 " * 30, "en", "s0", 1),
    ]
    src = tmp_path / "docs"
    for part in range(2):
        spark.createDataFrame(
            [r for r in rows if r[0] % 2 == part],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.mode("append").parquet(str(src))

    def key(r):
        return (r["source"], r["keep"], r["dominant_script"], r["changed"])

    got = {
        key(r): (r["n_docs"], r["n_words"])
        for r in sp.run_crawl_triage_stream_to_memory(
            spark, str(src) + "/*.parquet", query_name="triage_mb"
        ).collect()
    }
    batch = sp.streaming_crawl_triage_counts(spark.read.parquet(str(src)))
    expect = {key(r): (r["n_docs"], r["n_words"]) for r in batch.collect()}
    assert got == expect
    # the fixture actually exercises every signal axis
    assert {k[1] for k in got} == {True, False}          # keep
    assert {k[3] for k in got} == {True, False}          # changed
    assert "cyrillic" in {k[2] for k in got} or "han" in {k[2] for k in got}


def test_winnow_char_cap_observable(spark):
    """Default-on giant-doc cap: below the cap, identical fingerprints
    with truncated false; a binding cap fingerprints the prefix only
    and flags the row; uncapped=True restores the legacy schema."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        text as text_fn,
    )

    long_text = "abcdefghij" * 10
    df = spark.createDataFrame(
        [(1, long_text), (2, "tiny doc")], "doc_id long, text string"
    )
    full = {r["doc_id"]: r for r in text_fn.winnow_fingerprints(df).collect()}
    assert all(not r["truncated"] for r in full.values())
    esc = text_fn.winnow_fingerprints(df, uncapped=True)
    assert "truncated" not in esc.columns
    capped = {
        r["doc_id"]: r
        for r in text_fn.winnow_fingerprints(df, max_chars=20).collect()
    }
    assert capped[1]["truncated"] and not capped[2]["truncated"]
    prefix = {
        r["doc_id"]: r["fingerprints"]
        for r in text_fn.winnow_fingerprints(
            df.select("doc_id", F.substring("text", 1, 20).alias("text"))
        ).collect()
    }
    assert capped[1]["fingerprints"] == prefix[1]
    assert capped[2]["fingerprints"] == full[2]["fingerprints"]


def test_pixel_codec_roundtrip():
    """encode_bmp_pixels/_bmp_pixels and encode_ppm_pixels/_ppm_pixels
    are exact inverses — including odd widths exercising BMP's 4-byte
    row stride padding and PPM's header tokenizer."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        multimodal as mm,
    )

    for w, h in [(1, 1), (3, 2), (5, 4), (18, 16)]:
        rows = [
            [((x * 7 + y) % 256, (y * 5 + x) % 256, (x * y + 3) % 256)
             for x in range(w)]
            for y in range(h)
        ]
        assert mm._bmp_pixels(mm.encode_bmp_pixels(rows)) == rows
        assert mm._ppm_pixels(mm.encode_ppm_pixels(rows)) == rows
    # comments in the PPM header must be skipped
    ppm = b"P6\n# a comment\n2 1\n255\n" + bytes((1, 2, 3, 4, 5, 6))
    assert mm._ppm_pixels(ppm) == [[(1, 2, 3), (4, 5, 6)]]


def test_png_pixel_codec_roundtrip():
    """encode_png_pixels/_png_pixels are exact inverses for every
    scanline filter type (0-4), for RGB and RGBA (alpha dropped),
    across widths that stress the x<bpp left-edge predictor cases —
    and the hash a PNG payload yields is bit-identical to the same
    grid's BMP/PPM hashes, so the near-dup graph is format-blind."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        multimodal as mm,
    )

    for w, h in [(1, 1), (2, 3), (5, 4), (18, 16)]:
        rows = [
            [((x * 7 + y) % 256, (y * 5 + x) % 256, (x * y + 3) % 256)
             for x in range(w)]
            for y in range(h)
        ]
        for flt in ([0], [1], [2], [3], [4], None):
            for alpha in (False, True):
                payload = mm.encode_png_pixels(rows, filters=flt, alpha=alpha)
                assert mm._png_pixels(payload) == rows, (w, h, flt, alpha)
    grid = mm._dup_group_pixels(5, 21, 20, 2)
    hashes = {
        mm.image_dhash(mm.encode_bmp_pixels(grid)),
        mm.image_dhash(mm.encode_ppm_pixels(grid)),
        mm.image_dhash(mm.encode_png_pixels(grid)),
        mm.image_dhash(mm.encode_png_pixels(grid, alpha=True)),
    }
    assert len(hashes) == 1
    # the dimension fixture's stored-deflate IDAT is a valid zlib
    # stream — the pixel decoder must accept it too
    assert mm._png_pixels(mm.encode_png(4, 2, (9, 8, 7))) == [
        [(9, 8, 7)] * 4
    ] * 2


def test_gif_pixel_codec_roundtrip():
    """encode_gif_pixels/_gif_pixels are exact inverses — plain and
    interlaced, across grids large enough to force multiple LZW CLEAR
    cycles and >255-byte sub-blocks — and a GIF payload hashes
    bit-identically to a BMP of the same palette grid."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        multimodal as mm,
    )

    for w, h in [(1, 1), (5, 4), (18, 16), (64, 48)]:
        rows = mm._dup_group_pixels(3, w, h, 1, palette=True)
        for inter in (False, True):
            payload = mm.encode_gif_pixels(rows, interlace=inter)
            assert mm._gif_pixels(payload) == rows, (w, h, inter)
    grid = mm._dup_group_pixels(7, 30, 24, 2, palette=True)
    assert mm.image_dhash(mm.encode_gif_pixels(grid)) == mm.image_dhash(
        mm.encode_bmp_pixels(grid)
    )
    # >256 distinct colors is a fixture error, not silent quantization
    import pytest as _pytest

    truecolor = mm._dup_group_pixels(2, 30, 24, 0)
    with _pytest.raises(ValueError):
        mm.encode_gif_pixels(truecolor)
    # the 14-byte structural GIF fixture has no raster: still the
    # documented skip path
    with _pytest.raises(NotImplementedError):
        mm._gif_pixels(mm.encode_gif(8, 8))


def test_jpeg_codec_roundtrip_matches_replica():
    """decode(encode(grid)) must equal the closed-form codec math
    (tools/gen_expected.py:_jpeg_decoded_replica) BIT-FOR-BIT across
    qualities, color/grayscale, and non-multiple-of-8 dims — pinning
    the Huffman/marker/bit-stuffing byte layer as lossless — and the
    lossy error must stay bounded (a sane codec, not just a
    deterministic one)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from tools import gen_expected as ge
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        multimodal as mm,
    )

    for g, w, h, q, gray, sub in [
        (0, 24, 16, 100, False, "444"),
        (1, 21, 13, 90, False, "444"),
        (2, 18, 20, 70, False, "420"),
        (3, 8, 8, 80, True, "444"),
        (4, 33, 9, 95, False, "420"),
        (5, 32, 16, 90, False, "420"),
    ]:
        grid = mm._dup_group_pixels(g, w, h, g % 3)
        payload = mm.encode_jpeg_pixels(
            grid, quality=q, grayscale=gray, subsampling=sub
        )
        dec = mm._jpeg_pixels(payload)
        rep = ge._jpeg_decoded_replica(
            grid, q, grayscale=gray, subsampling=sub
        )
        assert dec == rep, (g, w, h, q, gray, sub)
        assert len(dec) == h and len(dec[0]) == w
        if not gray:
            errs = [
                abs(a - b)
                for ro, rd in zip(grid, dec)
                for po, pd_ in zip(ro, rd)
                for a, b in zip(po, pd_)
            ]
            # chroma averaging on a per-pixel NOISE pattern is the
            # worst case for 4:2:0 — real images have coherent chroma
            assert sum(errs) / len(errs) < (40 if sub == "420" else 20)
        assert mm.decode_image(payload) == (w, h)
    # determinism: byte-identical re-encode
    grid = mm._dup_group_pixels(5, 24, 16, 0)
    assert mm.encode_jpeg_pixels(grid) == mm.encode_jpeg_pixels(grid)
    # the 23-byte structural fixture (no scan) still raises → the
    # dhash_table skip path
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        mm._jpeg_pixels(mm.encode_jpeg(8, 8))


def test_corrupt_payloads_raise_not_implemented_only():
    """Truncating or corrupting a VALID payload of any supported
    format must surface as NotImplementedError — the one exception
    the Arrow skip paths catch — never a raw IndexError/struct.error/
    zlib.error that would kill the executor on a crawl's bad blob."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        multimodal as mm,
    )

    grid = mm._dup_group_pixels(1, 18, 16, 0)
    pal = mm._dup_group_pixels(1, 18, 16, 0, palette=True)
    payloads = [
        mm.encode_bmp_pixels(grid),
        mm.encode_ppm_pixels(grid),
        mm.encode_png_pixels(grid),
        mm.encode_gif_pixels(pal),
        mm.encode_jpeg_pixels(grid),
        mm.encode_jpeg_pixels(grid, progressive=True),
        mm.encode_jpeg_pixels(grid, subsampling="420", progressive=True),
        mm.encode_jpeg_pixels(grid, restart_interval=2),
        mm.encode_jpeg_pixels(grid, subsampling="420", restart_interval=1),
        mm.encode_jpeg_pixels(grid, subsampling="422"),
        mm.encode_jpeg_pixels(grid, subsampling="422", progressive=True),
    ]
    for payload in payloads:
        # sanity: the intact payload decodes
        assert len(mm.decode_image_pixels(payload)) == 16
        for cut in (8, len(payload) // 3, len(payload) - 3):
            trunc = payload[:cut]
            try:
                mm.decode_image_pixels(trunc)
            except NotImplementedError:
                pass  # the contract
            # any OTHER exception type fails the test loudly
        # flip bytes mid-payload (corrupt tables / entropy stream)
        for pos in (len(payload) // 2, 2 * len(payload) // 3):
            corrupt = bytearray(payload)
            corrupt[pos] ^= 0xA5
            try:
                mm.decode_image_pixels(bytes(corrupt))
            except NotImplementedError:
                pass
    # audio: truncated WAVs raise only the types the table-level skip
    # catches (NotImplementedError / struct.error / ValueError /
    # IndexError — the audio_fingerprint_table except clause)
    import struct

    wav = mm.encode_wav_samples(mm._near_dup_audio_samples(2, 0), 8000)
    for cut in (5, 10, 30, len(wav) // 2, len(wav) - 1):
        try:
            mm.audio_fingerprint(wav[:cut])
        except (NotImplementedError, struct.error, ValueError,
                IndexError):
            pass


def test_dhash_table_skips_undecodable(spark):
    """A format-mixed media table (structural GIF/JPEG fixtures have
    no raster) must yield hashes for decodable payloads and silently
    drop the rest — one exotic payload must not fail the job
    (ADVICE r09)."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        multimodal as mm,
    )

    grid = mm._dup_group_pixels(1, 18, 16, 0)
    rows = [
        (1, "image/bmp", mm.encode_bmp_pixels(grid), "fixture"),
        (2, "image/png", mm.encode_png_pixels(grid), "fixture"),
        (3, "image/gif", mm.encode_gif(8, 8), "fixture"),
        (4, "image/jpeg", mm.encode_jpeg(8, 8), "fixture"),
    ]
    got = {
        r["media_id"]: r["dhash"]
        for r in mm.dhash_table(
            spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
        ).collect()
    }
    assert set(got) == {1, 2} and got[1] == got[2]


def test_image_dhash_banded_join_is_exact():
    """The banded Hamming join must find EXACTLY the brute-force pair
    set (pigeonhole blocking is lossless) on the fixture."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        multimodal as mm,
    )
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        dedup,
    )
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.session import (
        get_spark,
    )

    spark = get_spark("t")
    tbl = mm.synthetic_near_dup_image_table(spark, 8)
    hashes = {r["media_id"]: r["dhash"] for r in mm.dhash_table(tbl).collect()}
    brute = {
        (a, b, bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1"))
        for a in hashes
        for b in hashes
        if a < b
        and bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1") <= 3
    }
    got = {
        (r["media_id_a"], r["media_id_b"], r["hamming"])
        for r in dedup.media_near_dups(tbl, "image").collect()
    }
    assert got == brute and len(got) >= 8


def test_audio_fingerprint_banded_join_is_exact(spark):
    """The banded Hamming join over audio fingerprints must find
    EXACTLY the brute-force pair set (pigeonhole blocking is
    lossless), and the WAV sample codec must round-trip."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        multimodal as mm,
    )
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        dedup,
    )

    samples = mm._near_dup_audio_samples(5, 2)
    assert mm._wav_samples(mm.encode_wav_samples(samples, 16000)) == samples

    tbl = mm.synthetic_near_dup_audio_table(spark, 8)
    fps = {
        r["media_id"]: r["afp"]
        for r in mm.audio_fingerprint_table(tbl).collect()
    }
    brute = {
        (a, b, bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1"))
        for a in fps
        for b in fps
        if a < b
        and bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1") <= 3
    }
    got = {
        (r["media_id_a"], r["media_id_b"], r["hamming"])
        for r in dedup.media_near_dups(tbl, "audio").collect()
    }
    assert got == brute and len(got) >= 8


def test_audio_fingerprint_table_skips_undecodable(spark):
    """Non-PCM payloads (MP4 video, truncated blobs) must be skipped,
    not fatal — the dhash_table posture applied to audio."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        multimodal as mm,
    )

    wav = mm.encode_wav_samples(mm._near_dup_audio_samples(2, 0), 8000)
    rows = [
        (1, "audio/wav", wav, "fixture"),
        (2, "video/mp4", mm.encode_mp4(600, 1200), "fixture"),
        (3, "audio/raw", b"\x01\x02\x03", "fixture"),
    ]
    got = {
        r["media_id"]
        for r in mm.audio_fingerprint_table(
            spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
        ).collect()
    }
    assert got == {1}


def test_leakage_safe_split_couples_duplicates(spark):
    """Byte-identical (and whitespace/case-variant) duplicates must
    land in the same split; the assignment must also be id-invariant
    (re-ingesting a doc under a new id keeps its split)."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
        sampling,
    )

    rows = [
        (1, "the quick brown fox"),
        (2, "The  quick   BROWN fox  "),  # normalizes equal to doc 1
        (3, "a different document entirely"),
        (1000003, "a different document entirely"),  # re-crawl of 3
    ] + [(10 + i, f"unique doc number {i}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["split"]
        for r in sampling.split_assign_leakage_safe(df, salt="s").collect()
    }
    assert out[1] == out[2]
    assert out[3] == out[1000003]
    # and the splits are not degenerate: >1 split present across docs
    assert len(set(out.values())) > 1


def test_unicode_normalize_composes_and_fingerprints(spark):
    """Decomposed and composed forms of the same visible string must
    produce the SAME norm_md5, with changed flagged only on the
    decomposed row; pure-ASCII text passes through unchanged."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        text as text_fn,
    )

    rows = [
        (1, "café society"),        # composed é
        (2, "café society"),       # decomposed e + U+0301
        (3, "plain ascii"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in text_fn.unicode_normalize_docs(df).collect()
    }
    assert out[1]["norm_md5"] == out[2]["norm_md5"]
    assert not out[1]["changed"] and out[2]["changed"]
    assert out[2]["n_chars_before"] == out[2]["n_chars_after"] + 1
    assert not out[3]["changed"]
    assert out[3]["n_chars_before"] == out[3]["n_chars_after"]


def test_script_mix_dominant_precedence_and_none(spark):
    """Hand corpus: dominant script picks the max count with the fixed
    latin>cyrillic>han>greek tie precedence; pure-punctuation docs land
    on 'none' with latin_ratio 0."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        text as text_fn,
    )

    rows = [
        (1, "abc где"),      # 3 latin vs 3 cyrillic -> tie -> latin
        (2, "мир мир ok"),   # cyrillic dominant
        (3, "... 123 !!!"),  # no script letters -> none
        (4, "αβγδ ab"),      # greek dominant
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text_fn.script_mix_profile(df).collect()}
    assert out[1]["dominant_script"] == "latin"
    assert out[2]["dominant_script"] == "cyrillic"
    assert out[3]["dominant_script"] == "none"
    assert out[3]["latin_ratio"] == 0.0
    assert out[4]["dominant_script"] == "greek"
    assert out[2]["n_cyrillic"] == 6 and out[2]["n_latin"] == 2


def test_video_marker_walk_not_fooled_by_ffd9_in_segment():
    """The MJPEG frame splitter must walk marker structure, not scan
    for FFD9 bytes: a COM segment whose payload CONTAINS the bytes
    FF D9 must not terminate the frame early, and the frames of a
    two-frame stream must decode to the same pixels as standalone
    encodes."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        multimodal as mm,
    )

    j1 = mm.encode_jpeg_pixels(mm._dup_group_pixels(3, 18, 16, 0))
    j2 = mm.encode_jpeg_pixels(mm._dup_group_pixels(4, 18, 16, 0))
    # splice a COM segment carrying literal FF D9 bytes after SOI
    com = b"\xff\xfe" + (6).to_bytes(2, "big") + b"\xff\xd9\x00\x00"
    trap = j1[:2] + com + j1[2:]
    frames = mm.jpeg_stream_frames(trap + j2)
    assert len(frames) == 2
    assert mm.decode_image_pixels(frames[0]) == mm.decode_image_pixels(j1)
    assert frames[1] == j2
    # naive FFD9 scan would have cut frame 0 inside the COM payload
    assert frames[0].index(b"\xff\xd9") < len(frames[0]) - 2


def test_video_fingerprint_sampling_and_frame_counts():
    """n_frames reports the TRUE frame count; streams past
    VFP_MAX_FRAMES sample evenly (pinned by the >8-frame fixture
    groups agreeing with the replica, which samples by the same
    i·n//8 rule)."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        multimodal as mm,
    )

    rows = mm.synthetic_near_dup_video_rows(12)
    by_id = {r[0]: r[2] for r in rows}
    # g=5 group has 4 + 5%3 + 6 = 12 frames (> VFP_MAX_FRAMES). Since
    # r12 every g%6==5 group ships MP4-wrapped (g≡5 mod 6 ⇒ g≡2 mod 3),
    # so ALSO build the same 12 frames as a raw concatenated-JFIF
    # stream: fingerprints are wrapper-independent by design, and the
    # raw stream exercises jpeg_stream_frames' multi-frame walk.
    n, fp = mm.video_fingerprint(by_id[5 * 3 + 1])
    assert n == 12
    raw = b"".join(mm._near_dup_video_frames(5, 0))
    assert len(mm.jpeg_stream_frames(raw)) == 12
    n_raw, fp_raw = mm.video_fingerprint(raw)
    assert (n_raw, fp_raw) == (n, fp)  # wrapper-independent
    # sampling uses 8 of 12 frames: recompute the fold directly
    frames = mm.jpeg_stream_frames(raw)
    idx = [i * 12 // 8 for i in range(8)]
    hashes = [mm.image_dhash(frames[i]) & ((1 << 64) - 1) for i in idx]
    bits = 0
    for j in range(64):
        if 2 * sum((hh >> j) & 1 for hh in hashes) > len(hashes):
            bits |= 1 << j
    want = bits - (1 << 64) if bits >= (1 << 63) else bits
    assert fp == want


def test_video_table_distributed_matches_driver_rows(spark):
    """r13: synthetic_near_dup_video_table generates its rows ON
    EXECUTORS (mapInPandas over one group per partition) — every
    field, payload bytes included, must equal the driver-side
    generator row for row, or every committed video expected-parquet
    oracle silently drifts."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        multimodal as mm,
    )

    want = mm.synthetic_near_dup_video_rows(5)
    got = sorted(
        (
            (r.media_id, r.media_type, bytes(r.payload), r.meta_source)
            for r in mm.synthetic_near_dup_video_table(spark, 5).collect()
        ),
        key=lambda r: r[0],
    )
    assert got == sorted(want, key=lambda r: r[0])
    # same contract for the distributed MP4 sample fixture
    want_mp4 = mm.synthetic_mp4_sample_rows(4)
    got_mp4 = sorted(
        (
            (r.media_id, r.media_type, bytes(r.payload), r.meta_source)
            for r in mm.synthetic_mp4_sample_table(spark, 4).collect()
        ),
        key=lambda r: r[0],
    )
    assert got_mp4 == sorted(want_mp4, key=lambda r: r[0])


def test_synthetic_video_tables_reject_empty_groups(spark):
    # one spark.range partition per group: groups < 1 must fail with a
    # clear error on the driver, not as a zero-partition range in Spark
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        multimodal as mm,
    )

    for table in (mm.synthetic_mp4_sample_table, mm.synthetic_near_dup_video_table):
        for groups in (0, -1):
            with pytest.raises(ValueError, match="groups must be >= 1"):
                table(spark, groups)


def test_video_corrupt_payloads_skip_contract(spark):
    """Truncations/byte-flips of an MJPEG stream must surface as
    NotImplementedError only (the Arrow skip contract), and
    video_fingerprint_table must hash decodable rows while silently
    dropping garbage."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        multimodal as mm,
    )

    rows = mm.synthetic_near_dup_video_rows(3)
    payload = rows[0][2]
    for cut in (1, 9, len(payload) // 3, len(payload) - 3):
        try:
            mm.video_fingerprint(payload[:cut])
        except NotImplementedError:
            pass  # the contract; other exception types fail loudly
    for pos in (len(payload) // 2, 2 * len(payload) // 3):
        corrupt = bytearray(payload)
        corrupt[pos] ^= 0xA5
        try:
            mm.video_fingerprint(bytes(corrupt))
        except NotImplementedError:
            pass
    tbl_rows = [
        rows[0],
        (99, "video/mjpeg", b"not a video at all", "fixture"),
        (100, "video/mjpeg", payload[: len(payload) // 4], "fixture"),
    ]
    got = mm.video_fingerprint_table(
        spark.createDataFrame(tbl_rows, mm.MEDIA_SCHEMA)
    ).collect()
    assert {r["media_id"] for r in got} == {rows[0][0]}


def test_restart_interval_jpeg_decodes_identically():
    """DRI/RSTm streams carry the same quantized coefficients as the
    plain baseline encode — decode must be pixel-identical across
    qualities, subsampling, grayscale, and interval lengths that
    exercise predictor resets mid-image."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        multimodal as mm,
    )

    for g, ri in ((0, 1), (1, 2), (4, 3), (5, 2)):
        w, h = 18 + (g % 5) * 3, 16 + (g % 3) * 4
        q = (70, 80, 90, 100)[g % 4]
        kw = dict(
            quality=q,
            grayscale=(g % 5 == 4),
            subsampling="420" if g % 2 else "444",
        )
        px = mm._dup_group_pixels(g, w, h, 0)
        base = mm.decode_image_pixels(mm.encode_jpeg_pixels(px, **kw))
        rst_payload = mm.encode_jpeg_pixels(px, restart_interval=ri, **kw)
        # DRI present (FFDD can't occur in entropy data — FF is
        # stuffed there — so a whole-payload scan is unambiguous)
        assert b"\xff\xdd" in rst_payload
        assert mm.decode_image_pixels(rst_payload) == base
    # frame splitter walks RSTm inside entropy data
    frames = mm.jpeg_stream_frames(rst_payload + rst_payload)
    assert len(frames) == 2 and frames[0] == rst_payload


def test_avi_mjpeg_container_roundtrip_and_skip_contract():
    """The AVI/RIFF MJPEG walk must return exactly the wrapped frames
    (container lossless — same fingerprint either wrapper), avi_meta
    must report the avih's own integer duration, and corrupt
    containers must follow the skip contract."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        multimodal as mm,
    )

    frames = [
        mm.encode_jpeg_pixels(mm._dup_group_pixels(7 + f, 20, 18, 0))
        for f in range(5)
    ]
    avi = mm.encode_avi_mjpeg(frames, fps=10)
    assert mm.video_frames(avi) == frames
    assert mm.video_fingerprint(avi) == mm.video_fingerprint(
        b"".join(frames)
    )
    assert mm.avi_meta(avi) == (5 * 100_000 // 1000, 10)
    assert mm.avi_meta(b"".join(frames)) is None
    for cut in (10, 40, len(avi) // 2, len(avi) - 3):
        try:
            mm.video_fingerprint(avi[:cut])
        except NotImplementedError:
            pass  # contract — any other exception fails loudly
    for pos in (30, len(avi) // 2):
        corrupt = bytearray(avi)
        corrupt[pos] ^= 0xA5
        try:
            mm.video_fingerprint(bytes(corrupt))
        except NotImplementedError:
            pass


def test_streaming_video_gate_replay_is_effectively_once(spark, tmp_path):
    """Replaying the SAME source through a fresh checkpoint (the
    failure-recovery shape foreachBatch must survive) must leave the
    decisions snapshot and the signature store bit-identical — the
    insert-if-absent versioned merges ARE the effectively-once
    guarantee, not the checkpoint."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pa_pq

    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.sources import (
        versioned as vt,
    )

    rows = multimodal.synthetic_near_dup_video_rows(4)
    src = tmp_path / "src"
    os.makedirs(src)
    for i, batch_rows in enumerate(
        [[r for r in rows if r[0] % 6 in (2, 4)],
         [r for r in rows if r[0] % 6 in (3, 5, 0)]]
    ):
        pa_pq.write_table(
            pa.table({
                "media_id": pa.array([r[0] for r in batch_rows], pa.int64()),
                "media_type": pa.array([r[1] for r in batch_rows]),
                "payload": pa.array([r[2] for r in batch_rows], pa.binary()),
                "meta_source": pa.array([r[3] for r in batch_rows]),
            }),
            str(src / f"b{i}.parquet"),
        )
    store, dec = str(tmp_path / "store"), str(tmp_path / "dec")
    tbl = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    vt.write_version(
        multimodal.video_fingerprint_table(
            tbl.filter(F.col("media_id") % 6 == 1)
        ).select("media_id", "vfp"),
        store,
    )
    batch_secs: list = []
    first = pipeline.run_streaming_media_dedup(
        spark, "video", str(src), store, dec,
        checkpoint_dir=str(tmp_path / "c1"),
        batch_secs=batch_secs,
    ).orderBy("media_id").collect()
    # one addBatch duration per data trigger (two source files)
    assert len(batch_secs) == 2 and all(s > 0 for s in batch_secs)
    store_v1 = sorted(
        (r["media_id"], r["vfp"])
        for r in vt.read_version(spark, store).collect()
    )
    # replay everything with a FRESH checkpoint
    second = pipeline.run_streaming_media_dedup(
        spark, "video", str(src), store, dec,
        checkpoint_dir=str(tmp_path / "c2"),
    ).orderBy("media_id").collect()
    store_v2 = sorted(
        (r["media_id"], r["vfp"])
        for r in vt.read_version(spark, store).collect()
    )
    assert first == second
    assert store_v1 == store_v2
    assert any(r["keep"] for r in first)
    assert any(not r["keep"] for r in first)


def test_mp4_sample_table_roundtrip_and_remux_invariance():
    """encode_mp4_samples ↔ mp4_samples are inverses across chunking
    shapes (stsc runs, trailing partial chunks, co64-free stco), and
    the content fingerprint is chunking/timescale/offset independent
    (VERDICT r11 item 6) while the skip contract handles garbage."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        multimodal as mm,
    )

    samples = [
        bytes([(i * 7 + k) % 256 for k in range(50 + i * 13)])
        for i in range(7)
    ]
    for chunking in (None, [2, 3], [1] * 7, [4], [3, 3, 3]):
        p = mm.encode_mp4_samples(samples, b"avc1", chunking=chunking)
        codec, got = mm.mp4_samples(p)
        assert codec == b"avc1" and got == samples
    a = mm.encode_mp4_samples(
        samples, b"avc1", chunking=[2, 3], timescale=600
    )
    b = mm.encode_mp4_samples(
        samples, b"avc1", chunking=[1] * 7, timescale=90000,
        sample_delta=3000,
    )
    assert a != b
    assert mm.mp4_content_fingerprint(a) == mm.mp4_content_fingerprint(b)
    # a DIFFERENT sample set hashes differently
    c = mm.encode_mp4_samples(samples[:-1], b"avc1")
    assert mm.mp4_content_fingerprint(c) != mm.mp4_content_fingerprint(a)
    # skip contract: garbage and truncation normalize, never crash
    for bad in (b"not an mp4", a[:40], a[: len(a) // 2]):
        with pytest.raises(NotImplementedError):
            mm.mp4_samples(bad)
    # opaque codec refuses the pixel path loudly
    with pytest.raises(NotImplementedError):
        mm.video_frames(a)


def test_mjpeg_in_mp4_fingerprints_like_avi_and_jfif():
    """All three wrappers of the same frames — raw JFIF, AVI/RIFF,
    MJPEG-in-MP4 — produce the IDENTICAL temporal fingerprint, so an
    AVI→MP4 remux is a dup the existing radius-4 machinery catches
    with zero new fingerprint code."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        multimodal as mm,
    )

    frames = mm._near_dup_video_frames(4, 0)
    jfif = b"".join(frames)
    avi = mm.encode_avi_mjpeg(frames)
    mp4 = mm.encode_mp4_samples(frames, b"jpeg", chunking=[2, 2, 1])
    assert mm.video_frames(mp4) == frames
    assert (
        mm.video_fingerprint(jfif)
        == mm.video_fingerprint(avi)
        == mm.video_fingerprint(mp4)
    )


def test_mp4_profile_replica_matches_engine_on_alternate_groups(spark):
    """gen_mp4_frames must agree with the engine at a group count the
    committed expected file does not use (the alternate-SF
    discipline)."""
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.functions import (
        multimodal as mm,
    )

    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from tools import gen_expected

    tbl = spark.createDataFrame(
        mm.synthetic_mp4_sample_rows(5), mm.MEDIA_SCHEMA
    )
    got = (
        mm.mp4_sample_profile_table(tbl)
        .orderBy("media_id")
        .toPandas()
    )
    exp = gen_expected.gen_mp4_frames(5)
    assert list(got["media_id"]) == list(exp["media_id"])
    assert list(got["codec"]) == list(exp["codec"])
    assert list(got["n_samples"]) == list(exp["n_samples"])
    assert list(got["vfp"]) == list(exp["vfp"])
    assert [x or "" for x in got["content_fp"]] == [
        x or "" for x in exp["content_fp"]
    ]
