"""Structured Streaming validators: run with a file source + trigger
availableNow -> memory sink; semantics must match the batch validators."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gjspark.streaming.validators import (
    stream_dedup_by_phen_time,
    stream_hourly_rollup,
    stream_latest_per_stream,
)

SCHEMA = T.StructType(
    [
        T.StructField("obs_id", T.StringType()),
        T.StructField("ds_key", T.StringType()),
        T.StructField("t_start", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)


@pytest.fixture()
def stream_dir(spark, tmp_path):
    t = dt.datetime(2024, 3, 1, 10, 0, 0)
    rows = [
        ("o1", "ds1", t, 1.0),
        ("o1b", "ds1", t, 99.0),  # duplicate phenomenonTime -> dropped
        ("o2", "ds1", t + dt.timedelta(minutes=30), 2.0),
        ("o3", "ds2", t + dt.timedelta(hours=1), 3.0),
    ]
    p = str(tmp_path / "in")
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(p)
    return p


def _run(stream_df, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append" if name == "dedup" else "complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_stream_dedup(spark, stream_dir):
    src = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    _run(stream_dedup_by_phen_time(src), "dedup")
    got = spark.sql("select * from dedup").collect()
    keys = {(r["ds_key"], r["t_start"]) for r in got}
    assert len(got) == 3 and len(keys) == 3  # o1/o1b collapsed


def test_stream_latest(spark, stream_dir):
    src = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    _run(stream_latest_per_stream(src), "latest")
    got = {r["ds_key"]: r["latest_t"] for r in spark.sql("select * from latest").collect()}
    assert got["ds1"] == dt.datetime(2024, 3, 1, 10, 30)
    assert got["ds2"] == dt.datetime(2024, 3, 1, 11, 0)


def test_stream_hourly(spark, stream_dir):
    src = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    _run(stream_hourly_rollup(src), "hourly")
    got = spark.sql("select * from hourly").collect()
    by_key = {(r["ds_key"], r["window_start"]): r for r in got}
    r = by_key[("ds1", dt.datetime(2024, 3, 1, 10, 0))]
    assert r["n"] == 3 and r["min_v"] == 1.0 and r["max_v"] == 99.0


def test_stream_validator_newer_stateful(spark, tmp_path):
    """Custom stateful op: state (running latest per stream) must carry
    ACROSS micro-batches — batch 2's older obs is dropped even though
    batch 2 alone would accept it."""
    from gjspark.streaming.validators import stream_validator_newer

    t = dt.datetime(2024, 3, 1, 10, 0, 0)
    p = str(tmp_path / "in2")
    out = str(tmp_path / "out2")
    ck = str(tmp_path / "ck")
    os.makedirs(p)

    def run_once():
        src = spark.readStream.schema(SCHEMA).option(
            "maxFilesPerTrigger", "1"
        ).parquet(p)
        q = (
            stream_validator_newer(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)  # same state store both runs
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: establishes latest = t+2h for ds1
    spark.createDataFrame(
        [("a1", "ds1", t, 1.0), ("a2", "ds1", t + dt.timedelta(hours=2), 2.0)],
        SCHEMA,
    ).coalesce(1).write.mode("append").parquet(p)
    run_once()
    first = {r["obs_id"] for r in spark.read.parquet(out).collect()}
    assert first == {"a1", "a2"}

    # batch 2: a3 older than ds1's cross-batch latest -> dropped
    spark.createDataFrame(
        [
            ("a3", "ds1", t + dt.timedelta(hours=1), 3.0),
            ("a4", "ds1", t + dt.timedelta(hours=3), 4.0),
            ("b1", "ds2", t, 5.0),
        ],
        SCHEMA,
    ).coalesce(1).write.mode("append").parquet(p)
    run_once()
    got = {r["obs_id"] for r in spark.read.parquet(out).collect()}
    assert "a3" not in got          # older than cross-batch state
    assert {"a1", "a2", "a4", "b1"} <= got


def test_streaming_ingest_resumes_from_checkpoint(spark, tmp_path):
    """ingest_images drains the landing dir with availableNow, writes
    parquet partitioned by the coarse h3_r5 cell, and a SECOND run after
    more files land resumes from the checkpoint without duplicating
    anything (exactly-once file-source progress)."""
    import numpy as np

    from gjspark.streaming.ingest import ingest_images

    src = tmp_path / "landing"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def land(tag, n, seed):
        rng = np.random.default_rng(seed)
        rows = [
            (
                f"{tag}-{i}",
                b"\x00",
                4, 4, "ppm", f"cap {i}", 0,
                float(rng.uniform(47.5, 54.5)),
                float(rng.uniform(6.0, 14.0)),
            )
            for i in range(n)
        ]
        spark.createDataFrame(
            rows,
            "image_id string, bytes binary, w int, h int, fmt string, "
            "caption string, phash long, lat double, lon double",
        ).coalesce(1).write.mode("append").parquet(str(src))

    land("a", 40, 1)
    q = ingest_images(spark, str(src), str(out), str(ckpt))
    q.awaitTermination(120)
    got1 = spark.read.parquet(str(out))
    assert got1.count() == 40
    assert "h3_r5" in got1.columns  # partition column round-trips
    assert got1.select("h3_r9").distinct().count() > 1

    land("b", 25, 2)
    q2 = ingest_images(spark, str(src), str(out), str(ckpt))
    q2.awaitTermination(120)
    got2 = spark.read.parquet(str(out))
    assert got2.count() == 65  # no re-ingest of batch 'a'
    assert got2.select("image_id").distinct().count() == 65
    # coarse partition dirs exist on disk (directory-level pruning)
    parts = [p.name for p in out.iterdir() if p.name.startswith("h3_r5=")]
    assert parts


# ---------------------------------------------------------------------------
# streaming HLL registers
# ---------------------------------------------------------------------------


def test_stream_hll_registers_match_batch(spark, tmp_path):
    """Windowed streaming register build -> estimate_from_registers must
    equal the batch sketch over the same rows, per window."""
    import datetime as dt

    from gjspark.operators.sketches import (
        approx_distinct_hll,
        estimate_from_registers,
    )
    from gjspark.streaming.sketches import stream_hll_registers

    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)
    rows = []
    for i in range(400):  # window A: 300 distinct users (100 repeated)
        rows.append((f"e{i}", "ds1", t0 + dt.timedelta(seconds=i), float(i)))
    for i in range(400):
        rows[i] = (f"u{i % 300}", "ds1", rows[i][2], rows[i][3])
    for i in range(150):  # window B: 150 distinct users
        rows.append(
            (f"u{i}", "ds1", t0 + dt.timedelta(hours=1, seconds=i), float(i))
        )
    p = str(tmp_path / "hll_in")
    spark.createDataFrame(rows, SCHEMA).coalesce(2).write.parquet(p)

    src = spark.readStream.schema(SCHEMA).parquet(p)
    regs = stream_hll_registers(src, "obs_id", ts_col="t_start")
    q = (
        regs.writeStream.format("memory")
        .queryName("hll_regs")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from hll_regs")
    est = {
        r["window_start"].hour: r["estimate"]
        for r in estimate_from_registers(got, ("window_start",)).collect()
    }

    batch = spark.createDataFrame(rows, SCHEMA)
    wa = batch.filter(F.col("t_start") < t0 + dt.timedelta(hours=1))
    wb = batch.filter(F.col("t_start") >= t0 + dt.timedelta(hours=1))
    ea = approx_distinct_hll(wa, "obs_id").collect()[0]["estimate"]
    eb = approx_distinct_hll(wb, "obs_id").collect()[0]["estimate"]
    assert est == {10: ea, 11: eb}
    assert abs(ea / 300 - 1) < 0.26 and abs(eb / 150 - 1) < 0.26


def _run_bloom_gate(spark, tmp_path):
    """Run the stream-static Bloom gate over 100 docs (every other one
    seen in the 200-doc snapshot) -> (surviving doc_id -> text, the
    batch probe's non-hit doc_ids, the executed physical plan)."""
    from gjspark.operators.sketches import bloom_bits, bloom_membership
    from gjspark.streaming.sketches import stream_bloom_filter

    snap = spark.createDataFrame(
        [(f"old{i}",) for i in range(200)], "text string"
    )
    bits = bloom_bits(snap, "text", m_bits=4096, k=3)

    rows = [(f"d{i}", f"old{i}" if i % 2 == 0 else f"new{i}") for i in range(100)]
    p = str(tmp_path / "bloom_in")
    spark.createDataFrame(rows, "doc_id string, text string").coalesce(
        2
    ).write.parquet(p)
    src = spark.readStream.schema("doc_id string, text string").parquet(p)

    q = (
        stream_bloom_filter(src, bits, "text", m_bits=4096, k=3)
        .writeStream.format("memory")
        .queryName("bloom_gate")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    plan = q._jsq.explainInternal(False)
    got = {r["doc_id"]: r["text"] for r in spark.sql("select * from bloom_gate").collect()}
    batch = spark.createDataFrame(rows, "doc_id string, text string")
    expect = {
        r["doc_id"]
        for r in bloom_membership(batch, bits, "text", "doc_id", 4096, 3)
        .filter(~F.col("bloom_hit"))
        .collect()
    }
    return got, expect, plan


def test_stream_bloom_filter_gate(spark, tmp_path):
    """Stateless stream-static Bloom gate: rows whose text was in the
    previous snapshot are dropped; all genuinely-new rows survive unless
    they are bloom false positives (checked against the batch probe).
    The 32 KB position table is within the broadcast threshold, so the
    k joins broadcast it."""
    got, expect, plan = _run_bloom_gate(spark, tmp_path)
    # every snapshot text dropped (no false negatives)
    assert all(not t.startswith("old") for t in got.values())
    # survivors == exactly the batch probe's non-hits (false positives agree)
    assert set(got) == expect
    assert "BroadcastExchange" in plan, plan


def test_stream_bloom_filter_respects_broadcast_threshold(spark, tmp_path):
    """With broadcasts off the gate forces no broadcast of the position
    table, and its output is unchanged."""
    from gjspark.session import broadcast_threshold_override

    with broadcast_threshold_override(spark, "-1"):
        got, expect, plan = _run_bloom_gate(spark, tmp_path)
    assert "BroadcastExchange" not in plan, plan
    assert all(not t.startswith("old") for t in got.values())
    assert set(got) == expect
