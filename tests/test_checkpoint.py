"""Checkpoint/resume: atomic partition commits, lineage manifest, and the
kill-and-rerun byte-identical guarantee (SURVEY.md §5.5)."""

import datetime as dt
import glob
import os
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gjspark.plans.checkpoint import (
    checkpointed_write,
    completed_parts,
    manifest_path,
    read_checkpointed,
)


@pytest.fixture()
def df(spark):
    return spark.range(0, 10_000).select(
        F.concat(F.lit("id-"), F.col("id")).alias("image_id"),
        (F.col("id") % 97).alias("cell"),
        F.concat(F.lit("file-"), F.col("id") % 3).alias("src"),
        F.rand(42).alias("v"),
    )


def _read_all(out_dir):
    files = sorted(glob.glob(os.path.join(out_dir, "part=*.parquet")))
    return pd.concat([pq.read_table(f).to_pandas() for f in files]).sort_values(
        "image_id"
    ).reset_index(drop=True)


def test_write_and_manifest(df, tmp_path):
    out = str(tmp_path / "o1")
    m = checkpointed_write(
        df, out, "job1", id_col="image_id", n_parts=16, cell_col="cell",
        source_col="src",
    )
    assert len(m) == 16
    assert m["row_count"].sum() == 10_000
    assert (m["status"] == "ok").all()
    assert (m["bytes_out"] > 0).all()
    assert m["cell_min"].min() == 0 and m["cell_max"].max() == 96
    body = _read_all(out)
    assert len(body) == 10_000
    assert list(body.columns) == ["image_id", "cell", "src", "v"]


def test_resume_skips_completed_and_is_identical(df, tmp_path):
    ref_out = str(tmp_path / "ref")
    checkpointed_write(df, ref_out, "job", id_col="image_id", n_parts=16)
    expected = _read_all(ref_out)

    # simulate a crash after 5 partitions: write only part of the data,
    # then "kill" (manifest keeps the 5 ok rows)
    out = str(tmp_path / "crash")
    part_col = F.pmod(F.xxhash64(F.col("image_id")), F.lit(16)).cast("int")
    subset = df.filter(part_col < 5)
    checkpointed_write(subset, out, "job", id_col="image_id", n_parts=16)
    assert completed_parts(out) == {0, 1, 2, 3, 4}

    # rerun with the full input: parts 0-4 must be skipped (not rewritten)
    mtimes_before = {
        f: os.path.getmtime(f) for f in glob.glob(os.path.join(out, "part=*.parquet"))
    }
    m = checkpointed_write(df, out, "job", id_col="image_id", n_parts=16, resume=True)
    for f, t in mtimes_before.items():
        assert os.path.getmtime(f) == t, f"{f} was rewritten"
    assert completed_parts(out) == set(range(16))
    # byte-identical final content vs the clean run
    got = _read_all(out)
    pd.testing.assert_frame_equal(got, expected)
    assert m["row_count"].sum() == 10_000


def test_no_double_processing_on_full_rerun(df, tmp_path):
    out = str(tmp_path / "o2")
    checkpointed_write(df, out, "job", id_col="image_id", n_parts=8)
    m2 = checkpointed_write(df, out, "job", id_col="image_id", n_parts=8, resume=True)
    # second run had nothing to do; manifest still complete
    assert m2["row_count"].sum() == 10_000
    assert len(_read_all(out)) == 10_000


def test_empty_ok_set_raises_clearly(df, tmp_path):
    out = str(tmp_path / "none_ok")
    checkpointed_write(df, out, "j", id_col="image_id", n_parts=4)
    mp = manifest_path(out)
    m = pq.read_table(mp)
    failed = pa.array(["failed"] * m.num_rows)
    pq.write_table(m.set_column(m.schema.get_field_index("status"), "status", failed), mp)
    with pytest.raises(ValueError, match="no status='ok'"):
        read_checkpointed(df.sparkSession, out)


def test_orphaned_attempt_files_are_invisible(df, tmp_path):
    """A killed attempt can leave files the manifest never committed: a
    copied part under another name, a half-written part, a stale temp
    file. The reader trusts the manifest, so it returns exactly one copy
    of every row and never opens the garbage."""
    out = str(tmp_path / "orphans")
    checkpointed_write(df, out, "j", id_col="image_id", n_parts=8)
    shutil.copy(
        os.path.join(out, "part=3.parquet"),
        os.path.join(out, "part=3-deadbeef0000.parquet"),
    )
    with open(os.path.join(out, "part=5-feedface0000.parquet"), "wb") as f:
        f.write(b"PAR1 half-written garbage from a killed attempt")
    shutil.copy(
        os.path.join(out, "part=2.parquet"), os.path.join(out, "part=2.parquet.tmp-1")
    )
    body = read_checkpointed(df.sparkSession, out).toPandas()
    assert len(body) == 10_000
    assert body["image_id"].is_unique


def test_spark_types_round_trip_exactly(spark, tmp_path):
    """One Arrow batch holding a nullable 64-bit hash (values 2^62 apart
    by one, which a float64 cannot tell apart), a nullable int, a
    nullable timestamp, a boolean, a binary and a double reads back with
    the same Spark types and the same rows."""
    big = 2**62
    t = dt.datetime(2024, 3, 1, 12, 30, 15, 123456)
    df = spark.createDataFrame(
        [
            (0, big + 12345, 7, t, True, b"\x00\xff", 0.1),
            (1, big + 12346, None, t + dt.timedelta(microseconds=1), False, b"", -2.5),
            (2, None, -3, None, True, b"abc", 1e300),
        ],
        "id long, h bigint, i int, ts timestamp, ok boolean, raw binary, d double",
    )
    out = str(tmp_path / "types")
    checkpointed_write(df, out, "j", id_col="id", n_parts=1)
    back = read_checkpointed(spark, out)
    assert [(f.name, f.dataType) for f in back.schema] == [
        (f.name, f.dataType) for f in df.schema
    ]
    assert back.orderBy("id").collect() == df.orderBy("id").collect()
