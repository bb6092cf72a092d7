"""``gjspark.sources.parquet``: the schema built on the driver from a
Parquet footer is the schema Spark infers, and reading with it starts no
Spark job."""

import datetime as dt
import decimal
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from gjspark.sources.parquet import footer_schema, read_parquet

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLE_DIRS = (
    os.path.join(REPO, "fixtures_data"),
    os.path.join(REPO, "perfbench", "tables", "sf0.01"),
    "/root/testdata/sf0.001",
)


def _table_files() -> list[str]:
    files = []
    for d in TABLE_DIRS:
        files += glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
    return sorted(f for f in files if os.path.isfile(f))


def _synthetic() -> dict[str, pa.Table]:
    """One small table per Parquet type family, nullable and not."""
    ts = [dt.datetime(2024, 1, 2, 3, 4, 5, 678901), None]
    return {
        "ints": pa.table({
            "i8": pa.array([1, None], pa.int8()),
            "i16": pa.array([1, -2], pa.int16()),
            "i32": pa.array([1, None], pa.int32()),
            "i64": pa.array([1, 2**40], pa.int64()),
            "u8": pa.array([1, 255], pa.uint8()),
            "u16": pa.array([1, None], pa.uint16()),
            "u32": pa.array([1, 2**32 - 1], pa.uint32()),
        }),
        "required": pa.Table.from_arrays(
            [pa.array([1, 2], pa.int64()), pa.array(["a", "b"])],
            schema=pa.schema([
                pa.field("id", pa.int64(), nullable=False),
                pa.field("s", pa.string(), nullable=False),
            ]),
        ),
        "floats": pa.table({
            "f": pa.array([1.5, None], pa.float32()),
            "d": pa.array([2.5, float("-inf")], pa.float64()),
        }),
        "bool": pa.table({"b": [True, None]}),
        "string": pa.table({"s": ["x", None], "ls": pa.array(["y", "z"], pa.large_string())}),
        "binary": pa.table({"b": [b"\x00\x01", None]}),
        "dict": pa.table({"c": pa.array(["a", "b"]).dictionary_encode()}),
        "date": pa.table({"d": [dt.date(2024, 1, 2), None]}),
        "decimal": pa.table({
            "d9": pa.array([decimal.Decimal("1.23"), None], pa.decimal128(9, 2)),
            "d18": pa.array([decimal.Decimal("1.5"), None], pa.decimal128(18, 1)),
            "d38": pa.array([decimal.Decimal("7"), None], pa.decimal128(38, 0)),
        }),
        "timestamps": pa.table({
            "utc": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "ntz": pa.array(ts, pa.timestamp("us")),
            "utc_ms": pa.array(ts, pa.timestamp("ms", tz="UTC")),
            "ntz_ms": pa.array(ts, pa.timestamp("ms")),
        }),
        "list": pa.table({
            "l": pa.array([[1, None], None], pa.list_(pa.int64())),
            "lr": pa.array(
                [["a"], []], pa.list_(pa.field("element", pa.string(), nullable=False))
            ),
        }),
        "struct": pa.table({
            "st": pa.array(
                [{"a": 1, "b": {"c": "x"}}, None],
                pa.struct([("a", pa.int32()), ("b", pa.struct([("c", pa.string())]))]),
            ),
        }),
        "map": pa.table({
            "m": pa.array([[("k", 1)], None], pa.map_(pa.string(), pa.int64())),
        }),
    }


@pytest.fixture(scope="module")
def typed_files(tmp_path_factory, spark):
    """(name, path, expect_mapped) for each synthetic file, a Spark-written
    file, and files footer_schema must leave to Spark."""
    d = tmp_path_factory.mktemp("parquet_types")
    out = []
    for name, table in _synthetic().items():
        path = str(d / f"{name}.parquet")
        pq.write_table(table, path)
        out.append((name, path, True))
    fallback = {
        "int96": (pa.table({"t": pa.array([dt.datetime(2024, 1, 2)], pa.timestamp("us"))}),
                  {"use_deprecated_int96_timestamps": True}),
        "uint64": (pa.table({"u": pa.array([2**63], pa.uint64())}), {}),
    }
    for name, (table, kw) in fallback.items():
        path = str(d / f"{name}.parquet")
        pq.write_table(table, path, **kw)
        out.append((name, path, False))
    spark_dir = str(d / "spark_written")
    spark.sql(
        "SELECT CAST(id AS INT) AS i, CAST(id AS STRING) AS s, "
        "array(id, id) AS arr, named_struct('x', id) AS st, map('k', id) AS m, "
        "CAST(id AS DECIMAL(12, 3)) AS dec, TIMESTAMP_NTZ'2024-01-02 03:04:05' AS ntz, "
        "TIMESTAMP'2024-01-02 03:04:05' AS ts, CAST(id AS TINYINT) AS b "
        "FROM range(3)"
    ).coalesce(1).write.parquet(spark_dir)
    (part,) = glob.glob(os.path.join(spark_dir, "part-*.parquet"))
    out.append(("spark_written", part, True))
    return out


def test_schema_matches_spark_for_every_table(spark):
    files = _table_files()
    assert len(files) >= 20
    for path in files:
        got = footer_schema(path)
        assert got is not None, path
        assert got == spark.read.parquet(path).schema, path


def test_schema_matches_spark_per_type(spark, typed_files):
    for name, path, mapped in typed_files:
        want = spark.read.parquet(path).schema
        got = footer_schema(path)
        assert (got is not None) == mapped, name
        if mapped:
            assert got == want, (name, got, want)
        df = read_parquet(spark, path)
        assert df.schema == want, name
        assert df.collect() == spark.read.parquet(path).collect(), name


def test_spark_written_schema_comes_from_its_metadata(typed_files):
    (path,) = [p for n, p, _ in typed_files if n == "spark_written"]
    kv = pq.read_metadata(path).metadata
    assert b"org.apache.spark.sql.parquet.row.metadata" in kv
    names = [f.name for f in footer_schema(path).fields]
    assert names == ["i", "s", "arr", "st", "m", "dec", "ntz", "ts", "b"]


def test_not_a_file_is_left_to_spark(tmp_path):
    assert footer_schema(str(tmp_path)) is None
    assert footer_schema(str(tmp_path / "missing.parquet")) is None
    junk = tmp_path / "junk.parquet"
    junk.write_bytes(b"PAR1 not really")
    assert footer_schema(str(junk)) is None


def test_reading_a_contract_table_starts_no_job(spark, count_jobs):
    import __spark_entry__ as E

    sf = os.path.join(REPO, "perfbench", "tables", "sf0.01")
    assert count_jobs(lambda: E._t(spark, sf, "lineitem")) == 0
    # the probe sees the inference job spark.read.parquet runs
    assert count_jobs(lambda: spark.read.parquet(f"{sf}/lineitem.parquet")) >= 1
