"""Replicates the driver's correctness gate locally: every queries()
entry runs at sf0.01; entries with an oracle_sql() twin must match DuckDB
on row count, column names, and order-insensitive values."""

import math
import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as E

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return c


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", sorted(E.queries().keys()))
def test_query_runs_and_matches_oracle(spark, name, con):
    q = E.queries()[name]
    got = q(spark, SF_DIR).toPandas()
    assert len(got) >= 0  # runs with a stable schema
    sql = E.oracle_sql().get(name)
    if sql is None:
        assert len(got) > 0, f"{name}: rows-only query returned empty"
        return
    exp = con.execute(sql).fetchdf()
    assert len(got) == len(exp), f"{name}: rows {len(got)} != {len(exp)}"
    assert sorted(got.columns) == sorted(exp.columns), name
    g, e = _normalize(got), _normalize(exp)
    for c in g.columns:
        if g[c].dtype.kind == "f":
            assert (
                (g[c].fillna(-9e9) - e[c].fillna(-9e9)).abs().max() == 0.0
            ), f"{name}.{c}"
        else:
            assert (g[c].to_numpy() == e[c].to_numpy()).all(), f"{name}.{c}"


def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "revenue" in df.columns


def test_image_dedup_clusters_decodes_before_returning(
    spark, fixtures_dir, tmp_path, monkeypatch
):
    """The duplicate classes are materialized while the query is built,
    so the returned frame's executed plan holds no decode MapInPandas and
    no image scan (the 1,000-row unit corpus stands in for the e2e one)."""
    os.symlink(
        f"{fixtures_dir}/images_sf_unit.parquet", tmp_path / "images_sf_e2e.parquet"
    )
    monkeypatch.setattr(E, "_fixtures", lambda: str(tmp_path))
    df = E.queries()["q_image_dedup_clusters"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "images_sf_e2e" not in plan, plan
    assert df.count() > 0
