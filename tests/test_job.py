"""End-to-end job entry: config round-trip, dry-run, full run + resume."""

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_config_roundtrip(tmp_path):
    from gjspark.plans.job import load_config, save_config

    cfg = {"images": "/a/b.parquet", "features": "/c", "n-parts": 8}
    p = str(tmp_path / "cfg.json")
    save_config(cfg, p)
    assert load_config(p) == cfg


def test_text_source(spark, tmp_path):
    from gjspark.sources.text import read_text_source

    f = tmp_path / "doc.txt"
    f.write_text("hello wörld")
    rows = read_text_source(spark, f"file://{f}").collect()
    assert rows[0]["text"] == "hello wörld"
    with pytest.raises(NotImplementedError):
        read_text_source(spark, "https://example.com/x")


def test_job_dry_run_prints_schemas_and_writes_nothing(
    spark, fixtures_dir, tmp_path, capsys
):
    """--dry-run builds every pipeline output, prints one schema line per
    output and writes nothing."""
    from gjspark.plans.job import main

    out = tmp_path / "out"
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)  # main's get_spark resets it on this session
    try:
        rc = main([
            "--images", f"{fixtures_dir}/images_sf_unit.parquet",
            "--features", f"{fixtures_dir}/features_nuts.geojson",
            "--out", str(out),
            "--master", "local[4]",
            "--dry-run",
        ])
    finally:
        spark.conf.set(key, old)
    assert rc == 0
    lines = [ln for ln in capsys.readouterr().out.splitlines() if ln.startswith("== ")]
    names = [ln[3:].split(": ", 1)[0] for ln in lines]
    assert names == ["features", "images", "slim", "locations", "pip", "knn", "rollup"]
    assert all(ln.split(": ", 1)[1].startswith("struct<") for ln in lines), lines
    assert not out.exists()


@pytest.mark.slow
def test_job_cli_end_to_end(fixtures_dir, tmp_path):
    out = str(tmp_path / "out")
    cfg = {
        "images": f"{fixtures_dir}/images_sf_unit.parquet",
        "features": f"{fixtures_dir}/features_nuts.geojson",
        "out": out,
        "master": "local[4]",
        "n-parts": 8,
    }
    cfg_path = str(tmp_path / "job.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)

    env = dict(os.environ, PYTHONPATH=REPO)
    r = subprocess.run(
        [sys.executable, "-m", "gjspark.plans.job", "--config", cfg_path],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=900,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    summary = json.loads([ln for ln in r.stdout.splitlines() if ln.startswith("{")][-1])
    assert summary["knn_rows"] == 1000
    assert summary["pip_rows"] > 0
    assert os.path.exists(f"{out}/knn/_SUCCESS.json")
    manifest = pq.read_table(f"{out}/knn/_manifest.parquet").to_pandas()
    assert (manifest["status"] == "ok").all()

    # resume run: nothing to redo, same totals
    r2 = subprocess.run(
        [sys.executable, "-m", "gjspark.plans.job", "--config", cfg_path, "--resume"],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=900,
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    s2 = json.loads([ln for ln in r2.stdout.splitlines() if ln.startswith("{")][-1])
    assert s2["knn_rows"] == summary["knn_rows"]
    assert s2["pip_rows"] == summary["pip_rows"]


def test_pipeline_rollup_skips_stub_format_rows(spark, fixtures_dir, tmp_path):
    """A row in a format with no codec here (avif) is left out of the
    rollup as an undecodable image; it does not fail the job."""
    import numpy as np
    import pandas as pd

    from gjspark.functions import h3 as h3x
    from gjspark.plans.checkpoint import read_checkpointed
    from gjspark.plans.pipeline import run_pipeline

    unit = pq.read_table(f"{fixtures_dir}/images_sf_unit.parquet").to_pandas()
    stub = unit.iloc[[0]].assign(image_id="stub-avif", fmt="avif", bytes=b"\0" * 64)
    images_path = str(tmp_path / "images.parquet")
    pd.concat([unit, stub], ignore_index=True).to_parquet(images_path)

    summary = run_pipeline(
        spark,
        images_path,
        f"{fixtures_dir}/features_nuts.geojson",
        str(tmp_path / "out"),
        n_parts=8,
    )
    roll = read_checkpointed(spark, str(tmp_path / "out" / "rollup")).toPandas()
    # the stub row shares its cell with unit row 0, whose count must not grow
    cells = h3x.latlng_to_cell(unit["lat"].to_numpy(), unit["lon"].to_numpy(), 7)
    exp = pd.Series(cells).value_counts()
    got = roll.set_index("cell")["n_images"]
    assert dict(zip(got.index.astype(np.int64), got.astype(np.int64))) == dict(
        zip(exp.index.astype(np.int64), exp.astype(np.int64))
    )
    assert summary["rollup_rows"] == len(exp)


def test_run_pipeline_unpersists_when_a_write_fails(
    spark, fixtures_dir, tmp_path, monkeypatch
):
    """A write that raises still releases the cached slim projection."""
    from gjspark.plans import checkpoint
    from gjspark.plans.pipeline import run_pipeline

    def failing_write(*args, **kwargs):
        raise RuntimeError("write failed")

    monkeypatch.setattr(checkpoint, "checkpointed_write", failing_write)
    spark.catalog.clearCache()  # start from an empty cache manager
    with pytest.raises(RuntimeError, match="write failed"):
        run_pipeline(
            spark,
            f"{fixtures_dir}/images_sf_unit.parquet",
            f"{fixtures_dir}/features_nuts.geojson",
            str(tmp_path / "out"),
            n_parts=8,
        )
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
