"""E2E spatial pipeline vs the committed numpy-oracle goldens
(SURVEY.md §5.5): cell assignment, PIP join (broadcast + bucketed), kNN,
decode invariants, both mosaic plans == a per-image numpy mosaic."""

import zlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gjspark.fixtures import generator as gen
from gjspark.functions import codecs as C
from gjspark.operators.cells import with_cell_columns
from gjspark.operators.fused import decoded_features, rollup_from_features
from gjspark.operators.spatial_join import knn_join, pip_join
from gjspark.session import broadcast_threshold_override
from gjspark.sources.geojson import read_feature_collection


@pytest.fixture(scope="module")
def images(spark, fixtures_dir):
    # single-file parquet = ONE input split: without the repartition every
    # decode-heavy operator in this module serializes on one core (~30-55s
    # per test). All kernels are partitioning-independent (bit-exactness
    # is itself under test), so fanning out changes timing only.
    df = with_cell_columns(
        spark.read.parquet(f"{fixtures_dir}/images_sf_e2e.parquet").repartition(64)
    ).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def decoded(images):
    """The corpus decoded once for every test that reads decode stats or
    tile rollups."""
    feat = decoded_features(images).cache()
    yield feat
    feat.unpersist()


@pytest.fixture(scope="module")
def features(spark, fixtures_dir):
    return read_feature_collection(
        spark, f"{fixtures_dir}/features_nuts.geojson"
    ).cache()


@pytest.fixture(scope="module")
def locations(spark):
    feats = gen.make_features()
    cents = gen.feature_centroids(feats)
    return spark.createDataFrame(
        [
            (f["id"], float(c[1]), float(c[0]))
            for f, c in zip(feats, cents)
        ],
        "location_id string, lat double, lon double",
    )


def test_cell_assignment_matches_golden(images, fixtures_dir):
    got = (
        images.select("image_id", *[f"h3_r{r}" for r in range(7, 13)], "s2_cell")
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    exp = (
        pd.read_parquet(f"{fixtures_dir}/expected_cells.parquet")
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    for col in exp.columns:
        assert (got[col].to_numpy() == exp[col].to_numpy()).all(), col


@pytest.mark.parametrize("broadcast", [True, False])
def test_pip_join_matches_golden(spark, images, features, fixtures_dir, broadcast):
    with broadcast_threshold_override(spark, None if broadcast else "-1"):
        got = pip_join(images, features).toPandas()
    exp = pd.read_parquet(f"{fixtures_dir}/expected_pip.parquet")
    got_set = set(zip(got["image_id"], got["feature_id"]))
    exp_set = set(zip(exp["image_id"], exp["feature_id"]))
    assert got_set == exp_set


def _pairs(df) -> set[tuple[str, str]]:
    return {(r["image_id"], r["feature_id"]) for r in df.collect()}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pip_broadcast_plan_is_one_map(spark, features, fixtures_dir):
    """The broadcast path is a single map over the images: no cover, no
    cell join, no exchange."""
    imgs = spark.read.parquet(f"{fixtures_dir}/images_sf_e2e.parquet")
    plan = _plan(pip_join(imgs, features))
    assert plan.count("MapInPandas") == 1, plan
    assert "Exchange" not in plan and "Join" not in plan, plan


def test_pip_bucketed_plan_evaluates_cells_once(spark, features, fixtures_dir):
    """The cover join on ``h3_r7`` must not copy the cell kernel below
    it: the cell columns are non-nullable, so no ``isnotnull`` is
    inferred on the join key."""
    imgs = with_cell_columns(
        spark.read.parquet(f"{fixtures_dir}/images_sf_e2e.parquet")
    )
    with broadcast_threshold_override(spark, "-1"):
        plan = _plan(pip_join(imgs, features))
    assert "Join" in plan, plan
    assert plan.count("ArrowEvalPython") == 1, plan


def test_pip_over_broadcast_threshold_takes_bucketed_path(
    spark, images, features, fixtures_dir, caplog
):
    """Geometry bytes past autoBroadcastJoinThreshold: the collect stops,
    the bucketed plan runs, the pairs still equal the golden."""
    with broadcast_threshold_override(spark, "100"):
        with caplog.at_level("INFO", logger="gjspark.operators.spatial_join"):
            df = pip_join(images, features)
        got = _pairs(df)
        plan = _plan(df)
    msgs = [r.getMessage() for r in caplog.records if r.name.endswith("spatial_join")]
    assert len(msgs) == 1 and "path=bucketed" in msgs[0], msgs
    assert "Join" in plan, plan
    exp = pd.read_parquet(f"{fixtures_dir}/expected_pip.parquet")
    assert got == set(zip(exp["image_id"], exp["feature_id"]))


def _square(x0, y0, size):
    return [[x0, y0], [x0 + size, y0], [x0 + size, y0 + size], [x0, y0 + size], [x0, y0]]


def test_pip_edge_cases_both_paths_match_oracle(spark, tmp_path):
    """Non-polygon and null geometries, holes, MultiPolygons, a shared
    edge and NaN/null coordinates: both paths equal the brute-force
    PolygonSet oracle."""
    import json

    from gjspark.functions import geometry as G

    u = 0.0625  # binary-exact coordinates: edge tests are exact
    feats = [
        ("holed", {"type": "Polygon", "coordinates": [
            _square(10.0, 50.0, 4 * u), _square(10.0 + u, 50.0 + u, 2 * u)]}),
        ("multi", {"type": "MultiPolygon", "coordinates": [
            [_square(10.5, 50.0, 2 * u)], [_square(10.75, 50.0, 2 * u)]]}),
        ("west", {"type": "Polygon", "coordinates": [_square(11.0, 50.0, 2 * u)]}),
        ("east", {"type": "Polygon", "coordinates": [_square(11.125, 50.0, 2 * u)]}),
        ("point", {"type": "Point", "coordinates": [10.03125, 50.03125]}),
        ("nogeom", None),
    ]
    path = tmp_path / "edge.geojson"
    path.write_text(json.dumps({"type": "FeatureCollection", "features": [
        {"type": "Feature", "id": fid, "geometry": g, "properties": {}}
        for fid, g in feats
    ]}))
    features = read_feature_collection(spark, str(path)).cache()
    nan = float("nan")
    pts = [
        ("ring", 50.03125, 10.03125),  # in the shell, on the Point feature
        ("hole", 50.125, 10.125),
        ("multi_a", 50.0625, 10.5625),
        ("multi_b", 50.0625, 10.8125),
        ("between_parts", 50.0625, 10.6875),
        ("shared_edge", 50.0625, 11.125),
        ("far", 0.0, 0.0),
        ("nan", nan, nan),
        ("nan_lat", nan, 10.125),
        ("null", None, None),
    ]
    images = with_cell_columns(
        spark.createDataFrame(pts, "image_id string, lat double, lon double")
        .repartition(3)
    )
    try:
        poly_rows = (
            features.filter(F.col("geom_type").isin("Polygon", "MultiPolygon"))
            .select("feature_id", "geometry")
            .collect()
        )
        ps = G.PolygonSet(
            [r["feature_id"] for r in poly_rows],
            [bytes(r["geometry"]) for r in poly_rows],
        )
        lat = np.array([p[1] for p in pts], dtype=float)  # None -> NaN
        lon = np.array([p[2] for p in pts], dtype=float)
        oracle = {
            (pts[i][0], ps.poly_ids[j])
            for j, mask in enumerate(ps.contains(lon, lat))
            for i in np.nonzero(mask)[0]
        }
        # the ray cast is half-open: a shared-edge point belongs to one side
        assert oracle == {
            ("ring", "holed"), ("multi_a", "multi"), ("multi_b", "multi"),
            ("shared_edge", "east"),
        }
        for threshold in (None, "-1"):  # broadcast path, then bucketed
            with broadcast_threshold_override(spark, threshold):
                assert _pairs(pip_join(images, features)) == oracle
    finally:
        features.unpersist()


@pytest.mark.parametrize("repartitioned", [False, True])
def test_knn_matches_golden(images, locations, fixtures_dir, repartitioned):
    """The whole corpus, and a 5000-row slice spread over 32 partitions:
    the kernel's answer does not depend on the partitioning."""
    imgs = images.limit(5000).repartition(32) if repartitioned else images
    got = knn_join(imgs, locations).toPandas()
    exp = pd.read_parquet(f"{fixtures_dir}/expected_knn.parquet")
    assert len(got) == (5000 if repartitioned else len(exp))
    m = got.merge(exp, on="image_id", suffixes=("_got", "_exp"))
    assert len(m) == len(got)
    assert (m["nearest_location_id_got"] == m["nearest_location_id_exp"]).all()
    assert np.allclose(m["dist_m_got"], m["dist_m_exp"], atol=0.01)


def test_knn_empty_locations_is_empty(spark, images):
    """No locations (a FeatureCollection without geometries): an empty
    result with the usual schema, as an inner join with an empty side."""
    empty = spark.createDataFrame([], "location_id string, lat double, lon double")
    got = knn_join(images.limit(2), empty)
    assert got.schema.fieldNames() == ["image_id", "nearest_location_id", "dist_m"]
    assert got.collect() == []


def test_decode_invariants(decoded, fixtures_dir):
    stats = (
        decoded.drop("thumb").toPandas().sort_values("image_id").reset_index(drop=True)
    )
    exp = (
        pd.read_parquet(f"{fixtures_dir}/expected_images.parquet")
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    assert stats["decode_ok"].all()
    assert stats["dims_ok"].all()
    # decoded pixels byte-exact vs oracle decode (crc32)
    assert (stats["pix_crc32"].to_numpy() == exp["pix_crc32"].to_numpy()).all()
    # lossy rows met the PSNR >= 40 dB gate at generation time
    finite = np.isfinite(exp["psnr"].to_numpy())
    assert (exp["psnr"].to_numpy()[finite] >= 40.0).all()
    # phash of decoded lossless pixels == stored phash
    lossless = stats["fmt"].isin(sorted(C.LOSSLESS)).to_numpy()
    assert (
        stats["phash_decoded"].to_numpy()[lossless]
        == stats["phash_stored"].to_numpy()[lossless]
    ).all()
    # captions byte-equal through the pipeline
    n = len(stats)
    expected_caps = [gen.caption_for(i) for i in range(n)]
    assert list(stats.sort_values("image_id")["caption"]) == expected_caps


def test_rollup_totals(images, decoded):
    roll = rollup_from_features(decoded).toPandas()
    assert int(roll["n_images"].sum()) == images.count()
    assert (roll["n_tiles"] >= roll["n_images"]).all()


def test_rollup_xor_is_one_hash_aggregate(decoded):
    """``phash_xor`` is the built-in ``bit_xor``, which partial-aggregates
    in a HashAggregate; a ``collect_list`` fold would plan an
    ObjectHashAggregate and buffer every cell's phash list. The values
    equal a per-cell numpy XOR of the stored phashes."""
    roll = rollup_from_features(decoded)
    plan = _plan(roll).split("InMemoryRelation")[0]
    assert "HashAggregate" in plan, plan
    assert "ObjectHashAggregate" not in plan, plan
    ok = decoded.filter(F.col("decode_ok")).select("cell", "phash_stored").toPandas()
    want = ok.groupby("cell")["phash_stored"].agg(np.bitwise_xor.reduce)
    got = roll.toPandas().set_index("cell")["phash_xor"]
    assert got.sort_index().tolist() == want.sort_index().tolist()


def test_tiling_counts_match_pixel_math(images, decoded):
    roll = rollup_from_features(decoded).agg(F.sum("n_tiles")).collect()[0][0]
    tile = 16
    pdf = images.select("w", "h").toPandas()
    exp = int(
        (np.ceil(pdf["w"] / tile) * np.ceil(pdf["h"] / tile)).sum()
    )
    assert roll == exp


_LUMA = np.array([0.299, 0.587, 0.114])
_TILE = 16


def _reference_image_stats(image_id, img, w, h) -> dict:
    """One decoded image's stats and tile stats, computed independently of
    ``decoded_features``: int64 channel sums, ``phash64_batch`` on the
    image alone and ``reduceat`` tile sums, where the fused kernel batches
    images by shape and runs float64 GEMMs."""
    ih, iw, _ = img.shape
    csum = img.sum(axis=(0, 1), dtype=np.int64)
    ys, xs = np.arange(0, ih, _TILE), np.arange(0, iw, _TILE)
    tiles = np.add.reduceat(
        np.add.reduceat(img.sum(axis=2, dtype=np.int64), ys, axis=0), xs, axis=1
    )
    areas = np.outer(np.minimum(ys + _TILE, ih) - ys, np.minimum(xs + _TILE, iw) - xs)
    means = tiles / (3.0 * areas)
    return {
        "image_id": image_id,
        "pix_crc32": zlib.crc32(img.tobytes()) & 0x7FFFFFFF,
        "phash_decoded": int(C.phash64_batch([img])[0]),
        "mean_luma": float(
            (csum[0] * _LUMA[0] + csum[1] * _LUMA[1] + csum[2] * _LUMA[2]) / float(ih * iw)
        ),
        "decode_ok": True,
        "dims_ok": ih == h and iw == w,
        "n_tiles_img": len(ys) * len(xs),
        "luma_wsum": float(tiles.sum()) / 3.0,
        "px": int(areas.sum()),
        "min_tm": float(means.min()),
        "max_tm": float(means.max()),
    }


def test_fused_pipeline_matches_standalone(images):
    """decoded_features must reproduce, from ONE decode pass (the 100TB
    plan shape), an independent per-image decode of every image, and
    every mosaic_from_features plan must equal a per-cell numpy mosaic of
    per-image thumbs byte for byte."""
    from gjspark.operators.fused import mosaic_from_features

    sub = images.limit(6000).repartition(32).cache()
    feat = decoded_features(sub).cache()
    try:
        stats, sums, counts = [], {}, {}
        for image_id, data, fmt, w, h, cell in sub.select(
            "image_id", "bytes", "fmt", "w", "h", "h3_r7"
        ).collect():
            img = C.decode_image(bytes(data), fmt)
            stats.append(_reference_image_stats(image_id, img, w, h))
            thumb = C.resize_rgb_exact(img[None], 32)[0].transpose(1, 2, 0)
            sums[cell] = sums.get(cell, 0) + thumb.astype(np.int64)
            counts[cell] = counts.get(cell, 0) + 1
        ref = pd.DataFrame(stats).sort_values("image_id").reset_index(drop=True)
        got = (
            feat.select(*ref.columns)
            .toPandas().sort_values("image_id").reset_index(drop=True)
        )
        # decode stats and tile stats, per image, exact (float columns too)
        pd.testing.assert_frame_equal(got, ref, check_exact=True)
        # the fixture's planted hot cell is in the slice
        assert max(counts.values()) >= 100
        cells = sorted(sums)
        for combine in (None, False, True):
            m = (
                mosaic_from_features(feat, combine=combine).toPandas()
                .sort_values("cell").reset_index(drop=True)
            )
            assert m["cell"].tolist() == cells, combine
            assert m["n_images"].tolist() == [counts[c] for c in cells], combine
            for c, x in zip(cells, m["mosaic"]):
                exp = (sums[c] // counts[c]).astype(np.uint8).tobytes()
                assert bytes(x) == exp, (combine, c)
    finally:
        feat.unpersist()
        sub.unpersist()


def test_mosaic_logs_plan_choice(decoded, caplog):
    """The probe's choice goes to logging once; at fixture scale (few
    rows per cell and partition) it is the direct plan."""
    from gjspark.operators.fused import mosaic_from_features

    with caplog.at_level("INFO", logger="gjspark.operators.fused"):
        mosaic_from_features(decoded)
    msgs = [r.getMessage() for r in caplog.records if r.name.endswith("fused")]
    assert len(msgs) == 1 and "plan=direct" in msgs[0], msgs


def test_mosaic_plan_shapes(decoded):
    """Over a persisted features frame the direct plan is one exchange
    and one map; the combine plan adds the map-side partials. Neither
    reads or shuffles image bytes."""
    from gjspark.operators.fused import mosaic_from_features

    # the operators above the cached relation; its own decode plan is
    # printed below InMemoryRelation
    def top(df):
        return _plan(df).split("InMemoryRelation")[0]

    direct = top(mosaic_from_features(decoded, combine=False))
    assert direct.count("Exchange") == 1, direct
    assert direct.count("MapInPandas") == 1, direct
    combined = top(mosaic_from_features(decoded, combine=True))
    assert combined.count("Exchange") == 1, combined
    assert combined.count("MapInPandas") == 2, combined
    for plan in (direct, combined):
        assert "bytes" not in plan, plan


def test_thumb_compression_roundtrip_exact():
    """The delta+zlib thumb transport must be exactly invertible on ANY
    content — smooth gradients, uniform noise, wraparound-heavy deltas —
    or mosaic bytes silently drift."""
    from gjspark.operators.fused import _compress_thumbs, _decompress_thumbs

    rng = np.random.default_rng(11)
    batch = np.stack(
        [
            rng.integers(0, 256, (32, 32, 3)),           # pure noise
            np.zeros((32, 32, 3)),                        # all zero
            np.full((32, 32, 3), 255),                    # all max
            np.tile(np.arange(32)[None, :, None] * 8, (32, 1, 3)) % 256,  # ramp
            np.tile((np.arange(32) % 2)[None, :, None] * 255, (32, 1, 3)),  # alternating (wraparound deltas)
        ]
    ).astype(np.uint8)
    blobs = _compress_thumbs(batch)
    back = _decompress_thumbs(blobs)
    assert np.array_equal(back, batch.reshape(len(batch), -1))
    # order-independence: decompressing a permuted subset matches
    sub = [blobs[4], blobs[0], blobs[2]]
    assert np.array_equal(
        _decompress_thumbs(sub), batch[[4, 0, 2]].reshape(3, -1)
    )


def test_large_image_tile_sums_exact(spark):
    """Images past the float32 exactness bound (h*w*765 >= 2^24, i.e.
    >= ~149x149) must switch the integral image to float64 so tile sums
    stay integer-exact (the documented invariant) at production sizes."""
    from gjspark.functions.codecs import encode_ppm
    from gjspark.operators.fused import decoded_features

    h = w = 200  # 200*200*765 = 30.6M > 2^24: float32 cumsum would drift
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [("big-0", encode_ppm(img), "ppm", w, h, 0, "c", 0.0, 0.0, 1)],
        "image_id string, bytes binary, fmt string, w int, h int, "
        "phash long, caption string, lat double, lon double, h3_r7 long",
    )
    row = decoded_features(df).select("luma_wsum", "px").collect()[0]
    exact = int(img.sum(dtype=np.int64))
    assert row["px"] == h * w
    assert abs(row["luma_wsum"] * 3.0 - exact) < 1e-6


class TestCellsNullSafety:
    def test_null_coordinates_get_sentinel_not_batch_abort(self, spark):
        """One bad row must not poison the Arrow batch (streaming ingest
        re-reads the same file forever on failure). The sentinel is the
        kernel's only answer for bad input, so the schema declares the
        seven cell columns non-nullable."""
        df = spark.createDataFrame(
            [("a", 50.0, 8.0), ("b", None, 8.0), ("c", float("nan"), 8.0)],
            "id string, lat double, lon double",
        )
        cells = with_cell_columns(df)
        for c in [f"h3_r{r}" for r in range(7, 13)] + ["s2_cell"]:
            assert cells.schema[c].dataType.simpleString() == "bigint", c
            assert not cells.schema[c].nullable, c
        rows = {r["id"]: r for r in cells.collect()}
        assert rows["a"]["h3_r9"] != 0 and rows["a"]["s2_cell"] != 0
        for bad in ("b", "c"):
            assert rows[bad]["h3_r7"] == 0
            assert rows[bad]["h3_r12"] == 0
            assert rows[bad]["s2_cell"] == 0

    def test_filter_after_cells_reaches_scan(self, spark, fixtures_dir):
        """A filter on a scan column written after ``with_cell_columns``
        is pushed into the parquet scan, and keeps the same rows as the
        filter written before it."""
        src = spark.read.parquet(f"{fixtures_dir}/images_sf_e2e.parquet")
        after = with_cell_columns(src).filter("fmt = 'png'")
        pushed = [ln for ln in _plan(after).split("\n") if "PushedFilters" in ln]
        assert len(pushed) == 1 and "EqualTo(fmt,png)" in pushed[0], pushed
        before = with_cell_columns(src.filter("fmt = 'png'"))
        key = ["image_id", "h3_r12", "s2_cell"]
        assert sorted(after.select(key).collect()) == sorted(
            before.select(key).collect()
        )
