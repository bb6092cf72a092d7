"""Deterministic fixture generator (seed 42 everywhere, FIXTURES.md).

Produces, under ``<repo>/fixtures_data/``:

- ``features_nuts.geojson``        NUTS-style polygon FeatureCollection
- ``features_points_25832.geojson``projected points incl. the reference's
                                   golden CRS pair (``UtilsTest.java:31-48``)
- ``points.csv``                   CSV source w/ ';', comments, comma decimals
- ``entity_snapshot.parquet``      pre-existing Locations for find-or-create
- ``observations_fixture.parquet`` validator truth-table input
- ``images_sf_unit.parquet``  (1k) / ``images_sf_e2e.parquet`` (50k)
  Iceberg-shaped image table (input_hint schema + lat/lon test columns)
- goldens from a single-process numpy oracle:
  ``expected_cells.parquet``, ``expected_pip.parquet``,
  ``expected_knn.parquet``, ``expected_images.parquet``

Everything is a pure function of the seed; ``ensure_fixtures`` is
idempotent (guarded by a VERSION stamp).
"""

from __future__ import annotations

import glob
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gjspark.functions import codecs as C
from gjspark.functions import geometry as G
from gjspark.functions import gif as gifc
from gjspark.functions import h3 as h3x, s2
from gjspark.functions.crs import tm_forward

VERSION = "v18"  # v18: + expected_quality golden (v17 planted brightness near-dups)
# bench corpus version: bumps only when BENCH file content changes
# (v14 added jpeg to the e2e cycle only — bench content is still v13's)
BENCH_VERSION = "v13"
# round 5: a second, jpeg-bearing bench corpus (same 5-format cycle as
# the e2e corpus) so the HEADLINE decode number pays the real-corpus
# JPEG cost; the 4-format corpus is kept one more round for
# round-over-round continuity (VERDICT r4 "what's missing" #1)
BENCH_JPEG_VERSION = "j1"
SEED = 42

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
DEFAULT_DIR = os.path.join(REPO_ROOT, "fixtures_data")

# Geographic frame: Central Europe box (keeps EPSG:25832 meaningful)
LON_MIN, LON_MAX, LAT_MIN, LAT_MAX = 6.0, 14.0, 47.5, 54.5
KNN_RES = 8  # engine's default kNN cell resolution
N_FEATURES = 200
N_IMAGES_UNIT = 1_000
N_IMAGES_E2E = 50_000


# ---------------------------------------------------------------------------
# Feature polygons
# ---------------------------------------------------------------------------


def _polygon_coords(rng, cx, cy, kind: str):
    """One polygon (list of rings) around (cx, cy)."""
    if kind == "convex":
        n = int(rng.integers(5, 9))
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        r = rng.uniform(0.08, 0.25)
        ring = np.column_stack([cx + r * np.cos(ang), cy + r * 0.7 * np.sin(ang)])
    elif kind == "concave":
        n = int(rng.integers(5, 8))
        ang = np.linspace(0, 2 * np.pi, 2 * n, endpoint=False)
        r = np.where(np.arange(2 * n) % 2 == 0, rng.uniform(0.15, 0.3), rng.uniform(0.05, 0.1))
        ring = np.column_stack([cx + r * np.cos(ang), cy + r * 0.7 * np.sin(ang)])
    else:
        ang = np.linspace(0, 2 * np.pi, 8, endpoint=False)
        r = rng.uniform(0.12, 0.28)
        ring = np.column_stack([cx + r * np.cos(ang), cy + r * 0.7 * np.sin(ang)])
    ring = np.vstack([ring, ring[:1]])
    rings = [ring]
    if kind == "hole":
        hr = 0.35 * (ring[:, 0].max() - cx)
        hang = np.linspace(0, 2 * np.pi, 6, endpoint=False)
        hole = np.column_stack([cx + hr * np.cos(hang), cy + hr * 0.7 * np.sin(hang)])
        rings.append(np.vstack([hole, hole[:1]]))
    return rings


def make_features(n: int = N_FEATURES):
    """-> list of GeoJSON Feature dicts (NUTS-style, FIXTURES.md §1.1)."""
    rng = np.random.default_rng(SEED)
    kinds = ["convex", "concave", "hole", "multi"]
    cntr = ["DE", "FR", "NL", "AT"]
    feats = []
    # lay centroids on a jittered grid to limit overlap
    gx = int(np.ceil(np.sqrt(n * (LON_MAX - LON_MIN) / (LAT_MAX - LAT_MIN))))
    gy = int(np.ceil(n / gx))
    cells = [(ix, iy) for ix in range(gx) for iy in range(gy)][:n]
    for k, (ix, iy) in enumerate(cells):
        cx = LON_MIN + (ix + 0.5) * (LON_MAX - LON_MIN) / gx + rng.uniform(-0.05, 0.05)
        cy = LAT_MIN + (iy + 0.5) * (LAT_MAX - LAT_MIN) / gy + rng.uniform(-0.05, 0.05)
        kind = kinds[k % len(kinds)]
        if kind == "multi":
            rings_a = _polygon_coords(rng, cx - 0.12, cy, "convex")
            rings_b = _polygon_coords(rng, cx + 0.18, cy + 0.1, "convex")
            geometry = {
                "type": "MultiPolygon",
                "coordinates": [
                    [r.tolist() for r in rings_a],
                    [r.tolist() for r in rings_b],
                ],
            }
        else:
            rings = _polygon_coords(rng, cx, cy, kind)
            geometry = {"type": "Polygon", "coordinates": [r.tolist() for r in rings]}
        props = {
            "NUTS_ID": f"DE1{k:03d}",
            "NUTS_NAME": f"Region {k}",
            "NAME_LATN": f"Region {k}",
            "LEVL_CODE": int(k % 4),
            "CNTR_CODE": cntr[k % 4],
            "type": "NUTS",
            "nested": {"a": {"b": int(k * 7)}},
            "arr": [int(k), f"s{k}"],
        }
        # edge cases: ~5 features each
        if k % 40 == 1:
            props["empty"] = ""
        if k % 40 == 2:
            props["weird~key"] = "tilde"
            props["weird/key"] = "slash"
        if k % 40 == 3:
            props["NUTS_NAME"] = f'Region "{k}"\nline2'
        if k % 40 == 4:
            del props["NAME_LATN"]  # missing property -> template default
        feats.append(
            {
                "type": "Feature",
                "id": f"NUTS-{k}",
                "geometry": geometry,
                "properties": props,
            }
        )
    return feats


def feature_centroids(feats):
    """Deterministic 'Location point' per feature: mean of shell vertices of
    the first polygon (matches the oracle + engine definition)."""
    out = []
    for f in feats:
        g = f["geometry"]
        if g["type"] == "Polygon":
            shell = np.array(g["coordinates"][0])
        else:
            shell = np.array(g["coordinates"][0][0])
        out.append(shell[:-1].mean(axis=0))  # drop closing vertex
    return np.array(out)  # (n, 2) lon/lat


# ---------------------------------------------------------------------------
# Image table
# ---------------------------------------------------------------------------

_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey"
).split()

W_CYCLE = [16, 32, 64, 128]
H_CYCLE = [16, 24, 64, 96]
# e2e/contract corpus exercises the real JPEG codec; the bench corpus
# keeps the 4-format cycle so round-over-round throughput stays comparable
FMT_CYCLE = ["ppm", "bmp", "png", "dct", "jpeg", "webp", "gif"]
FMT_CYCLE_BENCH = ["ppm", "bmp", "png", "dct"]


def make_image(i: int) -> np.ndarray:
    """Pure function i -> (h, w, 3) uint8 gradient+checker pattern."""
    w = W_CYCLE[i % 4]
    h = H_CYCLE[(i // 4) % 4]
    yy, xx = np.mgrid[0:h, 0:w]
    r = (xx * 255 // max(w - 1, 1) + i * 37) % 256
    g = (yy * 255 // max(h - 1, 1) + i * 11) % 256
    b = ((xx // 4 + yy // 4 + i) % 2) * 200 + 27
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def caption_for(i: int) -> str:
    words = " ".join(_WORDS[(i + k) % len(_WORDS)] for k in range(3))
    return f"caption {i} {words}"


def make_images_table(
    n: int, formats: list[str] | None = None, plant_neardups: bool = False
):
    """-> dict of columns for the Iceberg-shaped images table.

    ``plant_neardups`` (e2e corpus only — the bench corpus must stay
    byte-stable across rounds): every 35th row becomes a brightness+8
    copy of the row 112 positions earlier (112 = lcm of the dims and
    format cycles, so dims and format slot match). Brightness shifts
    are the canonical perceptual near-duplicate: the planted phash
    lands 1-7 Hamming bits from its base ~3/4 of the time, feeding
    q_phash_neardup."""
    formats = FMT_CYCLE if formats is None else formats
    rng = np.random.default_rng(SEED + 1)
    feats = make_features()
    cents = feature_centroids(feats)
    # placement: 80% clustered at polygon centroids, 10% hot cell, 10% uniform
    kind = rng.choice(3, size=n, p=[0.80, 0.10, 0.10])
    fidx = rng.integers(0, len(cents), size=n)
    lon = np.empty(n)
    lat = np.empty(n)
    cluster = kind == 0
    lon[cluster] = cents[fidx[cluster], 0] + rng.normal(0, 0.05, cluster.sum())
    lat[cluster] = cents[fidx[cluster], 1] + rng.normal(0, 0.035, cluster.sum())
    hot = kind == 1  # one hot H3 res-7 cell worth of points (skew driver)
    hot_center = cents[7]
    lon[hot] = hot_center[0] + rng.normal(0, 0.004, hot.sum())
    lat[hot] = hot_center[1] + rng.normal(0, 0.003, hot.sum())
    unif = kind == 2
    lon[unif] = rng.uniform(LON_MIN - 1, LON_MAX + 1, unif.sum())
    lat[unif] = rng.uniform(LAT_MIN - 1, LAT_MAX + 1, unif.sum())

    ids, blobs, ws, hs, fmts, caps = [], [], [], [], [], []
    imgs = []
    for i in range(n):
        img = make_image(i)
        if plant_neardups and i % 35 == 14 and i >= 112:
            img = np.clip(
                make_image(i - 112).astype(np.int16) + 8, 0, 255
            ).astype(np.uint8)
        fmt = formats[i % len(formats)]
        if fmt == "gif":
            # palette format: the quantized image IS the source of truth
            # for gif rows (phash/crc/psnr all derive from it), so the
            # round trip is exact and the row counts as lossless
            img = gifc.palettize_332(img)
        imgs.append(img)
        ids.append(f"img-{i:08d}")
        blobs.append(C.encode_image(img, fmt))
        hs.append(img.shape[0])
        ws.append(img.shape[1])
        fmts.append(fmt)
        caps.append(caption_for(i))
    phashes = C.phash64_batch(imgs)
    return {
        "image_id": ids,
        "bytes": blobs,
        "w": np.array(ws, dtype=np.int32),
        "h": np.array(hs, dtype=np.int32),
        "fmt": fmts,
        "caption": caps,
        "phash": phashes,
        "lat": lat,
        "lon": lon,
    }


def _images_schema():
    return pa.schema(
        [
            ("image_id", pa.string()),
            ("bytes", pa.binary()),
            ("w", pa.int32()),
            ("h", pa.int32()),
            ("fmt", pa.string()),
            ("caption", pa.string()),
            ("phash", pa.int64()),
            ("lat", pa.float64()),
            ("lon", pa.float64()),
        ]
    )


# ---------------------------------------------------------------------------
# Oracles (single-process numpy — the golden producers)
# ---------------------------------------------------------------------------


def oracle_cells(image_id, lat, lon):
    cols = {"image_id": image_id}
    for r in range(7, 13):
        cols[f"h3_r{r}"] = h3x.latlng_to_cell(lat, lon, r)
    cols["s2_cell"] = s2.s2_cell(lat, lon, 16)
    return cols


def oracle_pip(image_id, lat, lon, feats):
    # rounded coords — identical to what the features pipeline produces
    wkbs, ids = [], []
    for f in feats:
        g = round_geometry(f["geometry"])
        if g["type"] == "Polygon":
            wkbs.append(G.polygon_wkb([np.array(r) for r in g["coordinates"]]))
        else:
            wkbs.append(
                G.multipolygon_wkb(
                    [[np.array(r) for r in poly] for poly in g["coordinates"]]
                )
            )
        ids.append(f["id"])
    ps = G.PolygonSet(ids, wkbs)
    pt, po = ps.match_points(np.asarray(lon), np.asarray(lat))
    order = np.lexsort((po, pt))
    return {
        "image_id": [image_id[k] for k in pt[order]],
        "feature_id": [ids[k] for k in po[order]],
    }


def oracle_knn(image_id, lat, lon, feats):
    cents = feature_centroids(feats)  # (m, 2) lon/lat == Location points
    ids = [f["id"] for f in feats]
    lat = np.asarray(lat)
    lon = np.asarray(lon)
    n, m = len(lat), len(cents)
    best_d = np.full(n, np.inf)
    best_i = np.zeros(n, dtype=np.int64)
    for j in range(m):  # m small; vectorize over points
        d = G.haversine_m(lat, lon, cents[j, 1], cents[j, 0])
        upd = (d < best_d) | ((d == best_d) & (j < best_i))
        best_d = np.where(upd, d, best_d)
        best_i = np.where(upd, j, best_i)
    return {
        "image_id": list(image_id),
        "nearest_location_id": [ids[k] for k in best_i],
        "dist_m": np.round(best_d, 3),
    }


def oracle_quality(image_id, blobs, fmts):
    """Single-process golden for the image-quality metrics: decode each
    image independently and run the SAME exact-integer metric kernel
    (functions/quality.py) per image — pins the distributed pipeline's
    plumbing (batching/partitioning independence), the q_decode
    pattern."""
    from gjspark.functions.quality import quality_metrics

    cols = {"image_id": list(image_id), "fmt": list(fmts)}
    ent, con, sha, cf = [], [], [], []
    for b, f in zip(blobs, fmts):
        img = C.decode_image(b, f)
        e, c, s, c2 = quality_metrics(img)
        ent.append(e)
        con.append(c)
        sha.append(s)
        cf.append(c2)
    cols.update(
        {
            "entropy_bits": np.array(ent, dtype=np.float64),
            "rms_contrast": np.array(con, dtype=np.float64),
            "sharpness": np.array(sha, dtype=np.float64),
            "colorfulness": np.array(cf, dtype=np.float64),
        }
    )
    return cols


def oracle_images(image_id, blobs, fmts):
    """Decode invariants: crc32 of decoded pixels (lossless), PSNR vs the
    regenerated source (lossy)."""
    crcs, psnrs = [], []
    for k, (b, f) in enumerate(zip(blobs, fmts)):
        img = C.decode_image(b, f)
        crcs.append(zlib.crc32(img.tobytes()) & 0x7FFFFFFF)
        if f not in C.LOSSLESS:
            src = make_image(k)
            psnrs.append(C.psnr(src, img))
        else:
            psnrs.append(float("inf"))
    return {
        "image_id": list(image_id),
        "pix_crc32": np.array(crcs, dtype=np.int64),
        "psnr": np.array(psnrs, dtype=np.float64),
    }


# ---------------------------------------------------------------------------
# Entity snapshot + observations (FIXTURES.md §1.4, §1.5)
# ---------------------------------------------------------------------------


def round_geometry(geom: dict, scale: int = 6) -> dict:
    """Apply the engine's coordinate rounding (HALF_EVEN, scale 6 —
    ``FrostUtils.java:978-1001``) to a GeoJSON geometry dict."""

    def rnd(x):
        if isinstance(x, list):
            return [rnd(v) for v in x]
        return float(np.round(x, scale))

    return {"type": geom["type"], "coordinates": rnd(geom["coordinates"])}


def make_entity_snapshot(feats):
    """Pre-existing 'server' Locations keyed `{type}-{NUTS_ID}`.

    "Identical" rows are rendered through the same templates a previous
    import would have used, plus a server-only key (lastUpdated) that must
    survive the deep merge. 1/3 identical (no-op), 1/3 differing (diff-update), 1/3 absent
    (create) + one duplicated key (ambiguity fail-fast,
    ``utils/FrostUtils.java:646-648``).
    """
    from gjspark.operators.entities import nuts_config
    from gjspark.operators.template import render_template

    cfg = nuts_config()[0]
    rows = []
    for k, f in enumerate(feats):
        if k % 3 == 2:
            continue  # absent -> create path
        p = f["properties"]
        key = render_template(cfg.template_cache_key, p)
        name = render_template(cfg.template_name, p)
        desc = render_template(cfg.template_description, p)
        props = json.loads(render_template(cfg.template_properties, p))
        props["lastUpdated"] = "2024-01-01"
        geom = json.dumps(round_geometry(f["geometry"]), sort_keys=True)
        if k % 3 == 1:  # differing
            name = name + " (old)"
            props["stale"] = "yes"
            geom = json.dumps({"type": "Point", "coordinates": [0.0, 0.0]})
        rows.append(
            {
                "location_id": f"loc-{k:05d}",
                "cache_key": key,
                "name": name,
                "description": desc,
                "properties_json": json.dumps(props, sort_keys=True),
                "geometry_json": geom,
                "encoding_type": "application/geo+json",
            }
        )
    # duplicated key for ambiguity check
    dup = dict(rows[0])
    dup["location_id"] = "loc-dup"
    dup["cache_key"] = "NUTS-AMBIG"
    dup2 = dict(dup)
    dup2["location_id"] = "loc-dup2"
    rows += [dup, dup2]
    return rows


def make_entity_snapshot_equals(feats):
    """Snapshot for the equals-filter second-probe contract query (P9,
    ``utils/FrostUtils.java:702-708``): 1/3 of rows are keyed by the
    template cache key (cache-hit path), 1/3 by a LEGACY key scheme while
    carrying the same rendered ``name`` — findable only through the
    equality-filter probe — and 1/3 are absent (create path). Half the
    legacy rows differ in description so the probe path exercises both
    update and noop. Empty or duplicate names are skipped so the probe
    is never ambiguous."""
    from gjspark.operators.entities import nuts_config
    from gjspark.operators.template import render_template

    cfg = nuts_config()[0]
    rows = []
    seen_names = set()
    for k, f in enumerate(feats):
        if k % 3 == 2:
            continue  # absent -> create path
        p = f["properties"]
        name = render_template(cfg.template_name, p)
        if not name.strip() or name in seen_names:
            continue
        seen_names.add(name)
        key = render_template(cfg.template_cache_key, p)
        desc = render_template(cfg.template_description, p)
        props = json.loads(render_template(cfg.template_properties, p))
        props["lastUpdated"] = "2024-01-01"
        geom = json.dumps(round_geometry(f["geometry"]), sort_keys=True)
        if k % 3 == 1:  # legacy key: reachable only via the equals probe
            key = f"LEGACY-{k:05d}"
            if k % 6 == 1:
                desc = desc + " (legacy wording)"  # -> update
        rows.append(
            {
                "location_id": f"loc-{k:05d}",
                "cache_key": key,
                "name": name,
                "description": desc,
                "properties_json": json.dumps(props, sort_keys=True),
                "geometry_json": geom,
                "encoding_type": "application/geo+json",
            }
        )
    return rows


def oracle_upsert_equals(feats):
    """Pure-Python golden for find-or-create WITH the equality-filter
    second probe: cache-key hit first, then match by rendered name among
    the remaining snapshot rows, else create (deterministic xxhash id)."""
    from gjspark.functions.xxhash import spark_entity_id
    from gjspark.operators.entities import nuts_config
    from gjspark.operators.template import render_template
    from gjspark.operators.upsert import deep_merge

    cfg = nuts_config()[0]
    snap_rows = make_entity_snapshot_equals(feats)
    by_key = {r["cache_key"]: r for r in snap_rows}
    by_name = {r["name"]: r for r in snap_rows}
    rows = []
    for f in feats:
        p = f["properties"]
        name = render_template(cfg.template_name, p)
        if not name.strip():
            continue
        key = render_template(cfg.template_cache_key, p)
        desc = render_template(cfg.template_description, p)
        props_json = json.dumps(
            json.loads(render_template(cfg.template_properties, p)), sort_keys=True
        )
        geom = json.dumps(round_geometry(f["geometry"]), sort_keys=True)
        s = by_key.get(key) or by_name.get(name)
        if s is None:
            op, props_out, eid = "create", props_json, spark_entity_id("Location", key)
        else:
            merged = json.dumps(
                deep_merge(json.loads(s["properties_json"]), json.loads(props_json)),
                sort_keys=True,
            )
            changed = (
                name != s["name"]
                or desc != s["description"]
                or merged != s["properties_json"]
                or geom != s["geometry_json"]
            )
            op, props_out = ("update", merged) if changed else ("noop", merged)
            eid = s["location_id"]
        rows.append(
            {
                "cache_key": key,
                "op": op,
                "entity_id": eid,
                "name": name,
                "properties_json": props_out,
            }
        )
    return rows


def make_observations(n: int = 2000):
    """Validator truth-table input (V2-V7)."""
    rng = np.random.default_rng(SEED + 2)
    base = np.datetime64("2024-03-01T00:00:00")
    rows = []
    for i in range(n):
        ds = f"ds-{i % 20:03d}"
        t = base + np.timedelta64(int(rng.integers(0, 90 * 24 * 3600)), "s")
        interval = i % 10 == 3
        rows.append(
            {
                "obs_id": f"obs-{i:06d}",
                "ds_key": ds,
                "t_start": t.astype("datetime64[us]").item(),
                "t_end": (t + np.timedelta64(3600, "s")).astype("datetime64[us]").item()
                if interval
                else None,
                "result": json.dumps(
                    int(rng.integers(0, 100)) if i % 3 else [i % 7, "x"]
                ),
                "params_json": json.dumps(
                    {"q": str(i % 5), "src": "gen"}, sort_keys=True
                ),
            }
        )
    # planted duplicates at equal phenomenonTime: same + different results
    for j in range(50):
        src = dict(rows[j * 7])
        src["obs_id"] = f"obs-dup-{j:03d}"
        if j % 2:
            src["result"] = json.dumps("CHANGED")
        rows.append(src)
    return rows


# ---------------------------------------------------------------------------
# CSV + projected points (FIXTURES.md §1.2, §1.3)
# ---------------------------------------------------------------------------


def make_points_25832(n: int = 100):
    rng = np.random.default_rng(SEED + 3)
    lon = rng.uniform(6.5, 11.5, n - 1)
    lat = rng.uniform(47.8, 54.2, n - 1)
    e, no = tm_forward(lon, lat, 9.0)
    feats = []
    # golden pair from the reference's unit test, exact inputs
    feats.append(
        {
            "type": "Feature",
            "id": "P-GOLDEN",
            "geometry": {"type": "Point", "coordinates": [350779.28125, 5815166.0]},
            "properties": {"crs": "25832", "station": "golden"},
        }
    )
    for k in range(n - 1):
        feats.append(
            {
                "type": "Feature",
                "id": f"P-{k:04d}",
                "geometry": {
                    "type": "Point",
                    "coordinates": [float(e[k]), float(no[k])],
                },
                "properties": {"crs": "25832", "station": f"st-{k}"},
            }
        )
    return feats


def make_csv(n: int = 500) -> str:
    rng = np.random.default_rng(SEED + 4)
    lines = ["# synthetic stations (seed 42)", "name;easting;northing;crs;station_type;value;ts"]
    lon = rng.uniform(6.5, 11.5, n)
    lat = rng.uniform(47.8, 54.2, n)
    e, no = tm_forward(lon, lat, 9.0)
    for k in range(n):
        val = f"{rng.uniform(0, 100):.1f}".replace(".", ",")  # comma decimals
        east = f"{e[k]:.5f}".replace(".", ",")
        lines.append(
            f"S-{k:04d};{east};{no[k]:.5f};25832;air;{val};"
            f"2024-03-{1 + k % 28:02d}T10:00:00Z"
        )
    return "\n".join(lines) + "\n"


# ---------------------------------------------------------------------------
# ensure_fixtures
# ---------------------------------------------------------------------------


def _write_parquet(path, cols, schema=None):
    table = pa.table(cols, schema=schema)
    pq.write_table(table, path)


LIGHT_VERSION = "L15"  # L15: + mkv V_UNCOMPRESSED rows (L14 avi, L13 m4a, L12 flac)


def make_neardup_embeddings(n_base: int = 1900, n_dups: int = 100, dim: int = 64):
    """Embedding table with planted near-duplicates for the LSH contract
    query: ids [0, n_base) are iid normal vectors (max pairwise |cos| ~
    0.5 at this count — a 7+ sigma gap below any sane threshold), ids
    [n_base, n_base+n_dups) are noisy copies of bases 0..n_dups-1 at
    cosine ~0.97-0.995. The DuckDB oracle brute-forces all pairs, so it
    is algorithm-independent of the hyperplane-LSH under test."""
    rng = np.random.default_rng(7)
    base = rng.normal(size=(n_base, dim))
    sigma = rng.uniform(0.10, 0.25, size=n_dups)
    dups = base[:n_dups] + rng.normal(size=(n_dups, dim)) * sigma[:, None]
    vecs = np.vstack([base, dups])
    return {
        "vec_id": list(range(n_base + n_dups)),
        "embedding": [[float(x) for x in v] for v in vecs],
    }


def make_media_tables(n_videos: int = 60, n_audios: int = 100):
    """Deterministic video/audio fixtures for the q_frames / q_audio
    contract queries (SURVEY.md §2 multimodal training-data ops).

    Videos are ``rawvid`` containers (RAWV + <HHH w,h,n> + raw RGB
    frames); the parquet row also carries (fw, fh, n_frames,
    frame_md5s) computed from the SOURCE pixel arrays *before* encoding,
    so the DuckDB oracle checks the container decode through an
    independent path. Audios are ``rawpcm`` (RAWA + <II rate,n> + int16
    samples) with the plain ``samples`` list alongside for the SQL twin.
    mp4 rows are REAL ISO-BMFF containers (functions/bmff.py) wrapping the
    same deterministic raw-RGB samples, so q_frames exercises the
    spec-conformant demux path; gif rows are REAL animated GIF89a
    (functions/gif.py) whose frames are palettized (3-3-2) at the source
    so LZW+compositing round-trips exactly; webm/ogg/mp3 rows stay stub
    containers (random bytes) that both sides must skip.
    """
    import hashlib
    import struct

    rng = np.random.default_rng(1104)
    vids = {
        "video_id": [], "fmt": [], "bytes": [],
        "fw": [], "fh": [], "n_frames": [], "frame_md5s": [],
    }
    from gjspark.functions.bmff import mux_mp4_rawvideo

    for i in range(n_videos):
        vid = f"vid-{i:04d}"
        if i % 12 == 11 and i % 24 != 11:
            # webm stays a stub container: random bytes both sides skip
            vids["video_id"].append(vid)
            vids["fmt"].append("webm")
            vids["bytes"].append(rng.integers(0, 256, 64, dtype=np.uint8).tobytes())
            vids["fw"].append(0)
            vids["fh"].append(0)
            vids["n_frames"].append(0)
            vids["frame_md5s"].append([])
            continue
        w = int(rng.integers(4, 17))
        h = int(rng.integers(4, 17))
        n = int(rng.integers(1, 13))
        frames = [
            rng.integers(0, 256, w * h * 3, dtype=np.uint8).tobytes()
            for _ in range(n)
        ]
        if i % 24 == 11:
            # real ISO-BMFF container (functions/bmff.py) around the same
            # deterministic raw-RGB samples: the mp4 demux path — box tree,
            # stsd/stts/stsc/stsz/stco sample tables — runs end-to-end
            fmt, blob = "mp4", mux_mp4_rawvideo(frames, w, h)
        elif i % 12 == 2:
            # real RIFF/AVI container, uncompressed 'DIB ' frames
            # (bottom-up padded BGR per spec) — lossless, source md5s hold
            from gjspark.functions.avi import mux_avi

            fmt, blob = "avi", mux_avi(frames, w, h, "DIB ")
        elif i % 12 == 8:
            # real AVI/MJPG: one baseline JPEG per frame through the
            # from-spec jpeg codec. Lossy, so the truth md5s are computed
            # over the DECODED pixels (deterministic decoder)
            from gjspark.functions.avi import mux_avi
            from gjspark.functions.jpeg import decode_jpeg, encode_jpeg

            jf = [
                encode_jpeg(
                    np.frombuffer(f, dtype=np.uint8).reshape(h, w, 3), 97
                )
                for f in frames
            ]
            frames = [decode_jpeg(b).tobytes() for b in jf]
            fmt, blob = "avi", mux_avi(jf, w, h, "MJPG")
        elif i % 12 == 3:
            # real EBML/Matroska container (functions/mkv.py, RFC 8794 +
            # 9559): V_UNCOMPRESSED SimpleBlocks decode end-to-end
            from gjspark.functions.mkv import mux_mkv_rawvideo

            fmt, blob = "mkv", mux_mkv_rawvideo(frames, w, h)
        elif i % 12 == 5:
            # real animated GIF89a: palettized source frames are the truth
            # (md5s below hash THESE, an independent check of LZW decode
            # plus disposal-method compositing in decode_gif_frames)
            frames = [
                gifc.palettize_332(
                    np.frombuffer(f, dtype=np.uint8).reshape(h, w, 3)
                ).tobytes()
                for f in frames
            ]
            fmt, blob = "gif", gifc.encode_gif_frames(
                [np.frombuffer(f, dtype=np.uint8).reshape(h, w, 3) for f in frames]
            )
        else:
            fmt = "rawvid"
            blob = b"RAWV" + struct.pack("<HHH", w, h, n) + b"".join(frames)
        vids["video_id"].append(vid)
        vids["fmt"].append(fmt)
        vids["bytes"].append(blob)
        vids["fw"].append(w)
        vids["fh"].append(h)
        vids["n_frames"].append(n)
        vids["frame_md5s"].append([hashlib.md5(f).hexdigest() for f in frames])

    auds = {
        "audio_id": [], "fmt": [], "bytes": [], "sample_rate": [], "samples": [],
    }
    for i in range(n_audios):
        aid = f"aud-{i:04d}"
        if i % 10 == 9:
            auds["audio_id"].append(aid)
            auds["fmt"].append("mp3" if i % 20 == 9 else "ogg")
            auds["bytes"].append(rng.integers(0, 256, 48, dtype=np.uint8).tobytes())
            auds["sample_rate"].append(0)
            auds["samples"].append([])
            continue
        rate = int(rng.choice([8000, 16000, 44100]))
        n = int(rng.integers(64, 2048))
        t = np.arange(n)
        freq = float(rng.uniform(50, 2000))
        amp = float(rng.uniform(0.05, 0.9))
        x = amp * np.sin(2 * np.pi * freq * t / rate)
        x += rng.normal(0, 0.02, n)
        s16 = np.clip(np.round(x * 32768.0), -32768, 32767).astype("<i2")
        if i % 4 == 1:
            # real RIFF/WAVE PCM16 container (functions/wav.py); the mono
            # int16 samples are identical to the rawpcm truth list, so the
            # SQL feature recompute stays bit-for-bit the oracle
            from gjspark.functions.wav import encode_wav

            fmt_a, blob = "wav", encode_wav(rate, s16.astype(np.int16))
        elif i % 4 == 2:
            # real FLAC (functions/flac.py, RFC 9639): lossless, so the
            # same int16 truth list drives the SQL recompute
            from gjspark.functions.flac import encode_flac

            fmt_a, blob = "flac", encode_flac(rate, s16.astype(np.int16))
        elif i % 4 == 3:
            # real m4a: ISO-BMFF container around little-endian 'ipcm'
            # raw PCM (ISO/IEC 23003-5) — exercises the audio demux path
            from gjspark.functions.bmff import mux_m4a_pcm

            fmt_a, blob = "m4a", mux_m4a_pcm(rate, s16.tobytes())
        else:
            fmt_a = "rawpcm"
            blob = b"RAWA" + struct.pack("<II", rate, n) + s16.tobytes()
        auds["audio_id"].append(aid)
        auds["fmt"].append(fmt_a)
        auds["bytes"].append(blob)
        auds["sample_rate"].append(rate)
        auds["samples"].append([int(v) for v in s16])
    return vids, auds


def oracle_preview(feats):
    """Pure-Python preview golden (the reference's generateTestOutput
    analogue) for the NUTS config — used as the DuckDB oracle for the
    Spark preview query."""
    from gjspark.operators.entities import nuts_config
    from gjspark.operators.template import render_template

    rows = []
    for idx, f in enumerate(feats):
        props = f["properties"]
        for cfg in nuts_config():
            name = render_template(cfg.template_name, props)
            if not name.strip():
                continue
            rows.append(
                {
                    "feature_id": f["id"],
                    "entity_type": cfg.entity_type,
                    "name": name,
                    "description": render_template(cfg.template_description, props),
                    "properties_json": json.dumps(
                        json.loads(render_template(cfg.template_properties, props)),
                        sort_keys=True,
                    ),
                    "cache_key": render_template(cfg.template_cache_key, props),
                }
            )
    return rows


def oracle_upsert(feats):
    """Pure-Python find-or-create golden vs the entity snapshot."""
    from gjspark.operators.entities import nuts_config
    from gjspark.operators.template import render_template
    from gjspark.operators.upsert import deep_merge

    cfg = nuts_config()[0]
    snap = {
        r["cache_key"]: r
        for r in make_entity_snapshot(feats)
        if r["cache_key"] != "NUTS-AMBIG"
    }
    rows = []
    for f in feats:
        p = f["properties"]
        name = render_template(cfg.template_name, p)
        if not name.strip():
            continue
        key = render_template(cfg.template_cache_key, p)
        desc = render_template(cfg.template_description, p)
        props_json = json.dumps(
            json.loads(render_template(cfg.template_properties, p)), sort_keys=True
        )
        geom = json.dumps(round_geometry(f["geometry"]), sort_keys=True)
        s = snap.get(key)
        if s is None:
            op, props_out = "create", props_json
        else:
            merged = json.dumps(
                deep_merge(json.loads(s["properties_json"]), json.loads(props_json)),
                sort_keys=True,
            )
            changed = (
                name != s["name"]
                or desc != s["description"]
                or merged != s["properties_json"]
                or geom != s["geometry_json"]
            )
            op, props_out = ("update", merged) if changed else ("noop", merged)
        rows.append(
            {"cache_key": key, "op": op, "name": name, "properties_json": props_out}
        )
    return rows


def oracle_csv_points():
    """Golden lon/lat for points.csv via the numpy CRS kernel."""
    from gjspark.functions.crs import round_half_even, to_wgs84

    lines = [
        ln
        for ln in make_csv().strip().split("\n")
        if not ln.startswith("#")
    ][1:]
    rows = []
    for ln in lines:
        name, easting, northing, crs, *_ = ln.split(";")
        e = float(easting.replace(".", "").replace(",", ".")) if "," in easting else float(easting)
        lon, lat = to_wgs84(np.array([e]), np.array([float(northing)]), int(crs))
        rows.append(
            {
                "feature_id": name,
                "lon": float(round_half_even(lon)[0]),
                "lat": float(round_half_even(lat)[0]),
            }
        )
    return rows


def oracle_points_25832():
    from gjspark.functions.crs import round_half_even, to_wgs84

    rows = []
    for f in make_points_25832():
        x, y = f["geometry"]["coordinates"]
        lon, lat = to_wgs84(np.array([x]), np.array([y]), 25832)
        rows.append(
            {
                "feature_id": f["id"],
                "lon": float(round_half_even(lon)[0]),
                "lat": float(round_half_even(lat)[0]),
            }
        )
    return rows


def oracle_graph(feats):
    """Pure-Python single-process golden for the q_graph contract query:
    replicates sensorthings_graph (keep-first entity cache, find-or-create
    with deterministic ids, FK resolution incl. MultiDatastream's ordered
    obs-prop id list and Observation->FoI) WITHOUT Spark — ids come from
    the from-spec XXH64 (gjspark.functions.xxhash), so the comparison is
    an independent implementation end-to-end."""
    from gjspark.functions.xxhash import spark_entity_id
    from gjspark.operators.entities import graph_demo_configs
    from gjspark.operators.template import render_template

    configs = graph_demo_configs()
    om_type = (
        "http://www.opengis.net/def/observationType/OGC-OM/2.0/OM_Measurement"
    )
    rows = []
    ids: dict[tuple, str] = {}  # (etype, cache_key) -> entity_id
    for etype in (
        "Location", "Thing", "Sensor", "ObservedProperty",
        "FeatureOfInterest", "Datastream", "MultiDatastream", "Observation",
    ):
        cfg = configs[etype]
        seen: set[str] = set()
        for f in feats:
            p = f["properties"]
            name = render_template(cfg.template_name, p)
            if not name.strip():
                continue
            key = render_template(cfg.template_cache_key, p)
            if etype != "Observation":
                if key in seen:
                    continue
                seen.add(key)
            eid = spark_entity_id(etype, key)
            ids[(etype, key)] = eid
            fks = {}
            if etype == "Thing":
                fks["location_id"] = ids.get(("Location", key))
            if etype in ("Datastream", "MultiDatastream"):
                fks["thing_id"] = ids.get(
                    ("Thing", render_template(cfg.extra_templates["thing_key"], p))
                )
                fks["sensor_id"] = ids.get(
                    ("Sensor", render_template(cfg.extra_templates["sensor_key"], p))
                )
            if etype == "Datastream":
                fks["observedproperty_id"] = ids.get(
                    ("ObservedProperty",
                     render_template(cfg.extra_templates["obs_prop_key"], p))
                )
            if etype == "MultiDatastream":
                keys = json.loads(
                    render_template(cfg.extra_templates["obs_prop_keys"], p)
                )
                op_ids = [ids.get(("ObservedProperty", k)) for k in keys]
                fks["obs_prop_ids"] = op_ids
                fks["data_types"] = [om_type] * len(op_ids)
            if etype == "Observation":
                fks["datastream_id"] = ids.get(
                    ("Datastream",
                     render_template(cfg.extra_templates["datastream_key"], p))
                )
                fks["foi_id"] = ids.get(
                    ("FeatureOfInterest",
                     render_template(cfg.extra_templates["foi_key"], p))
                )
            rows.append(
                {
                    "entity_type": etype,
                    "cache_key": key,
                    "name": name,
                    "op": "create",
                    "entity_id": eid,
                    "fks_json": json.dumps(
                        fks, sort_keys=True, separators=(",", ":")
                    ),
                }
            )
    return rows


def oracle_agg_containers(feats):
    """Pure-Python golden for q_agg_containers (SensorThingsUtils.java
    semantics: Min/Max/Dev aggregate ops, [1 hour]/[1 day] containers,
    chained aggregateFor), Spark-free via the from-spec XXH64."""
    from gjspark.functions.xxhash import spark_entity_id
    from gjspark.operators.template import render_template

    uom = '{"definition":"ucum:Cel","name":"degree Celsius","symbol":"C"}'
    levels = (("HOURLY", "[1 hour]", "Aggregated hourly"),
              ("DAILY", "[1 day]", "Aggregated daily"))
    rows = []
    for f in feats:
        p = f["properties"]
        name = render_template("ds {NUTS_ID}", p)
        if not name.strip():
            continue
        desc = render_template("Datastream {NUTS_ID}", p)
        key = render_template("DS-{NUTS_ID}", p)
        ds_id = spark_entity_id("Datastream", key)
        op_name = render_template("op level {LEVL_CODE|0}", p)
        op_names = [op_name] + [f"{op_name} {s}" for s in ("Min", "Max", "Dev")]
        op_ids = [spark_entity_id("ObservedProperty", n) for n in op_names]
        prev_mds_id = None
        for i, (level, postfix, word) in enumerate(levels):
            mds_name = f"{name} {postfix}"
            mds_id = spark_entity_id("MultiDatastream", mds_name)
            agg_for = (
                f"/Datastreams({ds_id})"
                if i == 0
                else f"/MultiDatastreams({prev_mds_id})"
            )
            rows.append(
                {
                    "entity_id": mds_id,
                    "name": mds_name,
                    "description": f"{desc} {word}",
                    "level": level,
                    "aggregate_for": agg_for,
                    "obs_prop_names_json": json.dumps(
                        op_names, separators=(",", ":")
                    ),
                    "obs_prop_ids_json": json.dumps(
                        op_ids, separators=(",", ":")
                    ),
                    "uoms_json": json.dumps([uom] * 4, separators=(",", ":")),
                    "n_data_types": 4,
                }
            )
            prev_mds_id = mds_id
    return rows


def _ensure_light(root: str) -> None:
    """Cheap goldens (no image generation): preview/upsert/CSV/CRS."""
    stamp = os.path.join(root, f".stamp-light-{LIGHT_VERSION}")
    if os.path.exists(stamp):
        return
    feats = make_features()
    for name, rows in (
        ("expected_preview.parquet", oracle_preview(feats)),
        ("expected_upsert.parquet", oracle_upsert(feats)),
        ("expected_csv_points.parquet", oracle_csv_points()),
        ("expected_points25832.parquet", oracle_points_25832()),
        ("expected_graph.parquet", oracle_graph(feats)),
        ("expected_agg_containers.parquet", oracle_agg_containers(feats)),
        ("expected_upsert_equals.parquet", oracle_upsert_equals(feats)),
        ("entity_snapshot_equals.parquet", make_entity_snapshot_equals(feats)),
    ):
        _write_parquet(
            os.path.join(root, name), {k: [r[k] for r in rows] for k in rows[0]}
        )
    _write_parquet(
        os.path.join(root, "embeddings_neardup.parquet"), make_neardup_embeddings()
    )
    vids, auds = make_media_tables()
    _write_parquet(os.path.join(root, "videos_fixture.parquet"), vids)
    _write_parquet(os.path.join(root, "audio_fixture.parquet"), auds)
    with open(stamp, "w") as f:
        f.write(LIGHT_VERSION)


def ensure_fixtures(root: str = DEFAULT_DIR) -> str:
    os.makedirs(root, exist_ok=True)
    _ensure_light(root)
    stamp = os.path.join(root, f".stamp-{VERSION}")
    if os.path.exists(stamp):
        return root

    feats = make_features()
    with open(os.path.join(root, "features_nuts.geojson"), "w") as f:
        json.dump({"type": "FeatureCollection", "features": feats}, f)

    pts = make_points_25832()
    with open(os.path.join(root, "features_points_25832.geojson"), "w") as f:
        json.dump({"type": "FeatureCollection", "features": pts}, f)

    with open(os.path.join(root, "points.csv"), "w") as f:
        f.write(make_csv())

    snap = make_entity_snapshot(feats)
    _write_parquet(
        os.path.join(root, "entity_snapshot.parquet"),
        {k: [r[k] for r in snap] for k in snap[0]},
    )

    obs = make_observations()
    obs_cols = {k: [r[k] for r in obs] for k in obs[0]}
    _write_parquet(
        os.path.join(root, "observations_fixture.parquet"),
        obs_cols,
        schema=pa.schema(
            [
                ("obs_id", pa.string()),
                ("ds_key", pa.string()),
                ("t_start", pa.timestamp("us")),
                ("t_end", pa.timestamp("us")),
                ("result", pa.string()),
                ("params_json", pa.string()),
            ]
        ),
    )

    for tag, n in (("sf_unit", N_IMAGES_UNIT), ("sf_e2e", N_IMAGES_E2E)):
        cols = make_images_table(n, plant_neardups=True)
        _write_parquet(
            os.path.join(root, f"images_{tag}.parquet"), cols, _images_schema()
        )
        if tag == "sf_e2e":
            _write_parquet(
                os.path.join(root, "expected_cells.parquet"),
                oracle_cells(cols["image_id"], cols["lat"], cols["lon"]),
            )
            _write_parquet(
                os.path.join(root, "expected_pip.parquet"),
                oracle_pip(cols["image_id"], cols["lat"], cols["lon"], feats),
            )
            _write_parquet(
                os.path.join(root, "expected_knn.parquet"),
                oracle_knn(cols["image_id"], cols["lat"], cols["lon"], feats),
            )
            _write_parquet(
                os.path.join(root, "expected_images.parquet"),
                oracle_images(cols["image_id"], cols["bytes"], cols["fmt"]),
            )
            _write_parquet(
                os.path.join(root, "expected_quality.parquet"),
                oracle_quality(cols["image_id"], cols["bytes"], cols["fmt"]),
            )

    with open(stamp, "w") as f:
        f.write(VERSION)
    return root


#: base corpus size above which bench tables are built by deterministic
#: replication instead of fresh generation (generation is ~25 min/M rows)
_BENCH_REPLICATE_BASE = 500_000


def ensure_bench_images(n: int, root: str = DEFAULT_DIR, jpeg: bool = False) -> str:
    """Larger image table for bench runs (cached by size AND fixture
    version — a phash/codec change must not leave stale stored columns).

    ``jpeg=True`` builds the round-5 HEADLINE corpus: the same 5-format
    cycle as the e2e corpus (ppm/bmp/png/dct/**jpeg**), so the quoted
    decode number pays the real-corpus JPEG cost. ``jpeg=False`` keeps
    the legacy 4-format corpus for round-over-round continuity.

    Above ``_BENCH_REPLICATE_BASE`` rows the corpus is the 500k base table
    replicated with re-suffixed image_ids (one parquet file per replica,
    so the scan splits). A throughput sweep needs row count and key
    cardinality, not novel pixel content; positions repeat, so the cell
    distribution — including the deliberate ~10% hot cell — is preserved
    exactly at every scale.
    """
    ver = BENCH_JPEG_VERSION if jpeg else BENCH_VERSION
    stem = "images_bench_jpeg" if jpeg else "images_bench"
    if n > _BENCH_REPLICATE_BASE:
        if n % _BENCH_REPLICATE_BASE:
            raise ValueError(f"replicated bench size must be a multiple of "
                             f"{_BENCH_REPLICATE_BASE}")
        base = ensure_bench_images(_BENCH_REPLICATE_BASE, root, jpeg=jpeg)
        path = os.path.join(root, f"{stem}_{n}_{ver}")
        marker = os.path.join(path, "_SUCCESS")
        if not os.path.exists(marker):
            t = pq.read_table(base)
            os.makedirs(path, exist_ok=True)
            col = t.schema.get_field_index("image_id")
            for r in range(n // _BENCH_REPLICATE_BASE):
                ids = pa.array(
                    [f"r{r}-{s}" for s in t.column("image_id").to_pylist()]
                )
                pq.write_table(
                    t.set_column(col, "image_id", ids),
                    os.path.join(path, f"part-{r:03d}.parquet"),
                )
            with open(marker, "w"):
                pass
        return path
    path = os.path.join(root, f"{stem}_{n}_{ver}.parquet")
    if not os.path.exists(path):
        os.makedirs(root, exist_ok=True)
        # n=20000 must not glob-match n=200000: match the exact legacy name
        # and exact versioned names only
        pat = f"{stem}_{n}_j*.parquet" if jpeg else f"{stem}_{n}_v*.parquet"
        stale = glob.glob(os.path.join(root, pat))
        legacy = os.path.join(root, f"{stem}_{n}.parquet")
        if os.path.exists(legacy):
            stale.append(legacy)
        for old in stale:
            os.unlink(old)
        cols = make_images_table(n, formats=FMT_CYCLE if jpeg else FMT_CYCLE_BENCH)
        _write_parquet(path, cols, _images_schema())
    return path


if __name__ == "__main__":
    print(ensure_fixtures())
