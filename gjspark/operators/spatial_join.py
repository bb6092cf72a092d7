"""Spatial joins: point-in-polygon (J5) and cell-local kNN (J6).

The reference has no spatial joins — its only join is keyed find-or-create
(``utils/FrostUtils.java:637-661``); the north rule adds PIP and kNN over
the image table. Strategy (SURVEY.md §2.3):

PIP, broadcast path (the default; Feature sets are the dimension table):
  1. stream the Polygon/MultiPolygon features to the driver in one job,
     keeping a running total of their WKB bytes; flatten them into one
     ``PolygonSet`` and broadcast it,
  2. one ``mapInPandas`` over ``images(image_id, lat, lon)`` emits the
     ``match_points`` pairs of every Arrow batch. ``match_points`` is
     sparse — a sorted bbox sweep picks the candidate (point, polygon)
     pairs and the ray cast runs over their edges only — so a batch costs
     O(points + polygons + candidate edges), not points x polygons.
     No cover, no join, no shuffle.

PIP, bucketed path (polygon sets too big to broadcast — chosen when
step 1 passes ``spark.sql.autoBroadcastJoinThreshold``, or when that
threshold is negative):
  1. cover every polygon with H3-style cells at ``PIP_BUCKET_RES``
     (distributed ``mapInPandas`` over the features — no driver geometry
     work),
  2. equi-join images on ``h3_r7`` (a shuffle join on the cell key
     unless Catalyst finds the cover small enough to broadcast),
  3. refine each batch of candidate pairs with ``refine_pairs``, the
     pair kernel under ``match_points`` (polygon WKB travels with the
     candidate row; the batch's distinct polygons make one ``PolygonSet``).

The cover is a strict superset of cells containing any polygon point
(dense grid at <= 0.35 x cell inradius + bbox expansion), so the bucketed
refine never misses a true match. Both paths equal the brute-force
``PolygonSet`` oracle — ``tests/test_spatial.py``.

kNN, map-only (locations are the dimension side):
  1. collect the locations to the driver, sorted by ``location_id``, and
     broadcast them with a cell -> locations index at a resolution picked
     from their spacing,
  2. one ``mapInPandas`` over ``images(image_id, lat, lon)``: per distinct
     cell of a batch, expand rings k in ``KNN_K_SCHEDULE`` and keep the
     running best; accept it once its distance is provably inside the
     ring-radius guarantee and the icosahedron-face margin, else widen,
  3. rows still unproven get an exact brute-force pass over every
     location in the same kernel. First-min over the sorted ids is the
     deterministic (dist, location_id) tiebreak (W5), so results equal the
     oracle row-for-row. No join, no shuffle.
"""

from __future__ import annotations

import logging
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gjspark.functions import geometry as G
from gjspark.functions import h3 as h3x
from gjspark.session import broadcast_threshold

_log = logging.getLogger(__name__)

# bucketed PIP cover resolution; images join on the matching ``h3_r7``
PIP_BUCKET_RES = 7

# kNN ring radii tried in order before the exact fallback
KNN_K_SCHEDULE = (0, 1, 2, 4, 8)

# ---------------------------------------------------------------------------
# Polygon cell cover (bucketed PIP only)
# ---------------------------------------------------------------------------

_COVER_SCHEMA = T.StructType(
    [
        T.StructField("cell", T.LongType()),
        T.StructField("feature_id", T.StringType()),
    ]
)


def _polygon_features(features: DataFrame) -> DataFrame:
    """The features PIP can match: Polygon/MultiPolygon with a geometry."""
    return features.filter(
        F.col("geom_type").isin("Polygon", "MultiPolygon") & F.col("geometry").isNotNull()
    ).select("feature_id", "geometry")


def _cover_cells_for_wkb(wkb: bytes) -> np.ndarray:
    """All ``PIP_BUCKET_RES`` cells whose region can intersect the polygon
    (superset)."""
    gtype, body = G.parse_wkb(wkb)
    polys = [body] if gtype == "Polygon" else body
    # grid spacing: cell inradius on the sphere, with margin for gnomonic
    # distortion; in degrees of latitude
    edge_m = h3x.h3_edge_length_m(PIP_BUCKET_RES)
    step_deg = (edge_m * 0.866 * 0.35) / 111320.0
    cells = []
    for rings in polys:
        shell = rings[0]
        xmin, xmax = shell[:, 0].min(), shell[:, 0].max()
        ymin, ymax = shell[:, 1].min(), shell[:, 1].max()
        pad = 2 * edge_m / 111320.0
        lat_mid = np.clip((ymin + ymax) / 2, -89.0, 89.0)
        step_lon = step_deg / max(np.cos(np.radians(lat_mid)), 0.05)
        xs = np.arange(xmin - pad, xmax + pad + step_lon, step_lon)
        ys = np.arange(ymin - pad, ymax + pad + step_deg, step_deg)
        gx, gy = np.meshgrid(xs, ys)
        cells.append(
            np.unique(h3x.latlng_to_cell(gy.ravel(), gx.ravel(), PIP_BUCKET_RES))
        )
        for ring in rings:  # ring vertices too (degenerate slivers)
            cells.append(
                np.unique(h3x.latlng_to_cell(ring[:, 1], ring[:, 0], PIP_BUCKET_RES))
            )
    return np.unique(np.concatenate(cells))


def polygon_cover(features: DataFrame) -> DataFrame:
    """features(feature_id, geometry WKB) -> (cell, feature_id) cover rows."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, cells = [], []
            for fid, wkb in zip(pdf["feature_id"], pdf["geometry"]):
                cc = _cover_cells_for_wkb(bytes(wkb))
                cells.append(cc)
                ids.extend([fid] * len(cc))
            if ids:
                yield pd.DataFrame(
                    {"cell": np.concatenate(cells), "feature_id": ids}
                )

    n_tasks = features.sparkSession.sparkContext.defaultParallelism
    return (
        _polygon_features(features)
        # a FeatureCollection parses as one task per *file*; cover math is
        # per-polygon CPU, so spread polygons across the cluster first
        .repartition(n_tasks, "feature_id")
        .mapInPandas(gen, _COVER_SCHEMA)
    )


# ---------------------------------------------------------------------------
# PIP join
# ---------------------------------------------------------------------------

_PIP_REFINE_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("feature_id", T.StringType()),
    ]
)


def _collect_polygons(
    features: DataFrame, limit: int
) -> tuple[list[tuple[str, bytes]] | None, int, int]:
    """-> (polygons, features read, WKB bytes read), streamed to the
    driver; polygons is None once the WKB passes ``limit`` bytes. No size
    probe: a huge set stops at ``limit`` bytes instead of filling the
    Python driver. ``toLocalIterator`` runs one job per partition, so the
    features are coalesced to one partition first: one job, as a
    ``collect`` would be."""
    polys: list[tuple[str, bytes]] = []
    n_bytes = 0
    for fid, wkb in _polygon_features(features).coalesce(1).toLocalIterator():
        wkb = bytes(wkb)
        n_bytes += len(wkb)
        polys.append((fid, wkb))
        if n_bytes > limit:
            return None, len(polys), n_bytes
    return polys, len(polys), n_bytes


def _pip_broadcast(images: DataFrame, polys: list[tuple[str, bytes]]) -> DataFrame:
    """Map-only refine of every image batch against the broadcast set,
    flattened once on the driver (tasks only unpickle numpy arrays)."""
    bc = images.sparkSession.sparkContext.broadcast(
        G.PolygonSet([fid for fid, _ in polys], [wkb for _, wkb in polys])
    )

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ps = bc.value
        fids = np.array(ps.poly_ids, dtype=object)
        for pdf in batches:
            pt, poly = ps.match_points(
                pdf["lon"].to_numpy(dtype=float), pdf["lat"].to_numpy(dtype=float)
            )
            if len(pt):
                yield pd.DataFrame(
                    {"image_id": pdf["image_id"].to_numpy()[pt], "feature_id": fids[poly]}
                )

    return images.select("image_id", "lat", "lon").mapInPandas(
        refine, _PIP_REFINE_SCHEMA
    )


def _pip_bucketed(images: DataFrame, features: DataFrame) -> DataFrame:
    """Cover equi-join on the cell key, then the exact refine; no driver
    collect — geometry travels with the cover rows through the join."""
    cover_geo = polygon_cover(features).join(
        _polygon_features(features), "feature_id"
    )  # small x small
    cand = images.select(
        "image_id", "lat", "lon", F.col(f"h3_r{PIP_BUCKET_RES}").alias("cell")
    ).join(cover_geo, "cell")

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            polys = pdf.drop_duplicates("feature_id")
            ps = G.PolygonSet(
                polys["feature_id"], [bytes(g) for g in polys["geometry"]]
            )
            ordinal = pd.Index(ps.poly_ids).get_indexer(pdf["feature_id"])
            pt, _ = ps.refine_pairs(
                pdf["lon"].to_numpy(dtype=float),
                pdf["lat"].to_numpy(dtype=float),
                np.arange(len(pdf)),
                ordinal,
            )
            if len(pt):
                yield pdf.iloc[pt][["image_id", "feature_id"]]

    return cand.mapInPandas(refine, _PIP_REFINE_SCHEMA)


def pip_join(images: DataFrame, features: DataFrame) -> DataFrame:
    """-> (image_id, feature_id) containment pairs.

    Broadcast path (the common case — Feature sets are the dimension
    table, like the reference's entity caches): the polygon features are
    streamed to the driver and broadcast as one ``PolygonSet``, and one
    ``mapInPandas`` over ``images(image_id, lat, lon)`` refines each batch
    against the whole set with the sparse ``match_points`` kernel. No
    cover, no join, no cell column.

    Bucketed path: if the polygons' WKB passes
    ``spark.sql.autoBroadcastJoinThreshold`` (or the threshold is
    negative, i.e. broadcasts are off), the collect stops; the polygons
    are covered with ``PIP_BUCKET_RES`` cells, the images shuffle
    equi-join on ``h3_r7``, and the same exact refine runs. At 100 TB
    both sides pre-partitioned by cell avoid the shuffle entirely.

    The chosen path goes to ``logging`` with the feature count and the
    geometry bytes read. Both paths give the same pairs. The byte bound
    is the only switch because under it the broadcast refine was faster
    than the cover join for every polygon count and size tried, from 200
    to 50k polygons and from 2 km to 2 degrees across
    (``tools/pip_crossover.py``).
    """
    limit = broadcast_threshold(images.sparkSession)
    polys, n_feat, n_bytes = None, 0, 0
    if limit >= 0:
        polys, n_feat, n_bytes = _collect_polygons(features, limit)
    _log.info(
        "pip_join path=%s features=%d geometry_bytes=%d broadcast_threshold=%d",
        "bucketed" if polys is None else "broadcast", n_feat, n_bytes, limit,
    )
    if polys is not None:
        return _pip_broadcast(images, polys)
    return _pip_bucketed(images, features)


# ---------------------------------------------------------------------------
# kNN join
# ---------------------------------------------------------------------------


def _choose_knn_res(loc_lat: np.ndarray, loc_lon: np.ndarray) -> int:
    """Pick the ring resolution from location spacing: cell inradius ~=
    median nearest-neighbor distance of a location sample, so the k=1 ring
    already contains the nearest location for the typical point."""
    m = len(loc_lat)
    if m < 2:
        return 3
    idx = np.arange(m) if m <= 2000 else np.linspace(0, m - 1, 2000).astype(int)
    la, lo = loc_lat[idx], loc_lon[idx]
    nn = np.full(len(idx), np.inf)
    for j in range(len(idx)):
        d = G.haversine_m(la, lo, la[j], lo[j])
        d[j] = np.inf
        nn[j] = d.min()
    target = np.median(nn)
    for res in range(0, h3x.MAX_RES + 1):
        if 0.866 * h3x.h3_edge_length_m(res) < target:
            return max(res - 1, 0)
    return h3x.MAX_RES


_KNN_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("nearest_location_id", T.StringType()),
        T.StructField("dist_m", T.DoubleType()),
    ]
)


def knn_join(images: DataFrame, locations: DataFrame) -> DataFrame:
    """images(image_id, lat, lon) x locations(location_id, lat, lon)
    -> (image_id, nearest_location_id, dist_m): map-only cell-local kNN,
    sorted k-ring expansion inside one ``mapInPandas`` pass against a
    broadcast cell->locations index.

    Locations are the dimension side (broadcast — exactly the reference's
    entity-cache pattern); each Arrow batch:

    1. index query points at the ring resolution and group by cell,
    2. per distinct cell, expand rings k in ``KNN_K_SCHEDULE`` gathering
       candidate locations from the broadcast index,
    3. accept the running best at distance d iff d <= k*inradius*0.8 AND
       d <= face-boundary margin (rings never cross icosahedron faces),
    4. whatever stays unprovable gets an exact brute-force pass against
       the full location array (vectorized, still in the same kernel).

    Zero shuffles => scales linearly with executors at any image count;
    output equals the brute-force oracle row-for-row (tested). With no
    locations the result is empty, as an inner join with an empty side.
    """
    spark = images.sparkSession
    loc_rows = locations.select("location_id", "lat", "lon").collect()
    if not loc_rows:
        return spark.createDataFrame([], _KNN_SCHEMA)
    loc_ids = np.array([r["location_id"] for r in loc_rows])
    loc_lat = np.array([r["lat"] for r in loc_rows], dtype=float)
    loc_lon = np.array([r["lon"] for r in loc_rows], dtype=float)
    order = np.argsort(loc_ids)
    loc_ids, loc_lat, loc_lon = loc_ids[order], loc_lat[order], loc_lon[order]

    res = _choose_knn_res(loc_lat, loc_lon)
    inradius_m = 0.866 * h3x.h3_edge_length_m(res)

    loc_cells = h3x.latlng_to_cell(loc_lat, loc_lon, res)
    cell_index: dict[int, np.ndarray] = {}
    for i, c in enumerate(loc_cells):
        cell_index.setdefault(int(c), []).append(i)
    cell_index = {c: np.array(v, dtype=np.int64) for c, v in cell_index.items()}
    bc = spark.sparkContext.broadcast(
        (loc_ids, loc_lat, loc_lon, cell_index, res, inradius_m)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_b, lat_b, lon_b, index_b, res_b, inr_b = bc.value
        # per-cell ring-candidate cache: cells repeat heavily across
        # batches, and ring lookups are the kernel's only Python-side loop
        cand_cache: dict[tuple[int, int], np.ndarray] = {}

        def candidates(cell: int, k: int, ring_cells) -> np.ndarray:
            key = (cell, k)
            hit = cand_cache.get(key)
            if hit is None:
                found = [index_b[int(c)] for c in ring_cells if int(c) in index_b]
                hit = (
                    np.concatenate(found)
                    if found
                    else np.zeros(0, dtype=np.int64)
                )
                cand_cache[key] = hit
            return hit

        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            qla = pdf["lat"].to_numpy(dtype=float)
            qlo = pdf["lon"].to_numpy(dtype=float)
            cells = h3x.latlng_to_cell(qla, qlo, res_b)
            margin = h3x.face_boundary_margin_m(qla, qlo)
            best_d = np.full(n, np.inf)
            best_i = np.full(n, -1, dtype=np.int64)
            resolved = np.zeros(n, dtype=bool)
            uniq, inv = np.unique(cells, return_inverse=True)
            rings = {k: h3x.grid_disk(uniq, k) for k in KNN_K_SCHEDULE}
            for g, cell in enumerate(uniq):
                rows = np.nonzero(inv == g)[0]
                seen_cand = 0
                for k in KNN_K_SCHEDULE:
                    cand = candidates(int(cell), k, rings[k][g])
                    if len(cand) > seen_cand:
                        act = rows[~resolved[rows]]
                        if not len(act):
                            break
                        d = G.haversine_m(
                            qla[act, None], qlo[act, None],
                            lat_b[cand][None, :], lon_b[cand][None, :],
                        )
                        jmin = d.argmin(axis=1)
                        dmin = d[np.arange(len(act)), jmin]
                        upd = dmin < best_d[act]
                        best_d[act] = np.where(upd, dmin, best_d[act])
                        best_i[act] = np.where(upd, cand[jmin], best_i[act])
                        seen_cand = len(cand)
                    guarantee = k * inr_b * 0.8
                    ok = (
                        (best_d[rows] <= guarantee)
                        & (best_d[rows] <= margin[rows])
                        & (best_i[rows] >= 0)
                    )
                    resolved[rows] = resolved[rows] | ok
                    if resolved[rows].all():
                        break
            rest = np.nonzero(~resolved)[0]
            if len(rest):  # exact fallback, vectorized
                d = G.haversine_m(
                    qla[rest, None], qlo[rest, None],
                    lat_b[None, :], lon_b[None, :],
                )
                jmin = d.argmin(axis=1)
                best_i[rest] = jmin
                best_d[rest] = d[np.arange(len(rest)), jmin]
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"].to_numpy(),
                    "nearest_location_id": ids_b[best_i],
                    "dist_m": best_d,
                }
            )

    return images.select("image_id", "lat", "lon").mapInPandas(run, _KNN_SCHEMA)
