"""WKB geometry + vectorized point-in-polygon / haversine kernels.

The reference keeps geometries as ``org.geojson`` object graphs
(``List<List<List<LngLatAlt>>>``, recursed at ``utils/FrostUtils.java:915-956``).
We use WKB ``BinaryType`` columns — flat, Arrow-friendly, and standard
(OGC 06-103r4 well-known-binary, public spec). Only the types the
reference dispatches on are supported: Point, Polygon, MultiPolygon
(``geojson/CreatorLocation.java:193-203``); others pass through opaque.

PIP is the classic even-odd ray cast (public algorithm; boundary points
count as inside-by-crossing-parity, deterministic), vectorized over
(points x edges) in numpy.
"""

from __future__ import annotations

import struct

import numpy as np

WKB_POINT, WKB_LINESTRING, WKB_POLYGON, WKB_MULTIPOLYGON = 1, 2, 3, 6
_LE = 1


def point_wkb(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", _LE, WKB_POINT, x, y)


def polygon_wkb(rings: list[np.ndarray]) -> bytes:
    """rings: list of (n,2) float arrays (first = shell, rest = holes)."""
    out = [struct.pack("<BII", _LE, WKB_POLYGON, len(rings))]
    for ring in rings:
        ring = np.asarray(ring, dtype="<f8")
        out.append(struct.pack("<I", len(ring)))
        out.append(ring.tobytes())
    return b"".join(out)


def multipolygon_wkb(polys: list[list[np.ndarray]]) -> bytes:
    out = [struct.pack("<BII", _LE, WKB_MULTIPOLYGON, len(polys))]
    for rings in polys:
        out.append(polygon_wkb(rings))
    return b"".join(out)


def parse_wkb(data: bytes):
    """-> ('Point', (x, y)) | ('Polygon', [rings]) | ('MultiPolygon', [[rings]])"""
    geom_type, payload = _parse_header(data, 0)
    if geom_type == WKB_POINT:
        x, y = struct.unpack_from("<dd", data, payload)
        return "Point", (x, y)
    if geom_type == WKB_POLYGON:
        rings, _ = _parse_polygon_body(data, payload)
        return "Polygon", rings
    if geom_type == WKB_MULTIPOLYGON:
        (n,) = struct.unpack_from("<I", data, payload)
        off = payload + 4
        polys = []
        for _ in range(n):
            gt, body = _parse_header(data, off)
            if gt != WKB_POLYGON:
                raise ValueError("MultiPolygon member is not a Polygon")
            rings, off = _parse_polygon_body(data, body)
            polys.append(rings)
        return "MultiPolygon", polys
    raise ValueError(f"unsupported WKB geometry type {geom_type}")


def _parse_header(data: bytes, off: int):
    byte_order = data[off]
    fmt = "<I" if byte_order == 1 else ">I"
    (geom_type,) = struct.unpack_from(fmt, data, off + 1)
    if byte_order != 1:
        raise ValueError("big-endian WKB not supported")
    return geom_type & 0xFF, off + 5


def _parse_polygon_body(data: bytes, off: int):
    (n_rings,) = struct.unpack_from("<I", data, off)
    off += 4
    rings = []
    for _ in range(n_rings):
        (n_pts,) = struct.unpack_from("<I", data, off)
        off += 4
        ring = np.frombuffer(data, dtype="<f8", count=n_pts * 2, offset=off).reshape(
            n_pts, 2
        )
        rings.append(ring)
        off += n_pts * 16
    return rings, off


# ---------------------------------------------------------------------------
# Flattened polygon set: the broadcast-friendly representation.
# ---------------------------------------------------------------------------


class PolygonSet:
    """Polygons flattened to numpy arrays for vectorized PIP.

    ``coords`` (n_vertices, 2); ``ring_start/ring_end`` index into coords;
    ``ring_poly`` maps each ring to a polygon ordinal; ``ring_is_hole``;
    ``poly_ids`` maps ordinals to caller ids.  Even-odd parity makes holes
    automatic (a point inside a hole crosses both rings' boundaries an even
    total number of times).
    """

    def __init__(self, poly_ids, wkbs):
        coords, r_start, r_end, r_poly = [], [], [], []
        bboxes = []
        off = 0
        for ordinal, wkb in enumerate(wkbs):
            gtype, body = parse_wkb(wkb)
            if gtype == "Polygon":
                polys = [body]
            elif gtype == "MultiPolygon":
                polys = body
            else:
                raise ValueError(f"not a polygon: {gtype}")
            xmin = ymin = np.inf
            xmax = ymax = -np.inf
            for rings in polys:
                for ring in rings:
                    coords.append(ring)
                    r_start.append(off)
                    r_end.append(off + len(ring))
                    r_poly.append(ordinal)
                    off += len(ring)
                shell = rings[0]
                xmin = min(xmin, shell[:, 0].min())
                xmax = max(xmax, shell[:, 0].max())
                ymin = min(ymin, shell[:, 1].min())
                ymax = max(ymax, shell[:, 1].max())
            bboxes.append((xmin, ymin, xmax, ymax))
        self.poly_ids = list(poly_ids)
        self.coords = (
            np.concatenate(coords) if coords else np.zeros((0, 2), dtype=np.float64)
        )
        self.ring_start = np.array(r_start, dtype=np.int64)
        self.ring_end = np.array(r_end, dtype=np.int64)
        self.ring_poly = np.array(r_poly, dtype=np.int64)
        self.bboxes = np.array(bboxes, dtype=np.float64).reshape(-1, 4)
        # edge k runs from vertex edge_from[k] to edge_from[k] + 1: every
        # vertex but the last of its ring. Rings of one polygon are
        # contiguous, so are its edges: [poly_edge_start, poly_edge_end).
        valid = np.ones(len(self.coords), dtype=bool)
        valid[self.ring_end[self.ring_end > self.ring_start] - 1] = False
        self.edge_from = np.nonzero(valid)[0]
        vert_poly = np.repeat(self.ring_poly, self.ring_end - self.ring_start)
        edge_poly = vert_poly[self.edge_from]
        ordinals = np.arange(len(self.poly_ids))
        self.poly_edge_start = np.searchsorted(edge_poly, ordinals, "left")
        self.poly_edge_end = np.searchsorted(edge_poly, ordinals, "right")

    def contains(self, px: np.ndarray, py: np.ndarray) -> list[np.ndarray]:
        """For each polygon ordinal, a bool mask over the points.

        Vectorized ray cast: one (points x edges) pass per ring, bbox
        prefiltered. Dense — one mask per polygon — so it is the
        brute-force reference; the joins use the sparse kernels
        :meth:`match_points` and :meth:`refine_pairs`.
        """
        px = np.asarray(px, dtype=np.float64)
        py = np.asarray(py, dtype=np.float64)
        n_poly = len(self.poly_ids)
        crossings = [np.zeros(len(px), dtype=np.int64) for _ in range(n_poly)]
        for ridx in range(len(self.ring_start)):
            p = int(self.ring_poly[ridx])
            bb = self.bboxes[p]
            cand = (px >= bb[0]) & (px <= bb[2]) & (py >= bb[1]) & (py <= bb[3])
            if not cand.any():
                continue
            ring = self.coords[self.ring_start[ridx] : self.ring_end[ridx]]
            x1, y1 = ring[:-1, 0], ring[:-1, 1]
            x2, y2 = ring[1:, 0], ring[1:, 1]
            cx, cy = px[cand], py[cand]
            # edge straddles the horizontal line through the point
            straddle = (y1[None, :] > cy[:, None]) != (y2[None, :] > cy[:, None])
            with np.errstate(divide="ignore", invalid="ignore"):
                x_int = x1[None, :] + (cy[:, None] - y1[None, :]) / (
                    y2[None, :] - y1[None, :]
                ) * (x2[None, :] - x1[None, :])
            cross = straddle & (cx[:, None] < x_int)
            crossings[p][cand] += cross.sum(axis=1)
        return [(c % 2).astype(bool) for c in crossings]

    def match_points(
        self, px, py, budget: int = 1 << 18
    ) -> tuple[np.ndarray, np.ndarray]:
        """-> (point_idx, poly_ordinal) pairs for every containment hit,
        sorted by (poly_ordinal, point_idx); equal to :meth:`contains`.

        Sparse: a sorted sweep of the points against the polygon bboxes
        yields the candidate (point, polygon) pairs, and
        :meth:`refine_pairs` ray-casts them over candidate (point, edge)
        pairs only, in chunks of at most ``budget`` elements. Working
        memory is O(points + polygons + budget) whatever the polygon
        count; non-finite points never match.
        """
        px = np.asarray(px, dtype=np.float64)
        py = np.asarray(py, dtype=np.float64)
        ok = np.nonzero(np.isfinite(px) & np.isfinite(py))[0]
        pt_out, poly_out = [], []
        if len(ok) and len(self.poly_ids):
            # sweep the axis whose bbox slabs hold fewer candidates
            # (tall strips sweep on x, wide strips on y)
            best = None
            for axis, v in ((0, px[ok]), (1, py[ok])):
                order = np.argsort(v, kind="stable")
                sv = v[order]
                lo = np.searchsorted(sv, self.bboxes[:, axis], "left")
                hi = np.searchsorted(sv, self.bboxes[:, axis + 2], "right")
                cnt = np.maximum(hi - lo, 0)
                if best is None or cnt.sum() < best[0]:
                    best = (cnt.sum(), axis, ok[order], lo, cnt)
            _, axis, pts, lo, cnt = best
            for p0, p1 in _chunks(cnt, budget):
                c = cnt[p0:p1]
                poly = np.repeat(np.arange(p0, p1), c)
                first = np.repeat(lo[p0:p1] - (np.cumsum(c) - c), c)
                pt = pts[first + np.arange(len(poly))]
                hit_pt, hit_poly = self.refine_pairs(px, py, pt, poly, budget)
                pt_out.append(hit_pt)
                poly_out.append(hit_poly)
        if not pt_out:
            return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
        pt_idx, poly_ord = np.concatenate(pt_out), np.concatenate(poly_out)
        order = np.lexsort((pt_idx, poly_ord))
        return pt_idx[order], poly_ord[order]

    def refine_pairs(
        self, px, py, pt, poly, budget: int = 1 << 18
    ) -> tuple[np.ndarray, np.ndarray]:
        """-> the candidate pairs (pt[i], poly[i]) whose point lies in the
        polygon, in input order; equal to :meth:`contains` on every pair.

        Pairs outside the polygon's bbox (non-finite points among them)
        drop first; the rest get an even-odd ray cast over every edge of
        their polygon, ``budget`` (pair, edge) cells at a time.
        """
        px = np.asarray(px, dtype=np.float64)
        py = np.asarray(py, dtype=np.float64)
        pt = np.asarray(pt, dtype=np.int64)
        poly = np.asarray(poly, dtype=np.int64)
        x, y, bb = px[pt], py[pt], self.bboxes[poly]
        inb = (x >= bb[:, 0]) & (x <= bb[:, 2]) & (y >= bb[:, 1]) & (y <= bb[:, 3])
        pt, poly = pt[inb], poly[inb]
        e0 = self.poly_edge_start[poly]
        ne = self.poly_edge_end[poly] - e0
        keep_pt, keep_poly = [], []
        for i0, i1 in _chunks(ne, budget):
            n = ne[i0:i1]
            pair = np.repeat(np.arange(i1 - i0), n)
            edge = self.edge_from[
                np.repeat(e0[i0:i1] - (np.cumsum(n) - n), n) + np.arange(len(pair))
            ]
            x1, y1 = self.coords[edge, 0], self.coords[edge, 1]
            x2, y2 = self.coords[edge + 1, 0], self.coords[edge + 1, 1]
            cx, cy = px[pt[i0:i1]][pair], py[pt[i0:i1]][pair]
            # same arithmetic as ``contains``: identical boundary decisions
            straddle = (y1 > cy) != (y2 > cy)
            with np.errstate(divide="ignore", invalid="ignore"):
                x_int = x1 + (cy - y1) / (y2 - y1) * (x2 - x1)
            cross = np.bincount(
                pair, weights=straddle & (cx < x_int), minlength=i1 - i0
            )
            inside = cross.astype(np.int64) % 2 == 1
            keep_pt.append(pt[i0:i1][inside])
            keep_poly.append(poly[i0:i1][inside])
        if not keep_pt:
            return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
        return np.concatenate(keep_pt), np.concatenate(keep_poly)


def _chunks(weights: np.ndarray, budget: int):
    """Consecutive ``[i0, i1)`` ranges whose weights sum to <= ``budget``
    (a single heavier item gets a range of its own)."""
    total = np.cumsum(weights)
    i0, n = 0, len(weights)
    while i0 < n:
        base = total[i0 - 1] if i0 else 0
        i1 = max(int(np.searchsorted(total, base + budget, "right")), i0 + 1)
        yield i0, i1
        i0 = i1


def wkb_to_geojson(wkb: bytes) -> dict:
    """WKB -> GeoJSON geometry dict (for Location encoding parity:
    the reference stores ``application/geo+json`` locations,
    ``utils/FrostUtils.java:86``)."""
    gtype, body = parse_wkb(wkb)
    if gtype == "Point":
        return {"type": "Point", "coordinates": [body[0], body[1]]}
    if gtype == "Polygon":
        return {"type": "Polygon", "coordinates": [r.tolist() for r in body]}
    return {
        "type": "MultiPolygon",
        "coordinates": [[r.tolist() for r in rings] for rings in body],
    }


EARTH_RADIUS_M = 6371008.8


def haversine_m(lat1, lng1, lat2, lng2) -> np.ndarray:
    """Great-circle distance in meters, vectorized."""
    la1, lo1, la2, lo2 = (
        np.radians(np.asarray(a, dtype=np.float64)) for a in (lat1, lng1, lat2, lng2)
    )
    dlat = la2 - la1
    dlng = lo2 - lo1
    h = np.sin(dlat / 2) ** 2 + np.cos(la1) * np.cos(la2) * np.sin(dlng / 2) ** 2
    return 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(h, 0, 1)))
