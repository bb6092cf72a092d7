"""Canonical H3 cell index (res 0-15) in pure numpy — interoperates with
libh3: ``latlng_to_cell`` reproduces the published H3 cell ids bit-for-bit
(spec test vectors in ``tests/test_h3_canonical.py``).

Implemented from the public specification only: the H3 core-library
documentation (h3geo.org/docs/core-library/{overview,h3Indexing,
latLngToCellDesc,cellToLatLngDesc}) and the Apache-2.0 h3lib reference
constants. The icosahedron face centers / vertex azimuths and the
122-entry base-cell table *are the definition* of the H3 grid orientation
— they cannot be derived, only restated; everything else here is derived
from them and validated at import by geometric cross-checks
(``_validate_tables``), so a corrupted constant fails loudly:

- 20 icosahedron faces; gnomonic projection per face
- aperture-7 hexagon lattices, Class II (even res) / Class III (odd res,
  rotated ``asin(sqrt(3/28))``)
- 122 res-0 base cells (12 pentagons at the icosahedron vertices)
- 64-bit ids: [1 bit 0][4 bit mode=1][3 bit 0][4 bit res][7 bit base
  cell][15 x 3 bit digits, unused = 7]

The face->base-cell lookup (h3lib's ``faceIjkBaseCells``), the per-face
ccw-rotation counts, and the face-neighbor overage transforms
(``faceNeighbors``) are NOT restated — they are **derived** at import:
base-cell assignment by exact center coincidence, frame rotations by
exact lattice-point correspondences (icosahedron vertices are res-0
lattice points (2,0,0)/(0,2,0)/(0,0,2) of every face containing them),
and the handful of path-ambiguous pentagon entries by a decode-roundtrip
probe (decode never consults the rotation table, so it anchors encode).

The engine's cell index: ``operators/cells.py`` and
``operators/spatial_join.py`` call it by the libh3 names
(``latlng_to_cells_multi``, ``latlng_to_cell``, ``grid_disk``).
Not present in the reference repo (no spatial index; linear per-feature
loop at ``geojson/GeoJsonConverter.java:185-196``); required by the
north rule ("H3 (res 7-12)").
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# Published constants (H3 grid definition)
# ---------------------------------------------------------------------------

# (lat, lng) radians of the 20 icosahedron face centers.
_FACE_CENTER_GEO = np.array(
    [
        [0.803582649718989942, 1.248397419617396099],
        [1.307747883455638156, 2.536945009877921159],
        [1.054751253523952054, -1.347517358900396623],
        [0.600191595538186799, -0.450603909469755746],
        [0.491715428198773866, 0.401988202911306943],
        [0.172745327415618701, 1.678146885280433686],
        [0.605929321571350690, 2.953923329812411617],
        [0.427370518328979641, -1.888876200336285401],
        [-0.079066118549212831, -0.733429513380867741],
        [-0.230961644455383637, 0.506495587332349035],
        [0.079066118549212831, 2.408163140208925497],
        [0.230961644455383637, -2.635097066257444203],
        [-0.172745327415618701, -1.463445768309359553],
        [-0.605929321571350690, -0.187669323777381622],
        [-0.427370518328979641, 1.252716453253507838],
        [-0.600191595538186799, 2.690988744120037492],
        [-0.491715428198773866, -2.739604450678486295],
        [-0.803582649718989942, -1.893195233972397139],
        [-1.307747883455638156, -0.604647643711872080],
        [-1.054751253523952054, 1.794075294689396615],
    ],
    dtype=np.float64,
)

# Azimuth (radians) from each face center to each of its three Class II
# vertices (vertex 0 defines the +I axis of the face's hex frame).
_FACE_AXES_AZ = np.array(
    [
        [5.619958268523939882, 3.525563166130744542, 1.431168063737548730],
        [5.760339081714187279, 3.665943979320991689, 1.571548876927796127],
        [0.780213654393430055, 4.969003859179821079, 2.874608756786625655],
        [0.430469363979999913, 4.619259568766391033, 2.524864466373195467],
        [6.130269123335111400, 4.035873924002443888, 1.941478821609248406],
        [2.692877706530642877, 0.598482604137447119, 4.787272808923838195],
        [2.982963003477243874, 0.888567901084048369, 5.077358105870439581],
        [3.532912002790141181, 1.438516900396945656, 5.627307105183336758],
        [3.494305004259568154, 1.399909901866372864, 5.588700106652763840],
        [3.003214169499538391, 0.908819067106342928, 5.097609271892733906],
        [5.930472956509811562, 3.836077758116616050, 1.741682655723420374],
        [0.138378484090254847, 4.327168688876645809, 2.232773586483450311],
        [0.448714947059150361, 4.637505151845541521, 2.543110049452346017],
        [0.158629650112549365, 4.347419854898940135, 2.253024752505744869],
        [5.891865957979238535, 3.797470759586043023, 1.703075657192847511],
        [2.711123289609793325, 0.616728187216597771, 4.805518392002988683],
        [3.294508837434268316, 1.200113735041072948, 5.388903940027463911],
        [3.804819692245439833, 1.710424589852244509, 5.899214794838635471],
        [3.664438879055192436, 1.570043776661997068, 5.758833981648388030],
        [2.361378999196363184, 0.266983896803167583, 4.455774101589558636],
    ],
    dtype=np.float64,
)

# Base cell table: (home face, i, j, k, is_pentagon) per base cell 0..121.
_BASE_CELL_DATA = np.array(
    [
        (1, 1, 0, 0, 0), (2, 1, 1, 0, 0), (1, 0, 0, 0, 0), (2, 1, 0, 0, 0),
        (0, 2, 0, 0, 1), (1, 1, 1, 0, 0), (1, 0, 0, 1, 0), (2, 0, 0, 0, 0),
        (0, 1, 0, 0, 0), (2, 0, 1, 0, 0), (1, 0, 1, 0, 0), (1, 0, 1, 1, 0),
        (3, 1, 0, 0, 0), (3, 1, 1, 0, 0), (11, 2, 0, 0, 1), (4, 1, 0, 0, 0),
        (0, 0, 0, 0, 0), (6, 0, 1, 0, 0), (0, 0, 0, 1, 0), (2, 0, 1, 1, 0),
        (7, 0, 0, 1, 0), (2, 0, 0, 1, 0), (0, 1, 1, 0, 0), (6, 0, 0, 1, 0),
        (10, 2, 0, 0, 1), (6, 0, 0, 0, 0), (3, 0, 0, 0, 0), (11, 1, 0, 0, 0),
        (4, 1, 1, 0, 0), (3, 0, 1, 0, 0), (0, 0, 1, 1, 0), (4, 0, 0, 0, 0),
        (5, 0, 1, 0, 0), (0, 0, 1, 0, 0), (7, 0, 1, 0, 0), (11, 1, 1, 0, 0),
        (7, 0, 0, 0, 0), (10, 1, 0, 0, 0), (12, 2, 0, 0, 1), (6, 1, 0, 1, 0),
        (7, 1, 0, 1, 0), (4, 0, 0, 1, 0), (3, 0, 0, 1, 0), (3, 0, 1, 1, 0),
        (4, 0, 1, 0, 0), (6, 1, 0, 0, 0), (11, 0, 0, 0, 0), (8, 0, 0, 1, 0),
        (5, 0, 0, 1, 0), (14, 2, 0, 0, 1), (5, 0, 0, 0, 0), (12, 1, 0, 0, 0),
        (10, 1, 1, 0, 0), (4, 0, 1, 1, 0), (12, 1, 1, 0, 0), (7, 1, 0, 0, 0),
        (11, 0, 1, 0, 0), (10, 0, 0, 0, 0), (13, 2, 0, 0, 1), (10, 0, 0, 1, 0),
        (11, 0, 0, 1, 0), (9, 0, 1, 0, 0), (8, 0, 1, 0, 0), (6, 2, 0, 0, 1),
        (8, 0, 0, 0, 0), (9, 0, 0, 1, 0), (14, 1, 0, 0, 0), (5, 1, 0, 1, 0),
        (16, 0, 1, 1, 0), (8, 1, 0, 1, 0), (5, 1, 0, 0, 0), (12, 0, 0, 0, 0),
        (7, 2, 0, 0, 1), (12, 0, 1, 0, 0), (10, 0, 1, 0, 0), (9, 0, 0, 0, 0),
        (13, 1, 0, 0, 0), (16, 0, 0, 1, 0), (15, 0, 1, 1, 0), (15, 0, 1, 0, 0),
        (16, 0, 1, 0, 0), (14, 1, 1, 0, 0), (13, 1, 1, 0, 0), (5, 2, 0, 0, 1),
        (8, 1, 0, 0, 0), (14, 0, 0, 0, 0), (9, 1, 0, 1, 0), (14, 0, 0, 1, 0),
        (17, 0, 0, 1, 0), (12, 0, 0, 1, 0), (16, 0, 0, 0, 0), (17, 0, 1, 1, 0),
        (15, 0, 0, 1, 0), (16, 1, 0, 1, 0), (9, 1, 0, 0, 0), (15, 0, 0, 0, 0),
        (13, 0, 0, 0, 0), (8, 2, 0, 0, 1), (13, 0, 1, 0, 0), (17, 1, 0, 1, 0),
        (19, 0, 1, 0, 0), (14, 0, 1, 0, 0), (19, 0, 1, 1, 0), (17, 0, 1, 0, 0),
        (13, 0, 0, 1, 0), (17, 0, 0, 0, 0), (16, 1, 0, 0, 0), (9, 2, 0, 0, 1),
        (15, 1, 0, 1, 0), (15, 1, 0, 0, 0), (18, 0, 1, 1, 0), (18, 0, 0, 1, 0),
        (19, 0, 0, 1, 0), (17, 1, 0, 0, 0), (19, 0, 0, 0, 0), (18, 0, 1, 0, 0),
        (18, 1, 0, 1, 0), (19, 2, 0, 0, 1), (19, 1, 0, 0, 0), (18, 0, 0, 0, 0),
        (19, 1, 0, 1, 0), (18, 1, 0, 0, 0),
    ],
    dtype=np.int64,
)

# NOTE: h3lib's cwOffsetPent faces are NOT restated — the per-(pentagon,
# face) leading-K fold direction is calibrated at import against decode
# (see _calibrate_ambiguous), populating _K_CW below.

MAX_RES = 15
_M_SQRT7 = np.sqrt(7.0)
# fractional parts of integer/7 are >= 1/14 away from one half, so the
# reciprocal-multiply rounding below can never be flipped by a ulp
_SEVENTH = 1.0 / 7.0
_AP7_ROT = np.arcsin(np.sqrt(3.0 / 28.0))  # Class III grid rotation
_RES0_U_GNOMONIC = (3.0 - np.sqrt(5.0)) / 2.0  # 0.381966011250105...
_SIN60 = np.sqrt(3.0) / 2.0
EARTH_RADIUS_M = 6371007.2

# digit rotation maps (CENTER,K,J,JK,I,IK,IJ = 0..6)
_ROT_CCW = np.array([0, 5, 3, 1, 6, 4, 2], dtype=np.int8)
_ROT_CW = np.array([0, 3, 6, 2, 5, 1, 4], dtype=np.int8)
# digit -> unit ijk vector
_UNIT_VECS = np.array(
    [(0, 0, 0), (0, 0, 1), (0, 1, 0), (0, 1, 1), (1, 0, 0), (1, 0, 1), (1, 1, 0)],
    dtype=np.int64,
)

# angular distance face-center -> icosahedron vertex
_VERT_ANG = np.arccos(np.sqrt((5 + 2 * np.sqrt(5.0)) / 15.0))


# ---------------------------------------------------------------------------
# Spherical helpers
# ---------------------------------------------------------------------------


def _geo_to_xyz(lat: np.ndarray, lng: np.ndarray) -> np.ndarray:
    cl = np.cos(lat)
    return np.stack([cl * np.cos(lng), cl * np.sin(lng), np.sin(lat)], axis=-1)


_FACE_XYZ = _geo_to_xyz(_FACE_CENTER_GEO[:, 0], _FACE_CENTER_GEO[:, 1])


def _pos_angle(a: np.ndarray) -> np.ndarray:
    return np.mod(a, 2 * np.pi)


def _geo_azimuth(lat1, lng1, lat2, lng2):
    return np.arctan2(
        np.cos(lat2) * np.sin(lng2 - lng1),
        np.cos(lat1) * np.sin(lat2)
        - np.sin(lat1) * np.cos(lat2) * np.cos(lng2 - lng1),
    )


def _geo_az_distance(lat1, lng1, az, r):
    """Point at azimuth ``az`` / angular distance ``r`` from (lat1, lng1)."""
    lat2 = np.arcsin(
        np.clip(np.sin(lat1) * np.cos(r) + np.cos(lat1) * np.sin(r) * np.cos(az), -1, 1)
    )
    lng2 = lng1 + np.arctan2(
        np.sin(az) * np.sin(r) * np.cos(lat1), np.cos(r) - np.sin(lat1) * np.sin(lat2)
    )
    return lat2, lng2


# ---------------------------------------------------------------------------
# ijk algebra (vectorized, exact integer)
# ---------------------------------------------------------------------------


def _ijk_normalize(i, j, k):
    m = np.minimum(np.minimum(i, j), k)
    return i - m, j - m, k - m


def _ijk_rot60ccw(i, j, k):
    # i -> i+j axis, j -> j+k, k -> i+k
    return _ijk_normalize(i + k, i + j, j + k)


def _ijk_rot60cw(i, j, k):
    return _ijk_normalize(i + j, j + k, i + k)


def _hex2d_to_ijk(x: np.ndarray, y: np.ndarray):
    """Round hex2d plane coords to the containing cell's normalized ijk+.

    The h3 ijk axes sit at 120 degrees with i+j+k == 0-redundancy, so the
    classic cube rounding does NOT apply (i+j is itself a unit step).
    This is the published h3lib ``_hex2dToCoordIJK`` quantization:
    absolute-quadrant case analysis, then sign folds, then normalize.
    """
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    a1 = np.abs(x)
    a2 = np.abs(y)
    x2 = a2 / _SIN60
    x1 = a1 + x2 / 2.0
    m1 = np.floor(x1).astype(np.int64)
    m2 = np.floor(x2).astype(np.int64)
    r1 = x1 - m1
    r2 = x2 - m2

    # i/j increments for the positive quadrant, by thirds of r1
    c_lo = r1 < 1.0 / 3.0
    c_milo = (~c_lo) & (r1 < 0.5)
    c_mihi = (r1 >= 0.5) & (r1 < 2.0 / 3.0)
    c_hi = r1 >= 2.0 / 3.0

    j_inc = np.select(
        [c_lo, c_milo | c_mihi, c_hi],
        [
            (r2 >= (1.0 + r1) / 2.0).astype(np.int64),
            (r2 >= (1.0 - r1)).astype(np.int64),
            (r2 >= r1 / 2.0).astype(np.int64),
        ],
    )
    i_inc = np.select(
        [c_lo, c_milo, c_mihi, c_hi],
        [
            np.zeros_like(m1),
            (((1.0 - r1) <= r2) & (r2 < 2.0 * r1)).astype(np.int64),
            (~((2.0 * r1 - 1.0 < r2) & (r2 < 1.0 - r1))).astype(np.int64),
            np.ones_like(m1),
        ],
    )
    i = m1 + i_inc
    j = m2 + j_inc

    # fold across the y axis (x < 0)
    xneg = x < 0.0
    even = (j % 2) == 0
    axisi = np.where(even, j // 2, (j + 1) // 2)
    diff = i - axisi
    i = np.where(xneg, np.where(even, i - 2 * diff, i - (2 * diff + 1)), i)
    # fold across the x axis (y < 0)
    yneg = y < 0.0
    i = np.where(yneg, i - (2 * j + 1) // 2, i)
    j = np.where(yneg, -j, j)
    return _ijk_normalize(i, j, np.zeros_like(i))


def _ijk_to_hex2d(i, j, k):
    ii = i - k
    jj = j - k
    return ii - 0.5 * jj, jj * _SIN60


def _up_ap7(i, j, k):
    """Coarsen one res, Class III (ccw) aperture."""
    ii = i - k
    jj = j - k
    ri = np.round((3 * ii - jj) / 7.0).astype(np.int64)
    rj = np.round((ii + 2 * jj) / 7.0).astype(np.int64)
    return _ijk_normalize(ri, rj, np.zeros_like(ri))


def _up_ap7r(i, j, k):
    """Coarsen one res, Class II (cw) aperture."""
    ii = i - k
    jj = j - k
    ri = np.round((2 * ii + jj) / 7.0).astype(np.int64)
    rj = np.round((3 * jj - ii) / 7.0).astype(np.int64)
    return _ijk_normalize(ri, rj, np.zeros_like(ri))


def _down_ap7(i, j, k):
    return _ijk_normalize(3 * i + j, 3 * j + k, i + 3 * k)


def _down_ap7r(i, j, k):
    return _ijk_normalize(3 * i + k, i + 3 * j, j + 3 * k)


# ---------------------------------------------------------------------------
# geo <-> (face, hex2d / ijk)
# ---------------------------------------------------------------------------


def _geo_to_face_ijk(lat: np.ndarray, lng: np.ndarray, res: int):
    """lat/lng radians -> (face, i, j, k) at resolution ``res`` (nearest
    face per point — the canonical owning frame)."""
    p = _geo_to_xyz(lat, lng)
    dots = p @ _FACE_XYZ.T
    face = np.argmax(dots, axis=-1)
    x, y = _project_face_xy(lat, lng, face, res, dots=dots[np.arange(len(face)), face])
    i, j, k = _hex2d_to_ijk(x, y)
    return face, i, j, k


def _project_face_xy(lat, lng, face, res: int, dots=None):
    """Continuous hex2d coordinates of (lat, lng) in a FORCED face frame."""
    if dots is None:
        p = _geo_to_xyz(lat, lng)
        dots = np.einsum("nd,nd->n", p, _FACE_XYZ[face])
    sqd = np.maximum(2.0 - 2.0 * dots, 0.0)
    r = np.arccos(np.clip(1.0 - sqd / 2.0, -1.0, 1.0))
    theta = _pos_angle(
        _FACE_AXES_AZ[face, 0]
        - _pos_angle(
            _geo_azimuth(
                _FACE_CENTER_GEO[face, 0], _FACE_CENTER_GEO[face, 1], lat, lng
            )
        )
    )
    if res % 2 == 1:  # Class III
        theta = _pos_angle(theta - _AP7_ROT)
    rr = np.tan(r) / _RES0_U_GNOMONIC * (_M_SQRT7**res)
    return rr * np.cos(theta), rr * np.sin(theta)


def _face_ijk_to_geo(face, i, j, k, res: int):
    """(face, ijk at res) -> lat/lng radians of the lattice point."""
    x, y = _ijk_to_hex2d(i, j, k)
    r = np.hypot(x, y)
    theta = np.arctan2(y, x)
    r = np.arctan(r * _RES0_U_GNOMONIC / (_M_SQRT7**res))
    if res % 2 == 1:  # Class III
        theta = theta + _AP7_ROT
    az = _pos_angle(_FACE_AXES_AZ[face, 0] - theta)
    lat, lng = _geo_az_distance(
        _FACE_CENTER_GEO[face, 0], _FACE_CENTER_GEO[face, 1], az, r
    )
    ctr = r < 1e-16
    if np.any(ctr):
        lat = np.where(ctr, _FACE_CENTER_GEO[face, 0], lat)
        lng = np.where(ctr, _FACE_CENTER_GEO[face, 1], lng)
    return lat, lng


# ---------------------------------------------------------------------------
# Derived tables: face vertices, face neighbors, base-cell lookup
# ---------------------------------------------------------------------------


def _face_vertices():
    """xyz of each face's three Class II vertices (exact res-0 lattice
    points (2,0,0)/(0,2,0)/(0,0,2) of the face frame)."""
    out = np.zeros((20, 3, 3))
    for f in range(20):
        for v in range(3):
            la, ln = _geo_az_distance(
                _FACE_CENTER_GEO[f, 0], _FACE_CENTER_GEO[f, 1],
                _FACE_AXES_AZ[f, v], _VERT_ANG,
            )
            out[f, v] = _geo_to_xyz(np.array([la]), np.array([ln]))[0]
    return out


_FACE_VERT_XYZ = _face_vertices()
# vertex v of a face sits on its +I/+J/+K axis at res-0 coords:
_VERT_COORD = np.array([(2, 0, 0), (0, 2, 0), (0, 0, 2)], dtype=np.int64)


def _solve_frame_rotation(anchors):
    """anchors: list of (coords_in_frame_A, coords_in_frame_B) int64
    triples for the SAME geographic lattice points. Returns the unique t
    (0..5) with B = rot60ccw^t(A) + translation, or -1 if underdetermined
    / inconsistent."""
    pts = [(np.asarray(a, dtype=np.int64), np.asarray(b, dtype=np.int64))
           for a, b in anchors]
    # need two distinct anchor points in frame A
    distinct = len({tuple(_norm3(a)) for a, _ in pts}) >= 2
    if not distinct:
        return -1
    sols = []
    for t in range(6):
        diffs = {
            tuple(_norm3(b - _rot_ccw_n(a, t))) for a, b in pts
        }
        if len(diffs) == 1:
            sols.append(t)
    return sols[0] if len(sols) == 1 else -1


def _norm3(v):
    v = np.asarray(v, dtype=np.int64)
    return v - v.min()


def _rot_ccw_n(v, t):
    i, j, k = (np.array([v[0]]), np.array([v[1]]), np.array([v[2]]))
    for _ in range(t):
        i, j, k = _ijk_rot60ccw(i, j, k)
    return np.array([i[0], j[0], k[0]], dtype=np.int64)


def _build_face_neighbors():
    """Per face and per crossed edge (0=IJ between V0V1, 1=JK between
    V1V2, 2=KI between V2V0): (neighbor face, ccw rotations, translation
    in res-0 Class II units) carrying this face's frame into the
    neighbor's — h3lib's ``faceNeighbors``, derived from the shared edge
    vertices (exact lattice points in both frames)."""
    nei_face = np.full((20, 3), -1, dtype=np.int64)
    nei_rot = np.full((20, 3), -1, dtype=np.int64)
    nei_trans = np.zeros((20, 3, 3), dtype=np.int64)
    for f in range(20):
        for e, (a, b) in enumerate(((0, 1), (1, 2), (2, 0))):
            va, vb = _FACE_VERT_XYZ[f, a], _FACE_VERT_XYZ[f, b]
            g = -1
            for cand in range(20):
                if cand == f:
                    continue
                ca = (_FACE_VERT_XYZ[cand] @ va > 1 - 1e-9).any()
                cb = (_FACE_VERT_XYZ[cand] @ vb > 1 - 1e-9).any()
                if ca and cb:
                    g = cand
                    break
            if g < 0:
                raise AssertionError(f"no neighbor across edge {e} of face {f}")
            ga = int(np.argmax(_FACE_VERT_XYZ[g] @ va))
            gb = int(np.argmax(_FACE_VERT_XYZ[g] @ vb))
            t = _solve_frame_rotation(
                [(_VERT_COORD[a], _VERT_COORD[ga]), (_VERT_COORD[b], _VERT_COORD[gb])]
            )
            if t < 0:
                raise AssertionError(f"face {f} edge {e}: no frame rotation")
            trans = _norm3(_VERT_COORD[ga] - _rot_ccw_n(_VERT_COORD[a], t))
            # verify on the second vertex
            if not np.array_equal(
                _norm3(_VERT_COORD[gb] - _rot_ccw_n(_VERT_COORD[b], t)), trans
            ):
                raise AssertionError(f"face {f} edge {e}: inconsistent translate")
            nei_face[f, e] = g
            nei_rot[f, e] = t
            nei_trans[f, e] = trans
    return nei_face, nei_rot, nei_trans


_NEI_FACE, _NEI_ROT, _NEI_TRANS = _build_face_neighbors()


def _build_lookup():
    """Derive h3lib's faceIjkBaseCells: base cell + ccw rotation count for
    every res-0 lattice point with coords <= 2 on every face."""
    bc_face = _BASE_CELL_DATA[:, 0]
    lat, lng = _face_ijk_to_geo(
        bc_face, _BASE_CELL_DATA[:, 1], _BASE_CELL_DATA[:, 2],
        _BASE_CELL_DATA[:, 3], 0,
    )
    centers = _geo_to_xyz(lat, lng)  # (122, 3)

    bc_lut = np.full((20, 3, 3, 3), -1, dtype=np.int16)
    rot_lut = np.full((20, 3, 3, 3), -1, dtype=np.int8)

    triples = [
        (i, j, k)
        for i in range(3)
        for j in range(3)
        for k in range(3)
        if min(i, j, k) == 0
    ]
    faces = np.repeat(np.arange(20), len(triples))
    tri = np.tile(np.array(triples, dtype=np.int64), (20, 1))
    glat, glng = _face_ijk_to_geo(faces, tri[:, 0], tri[:, 1], tri[:, 2], 0)
    pts = _geo_to_xyz(glat, glng)
    d = pts @ centers.T
    nearest = np.argmax(d, axis=1)
    best_ang = np.arccos(np.clip(d[np.arange(len(pts)), nearest], -1, 1))
    second = np.sort(d, axis=1)[:, -2]
    second_ang = np.arccos(np.clip(second, -1, 1))
    # lattice points inside the face triangle coincide exactly with a
    # base-cell center; points past an edge sit on the gnomonic
    # *extension*, offset from the folded true center by the fold error
    # (<= ~4.5 deg at the outermost coord-2 points). Either way the
    # nearest center must be unambiguous by a wide margin (cell spacing
    # is ~20.9 deg).
    if not (best_ang < 0.085).all():
        raise AssertionError(
            f"{(best_ang >= 0.085).sum()} face lattice points match no "
            "base-cell center — base-cell table corrupted"
        )
    if not (second_ang - best_ang > 0.12).all():
        raise AssertionError("ambiguous base-cell assignment — table corrupted")
    for n in range(len(pts)):
        f = faces[n]
        i, j, k = triples[n % len(triples)]
        bc_lut[f, i, j, k] = nearest[n]

    # rotations: home entries are 0; hexagon entries solve exactly from
    # lattice anchors (base-cell center + shared face vertices). Pentagon
    # non-home entries always calibrate by decode probe — the deleted-K
    # subsequence makes their table value differ from the pure frame
    # rotation on the faces where the K fold lands.
    for f in range(20):
        for i, j, k in triples:
            bc = int(bc_lut[f, i, j, k])
            hf = int(_BASE_CELL_DATA[bc, 0])
            if hf == f:
                rot_lut[f, i, j, k] = 0
                continue
            if _BASE_CELL_DATA[bc, 4] == 1:
                continue  # stays -1 -> probe calibration
            anchors = [(np.array([i, j, k]), _BASE_CELL_DATA[bc, 1:4])]
            for vf in range(3):
                m = _FACE_VERT_XYZ[hf] @ _FACE_VERT_XYZ[f, vf] > 1 - 1e-9
                if m.any():
                    anchors.append(
                        (_VERT_COORD[vf], _VERT_COORD[int(np.argmax(m))])
                    )
            t = _solve_frame_rotation(anchors)
            rot_lut[f, i, j, k] = t  # may be -1 -> probe calibration

    # alias non-normalized triples (e.g. (1,1,1) == (0,0,0))
    for i in range(3):
        for j in range(3):
            for k in range(3):
                m = min(i, j, k)
                if m > 0:
                    bc_lut[:, i, j, k] = bc_lut[:, i - m, j - m, k - m]
                    rot_lut[:, i, j, k] = rot_lut[:, i - m, j - m, k - m]
    return bc_lut, rot_lut, centers


_BC_LUT, _ROT_LUT, _BC_CENTERS = _build_lookup()
_IS_PENT = _BASE_CELL_DATA[:, 4] == 1
# leading-K fold direction per (pentagon base cell, face): True = rotate
# the index cw, False = ccw (h3lib's cwOffsetPent; calibrated at import)
_K_CW = np.zeros((122, 20), dtype=bool)


# ---------------------------------------------------------------------------
# index digit helpers
# ---------------------------------------------------------------------------


def _digits_rotate(digits: np.ndarray, table: np.ndarray, rows=None) -> None:
    sel = digits if rows is None else digits[rows]
    used = sel != 7
    sel[used] = table[sel[used]]
    if rows is not None:
        digits[rows] = sel


def _leading_nonzero(digits: np.ndarray) -> np.ndarray:
    """First nonzero digit value per row (0 if none)."""
    n, res = digits.shape
    if res == 0:
        return np.zeros(n, dtype=np.int8)
    nz = (digits != 0) & (digits != 7)
    first = np.argmax(nz, axis=1)
    has = nz.any(axis=1)
    return np.where(has, digits[np.arange(n), first], 0).astype(np.int8)


def _rotate_pent60ccw(digits: np.ndarray, rows: np.ndarray) -> None:
    """h3lib _h3RotatePent60ccw: rotate all digits ccw, then once more if
    the leading nonzero digit landed on K (deleted subsequence)."""
    _digits_rotate(digits, _ROT_CCW, rows)
    lead = _leading_nonzero(digits[rows])
    again = rows[lead == 1]
    if len(again):
        _digits_rotate(digits, _ROT_CCW, again)


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------


def _geo_to_face_polar(lat: np.ndarray, lng: np.ndarray):
    """Shared per-point spherical stage: nearest face + gnomonic polar
    coordinates (res-independent). ``rg`` is tan(angular distance) /
    RES0_U_GNOMONIC; ``theta0`` the Class II angle."""
    p = _geo_to_xyz(lat, lng)
    dots = p @ _FACE_XYZ.T
    face = np.argmax(dots, axis=-1)
    best = dots[np.arange(len(face)), face]
    sqd = np.maximum(2.0 - 2.0 * best, 0.0)
    r = np.arccos(np.clip(1.0 - sqd / 2.0, -1.0, 1.0))
    theta0 = _pos_angle(
        _FACE_AXES_AZ[face, 0]
        - _pos_angle(
            _geo_azimuth(
                _FACE_CENTER_GEO[face, 0], _FACE_CENTER_GEO[face, 1], lat, lng
            )
        )
    )
    rg = np.tan(r) / _RES0_U_GNOMONIC
    return face, rg, theta0


def _encode_at_res(face, rg, theta0, res: int) -> np.ndarray:
    """Finish the encode for one resolution from the shared polar stage."""
    theta = _pos_angle(theta0 - _AP7_ROT) if res % 2 == 1 else theta0
    rr = rg * (_M_SQRT7**res)
    i, j, k = _hex2d_to_ijk(rr * np.cos(theta), rr * np.sin(theta))
    return _assemble_index(face, i, j, k, res)


#: Sentinel id emitted for rows with non-finite coordinates when
#: ``invalid="null"`` — matches libh3's H3_NULL (0), which no valid cell
#: can equal (mode bits are always nonzero in a real index).
H3_NULL = np.int64(0)


def _mask_invalid(lat: np.ndarray, lng: np.ndarray, invalid: str):
    """Guard the encode against non-finite coordinates.

    A single NaN/inf row would otherwise flow through ``_hex2d_to_ijk``'s
    float->int64 cast into the ``_AXIAL_DIGIT`` lookup and abort the whole
    Arrow batch with an opaque IndexError — and in a checkpointed stream
    the offending file becomes a poison pill (restart re-reads it and
    fails again). ``invalid="raise"`` names the bad rows; ``"null"``
    zeroes them for the math and reports the mask so callers can stamp
    :data:`H3_NULL` into the result.
    """
    bad = ~(np.isfinite(lat) & np.isfinite(lng))
    if not bad.any():
        return None
    if invalid == "raise":
        rows = np.nonzero(bad)[0]
        raise ValueError(
            f"non-finite lat/lng at rows {rows[:10].tolist()}"
            f"{'...' if len(rows) > 10 else ''} "
            "(pass invalid='null' to emit the H3_NULL sentinel instead)"
        )
    if invalid != "null":
        raise ValueError(f"invalid= must be 'raise' or 'null', got {invalid!r}")
    lat[bad] = 0.0
    lng[bad] = 0.0
    return bad


def latlng_to_cell(lat_deg, lng_deg, res: int, invalid: str = "raise") -> np.ndarray:
    """lat/lng degrees -> canonical H3 cell ids (int64), vectorized.

    ``invalid`` controls non-finite coordinate handling: ``"raise"``
    (default) raises a ValueError naming the rows; ``"null"`` emits
    :data:`H3_NULL` for those rows.
    """
    if not (0 <= res <= MAX_RES):
        raise ValueError("res out of range")
    lat = np.radians(np.atleast_1d(np.asarray(lat_deg, dtype=np.float64)))
    lng = np.radians(np.atleast_1d(np.asarray(lng_deg, dtype=np.float64)))
    bad = _mask_invalid(lat, lng, invalid)
    face, rg, theta0 = _geo_to_face_polar(lat, lng)
    out = _encode_at_res(face, rg, theta0, res)
    if bad is not None:
        out[bad] = H3_NULL
    return out


def latlng_to_cells_multi(lat_deg, lng_deg, resolutions, invalid: str = "raise") -> dict:
    """Several resolutions for the same points with ONE spherical stage
    (face assignment + azimuth + gnomonic radius are res-independent) —
    the ingest-time kernel shape for multi-res cell columns at scale."""
    lat = np.radians(np.atleast_1d(np.asarray(lat_deg, dtype=np.float64)))
    lng = np.radians(np.atleast_1d(np.asarray(lng_deg, dtype=np.float64)))
    bad = _mask_invalid(lat, lng, invalid)
    face, rg, theta0 = _geo_to_face_polar(lat, lng)
    out = {r: _encode_at_res(face, rg, theta0, r) for r in resolutions}
    if bad is not None:
        for arr in out.values():
            arr[bad] = H3_NULL
    return out


# axial diff (da+2, db+2) -> digit: the 7 unit vectors in axial form are
# CENTER (0,0), K (-1,-1), J (0,1), JK (-1,0), I (1,0), IK (0,-1), IJ (1,1);
# the sentinel border (-1) turns any non-unit diff into a loud failure
_AXIAL_DIGIT = np.full((5, 5), -1, dtype=np.int8)
for _d, (_da, _db) in enumerate(
    [(0, 0), (-1, -1), (0, 1), (-1, 0), (1, 0), (0, -1), (1, 1)]
):
    _AXIAL_DIGIT[_da + 2, _db + 2] = _d


def _assemble_index(face, i, j, k, res: int) -> np.ndarray:
    """(face, normalized ijk at res) -> canonical ids.

    The digit descent runs in AXIAL coordinates (a = i - k, b = j - k):
    axial form is redundancy-free, so the per-level normalizations drop
    out, and the aperture-7 up/down maps plus the half-never-occurs
    rounding become pure int64 arithmetic:

        up_ap7  (ccw): a' = round((3a - b)/7),  b' = round((a + 2b)/7)
        up_ap7r (cw):  a' = round((2a + b)/7),  b' = round((3b - a)/7)
        down_ap7:      a' = 2a + b,             b' = 3b - a
        down_ap7r:     a' = 3a - b,             b' = a + 2b

    (round(x/7) == (2x + 7) // 14 exactly, since 7 never divides 2x+7
    at a half.) Same digits as the cube-coordinate formulation —
    equivalence is pinned by the public-vector and roundtrip tests.
    """
    n = len(face)
    digits = np.full((n, res), 7, dtype=np.int8)
    a = i - k
    b = j - k
    for r in range(res, 0, -1):
        la, lb = a, b
        # round(x/7) via reciprocal multiply + rint: integer floor-div is
        # an order of magnitude slower in numpy, and x/7 never lands on
        # an exact half (7 never divides 2x+7), so rint == round here
        if r % 2 == 1:  # Class III -> ccw aperture
            a = np.rint((3 * la - lb) * _SEVENTH).astype(np.int64)
            b = np.rint((la + 2 * lb) * _SEVENTH).astype(np.int64)
            ca = 2 * a + b
            cb = 3 * b - a
        else:
            a = np.rint((2 * la + lb) * _SEVENTH).astype(np.int64)
            b = np.rint((3 * lb - la) * _SEVENTH).astype(np.int64)
            ca = 3 * a - b
            cb = a + 2 * b
        digits[:, r - 1] = _AXIAL_DIGIT[la - ca + 2, lb - cb + 2]

    # res-0: back to normalized cube for the base-cell lookup
    m = np.minimum(np.minimum(a, b), 0)
    i = a - m
    j = b - m
    k = -m
    if (i > 2).any() or (j > 2).any() or (k > 2).any():
        raise AssertionError("res-0 coordinates out of base-cell range")
    if (digits < 0).any():
        raise AssertionError("non-unit digit diff in descent")
    bc = _BC_LUT[face, i, j, k].astype(np.int64)
    rot = _ROT_LUT[face, i, j, k].astype(np.int64)
    if (bc < 0).any() or (rot < 0).any():
        raise AssertionError("unmapped base-cell lookup entry reached")

    pent = _IS_PENT[bc]
    if pent.any():
        prows = np.nonzero(pent)[0]
        lead = _leading_nonzero(digits[prows])
        krows = prows[lead == 1]
        if len(krows):
            cw = _K_CW[bc[krows], face[krows]]
            if cw.any():
                _digits_rotate(digits, _ROT_CW, krows[cw])
            if (~cw).any():
                _digits_rotate(digits, _ROT_CCW, krows[~cw])
        for t in range(1, 6):
            sel = prows[rot[prows] >= t]
            if not len(sel):
                break
            _rotate_pent60ccw(digits, sel)
    hexr = np.nonzero(~pent)[0]
    if len(hexr):
        for t in range(1, 6):
            sel = hexr[rot[hexr] >= t]
            if not len(sel):
                break
            _digits_rotate(digits, _ROT_CCW, sel)

    h = np.full(n, np.uint64(1) << np.uint64(59), dtype=np.uint64)  # mode 1
    h |= np.uint64(res) << np.uint64(52)
    h |= bc.astype(np.uint64) << np.uint64(45)
    h |= np.uint64((1 << 45) - 1)  # all digits 7
    for r in range(1, res + 1):
        shift = np.uint64(3 * (15 - r))
        h &= ~(np.uint64(7) << shift)
        h |= digits[:, r - 1].astype(np.uint64) << shift
    return h.view(np.int64)


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------


def _decode(cell):
    c = np.atleast_1d(np.asarray(cell, dtype=np.int64)).view(np.uint64)
    res = ((c >> np.uint64(52)) & np.uint64(0xF)).astype(np.int64)
    bc = ((c >> np.uint64(45)) & np.uint64(0x7F)).astype(np.int64)
    n = len(c)
    digits = np.full((n, 15), 7, dtype=np.int8)
    for r in range(1, 16):
        shift = np.uint64(3 * (15 - r))
        digits[:, r - 1] = ((c >> shift) & np.uint64(7)).astype(np.int8)
    return res, bc, digits


def get_resolution(cell) -> np.ndarray:
    return _decode(cell)[0]


def is_pentagon(cell) -> np.ndarray:
    return _IS_PENT[_decode(cell)[1]]


def _adjust_overage(face, i, j, k, res_even, pent_lead4):
    """h3lib _adjustOverageClassII (non-substrate): remap coordinates that
    crossed the face triangle onto the neighbor face's frame. Returns
    (face, i, j, k, adjusted_mask)."""
    scale = 7 ** (res_even // 2)
    max_dim = 2 * scale
    over = (i + j + k) > max_dim
    if not over.any():
        return face, i, j, k, over
    o = np.nonzero(over)[0]
    fo, io, jo, ko = face[o].copy(), i[o].copy(), j[o].copy(), k[o].copy()
    # quadrant: JK if j>0 (and k>0), KI if k>0 and j==0, else IJ
    edge = np.where(ko > 0, np.where(jo > 0, 1, 2), 0)
    # pentagon leading-4 fold before a KI crossing
    fold = pent_lead4[o] & (edge == 2)
    if fold.any():
        fi, fj, fk = io[fold] - max_dim, jo[fold], ko[fold]
        fi, fj, fk = _ijk_rot60cw(fi, fj, fk)
        io[fold], jo[fold], ko[fold] = fi + max_dim, fj, fk
    nf = _NEI_FACE[fo, edge]
    nrot = _NEI_ROT[fo, edge]
    ntr = _NEI_TRANS[fo, edge] * scale
    for t in range(1, 6):
        m = nrot >= t
        if not m.any():
            break
        io[m], jo[m], ko[m] = _ijk_rot60ccw(io[m], jo[m], ko[m])
    io, jo, ko = _ijk_normalize(io + ntr[:, 0], jo + ntr[:, 1], ko + ntr[:, 2])
    face, i, j, k = face.copy(), i.copy(), j.copy(), k.copy()
    face[o], i[o], j[o], k[o] = nf, io, jo, ko
    return face, i, j, k, over


def _cell_to_face_ijk(cell):
    """cell ids (uniform res) -> (res, face, i, j, k) on the OWNING face
    (home-frame descent + h3lib overage adjustment)."""
    res_arr, bc, digits = _decode(cell)
    res = int(res_arr[0])
    if not np.all(res_arr == res):
        raise ValueError("mixed resolutions in one call")
    digits = digits[:, :res].copy()
    pent = _IS_PENT[bc]
    if pent.any():
        prows = np.nonzero(pent)[0]
        lead = _leading_nonzero(digits[prows])
        fix = prows[lead == 5]
        if len(fix):
            _digits_rotate(digits, _ROT_CW, fix)
    face = _BASE_CELL_DATA[bc, 0].copy()
    i = _BASE_CELL_DATA[bc, 1].copy()
    j = _BASE_CELL_DATA[bc, 2].copy()
    k = _BASE_CELL_DATA[bc, 3].copy()
    for r in range(1, res + 1):
        if r % 2 == 1:  # Class III
            i, j, k = _down_ap7(i, j, k)
        else:
            i, j, k = _down_ap7r(i, j, k)
        uv = _UNIT_VECS[digits[:, r - 1].astype(np.int64)]
        i, j, k = _ijk_normalize(i + uv[:, 0], j + uv[:, 1], k + uv[:, 2])

    # overage: work on the next finer Class II grid for odd res
    orig = (face.copy(), i.copy(), j.copy(), k.copy())
    cii = res
    if res % 2 == 1:
        i, j, k = _down_ap7r(i, j, k)
        cii = res + 1
    lead_all = _leading_nonzero(digits) if res else np.zeros(len(bc), dtype=np.int8)
    pent_lead4 = pent & (lead_all == 4)
    face, i, j, k, adj = _adjust_overage(face, i, j, k, cii, pent_lead4)
    if adj.any():
        # pentagons can overage a second time
        sec = adj & pent
        while sec.any():
            s = np.nonzero(sec)[0]
            f2, i2, j2, k2, a2 = _adjust_overage(
                face[s], i[s], j[s], k[s], cii, np.zeros(len(s), dtype=bool)
            )
            face[s], i[s], j[s], k[s] = f2, i2, j2, k2
            sec = np.zeros_like(sec)
            sec[s[a2]] = True
    if res % 2 == 1:
        if adj.any():
            a = np.nonzero(adj)[0]
            ia, ja, ka = _up_ap7r(i[a], j[a], k[a])
            i, j, k = orig[1].copy(), orig[2].copy(), orig[3].copy()
            fface = orig[0].copy()
            fface[a], i[a], j[a], k[a] = face[a], ia, ja, ka
            face = fface
        else:
            face, i, j, k = orig
    return res, face, i, j, k


def cell_to_latlng(cell):
    """cell ids -> (lat, lng) degrees of the cell centers."""
    res, face, i, j, k = _cell_to_face_ijk(cell)
    lat, lng = _face_ijk_to_geo(face, i, j, k, res)
    lng = np.mod(lng + np.pi, 2 * np.pi) - np.pi
    return np.degrees(lat), np.degrees(lng)


def cell_to_parent(cell, parent_res: int) -> np.ndarray:
    """Ancestor id: truncate digits below ``parent_res`` (pure bit ops)."""
    c = np.atleast_1d(np.asarray(cell, dtype=np.int64)).view(np.uint64).copy()
    res = (c >> np.uint64(52)) & np.uint64(0xF)
    if (res.astype(np.int64) < parent_res).any():
        raise ValueError("parent_res finer than cell res")
    c &= ~(np.uint64(0xF) << np.uint64(52))
    c |= np.uint64(parent_res) << np.uint64(52)
    c |= (np.uint64(1) << np.uint64(3 * (15 - parent_res))) - np.uint64(1)
    return c.view(np.int64)


# ---------------------------------------------------------------------------
# probe calibration of path-ambiguous pentagon lookup entries
# ---------------------------------------------------------------------------


_CAL_RES = 3


def _raw_face_digits(la, ln, res):
    """One point -> (routed face, entry ijk, raw digits before any
    rotation/fold) replicating encode's descent."""
    face, i, j, k = _geo_to_face_ijk(la, ln, res)
    digits = np.full((len(face), res), 7, dtype=np.int8)
    for r in range(res, 0, -1):
        li, lj, lk = i, j, k
        if r % 2 == 1:
            i, j, k = _up_ap7(i, j, k)
            ci, cj, ck = _down_ap7(i, j, k)
        else:
            i, j, k = _up_ap7r(i, j, k)
            ci, cj, ck = _down_ap7r(i, j, k)
        di, dj, dk = _ijk_normalize(li - ci, lj - cj, lk - ck)
        digits[:, r - 1] = (di * 4 + dj * 2 + dk).astype(np.int8)
    return face, i, j, k, digits


def _iter_samples(f, i, j, k, want_k):
    """Yield (lat_deg, lng_deg) arrays routing through lookup entry
    (f, ijk) whose raw leading digit is K (want_k) or non-K (else).
    Vetting recomputes from the DEGREE values so it sees bit-for-bit the
    floats the probe encode will see (face boundaries are knife-edge)."""
    x, y = _ijk_to_hex2d(np.array([i]), np.array([j]), np.array([k]))
    for radius in (0.25, 0.45, 0.7, 0.12):
        for ang in np.linspace(0, 2 * np.pi, 48, endpoint=False):
            la, ln = _face_ijk_to_geo_xy(
                np.array([f]),
                x + radius * np.cos(ang), y + radius * np.sin(ang), 0,
            )
            la_deg = np.degrees(la)
            ln_deg = np.degrees(ln)
            pf, pi, pj, pk, digits = _raw_face_digits(
                np.radians(la_deg), np.radians(ln_deg), _CAL_RES
            )
            if pf[0] != f or (pi[0], pj[0], pk[0]) != (i, j, k):
                continue
            lead = _leading_nonzero(digits)[0]
            if (lead == 1) == want_k:
                yield la_deg, ln_deg


def _calibrate_ambiguous():
    """Decode-anchored calibration of the pentagon-related encode tables.

    Decode (home-frame descent + overage) never consults these tables, so
    it defines the ground truth geometry. Two passes:

    1. rotation counts for lookup entries the lattice-anchor solve left
       open (pentagon wedges, where the deleted-K subsequence makes the
       table value differ from the pure frame rotation) — probed with
       samples whose leading digit is NOT K, so the fold doesn't interfere;
    2. the leading-K fold direction (cw vs ccw, h3lib's cwOffsetPent) per
       (pentagon, face) — probed with samples IN the K sector.

    Each probe accepts the unique value whose encoded id decodes to a
    center geographically inside the encoded cell; zero or multiple
    surviving ids mean a corrupted base table and raise."""
    thresh = 2.5 * np.arctan(_RES0_U_GNOMONIC / 7**1.5)

    def probe(la_deg, ln_deg, setter, values):
        """-> {value: id} for candidates whose id decodes onto the sample."""
        out = {}
        lar = np.radians(la_deg)
        lnr = np.radians(ln_deg)
        for cand in values:
            setter(cand)
            cell = latlng_to_cell(la_deg, ln_deg, _CAL_RES)
            cla, cln = cell_to_latlng(cell)
            d = _angdist(lar[0], lnr[0], np.radians(cla[0]), np.radians(cln[0]))
            if d < thresh:
                out[cand] = int(cell[0])
        return out

    amb = np.argwhere((_ROT_LUT < 0) & (_BC_LUT >= 0))
    for f, i, j, k in amb:
        if min(i, j, k) > 0:
            continue  # alias, refreshed below
        done = False
        for la_deg, ln_deg in _iter_samples(f, i, j, k, want_k=False):

            def set_rot(v, f=f, i=i, j=j, k=k):
                _ROT_LUT[f, i, j, k] = v

            good = probe(la_deg, ln_deg, set_rot, range(6))
            # pentagon rotations have period 5: several counts can give
            # the same id — the ID must be unique, not the count
            if len(set(good.values())) != 1:
                raise AssertionError(
                    f"rotation calibration ambiguous: face {f} ijk "
                    f"{(i, j, k)} candidates {sorted(good)}"
                )
            set_rot(next(iter(good)))
            done = True
            break
        if not done:
            pass  # unreachable entry -> -1 sentinel; encode fails loudly
    for i in range(3):
        for j in range(3):
            for k in range(3):
                m = min(i, j, k)
                if m > 0:
                    _ROT_LUT[:, i, j, k] = _ROT_LUT[:, i - m, j - m, k - m]

    # pass 2: K-sector fold direction for every (pentagon, face) entry.
    # A sample only pins the fold if the two directions produce different
    # ids (points very close to the pentagon center are insensitive), so
    # scan until a distinguishing sample settles it.
    for f in range(20):
        seen = set()
        for i in range(3):
            for j in range(3):
                for k in range(3):
                    if min(i, j, k) > 0:
                        continue
                    bc = int(_BC_LUT[f, i, j, k])
                    if not _IS_PENT[bc] or bc in seen:
                        continue
                    seen.add(bc)

                    def set_fold(v, bc=bc, f=f):
                        _K_CW[bc, f] = v

                    for la_deg, ln_deg in _iter_samples(f, i, j, k, True):
                        good = probe(la_deg, ln_deg, set_fold, (False, True))
                        if len(good) == 2 and len(set(good.values())) == 1:
                            continue  # fold-insensitive sample
                        if len(good) != 1:
                            raise AssertionError(
                                f"K-fold calibration ambiguous: face {f} "
                                f"pentagon {bc} candidates {sorted(good)}"
                            )
                        set_fold(next(iter(good)))
                        break
                    else:
                        set_fold(False)  # K sector never routes via f


def _face_ijk_to_geo_xy(face, x, y, res: int):
    """hex2d continuous coords in a face frame -> lat/lng radians."""
    r = np.hypot(x, y)
    theta = np.arctan2(y, x)
    r = np.arctan(r * _RES0_U_GNOMONIC / (_M_SQRT7**res))
    if res % 2 == 1:
        theta = theta + _AP7_ROT
    az = _pos_angle(_FACE_AXES_AZ[face, 0] - theta)
    return _geo_az_distance(
        _FACE_CENTER_GEO[face, 0], _FACE_CENTER_GEO[face, 1], az, r
    )


def _angdist(lat1, lng1, lat2, lng2):
    return np.arccos(
        np.clip(
            np.sin(lat1) * np.sin(lat2)
            + np.cos(lat1) * np.cos(lat2) * np.cos(lng1 - lng2),
            -1, 1,
        )
    )


def _validate_tables():
    """Geometric cross-checks of the restated constants (import-time)."""
    # 1. face centers form an icosahedron (includes the 10 antipodal pairs)
    d = _FACE_XYZ @ _FACE_XYZ.T
    expected = np.array([1.0, np.sqrt(5) / 3, 1 / 3.0, -1 / 3.0, -np.sqrt(5) / 3, -1.0])
    if not np.all(np.min(np.abs(d[..., None] - expected), axis=-1) < 1e-9):
        raise AssertionError("face centers are not an icosahedron")
    # 2. the 60 az-derived vertices cluster into 12, each shared by 5 faces
    verts = _FACE_VERT_XYZ.reshape(60, 3)
    vd = verts @ verts.T
    if not np.all((vd > 1 - 1e-9).sum(axis=1) == 5):
        raise AssertionError("face vertex azimuths are inconsistent")
    # 3. the 12 pentagons sit exactly on the icosahedron vertices
    pent = _BASE_CELL_DATA[:, 4] == 1
    if pent.sum() != 12:
        raise AssertionError("pentagon count != 12")
    pxyz = _BC_CENTERS[pent]
    if not (pxyz @ verts.T > 1 - 1e-9).any(axis=1).all():
        raise AssertionError("pentagon base cells not at icosahedron vertices")
    # 4. all 122 base-cell centers are distinct
    bd = _BC_CENTERS @ _BC_CENTERS.T
    np.fill_diagonal(bd, -1)
    if bd.max() > 1 - 1e-9:
        raise AssertionError("duplicate base-cell centers")
    # 5. the icosahedron vertex really is res-0 lattice coords (2,0,0):
    #    |vertex| in gnomonic units must be exactly 2
    if abs(np.tan(_VERT_ANG) / _RES0_U_GNOMONIC - 2.0) > 1e-9:
        raise AssertionError("RES0_U_GNOMONIC inconsistent with vertex angle")


_validate_tables()

# The probe calibration costs ~4s; cache its two output tables next to the
# module so Spark python workers import fast. The cache is validated
# against the (cheaply re-derived) base-cell lookup and regenerated from
# scratch when absent/stale; tests re-run the full derivation.
_TABLE_CACHE = __file__.rsplit(".", 1)[0] + "_tables_v1.npz"


def _load_or_calibrate():
    import os
    import tempfile

    # Snapshot of the import-time-derived rotation entries: wherever the
    # derivation is unambiguous (>= 0) the cache MUST agree — a stale or
    # corrupted cache with a matching bc_lut must not silently override
    # derived values and produce wrong cell ids.
    derived_rot = _ROT_LUT.copy()
    derived_mask = derived_rot >= 0
    if os.path.exists(_TABLE_CACHE):
        try:
            z = np.load(_TABLE_CACHE)
            rot, kcw = z["rot_lut"], z["k_cw"]
            if (
                z["bc_lut"].shape == _BC_LUT.shape
                and np.array_equal(z["bc_lut"], _BC_LUT)
                and rot.shape == _ROT_LUT.shape
                and np.array_equal(rot[derived_mask], derived_rot[derived_mask])
                and ((rot >= -1) & (rot <= 5)).all()
                and (rot[_BC_LUT >= 0] >= 0).all()
                and kcw.shape == _K_CW.shape
                and np.isin(kcw, (0, 1)).all()
            ):
                _ROT_LUT[:] = rot
                _K_CW[:] = kcw
                return
        except Exception:
            pass
    _calibrate_ambiguous()
    try:
        # temp file + os.replace: concurrent first-time imports (many Spark
        # python workers) must never observe a half-written npz
        fd, tmp = tempfile.mkstemp(
            suffix=".npz", dir=os.path.dirname(_TABLE_CACHE) or "."
        )
        try:
            with os.fdopen(fd, "wb") as fh:
                np.savez(fh, bc_lut=_BC_LUT, rot_lut=_ROT_LUT, k_cw=_K_CW)
            os.replace(tmp, _TABLE_CACHE)
        except BaseException:
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise
    except OSError:
        pass  # read-only install: derive on every import


_load_or_calibrate()


# ---------------------------------------------------------------------------
# grid disk (geometric: exact on-face, nearest-center across face edges)
# ---------------------------------------------------------------------------


def _disk_offsets(k: int) -> np.ndarray:
    # h3's ijk axes sit at 120 degrees (i + j + k == 0 gauge), so the
    # axial unit neighbors are (±1,0), (0,±1), (±1,±1) and the hex
    # distance of an axial offset (di, dj) is max(|di|, |dj|, |di - dj|)
    offs = [
        (di, dj)
        for di in range(-k, k + 1)
        for dj in range(-k, k + 1)
        if max(abs(di), abs(dj), abs(di - dj)) <= k
    ]
    offs.sort(key=lambda o: (max(abs(o[0]), abs(o[1]), abs(o[0] - o[1])), o))
    return np.array(offs, dtype=np.int64)


def grid_disk(cell: np.ndarray, k: int) -> np.ndarray:
    """All cells within grid distance ``k`` per input cell, shape
    ``(n, 1 + 3k(k+1))``, column 0 = the cell itself, ring-sorted.

    Offsets are applied on each cell's owning-face lattice and re-indexed
    through ``latlng_to_cell`` — exact within a face, correct across face
    edges up to gnomonic mismatch << cell radius at res >= 2. Near
    pentagons some directions alias onto the same neighbor (the pentagon
    ring genuinely has fewer distinct cells); duplicates are kept so the
    output shape stays rectangular.
    """
    cell = np.atleast_1d(np.asarray(cell, dtype=np.int64))
    res, face, i, j, k3 = _cell_to_face_ijk(cell)
    offs = _disk_offsets(k)
    m = len(offs)
    n = len(cell)
    ii = (i[:, None] + offs[None, :, 0]).ravel()
    jj = (j[:, None] + offs[None, :, 1]).ravel()
    kk = np.broadcast_to(k3[:, None], (n, m)).ravel()
    ii, jj, kk = _ijk_normalize(ii, jj, kk)
    ff = np.repeat(face, m)
    lat, lng = _face_ijk_to_geo(ff, ii, jj, kk, res)
    out = latlng_to_cell(np.degrees(lat), np.degrees(lng), res).reshape(n, m)
    out[:, 0] = cell  # exact by construction
    return out


def h3_edge_length_m(res: int) -> float:
    """Representative hex circumradius (= edge length) at ``res`` in
    meters, from the face-center gnomonic scale (always paired with
    safety factors by callers)."""
    spacing = np.arctan(_RES0_U_GNOMONIC / (_M_SQRT7**res))
    return float(spacing / np.sqrt(3.0) * EARTH_RADIUS_M)


def _face_edge_normals():
    out = np.zeros((20, 3, 3))
    for f in range(20):
        ctr = _FACE_XYZ[f]
        for e, (a, b) in enumerate(((0, 1), (1, 2), (2, 0))):
            nv = np.cross(_FACE_VERT_XYZ[f, a], _FACE_VERT_XYZ[f, b])
            nv /= np.linalg.norm(nv)
            if nv @ ctr < 0:
                nv = -nv
            out[f, e] = nv
    return out


_FACE_EDGE_N = _face_edge_normals()


def face_boundary_margin_m(lat_deg, lng_deg) -> np.ndarray:
    """Great-circle distance (m) from each point to the nearest edge of
    its own icosahedron face (kNN ring guarantees, see spatial_join)."""
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lng = np.radians(np.asarray(lng_deg, dtype=np.float64))
    p = _geo_to_xyz(lat, lng)
    face = np.argmax(p @ _FACE_XYZ.T, axis=-1)
    dots = np.einsum("nd,ned->ne", p, _FACE_EDGE_N[face])
    ang = np.arcsin(np.clip(dots, 0, 1)).min(axis=1)
    return ang * EARTH_RADIUS_M
