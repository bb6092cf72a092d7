"""WKB + PIP kernel tests (analytic polygons: convex, concave, holes)."""

import numpy as np

from gjspark.functions import geometry as G

SHELL = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], float)
HOLE = np.array([[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]], float)
CONCAVE = np.array([[0, 0], [10, 0], [10, 10], [5, 5], [0, 10], [0, 0]], float)


def test_wkb_roundtrip():
    wkb = G.polygon_wkb([SHELL, HOLE])
    t, rings = G.parse_wkb(wkb)
    assert t == "Polygon"
    assert len(rings) == 2
    assert (rings[0] == SHELL).all() and (rings[1] == HOLE).all()

    mp = G.multipolygon_wkb([[SHELL], [CONCAVE + 20]])
    t2, polys = G.parse_wkb(mp)
    assert t2 == "MultiPolygon" and len(polys) == 2

    pt = G.point_wkb(1.5, -2.5)
    t3, xy = G.parse_wkb(pt)
    assert t3 == "Point" and xy == (1.5, -2.5)


def test_pip_square_with_hole():
    ps = G.PolygonSet(["sq"], [G.polygon_wkb([SHELL, HOLE])])
    px = np.array([5.0, 2.0, 11.0, 5.0, -1.0])
    py = np.array([5.0, 2.0, 5.0, 9.0, 5.0])
    m = ps.contains(px, py)[0]
    assert m.tolist() == [False, True, False, True, False]


def test_pip_concave():
    ps = G.PolygonSet(["cc"], [G.polygon_wkb([CONCAVE])])
    px = np.array([5.0, 0.5, 9.5, 5.0])
    py = np.array([2.0, 9.0, 9.0, 8.0])
    m = ps.contains(px, py)[0]
    # (5,8) is inside the notch -> outside the polygon
    assert m.tolist() == [True, True, True, False]


def test_pip_multipolygon_and_pairs():
    ps = G.PolygonSet(
        ["a", "b"],
        [G.polygon_wkb([SHELL]), G.multipolygon_wkb([[SHELL + 20], [CONCAVE + 50]])],
    )
    px = np.array([5.0, 25.0, 52.0, 200.0])
    py = np.array([5.0, 25.0, 51.0, 200.0])
    pt, po = ps.match_points(px, py)
    pairs = set(zip(pt.tolist(), po.tolist()))
    assert pairs == {(0, 0), (1, 1), (2, 1)}



def _dense_pairs(ps, px, py):
    return sorted(
        (p, i) for p, m in enumerate(ps.contains(px, py)) for i in np.nonzero(m)[0]
    )


def _star(rng, cx, cy, r, n):
    a = np.sort(rng.uniform(0, 2 * np.pi, n))
    ring = np.c_[cx + r * np.cos(a), cy + r * np.sin(a)] * rng.uniform(0.3, 1.0, (n, 1))
    ring = np.round(ring * 8) / 8  # on the point grid: vertex and edge hits
    return np.vstack([ring, ring[:1]])


def test_match_points_equals_dense_contains():
    """The sparse kernels (``match_points`` and ``refine_pairs`` on explicit
    candidate pairs) give exactly the dense kernel's pairs: holes,
    MultiPolygons (one of them empty), grid-snapped boundary points, non-finite points, tall
    and wide strips (both sweep axes) and every chunk size."""
    rng = np.random.default_rng(0)
    for trial in range(12):
        wkbs = []
        for _ in range(int(rng.integers(1, 30))):
            cx, cy = rng.uniform(0, 10, 2)
            r = rng.uniform(0.2, 3)
            kind = rng.integers(4)
            if kind == 0:
                wkbs.append(G.polygon_wkb([_star(rng, cx, cy, r, int(rng.integers(3, 30)))]))
            elif kind == 1:
                wkbs.append(G.polygon_wkb([_star(rng, cx, cy, r, 12), _star(rng, cx, cy, r / 3, 6)]))
            elif kind == 2:
                wkbs.append(G.multipolygon_wkb(
                    [[_star(rng, cx, cy, r, 8)], [_star(rng, cx + 1, cy, r, 9)]]))
            else:  # a strip spanning the box on one axis
                w, lo = rng.uniform(0.1, 1), rng.uniform(0, 9)
                box = [[-1, lo], [11, lo], [11, lo + w], [-1, lo + w], [-1, lo]]
                if trial % 2:
                    box = [[y, x] for x, y in box]
                wkbs.append(G.polygon_wkb([np.array(box, float)]))
        wkbs.append(G.multipolygon_wkb([]))  # empty: no bbox, never matches
        ps = G.PolygonSet([str(i) for i in range(len(wkbs))], wkbs)
        px = np.round(rng.uniform(-1, 11, 400) * 8) / 8
        py = np.round(rng.uniform(-1, 11, 400) * 8) / 8
        px[:4], py[4:7], px[7] = np.nan, np.inf, -np.inf
        exp = _dense_pairs(ps, px, py)
        for budget in (1, 7, 1 << 18):
            pt, po = ps.match_points(px, py, budget=budget)
            assert list(zip(po.tolist(), pt.tolist())) == exp, (trial, budget)
        # explicit candidate pairs: random ones (mostly outside the bbox),
        # every non-finite point and every point against the empty polygon
        n_poly = len(wkbs)
        pt = np.concatenate([
            rng.integers(0, len(px), 2000), np.repeat(np.arange(8), n_poly),
            np.arange(len(px)),
        ])
        po = np.concatenate([
            rng.integers(0, n_poly, 2000), np.tile(np.arange(n_poly), 8),
            np.full(len(px), n_poly - 1),
        ])
        dense = np.array(ps.contains(px, py))
        keep = dense[po, pt]
        for budget in (1, 7, 1 << 18):
            hit_pt, hit_po = ps.refine_pairs(px, py, pt, po, budget=budget)
            assert hit_pt.tolist() == pt[keep].tolist(), (trial, budget)
            assert hit_po.tolist() == po[keep].tolist(), (trial, budget)


def test_match_points_memory_is_sparse():
    """20k small polygons x 10k points: the dense kernel's per-polygon
    masks would be 20k x 10k int64 (1.6 GB); the sparse kernel stays
    within a few MB of working memory."""
    import tracemalloc

    rng = np.random.default_rng(1)
    n_poly, n_pts = 20_000, 10_000
    xs, ys = rng.uniform(0, 100, n_poly), rng.uniform(0, 50, n_poly)
    sq = np.array([[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]], float) * 0.05
    ps = G.PolygonSet(
        range(n_poly), [G.polygon_wkb([sq + (x, y)]) for x, y in zip(xs, ys)]
    )
    px, py = rng.uniform(0, 100, n_pts), rng.uniform(0, 50, n_pts)
    tracemalloc.start()
    pt, po = ps.match_points(px, py)
    peak = tracemalloc.get_traced_memory()[1]
    tracemalloc.stop()
    assert peak < 32 * 2**20, peak
    inside = (px[pt] >= xs[po]) & (px[pt] <= xs[po] + 0.05)
    inside &= (py[pt] >= ys[po]) & (py[pt] <= ys[po] + 0.05)
    assert inside.all()
    # every point in some square's interior is found
    hit = np.zeros(n_pts, dtype=bool)
    hit[pt] = True
    for i in np.nonzero(~hit)[0][:200]:
        dx, dy = px[i] - xs, py[i] - ys
        assert not ((dx > 0) & (dx < 0.05) & (dy > 0) & (dy < 0.05)).any()


def test_haversine():
    d = G.haversine_m(52.52, 13.405, 48.8566, 2.3522)
    assert abs(d / 1000 - 878) < 2
    assert G.haversine_m(10.0, 20.0, 10.0, 20.0) == 0.0
