"""Independent answers, computed in numpy from the generated inputs and never
through the engine.  Predicates are the interior/boundary-free forms the
engine's joins use; the generated coordinates are random floats, so no input
point lands on an edge."""

from __future__ import annotations

import numpy as np


def _ring_contains(ring: np.ndarray, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Even-odd ray cast of many points against one closed ring."""
    inside = np.zeros(px.shape, dtype=bool)
    xi, yi = ring[:-1, 0], ring[:-1, 1]
    xj, yj = ring[1:, 0], ring[1:, 1]
    for a, b, c, d in zip(xi, yi, xj, yj):
        crosses = (b > py) != (d > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xcross = (c - a) * (py - b) / (d - b) + a
        inside ^= crosses & (px < xcross)
    return inside


def points_in_rings(pts: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Per ring, the number of points strictly inside it."""
    order = np.argsort(pts[:, 0], kind="stable")
    xs, ys = pts[order, 0], pts[order, 1]
    out = np.zeros(len(rings), dtype=np.int64)
    for i, ring in enumerate(rings):
        lo, hi = np.searchsorted(xs, [ring[:, 0].min(), ring[:, 0].max()])
        cx, cy = xs[lo:hi], ys[lo:hi]
        keep = (cy > ring[:, 1].min()) & (cy < ring[:, 1].max())
        out[i] = int(_ring_contains(ring, cx[keep], cy[keep]).sum())
    return out


def pairs_within(a: np.ndarray, b: np.ndarray, r: float) -> tuple[int, int, int]:
    """(count, sum of a indices, sum of b indices) over pairs with
    distance <= r, found through an r-sized cell hash."""
    ka = np.floor(a / r).astype(np.int64)
    kb = np.floor(b / r).astype(np.int64)
    key_b = kb[:, 0] * 1_000_003 + kb[:, 1]
    order = np.argsort(key_b, kind="stable")
    sorted_keys = key_b[order]
    n, sa, sb = 0, 0, 0
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            key = (ka[:, 0] + dx) * 1_000_003 + (ka[:, 1] + dy)
            lo = np.searchsorted(sorted_keys, key, "left")
            hi = np.searchsorted(sorted_keys, key, "right")
            cnt = hi - lo
            ia = np.repeat(np.arange(len(a)), cnt)
            starts = np.repeat(lo - np.concatenate([[0], np.cumsum(cnt)[:-1]]), cnt)
            ib = order[starts + np.arange(cnt.sum())]
            d2 = ((a[ia] - b[ib]) ** 2).sum(axis=1)
            hit = d2 <= r * r
            n += int(hit.sum())
            sa += int(ia[hit].sum())
            sb += int(ib[hit].sum())
    return n, sa, sb


def _bboxes(rings: list[np.ndarray]) -> np.ndarray:
    return np.array([[r[:, 0].min(), r[:, 1].min(), r[:, 0].max(), r[:, 1].max()] for r in rings])


def polygon_pairs(ra: list[np.ndarray], rb: list[np.ndarray]) -> tuple[int, int, int]:
    """(count, sum a idx, sum b idx) over intersecting polygon pairs: some
    edges cross, or one polygon holds a vertex of the other."""
    ba, bb = _bboxes(ra), _bboxes(rb)
    ia_all, ib_all = [], []
    for s in range(0, len(ba), 512):
        blk = ba[s:s + 512]
        hit = ((blk[:, None, 0] <= bb[None, :, 2]) & (bb[None, :, 0] <= blk[:, None, 2])
               & (blk[:, None, 1] <= bb[None, :, 3]) & (bb[None, :, 1] <= blk[:, None, 3]))
        i, j = np.nonzero(hit)
        ia_all.append(i + s)
        ib_all.append(j)
    ia, ib = np.concatenate(ia_all), np.concatenate(ib_all)
    A = np.stack(ra)[ia]  # (P, n+1, 2) — every ring has the same vertex count
    B = np.stack(rb)[ib]
    p1, p2 = A[:, :-1, None, :], A[:, 1:, None, :]
    q1, q2 = B[:, None, :-1, :], B[:, None, 1:, :]

    def orient(o, p, q):
        return (p[..., 0] - o[..., 0]) * (q[..., 1] - o[..., 1]) - \
            (p[..., 1] - o[..., 1]) * (q[..., 0] - o[..., 0])

    cross = ((orient(p1, p2, q1) * orient(p1, p2, q2) < 0)
             & (orient(q1, q2, p1) * orient(q1, q2, p2) < 0)).any(axis=(1, 2))
    a_in_b = np.array([_ring_contains(B[k], A[k, :1, 0], A[k, :1, 1])[0] for k in range(len(A))],
                      dtype=bool) if len(A) else np.zeros(0, bool)
    b_in_a = np.array([_ring_contains(A[k], B[k, :1, 0], B[k, :1, 1])[0] for k in range(len(A))],
                      dtype=bool) if len(A) else np.zeros(0, bool)
    hit = cross | a_in_b | b_in_a
    return int(hit.sum()), int(ia[hit].sum()), int(ib[hit].sum())


def knn(left: np.ndarray, right: np.ndarray, k: int) -> list[set[int]]:
    """Exact k nearest right indices of each left point (brute force)."""
    out = []
    for p in left:
        d2 = ((right - p) ** 2).sum(axis=1)
        out.append(set(np.argpartition(d2, k)[:k].tolist()))
    return out


def tile_axis(v: np.ndarray, lo: float, hi: float, res: int) -> np.ndarray:
    """Tile index along one axis: truncation of the scaled offset, with the
    upper edge folded into the last tile."""
    span = hi - lo
    pix_d = (v - lo) / span * res
    pix = pix_d.astype(np.int64)
    pix = np.where(((v - lo) % span == 0.0) & (pix_d != 0.0), pix - 1, pix)
    return np.where(pix >= res, pix - 1, pix)


def zone_tile_counts(lon, lat, zones: np.ndarray, res: int) -> dict[tuple[int, int, int], int]:
    """(zone, tile_x, tile_y) -> points strictly inside the zone box."""
    tx, ty = tile_axis(lon, 0.0, 100.0, res), tile_axis(lat, 0.0, 100.0, res)
    out: dict[tuple[int, int, int], int] = {}
    for z, (x0, y0, x1, y1) in enumerate(zones):
        m = (lon > x0) & (lon < x1) & (lat > y0) & (lat < y1)
        keys, cnt = np.unique(np.column_stack([tx[m], ty[m]]), axis=0, return_counts=True)
        for (x, y), c in zip(keys.tolist(), cnt.tolist()):
            out[(z, x, y)] = c
    return out


def shingles(text: str, k: int = 5) -> set[str]:
    """Distinct character k-shingles; texts shorter than k are space-padded."""
    t = text if len(text) >= k else text.ljust(k)
    return {t[i:i + k] for i in range(len(t) - k + 1)}


def jaccard(a: str, b: str, k: int = 5) -> float:
    sa, sb = shingles(a, k), shingles(b, k)
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)


def components(n: int, pairs) -> np.ndarray:
    """Union-find labels: each node's component is its smallest member."""
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return np.array([find(i) for i in range(n)])
