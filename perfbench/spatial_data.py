"""Seeded spatial inputs and their NumPy oracle.

Points: half uniform over the world, half in Gaussian hot spots.
Polygons: convex hexagons (an affine image of a regular hexagon, so
always convex), small, placed the same way. Geometries are encoded as
little-endian WKB here, independently of the package's encoder.
"""

from __future__ import annotations

import numpy as np

N_POINTS = 100_000
N_POLYGONS = 4_000
N_HOTSPOTS = 16
POLY_VERTS = 6
WORLD = (-180.0, -85.0, 180.0, 85.0)

_POINT = np.dtype([("bo", "u1"), ("typ", "<u4"), ("x", "<f8"), ("y", "<f8")])


def _places(rng, n: int, centers: np.ndarray, sigma: np.ndarray) -> tuple:
    half = n // 2
    x = np.empty(n)
    y = np.empty(n)
    x[:half] = rng.uniform(WORLD[0], WORLD[2], half)
    y[:half] = rng.uniform(WORLD[1], WORLD[3], half)
    h = rng.integers(0, len(centers), n - half)
    x[half:] = rng.normal(centers[h, 0], sigma[h])
    y[half:] = rng.normal(centers[h, 1], sigma[h])
    return (np.clip(x, WORLD[0] + 1, WORLD[2] - 1),
            np.clip(y, WORLD[1] + 1, WORLD[3] - 1))


class SpatialData:
    def __init__(self, seed: int, n_points: int = N_POINTS, n_polygons: int = N_POLYGONS):
        rng = np.random.default_rng([seed, 101])
        centers = np.column_stack([rng.uniform(-150, 150, N_HOTSPOTS),
                                   rng.uniform(-60, 60, N_HOTSPOTS)])
        sigma = rng.uniform(0.5, 3.0, N_HOTSPOTS)
        self.px, self.py = _places(rng, n_points, centers, sigma)
        cx, cy = _places(rng, n_polygons, centers, sigma)
        # affine image of a regular hexagon: scale, then rotate
        ang = np.linspace(0, 2 * np.pi, POLY_VERTS, endpoint=False)
        sx = rng.uniform(0.02, 0.3, n_polygons)[:, None]
        sy = sx * rng.uniform(0.5, 1.5, n_polygons)[:, None]
        rot = rng.uniform(0, np.pi, n_polygons)[:, None]
        ux, uy = np.cos(ang)[None, :] * sx, np.sin(ang)[None, :] * sy
        self.vx = cx[:, None] + ux * np.cos(rot) - uy * np.sin(rot)
        self.vy = cy[:, None] + ux * np.sin(rot) + uy * np.cos(rot)

    # ------------------------------------------------------------ encoding

    def point_wkb(self) -> list[bytes]:
        rec = np.zeros(len(self.px), dtype=_POINT)
        rec["bo"], rec["typ"], rec["x"], rec["y"] = 1, 1, self.px, self.py
        raw = rec.tobytes()
        s = _POINT.itemsize
        return [raw[i * s:(i + 1) * s] for i in range(len(self.px))]

    def polygon_wkb(self) -> list[bytes]:
        n, k = self.vx.shape
        head = np.array([1], "u1").tobytes() + np.array([3, 1, k + 1], "<u4").tobytes()
        ring = np.empty((n, k + 1, 2))
        ring[:, :k, 0], ring[:, :k, 1] = self.vx, self.vy
        ring[:, k] = ring[:, 0]
        raw = ring.astype("<f8").tobytes()
        s = (k + 1) * 16
        return [head + raw[i * s:(i + 1) * s] for i in range(n)]

    # ------------------------------------------------------------ oracle

    def points_in(self, w) -> np.ndarray:
        xmin, ymin, xmax, ymax = w
        return ((self.px >= xmin) & (self.px <= xmax)
                & (self.py >= ymin) & (self.py <= ymax))

    def polygons_intersecting(self, w) -> np.ndarray:
        """Separating-axis test of each convex polygon against the
        rectangle ``w``: the window's two axes, then every edge normal."""
        xmin, ymin, xmax, ymax = w
        hit = ((self.vx.max(1) >= xmin) & (self.vx.min(1) <= xmax)
               & (self.vy.max(1) >= ymin) & (self.vy.min(1) <= ymax))
        corners = np.array([[xmin, ymin], [xmax, ymin], [xmax, ymax], [xmin, ymax]])
        ex = np.roll(self.vx, -1, axis=1) - self.vx
        ey = np.roll(self.vy, -1, axis=1) - self.vy
        for j in range(self.vx.shape[1]):
            nx, ny = -ey[:, j], ex[:, j]
            pp = self.vx * nx[:, None] + self.vy * ny[:, None]
            cp = corners[:, 0][None, :] * nx[:, None] + corners[:, 1][None, :] * ny[:, None]
            hit &= (pp.max(1) >= cp.min(1)) & (cp.max(1) >= pp.min(1))
        return hit

    def join_pairs(self, w) -> int:
        """Pairs (point in ``w``, polygon intersecting ``w``) where the
        point lies in the polygon (boundary included)."""
        pts = np.flatnonzero(self.points_in(w))
        x, y = self.px[pts], self.py[pts]
        total = 0
        for q in np.flatnonzero(self.polygons_intersecting(w)):
            vx, vy = self.vx[q], self.vy[q]
            m = ((x >= vx.min()) & (x <= vx.max()) & (y >= vy.min()) & (y <= vy.max()))
            if not m.any():
                continue
            xs, ys = x[m], y[m]
            inside = np.ones(len(xs), bool)
            # rings are counter-clockwise (positive scales and a
            # rotation keep the hexagon's orientation): inside means
            # left of, or on, every edge
            for j in range(len(vx)):
                ax, ay = vx[j], vy[j]
                bx, by = vx[(j + 1) % len(vx)], vy[(j + 1) % len(vx)]
                inside &= (bx - ax) * (ys - ay) - (by - ay) * (xs - ax) >= 0
            total += int(inside.sum())
        return total

    def window(self, rng, share: float, polygons: bool = False):
        """A 2:1 window centred on a random point (or polygon vertex)
        and sized so it holds ``share`` of the points (or polygons).
        Sizing by rows, not by area, keeps an op's cost independent of
        whether it lands in a hot spot or in empty ocean."""
        if polygons:
            xs, ys = self.vx[:, 0], self.vy[:, 0]
        else:
            xs, ys = self.px, self.py
        i = rng.integers(0, len(xs))
        cx, cy = float(xs[i]), float(ys[i])
        target = max(1, round(share * len(xs)))
        lo, hi = 1e-7, 180.0
        for _ in range(50):
            h = (lo * hi) ** 0.5
            n = np.count_nonzero((np.abs(xs - cx) <= 2 * h) & (np.abs(ys - cy) <= h))
            if n < target:
                lo = h
            else:
                hi = h
        return (cx - 2 * hi, cy - hi, cx + 2 * hi, cy + hi)
