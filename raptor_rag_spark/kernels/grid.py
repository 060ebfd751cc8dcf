"""Hierarchical quadkey cell grid ("H3/S2-style") + point-in-polygon kernels.

The north rule requires an H3/S2-style hierarchical spatial index built from
scratch. We use a quadkey grid over the unit square [0,1]^2 with 64-bit cell
ids laid out as::

    cell_id = (res << 58) | (ix << 29) | iy        res in [0,28]

where ``ix, iy = floor(coord * 2**res)`` (clamped). This layout makes every
hierarchy operation *pure integer bit arithmetic*:

    parent(cell)  = ((res-1) << 58) | ((ix >> 1) << 29) | (iy >> 1)
    children(cell) = 4 combinations of (ix*2 + {0,1}, iy*2 + {0,1})

so in the Spark layer parent/child joins are Catalyst column expressions —
prunable, codegen'd, never a UDF (SURVEY.md §4.2). A resolution level ``r``
plays the role of RAPTOR tree layer ``r_max - r`` (reference:
raptor/cluster_tree_builder.py:84-129 — each loop iteration builds one coarser
layer).

Soft multi-cell assignment (the GMM ``prob > threshold`` recast, reference:
raptor/cluster_utils.py:46-52): a point is always assigned its home cell, and
additionally any 8-neighbor cell whose boundary polygon, expanded by a buffer
``eps`` (the "softness" threshold), passes the exact ray-cast point-in-polygon
test. ``threshold -> eps`` so a higher threshold = tighter membership, like the
reference's probability threshold.
"""

from __future__ import annotations

import numpy as np

RES_SHIFT = 58
COORD_BITS = 29
COORD_MASK = (1 << COORD_BITS) - 1
MAX_RES = 28


def cell_encode(x, y, res: int):
    """Encode coordinates in [0,1] to cell ids. Vectorized over x/y arrays."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    n = np.int64(1) << res
    ix = np.clip(np.floor(np.asarray(x, dtype=np.float64) * n).astype(np.int64), 0, n - 1)
    iy = np.clip(np.floor(np.asarray(y, dtype=np.float64) * n).astype(np.int64), 0, n - 1)
    return (np.int64(res) << RES_SHIFT) | (ix << COORD_BITS) | iy


def cell_decode(cell):
    """cell id(s) -> (res, ix, iy)."""
    cell = np.asarray(cell, dtype=np.int64)
    res = (cell >> RES_SHIFT).astype(np.int64)
    ix = (cell >> COORD_BITS) & COORD_MASK
    iy = cell & COORD_MASK
    return res, ix, iy


def cell_parent(cell, steps: int = 1):
    """Parent cell ``steps`` resolutions coarser. Pure bit arithmetic."""
    res, ix, iy = cell_decode(cell)
    if np.any(res - steps < 0):
        raise ValueError("cannot take parent above resolution 0")
    return ((res - steps) << RES_SHIFT) | ((ix >> steps) << COORD_BITS) | (iy >> steps)


def cell_children(cell: int) -> list[int]:
    """The 4 child cells one resolution finer."""
    res, ix, iy = cell_decode(cell)
    res, ix, iy = int(res), int(ix), int(iy)
    if res + 1 > MAX_RES:
        raise ValueError("cannot take children below MAX_RES")
    out = []
    for dx in (0, 1):
        for dy in (0, 1):
            out.append(((res + 1) << RES_SHIFT) | ((ix * 2 + dx) << COORD_BITS) | (iy * 2 + dy))
    return out


def cell_neighbors(cell: int, include_self: bool = False) -> list[int]:
    """Up to 8 edge/corner neighbors at the same resolution (grid-clipped)."""
    res, ix, iy = cell_decode(cell)
    res, ix, iy = int(res), int(ix), int(iy)
    n = 1 << res
    out = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            if dx == 0 and dy == 0 and not include_self:
                continue
            jx, jy = ix + dx, iy + dy
            if 0 <= jx < n and 0 <= jy < n:
                out.append((res << RES_SHIFT) | (jx << COORD_BITS) | jy)
    return out


def cell_bounds(cell: int) -> tuple[float, float, float, float]:
    """(x0, y0, x1, y1) of the cell square."""
    res, ix, iy = cell_decode(cell)
    res, ix, iy = int(res), int(ix), int(iy)
    size = 1.0 / (1 << res)
    return (ix * size, iy * size, (ix + 1) * size, (iy + 1) * size)


def cell_boundary(cell: int, buffer: float = 0.0) -> np.ndarray:
    """Boundary ring (CCW, 4 vertices, not closed) optionally buffered out."""
    x0, y0, x1, y1 = cell_bounds(cell)
    b = float(buffer)
    return np.array(
        [[x0 - b, y0 - b], [x1 + b, y0 - b], [x1 + b, y1 + b], [x0 - b, y1 + b]],
        dtype=np.float64,
    )


def point_in_polygon(xs, ys, ring: np.ndarray) -> np.ndarray:
    """Exact even-odd ray-cast PIP test, vectorized over points.

    xs, ys: (n,) arrays; ring: (m, 2) polygon vertices (not closed).
    Returns (n,) bool. Standard crossing-number algorithm; boundary points
    follow the half-open convention of the crossing test.
    """
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    ring = np.asarray(ring, dtype=np.float64)
    inside = np.zeros(xs.shape, dtype=bool)
    m = len(ring)
    j = m - 1
    for i in range(m):
        xi, yi = ring[i]
        xj, yj = ring[j]
        crosses = (yi > ys) != (yj > ys)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_at_y = (xj - xi) * (ys - yi) / (yj - yi) + xi
        inside ^= crosses & (xs < x_at_y)
        j = i
    return inside


def soft_cell_assign(xs, ys, res: int, buffer: float) -> list[np.ndarray]:
    """Soft multi-cell assignment: home cell + buffered-PIP neighbor cells.

    Returns one int64 array of cell ids per point (sorted, home cell always
    first in sort order semantics is irrelevant — arrays are sorted+deduped,
    mirroring the set-of-labels shape of raptor/cluster_utils.py:51).
    """
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    home = cell_encode(xs, ys, res)
    out: list[np.ndarray] = []
    ring_cache: dict[int, np.ndarray] = {}
    for k in range(len(xs)):
        cells = [int(home[k])]
        if buffer > 0.0:
            for nb in cell_neighbors(int(home[k])):
                ring = ring_cache.get(nb)
                if ring is None:
                    ring = cell_boundary(nb, buffer)
                    ring_cache[nb] = ring
                if point_in_polygon(xs[k : k + 1], ys[k : k + 1], ring)[0]:
                    cells.append(nb)
        out.append(np.array(sorted(set(cells)), dtype=np.int64))
    return out
