"""Hexagonal (H3-style) cell index — twin Spark-Column / DuckDB-SQL generators.

The north rule's spatial index is "H3/S2-style"; the engine's primary grid is
the quadkey square lattice (kernels/grid.py), and this module adds the genuine
HEXAGONAL lattice with the H3 semantics built from scratch as pure column
arithmetic (reference analogue: the per-layer cluster hierarchy of
raptor/cluster_tree_builder.py:84-129 — a coarser hex resolution plays the
role of a coarser RAPTOR layer):

- **axial coordinates** ``(q, r)`` on a flat-top hex lattice of circumradius
  ``s = 0.125 / 2**res`` over the unit square;
- **point -> hex** via fractional axial coords + cube rounding, the standard
  exact assignment (every point belongs to exactly one hexagon);
- **hierarchy** exactly like H3's: ``parent(h)`` = the hexagon whose lattice
  contains h's CENTER one resolution coarser (hexagons don't tile into
  hexagons, so H3 parents by center containment — we do the same, which
  keeps parent() a closed-form expression);
- **neighbors**: the 6 axial offsets; hex distance is
  ``(|dq| + |dr| + |dq + dr|) / 2``.

Everything is emitted twice — once as a pyspark Column tree, once as DuckDB
SQL with the IDENTICAL operation order and float literals — so hex ids are
bit-identical across engines (same discipline as sqlgen.cell_col/cell_sql).
Ties in cube rounding use ``floor(v + 0.5)`` in both engines (no banker's
rounding divergence).

Cell id layout mirrors kernels/grid.py::

    hex_id = (res << 58) | ((q + OFF) << 29) | (r + OFF),  OFF = 1 << 27

q, r are offset to non-negative (axial r is negative for the lattice's lower
rows; OFF bounds |q|,|r| < 2**27, ample for res <= 20).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

RES_SHIFT = 58
COORD_BITS = 29
COORD_MASK = (1 << COORD_BITS) - 1
OFF = 1 << 27

SQRT3 = 1.7320508075688772  # float64 nearest to sqrt(3); shared literal

# the 6 axial neighbor offsets (flat-top), plus self first for k-ring-1 fans
AXIAL_NEIGHBORS = ((1, 0), (-1, 0), (0, 1), (0, -1), (1, -1), (-1, 1))



def flit(x: float) -> str:
    """Emit a float for DuckDB SQL in scientific notation, which DuckDB
    parses as DOUBLE (IEEE-correct). Plain decimal literals parse as
    DECIMAL(w,s), and DuckDB's DECIMAL->DOUBLE cast can differ from the
    IEEE-754 nearest double by one ulp (measured: 0.013531646934131853) —
    enough to flip floor()/comparison branches at constructed boundaries."""
    return f"{float(x):.17e}"


def hex_size(res: int) -> float:
    """Circumradius of the res-level hexagon (halves per resolution)."""
    if not 0 <= res <= 20:
        raise ValueError("hex res must be in [0, 20]")
    return 0.125 / float(1 << res)


def _axial_consts(res: int) -> tuple[float, float, float]:
    """(A, B, C): qf = x*A; rf = x*B + y*C. Python-float literals shared by
    both engines, so the fractional coords are bit-identical."""
    s = hex_size(res)
    a = 2.0 / (3.0 * s)
    b = -1.0 / (3.0 * s)
    c = SQRT3 / (3.0 * s)
    return a, b, c


# ---------------------------------------------------------------- Spark side

def _round_col(v: Column) -> Column:
    return F.floor(v + F.lit(0.5)).cast("long")


def hex_qr_cols(x: Column, y: Column, res: int) -> tuple[Column, Column]:
    """Axial (q, r) of the hexagon containing (x, y) — cube rounding."""
    a, b, c = _axial_consts(res)
    qf = x * F.lit(a)
    rf = x * F.lit(b) + y * F.lit(c)
    sf = -qf - rf
    qr, rr, sr = _round_col(qf), _round_col(rf), _round_col(sf)
    dq = F.abs(qr.cast("double") - qf)
    dr = F.abs(rr.cast("double") - rf)
    ds = F.abs(sr.cast("double") - sf)
    q_out = F.when((dq > dr) & (dq > ds), -rr - sr).otherwise(qr)
    r_out = F.when((dq > dr) & (dq > ds), rr).otherwise(
        F.when(dr > ds, -qr - sr).otherwise(rr)
    )
    return q_out, r_out


def hex_pack_cols(q: Column, r: Column, res: int) -> Column:
    return (
        F.shiftleft(F.lit(res).cast("long"), RES_SHIFT)
        .bitwiseOR(F.shiftleft(q + F.lit(OFF), COORD_BITS))
        .bitwiseOR(r + F.lit(OFF))
    )


def hex_cell_col(x: Column, y: Column, res: int) -> Column:
    q, r = hex_qr_cols(x, y, res)
    return hex_pack_cols(q, r, res)


def hex_center_cols(q: Column, r: Column, res: int) -> tuple[Column, Column]:
    """Center (cx, cy) of axial hex (q, r): cx = 1.5*s*q; cy = sqrt3*s*r +
    (sqrt3*s*0.5)*q. Literal-folded so the twin matches bit-for-bit."""
    s = hex_size(res)
    cx = q.cast("double") * F.lit(1.5 * s)
    cy = r.cast("double") * F.lit(SQRT3 * s) + q.cast("double") * F.lit(SQRT3 * s * 0.5)
    return cx, cy


def hex_parent_cols(q: Column, r: Column, res: int = 0) -> tuple[Column, Column]:
    """Axial (q, r) of the parent = hexagon at res-1 containing this hex's
    center (H3's center-containment parent, aperture 4 here).

    PURE INTEGER arithmetic: on the 2×-spaced parent lattice the child
    center's fractional axial coords are EXACTLY (q/2, r/2), so cube
    rounding reduces to integer halving + integer tie-break. This matters
    beyond speed: child centers land exactly on parent-cell boundaries
    (denominator-4 rationals), where any float formulation is one ulp away
    from flipping cells — DuckDB's DECIMAL literal parse differs from
    IEEE-754 parsing by exactly that ulp. Integer in, integer out: the twin
    is trivially bit-identical. ``res`` is unused (kept for call-site
    clarity; the rule is resolution-independent)."""
    qr = F.shiftright(q + F.lit(1), 1)
    rr = F.shiftright(r + F.lit(1), 1)
    sr = F.shiftright(F.lit(1) - q - r, 1)
    tq = F.abs(qr * F.lit(2) - q)
    tr = F.abs(rr * F.lit(2) - r)
    ts = F.abs(sr * F.lit(2) + q + r)
    big_q = (tq > tr) & (tq > ts)
    q_out = F.when(big_q, -rr - sr).otherwise(qr)
    r_out = F.when(big_q, rr).otherwise(F.when(tr > ts, -qr - sr).otherwise(rr))
    return q_out, r_out


def hex_parent_sql(q: str, r: str) -> tuple[str, str]:
    """DuckDB twin of :func:`hex_parent_cols` (integer arithmetic; ``q``/``r``
    should be simple column references)."""
    qr = f"((({q}) + 1) >> 1)"
    rr = f"((({r}) + 1) >> 1)"
    sr = f"((1 - ({q}) - ({r})) >> 1)"
    tq = f"abs({qr} * 2 - ({q}))"
    tr = f"abs({rr} * 2 - ({r}))"
    ts = f"abs({sr} * 2 + ({q}) + ({r}))"
    big_q = f"({tq} > {tr} AND {tq} > {ts})"
    q_out = f"(CASE WHEN {big_q} THEN -{rr} - {sr} ELSE {qr} END)"
    r_out = f"(CASE WHEN {big_q} THEN {rr} WHEN {tr} > {ts} THEN -{qr} - {sr} ELSE {rr} END)"
    return q_out, r_out


# ---------------------------------------------------------------- DuckDB side

def _round_sql(v: str) -> str:
    return f"floor(({v}) + 0.5)::BIGINT"


def hex_qr_sql(x: str, y: str, res: int) -> tuple[str, str]:
    """(q_expr, r_expr) — requires x/y to be simple column references (they
    are repeated several times; pass through a WITH stage first)."""
    a, b, c = _axial_consts(res)
    qf = f"(({x}) * {flit(a)})"
    rf = f"(({x}) * {flit(b)} + ({y}) * {flit(c)})"
    sf = f"(-{qf} - {rf})"
    qr, rr, sr = _round_sql(qf), _round_sql(rf), _round_sql(sf)
    dq = f"abs(({qr})::DOUBLE - {qf})"
    dr = f"abs(({rr})::DOUBLE - {rf})"
    ds = f"abs(({sr})::DOUBLE - {sf})"
    big_q = f"({dq} > {dr} AND {dq} > {ds})"
    q_out = f"(CASE WHEN {big_q} THEN -({rr}) - ({sr}) ELSE {qr} END)"
    r_out = (
        f"(CASE WHEN {big_q} THEN {rr} "
        f"WHEN {dr} > {ds} THEN -({qr}) - ({sr}) ELSE {rr} END)"
    )
    return q_out, r_out


def hex_pack_sql(q: str, r: str, res: int) -> str:
    return f"(({res}::BIGINT << {RES_SHIFT}) | ((({q}) + {OFF}) << {COORD_BITS}) | (({r}) + {OFF}))"


def hex_center_sql(q: str, r: str, res: int) -> tuple[str, str]:
    s = hex_size(res)
    cx = f"(({q})::DOUBLE * {flit(1.5 * s)})"
    cy = f"(({r})::DOUBLE * {flit(SQRT3 * s)} + ({q})::DOUBLE * {flit(SQRT3 * s * 0.5)})"
    return cx, cy


# -------------------------------------------------- packed-id parent (tree path)

def hex_parent_packed_col(cell: Column) -> Column:
    """Parent hex id from a PACKED hex id (the build_tree lattice hook):
    unpack (res, q, r), integer aperture-4 parent, repack at res−1 — the hex
    analogue of sqlgen.cell_parent_col's shift expression; still pure column
    arithmetic."""
    res = F.shiftrightunsigned(cell, RES_SHIFT)
    q = F.shiftrightunsigned(cell, COORD_BITS).bitwiseAND(F.lit(COORD_MASK)) - F.lit(OFF)
    r = cell.bitwiseAND(F.lit(COORD_MASK)) - F.lit(OFF)
    pq, pr = hex_parent_cols(q, r)
    return (
        F.shiftleft(res - F.lit(1), RES_SHIFT)
        .bitwiseOR(F.shiftleft(pq + F.lit(OFF), COORD_BITS))
        .bitwiseOR(pr + F.lit(OFF))
    )


def hex_parent_packed_py(cell: int) -> int:
    """Python twin of :func:`hex_parent_packed_col` (driver dirty-set hops)."""
    res = cell >> RES_SHIFT
    q = ((cell >> COORD_BITS) & COORD_MASK) - OFF
    r = (cell & COORD_MASK) - OFF
    qr, rr, sr = (q + 1) >> 1, (r + 1) >> 1, (1 - q - r) >> 1
    tq, tr, ts = abs(qr * 2 - q), abs(rr * 2 - r), abs(sr * 2 + q + r)
    if tq > tr and tq > ts:
        pq, pr = -rr - sr, rr
    elif tr > ts:
        pq, pr = qr, -qr - sr
    else:
        pq, pr = qr, rr
    return ((res - 1) << RES_SHIFT) | ((pq + OFF) << COORD_BITS) | (pr + OFF)
