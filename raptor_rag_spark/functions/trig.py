"""Twin sin/cos + haversine chord distance — bit-identical Spark / DuckDB / Python.

Same by-construction philosophy as sqlgen.exp_col/ln_col: never call the
engine's native sin/cos (libm versions differ in the last ulp across engines),
build them from +,-,*,/ and floor in a PINNED operation order so both engines
produce the same IEEE-754 doubles.

Domain: |x| ≤ 4 (covers [-π, π] with slack) — all the geodesic math needs,
since latitudes are in [-π/2, π/2] and half-angle deltas in [-π, π]. Range
reduction is one exact-split quarter-turn fold: k = floor(x·2/π + 0.5) ∈
[-3, 3], y = (x - k·PIO2_HI) - k·PIO2_LO with |y| ≤ π/4, then the quadrant
CASE maps sin(x) onto ±sin(y)/±cos(y). The y-polynomials are plain Taylor in
Horner form (9 terms; truncation < 1e-16 at |y| ≤ π/4, far below the 6-dp
oracle comparison and comparable to the twins' shared rounding).

Haversine: a = sin²(Δφ/2) + cosφ₁·cosφ₂·sin²(Δλ/2). We report the CHORD
distance 2R·√a (the through-sphere Euclidean metric, = 2R·sin(c/2)) — it is
a true metric, strictly monotone in great-circle distance, and needs no
asin/atan2 twin. SQL caveat as exp_sql: arguments are inlined many times —
pass simple column references only.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .hexgen import flit

TWO_OVER_PI = 0.6366197723675814
PIO2_HI = 1.5707963267341256  # high split of pi/2
PIO2_LO = 6.077100506506192e-11  # pi/2 - PIO2_HI (double-double tail)

def _fact(n: int) -> float:
    out = 1.0
    for i in range(2, n + 1):
        out *= i
    return out


_SIN_COEF = [((-1.0) ** n) / _fact(2 * n + 1) for n in range(9)]  # (-1)^n/(2n+1)!
_COS_COEF = [((-1.0) ** n) / _fact(2 * n) for n in range(9)]  # (-1)^n/(2n)!


# ---------------------------------------------------------------- Spark side

def _fold_col(x: Column) -> tuple[Column, Column]:
    """(k, y): quarter-turn fold. k is LONG, |y| <= pi/4."""
    k = F.floor(x * F.lit(TWO_OVER_PI) + F.lit(0.5)).cast("long")
    kd = k.cast("double")
    y = (x - kd * F.lit(PIO2_HI)) - kd * F.lit(PIO2_LO)
    return k, y


def _poly_col(y2: Column, coef: list[float]) -> Column:
    p = F.lit(coef[-1])
    for c in reversed(coef[:-1]):
        p = p * y2 + F.lit(c)
    return p


def _quadrant_mix(q: Column, s: Column, c: Column, a_map, b_map) -> Column:
    """a·s + b·c with per-quadrant flags — bit-identical to the 4-branch
    CASE (1·x = x, −1·x = −x, 0·x = ±0, and the inactive term's +0.0 is
    absorbed; the only representable difference is −0.0 → +0.0 at exact
    zeros, applied consistently in all three twins) while referencing each
    polynomial ONCE instead of twice — the same tree-size rationale as
    atan_col's flag arithmetic."""
    a = (
        F.when(q == 0, F.lit(a_map[0])).when(q == 1, F.lit(a_map[1]))
        .when(q == 2, F.lit(a_map[2])).otherwise(F.lit(a_map[3]))
    )
    b = (
        F.when(q == 0, F.lit(b_map[0])).when(q == 1, F.lit(b_map[1]))
        .when(q == 2, F.lit(b_map[2])).otherwise(F.lit(b_map[3]))
    )
    return a * s + b * c


def sin_col(x: Column) -> Column:
    """Twin sine for |x| <= 4 as a Spark Column."""
    k, y = _fold_col(x)
    y2 = y * y
    s = y * _poly_col(y2, _SIN_COEF)
    c = _poly_col(y2, _COS_COEF)
    q = ((k % 4) + 4) % 4
    return _quadrant_mix(q, s, c, (1.0, 0.0, -1.0, 0.0), (0.0, 1.0, 0.0, -1.0))


def cos_col(x: Column) -> Column:
    """Twin cosine for |x| <= 4 as a Spark Column."""
    k, y = _fold_col(x)
    y2 = y * y
    s = y * _poly_col(y2, _SIN_COEF)
    c = _poly_col(y2, _COS_COEF)
    q = ((k % 4) + 4) % 4
    return _quadrant_mix(q, s, c, (0.0, -1.0, 0.0, 1.0), (1.0, 0.0, -1.0, 0.0))


def chord_dist_col(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column, radius: float = 1.0
) -> Column:
    """Haversine chord distance 2R·√a as a Spark Column (pinned op order)."""
    sdlat = sin_col((lat2 - lat1) * F.lit(0.5))
    sdlon = sin_col((lon2 - lon1) * F.lit(0.5))
    a = sdlat * sdlat + cos_col(lat1) * cos_col(lat2) * (sdlon * sdlon)
    return F.lit(2.0 * radius) * F.sqrt(a)


# ---------------------------------------------------------------- DuckDB side

def _fold_sql(x: str) -> tuple[str, str]:
    k = f"CAST(floor(({x}) * {flit(TWO_OVER_PI)} + 0.5) AS BIGINT)"
    kd = f"CAST({k} AS DOUBLE)"
    y = f"((({x}) - {kd} * {flit(PIO2_HI)}) - {kd} * {flit(PIO2_LO)})"
    return k, y


def _poly_sql(y2: str, coef: list[float]) -> str:
    p = flit(coef[-1])
    for c in reversed(coef[:-1]):
        p = f"({p} * {y2} + {flit(c)})"
    return p


def sin_sql(x: str) -> str:
    """Twin sine as DuckDB SQL. ``x`` MUST be a simple column reference."""
    from .sqlgen import check_inline_arg

    check_inline_arg("sin_sql", x=x)
    k, y = _fold_sql(x)
    y2 = f"({y} * {y})"
    s = f"({y} * {_poly_sql(y2, _SIN_COEF)})"
    c = _poly_sql(y2, _COS_COEF)
    q = f"((({k} % 4) + 4) % 4)"
    # flag arithmetic (see _quadrant_mix): each polynomial appears ONCE
    a = f"(CASE WHEN {q} = 0 THEN 1.0 WHEN {q} = 1 THEN 0.0 WHEN {q} = 2 THEN -1.0 ELSE 0.0 END)"
    b = f"(CASE WHEN {q} = 0 THEN 0.0 WHEN {q} = 1 THEN 1.0 WHEN {q} = 2 THEN 0.0 ELSE -1.0 END)"
    return f"({a} * {s} + {b} * {c})"


def cos_sql(x: str) -> str:
    """Twin cosine as DuckDB SQL. ``x`` MUST be a simple column reference."""
    from .sqlgen import check_inline_arg

    check_inline_arg("cos_sql", x=x)
    k, y = _fold_sql(x)
    y2 = f"({y} * {y})"
    s = f"({y} * {_poly_sql(y2, _SIN_COEF)})"
    c = _poly_sql(y2, _COS_COEF)
    q = f"((({k} % 4) + 4) % 4)"
    a = f"(CASE WHEN {q} = 0 THEN 0.0 WHEN {q} = 1 THEN -1.0 WHEN {q} = 2 THEN 0.0 ELSE 1.0 END)"
    b = f"(CASE WHEN {q} = 0 THEN 1.0 WHEN {q} = 1 THEN 0.0 WHEN {q} = 2 THEN -1.0 ELSE 0.0 END)"
    return f"({a} * {s} + {b} * {c})"


# ---------------------------------------------------------------- Python side

def _fold_py(x: float) -> tuple[int, float]:
    import math

    k = int(math.floor(x * TWO_OVER_PI + 0.5))
    y = (x - k * PIO2_HI) - k * PIO2_LO
    return k, y


def _poly_py(y2: float, coef: list[float]) -> float:
    p = coef[-1]
    for c in reversed(coef[:-1]):
        p = p * y2 + c
    return p


def sin_py(x: float) -> float:
    k, y = _fold_py(x)
    y2 = y * y
    s = y * _poly_py(y2, _SIN_COEF)
    c = _poly_py(y2, _COS_COEF)
    q = ((k % 4) + 4) % 4
    a = (1.0, 0.0, -1.0, 0.0)[q]
    b = (0.0, 1.0, 0.0, -1.0)[q]
    return a * s + b * c  # flag arithmetic — mirrors sin_col/sin_sql exactly


def cos_py(x: float) -> float:
    k, y = _fold_py(x)
    y2 = y * y
    s = y * _poly_py(y2, _SIN_COEF)
    c = _poly_py(y2, _COS_COEF)
    q = ((k % 4) + 4) % 4
    a = (0.0, -1.0, 0.0, 1.0)[q]
    b = (1.0, 0.0, -1.0, 0.0)[q]
    return a * s + b * c


def chord_dist_sql(lat1: str, lon1: str, lat2: str, lon2: str, radius: float = 1.0) -> str:
    """DuckDB twin of :func:`chord_dist_col`. Arguments should be simple
    column references or literals (they are inlined several times each).
    Tighter budget than the leaf generators: each arg is re-inlined through
    sin_sql/cos_sql, so the composed argument must still fit THEIR budget."""
    from .sqlgen import check_inline_arg

    check_inline_arg("chord_dist_sql", _limit=40, lat1=lat1, lon1=lon1, lat2=lat2, lon2=lon2)
    sdlat = sin_sql(f"((({lat2}) - ({lat1})) * 0.5)")
    sdlon = sin_sql(f"((({lon2}) - ({lon1})) * 0.5)")
    a = f"({sdlat} * {sdlat} + {cos_sql(lat1)} * {cos_sql(lat2)} * ({sdlon} * {sdlon}))"
    return f"({flit(2.0 * radius)} * sqrt({a}))"


# ---------------------------------------------------------------- twin atan / atan2

PI = 3.141592653589793
PI_2 = 1.5707963267948966
PI_4 = 0.7853981633974483
TAN_PI_8 = 0.41421356237309503  # sqrt(2) - 1

_ATAN_NC = 21  # series terms; |v| <= tan(pi/8) => truncation < 1e-17
_ATAN_COEF = [((-1.0) ** k) / (2 * k + 1) for k in range(_ATAN_NC)]


def _atan_core_py(v: float) -> float:
    v2 = v * v
    p = _ATAN_COEF[-1]
    for c in reversed(_ATAN_COEF[:-1]):
        p = p * v2 + c
    return v * p


def atan_py(t: float) -> float:
    """Twin arctangent: two-step reduction (reciprocal, then the pi/8 fold
    atan(u) = pi/4 + atan((u-1)/(u+1))) + alternating series in Horner form."""
    neg = t < 0.0
    a = -t if neg else t
    inv = a > 1.0
    u = 1.0 / a if inv else a
    fold = u > TAN_PI_8
    v = (u - 1.0) / (u + 1.0) if fold else u
    r = PI_4 + _atan_core_py(v) if fold else _atan_core_py(v)
    if inv:
        r = PI_2 - r
    return -r if neg else r


def atan2_py(y: float, x: float) -> float:
    if x > 0.0:
        return atan_py(y / x)
    if x < 0.0:
        return atan_py(y / x) + PI if y >= 0.0 else atan_py(y / x) - PI
    return PI_2 if y > 0.0 else (-PI_2 if y < 0.0 else 0.0)


def atan_col(t: Column) -> Column:
    """Branch selection as FLAG ARITHMETIC, not nested CASE: the three
    reduction branches each duplicate the whole series subtree under
    when/otherwise, multiplying the expression tree ~8x (measured 12 s of
    janino codegen per atan stage; ~1 s with flags). The flag forms are
    bit-identical in IEEE: fold·(π/4)+core ≡ (fold ? π/4+core : core)
    because 0·x=+0, +0+y=y for y ≥ +0 (core ≥ 0 whenever fold=0);
    (1−2·inv)·r + inv·(π/2) ≡ (inv ? π/2−r : r) because (−1)·r=−r,
    x−y=(−y)+x, r ≥ 0 here; (1−2·neg)·r2 ≡ (neg ? −r2 : r2). NaN flows
    through both forms identically (flags read 0, NaN propagates via core).
    atan_sql mirrors the identical arithmetic."""
    a = F.abs(t)
    invb = a > F.lit(1.0)
    u = F.when(invb, F.lit(1.0) / a).otherwise(a)
    foldb = u > F.lit(TAN_PI_8)
    v = F.when(foldb, (u - F.lit(1.0)) / (u + F.lit(1.0))).otherwise(u)
    v2 = v * v
    p = F.lit(_ATAN_COEF[-1])
    for c in reversed(_ATAN_COEF[:-1]):
        p = p * v2 + F.lit(c)
    core = v * p
    fold = F.when(foldb, F.lit(1.0)).otherwise(F.lit(0.0))
    inv = F.when(invb, F.lit(1.0)).otherwise(F.lit(0.0))
    neg = F.when(t < F.lit(0.0), F.lit(1.0)).otherwise(F.lit(0.0))
    r = fold * F.lit(PI_4) + core
    r2 = (F.lit(1.0) - F.lit(2.0) * inv) * r + inv * F.lit(PI_2)
    return (F.lit(1.0) - F.lit(2.0) * neg) * r2


def atan_pre_cols(t: Column) -> dict[str, Column]:
    """Stage-1 of the TWO-STAGE twin atan: the argument reduction (v) plus
    the three branch flags, meant to be projected as real columns before
    atan_post_col finishes the series.

    Why two stages: a single atan_col tree is ~1,900 Catalyst nodes (the
    21-term Horner chain re-inlines the reduction subtree at every v² ref),
    and any expression that references the atan RESULT more than once — e.g.
    atan2's quadrant CASE, where branch values are invisible to Spark's
    conditional-aware subexpression elimination — multiplies that to ~6,000
    nodes, whose single generated Java method exceeds the JVM's 64 KB
    bytecode-per-method limit (janino: "Code grows beyond 64 KB" →
    interpreted fallback; measured round-4, 36 compile failures across 18
    queries). With v/fold/inv/neg materialized, every Horner reference is a
    leaf column read, each projection stays a few hundred nodes, and
    consecutive Projects keep their own generated methods (v is non-cheap
    and referenced 43×, so CollapseProject cannot re-inline it). The
    arithmetic is bit-identical to atan_col — same ops, same order."""
    a = F.abs(t)
    invb = a > F.lit(1.0)
    u = F.when(invb, F.lit(1.0) / a).otherwise(a)
    foldb = u > F.lit(TAN_PI_8)
    v = F.when(foldb, (u - F.lit(1.0)) / (u + F.lit(1.0))).otherwise(u)
    fold = F.when(foldb, F.lit(1.0)).otherwise(F.lit(0.0))
    inv = F.when(invb, F.lit(1.0)).otherwise(F.lit(0.0))
    neg = F.when(t < F.lit(0.0), F.lit(1.0)).otherwise(F.lit(0.0))
    return {"v": v, "fold": fold, "inv": inv, "neg": neg}


def atan_post_col(v: Column, fold: Column, inv: Column, neg: Column) -> Column:
    """Stage-2 of the two-stage twin atan: Horner series + flag arithmetic
    over the STAGED reduction columns (see atan_pre_cols). Identical IEEE
    op sequence to atan_col's tail."""
    v2 = v * v
    p = F.lit(_ATAN_COEF[-1])
    for c in reversed(_ATAN_COEF[:-1]):
        p = p * v2 + F.lit(c)
    core = v * p
    r = fold * F.lit(PI_4) + core
    r2 = (F.lit(1.0) - F.lit(2.0) * inv) * r + inv * F.lit(PI_2)
    return (F.lit(1.0) - F.lit(2.0) * neg) * r2


def append_atan(df, t: Column, out: str, keep: list[str] | None = None):
    """df → df with ``out`` = twin atan(t), computed through two chained
    projections (atan_pre_cols → atan_post_col) so every generated method
    stays far under the 64 KB bytecode limit. ``keep`` limits the carried
    columns (default: all existing)."""
    cols = keep if keep is not None else list(df.columns)
    pre = atan_pre_cols(t)
    staged = df.select(
        *cols, *[c.alias(f"__at_{k}__") for k, c in pre.items()]
    )
    return staged.select(
        *cols,
        atan_post_col(
            F.col("__at_v__"), F.col("__at_fold__"), F.col("__at_inv__"), F.col("__at_neg__")
        ).alias(out),
    )


def quadrant_col(base: Column, y: Column, x: Column) -> Column:
    """atan2's quadrant correction over a STAGED atan(y/x) result ``base``
    (a leaf column ref, so the three branch copies cost 3 column reads, not
    3 series trees). Identical CASE structure to atan2_col's tail."""
    return (
        F.when(x > F.lit(0.0), base)
        .when((x < F.lit(0.0)) & (y >= F.lit(0.0)), base + F.lit(PI))
        .when(x < F.lit(0.0), base - F.lit(PI))
        .when(y > F.lit(0.0), F.lit(PI_2))
        .when(y < F.lit(0.0), F.lit(-PI_2))
        .otherwise(F.lit(0.0))
    )


def append_atan2(df, y_col: str, x_col: str, out: str, keep: list[str] | None = None):
    """df → df with ``out`` = twin atan2(y, x) through three chained
    projections: ratio → staged atan → quadrant CASE. ``y_col``/``x_col``
    MUST be existing column names (leaf refs — wide trees belong in their
    own projection before this call)."""
    cols = keep if keep is not None else list(df.columns)
    carry = list(dict.fromkeys([*cols, y_col, x_col]))
    ratio = df.select(*carry, (F.col(y_col) / F.col(x_col)).alias("__at_t__"))
    at = append_atan(ratio, F.col("__at_t__"), "__at_base__", keep=carry)
    result = at.select(
        *cols,
        quadrant_col(F.col("__at_base__"), F.col(y_col), F.col(x_col)).alias(out),
    )
    return result


def append_asin(df, z_col: str, out: str, keep: list[str] | None = None):
    """df → df with ``out`` = twin asin(z) = atan2(z, sqrt((1−z)(1+z)))
    through staged projections; ``z_col`` must be an existing column name."""
    cols = keep if keep is not None else list(df.columns)
    carry = list(dict.fromkeys([*cols, z_col]))
    staged = df.select(
        *carry,
        F.sqrt(
            F.greatest(
                (F.lit(1.0) - F.col(z_col)) * (F.lit(1.0) + F.col(z_col)), F.lit(0.0)
            )
        ).alias("__asx__"),
    )
    return append_atan2(staged, z_col, "__asx__", out, keep=cols)


def atan2_col(y: Column, x: Column) -> Column:
    base = atan_col(y / x)
    return (
        F.when(x > F.lit(0.0), base)
        .when((x < F.lit(0.0)) & (y >= F.lit(0.0)), base + F.lit(PI))
        .when(x < F.lit(0.0), base - F.lit(PI))
        .when(y > F.lit(0.0), F.lit(PI_2))
        .when(y < F.lit(0.0), F.lit(-PI_2))
        .otherwise(F.lit(0.0))
    )


def atan_sql(t: str) -> str:
    """Twin arctangent as DuckDB SQL. ``t`` MUST be a simple column ref."""
    from .hexgen import flit
    from .sqlgen import check_inline_arg

    check_inline_arg("atan_sql", t=t)

    a = f"abs({t})"
    u = f"(CASE WHEN {a} > 1.0 THEN 1.0 / {a} ELSE {a} END)"
    # u appears many times; caller stages t, we accept the textual blowup of
    # one level (u is small). v likewise. Branch selection is FLAG
    # ARITHMETIC, bit-identical to the nested-CASE form (see atan_col) —
    # CASE branches would duplicate the whole series text ~8x (3.2 MB vs
    # 0.4 MB oracle SQL for a geodesy query).
    v = f"(CASE WHEN {u} > {flit(TAN_PI_8)} THEN ({u} - 1.0) / ({u} + 1.0) ELSE {u} END)"
    v2 = f"({v} * {v})"
    p = flit(_ATAN_COEF[-1])
    for c in reversed(_ATAN_COEF[:-1]):
        p = f"({p} * {v2} + {flit(c)})"
    core = f"({v} * {p})"
    fold = f"(CASE WHEN {u} > {flit(TAN_PI_8)} THEN 1.0 ELSE 0.0 END)"
    inv = f"(CASE WHEN {a} > 1.0 THEN 1.0 ELSE 0.0 END)"
    neg = f"(CASE WHEN ({t}) < 0.0 THEN 1.0 ELSE 0.0 END)"
    r = f"({fold} * {flit(PI_4)} + {core})"
    r2 = f"((1.0 - 2.0 * {inv}) * {r} + {inv} * {flit(PI_2)})"
    return f"((1.0 - 2.0 * {neg}) * {r2})"


def atan2_sql(y: str, x: str, ratio_alias: str = "atr") -> tuple[str, str]:
    """(stage_expr, result_expr): the ratio y/x must be STAGED as a column
    named ``ratio_alias`` (atan_sql repeats its argument heavily), then the
    quadrant CASE applies. Usage:
        WITH s AS (SELECT *, {stage} AS atr FROM ...)
        SELECT {result} FROM s
    """
    from .hexgen import flit
    from .sqlgen import check_inline_arg

    check_inline_arg("atan2_sql", y=y, x=x)

    stage = f"(({y}) / ({x}))"
    base = atan_sql(ratio_alias)
    result = (
        f"(CASE WHEN ({x}) > 0.0 THEN {base} "
        f"WHEN ({x}) < 0.0 AND ({y}) >= 0.0 THEN {base} + {flit(PI)} "
        f"WHEN ({x}) < 0.0 THEN {base} - {flit(PI)} "
        f"WHEN ({y}) > 0.0 THEN {flit(PI_2)} "
        f"WHEN ({y}) < 0.0 THEN {flit(-PI_2)} ELSE 0.0 END)"
    )
    return stage, result


# ---------------------------------------------------------------- twin asin

def asin_py(z: float) -> float:
    """Twin arcsine via asin(z) = atan2(z, sqrt((1-z)(1+z))) — composes the
    twin atan2; the factored radicand is the numerically stable form.
    math.sqrt, NOT ``** 0.5``: pow(x, 0.5) is one ulp off true sqrt on some
    inputs, and the engines use true (correctly rounded) sqrt."""
    import math

    return atan2_py(z, math.sqrt(max((1.0 - z) * (1.0 + z), 0.0)))


def asin_sql(z: str, x_alias: str = "asx", ratio_alias: str = "atr") -> tuple[str, str, str]:
    """(x_stage, ratio_stage, result): stage sqrt((1-z)(1+z)) as ``x_alias``,
    then the atan2 ratio as ``ratio_alias``, then select the result —
    mirrors atan2_sql's staging contract."""
    x_stage = f"sqrt(greatest((1.0 - ({z})) * (1.0 + ({z})), 0.0))"
    ratio_stage, result = atan2_sql(z, x_alias, ratio_alias)
    return x_stage, ratio_stage, result
