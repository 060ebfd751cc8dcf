"""Twin-expression generators: one semantic, two engines, identical bits.

Every operator that needs a DuckDB correctness oracle is defined here ONCE as
a pair of generators — a PySpark ``Column`` builder and a DuckDB SQL string
builder — emitting the *same arithmetic in the same evaluation order* from the
same literals:

- floating point: only +, *, /, abs, floor and left-associative sums (SQL
  ``a + b + c`` parses left-assoc; we build the Spark Column the same way), so
  IEEE-754 doubles come out bit-identical in both engines;
- hashing: ``portable_hash63`` = first 15 hex chars of md5 as a 60-bit int
  (Spark ``conv(substr(md5(x),1,15),16,10)``, DuckDB ``('0x'||...)::BIGINT``);
- cell ids: pure 64-bit bit arithmetic (grid layout in kernels/grid.py).

This is what makes "100% match on join rows + tile assignments" checkable: the
oracle recomputes the full pipeline arithmetic, not an approximation of it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..kernels.distances import check_metric
from ..kernels.grid import COORD_BITS, RES_SHIFT
from ..kernels.reduce import projection_weights
from ..kernels.textstats import LANG_PROFILES, SHINGLE_N

TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"  # kernels/tokenizer.py regex
WORD_PATTERN = r"[a-z0-9]+"  # kernels/textstats.py WORD_RE


# ---------------------------------------------------------------- hashing

def hash63_col(col: Column) -> Column:
    """portable_hash63 as a Spark Column (60-bit int from md5 prefix).

    The hex→long parse is an unrolled ascii-arithmetic chain instead of
    ``conv(..., 16, 10)``: Spark's Conv expression serializes on shared
    state and measured 10x slower at 32 concurrent tasks (45s vs 4.8s per
    20M rows); the arithmetic chain is pure codegen and scales flat."""
    s = F.md5(col.cast("string"))
    acc = F.lit(0).cast("long")
    for i in range(1, 16):
        c = F.ascii(F.substring(s, i, 1))
        d = F.when(c >= 97, c - 87).otherwise(c - 48).cast("long")
        acc = acc * F.lit(16).cast("long") + d
    return acc


def hash63_sql(expr: str) -> str:
    return f"('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 15))::BIGINT"


# ---------------------------------------------------------------- tokens

def token_count_col(col: Column) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(TOKEN_PATTERN), 0))


def token_count_sql(expr: str) -> str:
    return f"len(regexp_extract_all({expr}, '{TOKEN_PATTERN}'))"


def words_col(col: Column) -> Column:
    """Lowercased word tokens (ARRAY<STRING>), = kernels.textstats.norm_tokens."""
    return F.regexp_extract_all(F.lower(col), F.lit(WORD_PATTERN), 0)


def words_sql(expr: str) -> str:
    return f"regexp_extract_all(lower({expr}), '{WORD_PATTERN}')"


# ---------------------------------------------------------------- xy projection

def _weights(dim: int) -> tuple[list[float], list[float]]:
    w = projection_weights(dim, 2)
    return w[0].tolist(), w[1].tolist()


def xy_cols(embedding: Column, dim: int) -> tuple[Column, Column]:
    """(x, y) Columns from an ARRAY<FLOAT> embedding — strict left-assoc fold,
    algebraic sigmoid 0.5 + z / (2 * (1 + |z|)). Matches kernels.reduce.project_xy."""
    wx, wy = _weights(dim)
    out = []
    for w in (wx, wy):
        z = F.lit(0.0)
        for i in range(dim):
            z = z + F.element_at(embedding, i + 1).cast("double") * F.lit(w[i])
        out.append(F.lit(0.5) + z / (F.lit(2.0) * (F.lit(1.0) + F.abs(z))))
    return out[0], out[1]


def xy_sql(embedding_expr: str, dim: int) -> tuple[str, str]:
    wx, wy = _weights(dim)
    out = []
    for w in (wx, wy):
        terms = " + ".join(
            f"CAST({embedding_expr}[{i + 1}] AS DOUBLE) * {w[i]!r}" for i in range(dim)
        )
        z = f"(0.0 + {terms})"
        out.append(f"(0.5 + {z} / (2.0 * (1.0 + abs({z}))))")
    return out[0], out[1]


# ---------------------------------------------------------------- cells

def cell_col(x: Column, y: Column, res: int) -> Column:
    """Quadkey cell id from coordinates — same bit layout as kernels.grid."""
    n = 1 << res
    ix = F.greatest(F.least(F.floor(x * F.lit(float(n))).cast("long"), F.lit(n - 1)), F.lit(0))
    iy = F.greatest(F.least(F.floor(y * F.lit(float(n))).cast("long"), F.lit(n - 1)), F.lit(0))
    return (
        F.shiftleft(F.lit(res).cast("long"), RES_SHIFT)
        .bitwiseOR(F.shiftleft(ix, COORD_BITS))
        .bitwiseOR(iy)
    )


def cell_sql(x_expr: str, y_expr: str, res: int) -> str:
    n = 1 << res
    ix = f"greatest(least(floor(({x_expr}) * {float(n)!r})::BIGINT, {n - 1}), 0)"
    iy = f"greatest(least(floor(({y_expr}) * {float(n)!r})::BIGINT, {n - 1}), 0)"
    return f"(({res}::BIGINT << {RES_SHIFT}) | ({ix} << {COORD_BITS}) | {iy})"


COORD_MASK_LIT = (1 << COORD_BITS) - 1


def cell_parent_col(cell: Column, steps: int = 1) -> Column:
    res = F.shiftrightunsigned(cell, RES_SHIFT)
    ix = F.shiftrightunsigned(cell, COORD_BITS).bitwiseAND(F.lit(COORD_MASK_LIT))
    iy = cell.bitwiseAND(F.lit(COORD_MASK_LIT))
    return (
        F.shiftleft(res - F.lit(steps), RES_SHIFT)
        .bitwiseOR(F.shiftleft(F.shiftrightunsigned(ix, steps), COORD_BITS))
        .bitwiseOR(F.shiftrightunsigned(iy, steps))
    )


def cell_parent_sql(cell_expr: str, steps: int = 1) -> str:
    res = f"(({cell_expr}) >> {RES_SHIFT})"
    ix = f"((({cell_expr}) >> {COORD_BITS}) & {COORD_MASK_LIT})"
    iy = f"(({cell_expr}) & {COORD_MASK_LIT})"
    return f"((({res} - {steps}) << {RES_SHIFT}) | (({ix} >> {steps}) << {COORD_BITS}) | ({iy} >> {steps}))"


# ---------------------------------------------------------------- cosine (pairwise, exact-order)

def dot_sql(a: str, b: str, dim: int) -> str:
    terms = " + ".join(
        f"CAST({a}[{i + 1}] AS DOUBLE) * CAST({b}[{i + 1}] AS DOUBLE)" for i in range(dim)
    )
    return f"(0.0 + {terms})"


def norm_sql(a: str, dim: int) -> str:
    terms = " + ".join(
        f"CAST({a}[{i + 1}] AS DOUBLE) * CAST({a}[{i + 1}] AS DOUBLE)" for i in range(dim)
    )
    return f"sqrt(0.0 + {terms})"


def cosine_sim_sql(a: str, b: str, dim: int) -> str:
    return f"({dot_sql(a, b, dim)} / greatest({norm_sql(a, dim)} * {norm_sql(b, dim)}, {MIN_DEN}))"


# ---------------------------------------------------------------- distances
# DuckDB twin of the reference's metric table (raptor/utils.py:84-102):
# cosine / L1 (cityblock) / L2 (euclidean) / Linf (chebyshev), as exact-order
# expressions, the oracle of the engine's numpy fold
# (kernels.distances.row_distances). greatest() is a selection (no
# rounding), so n-ary is safe.

MIN_DEN = "4.9E-324"  # the smallest positive double: the cosine zero-norm floor


def dist_sql(a: str, b: str, dim: int, metric: str = "cosine") -> str:
    """Left-assoc folds starting at 0.0, CAST AS DOUBLE per element.

    Zero-norm rule: the cosine denominator is floored at the smallest
    positive double (``MIN_DEN``). A nonzero denominator is left as it is;
    a zero one (where the dot product is 0 too) gives a cosine of 0 and a
    distance of 1.0. A NULL vector gives a NULL distance."""
    check_metric(metric)
    el = lambda v, i: f"CAST({v}[{i + 1}] AS DOUBLE)"  # noqa: E731
    if metric == "cosine":
        den = f"greatest({norm_sql(a, dim)} * {norm_sql(b, dim)}, {MIN_DEN})"
        return f"(1.0 - ({dot_sql(a, b, dim)} / {den}))"
    if metric == "L1":
        terms = " + ".join(f"abs({el(a, i)} - {el(b, i)})" for i in range(dim))
        return f"(0.0 + {terms})"
    if metric == "L2":
        terms = " + ".join(
            f"({el(a, i)} - {el(b, i)}) * ({el(a, i)} - {el(b, i)})" for i in range(dim)
        )
        return f"sqrt(0.0 + {terms})"
    terms = ", ".join(f"abs({el(a, i)} - {el(b, i)})" for i in range(dim))
    return f"greatest({terms})"  # Linf


# ---------------------------------------------------------------- twin exp (x <= 0)
# A transcendental that is bit-identical across engines BY CONSTRUCTION: the
# builtin exp() differs between the JVM and libm in the last ulp, so instead we
# evaluate the same finite sequence of IEEE +,*,/ ops on both sides —
# Cody-Waite range reduction (x = k*ln2 + f, |f| <= ln2/2, the hi/lo split
# keeps k*LN2_HI exact) followed by a degree-12 Horner Taylor polynomial and a
# 2^k scale. power(2.0, k) is exact for integral k in every IEEE libm.
# Verified bit-identical Spark / DuckDB / numpy-scalar over a 7k-value sweep
# (tests/test_sqlgen_exp.py); relative error vs true exp < 4e-16. Domain:
# x <= 0 (the softmax-stabilized case); x < -700 clamps to 0.0 (underflow
# guard) on both sides.
#
# NOTE for oracle SQL: the argument expression is inlined ~40 times in the
# Horner form — pass a plain column reference (materialize the argument in a
# CTE first), never a large expression, or DuckDB's planner blows up.

#: inline-arg budget for the twin *_sql generators (exp/ln/sin/cos/atan/...).
#: Every one of them substitutes its argument text 10-50x into a Horner form;
#: real call sites pass a bare column reference or a short staged expression
#: (longest in-repo: ~45 chars). Anything bigger is almost certainly an
#: unstaged compound expression that would silently balloon the oracle SQL to
#: megabytes and blow up the DuckDB planner.
MAX_INLINE_ARG = 96


def check_inline_arg(fn: str, _limit: int = MAX_INLINE_ARG, **exprs: str) -> None:
    """Fail LOUDLY when a twin-SQL generator receives an argument too complex
    to inline (stage it as a column in a CTE and pass the simple reference).
    Guards the documented "pass simple column references only" contract.
    ``_limit`` tightens the budget for generators that re-inline their args
    into OTHER twin generators (chord_dist_sql → sin_sql)."""
    for name, expr in exprs.items():
        bad = (
            len(expr) > _limit
            or "\n" in expr
            or "select" in expr.lower()
        )
        if bad:
            raise ValueError(
                f"{fn}({name}=...): the argument is inlined many times and is too "
                f"complex ({len(expr)} chars) — stage it as a column (CTE / select "
                f"alias) and pass the plain reference instead: {expr[:80]!r}..."
            )


_EXP_INV_LN2 = 1.4426950408889634
_EXP_LN2_HI = 0.6931471803691238
_EXP_LN2_LO = 1.9082149292705877e-10
_EXP_COEF = [1.0]
_f = 1.0
for _n in range(1, 13):
    _f *= _n
    _EXP_COEF.append(1.0 / _f)
del _f, _n


def exp_col(x: Column) -> Column:
    """Twin exp for x <= 0 as a Spark Column (see block comment above)."""
    k = F.floor(x * F.lit(_EXP_INV_LN2) + F.lit(0.5)).cast("double")
    fe = (x - k * F.lit(_EXP_LN2_HI)) - k * F.lit(_EXP_LN2_LO)
    p = F.lit(_EXP_COEF[12])
    for c in reversed(_EXP_COEF[:12]):
        p = p * fe + F.lit(c)
    return F.when(x < F.lit(-700.0), F.lit(0.0)).otherwise(p * F.pow(F.lit(2.0), k))


def exp_sql(x: str) -> str:
    """Twin exp for x <= 0 as DuckDB SQL. ``x`` MUST be a simple column ref."""
    check_inline_arg("exp_sql", x=x)
    k = f"CAST(floor(({x}) * {_EXP_INV_LN2!r} + 0.5) AS BIGINT)"
    kd = f"CAST({k} AS DOUBLE)"
    fe = f"((({x}) - {kd} * {_EXP_LN2_HI!r}) - {kd} * {_EXP_LN2_LO!r})"
    p = f"{_EXP_COEF[12]!r}"
    for c in reversed(_EXP_COEF[:12]):
        p = f"({p} * {fe} + {c!r})"
    return f"CASE WHEN ({x}) < -700.0 THEN 0.0 ELSE {p} * power(2.0, {kd}) END"


def exp_py(x: float) -> float:
    """Twin exp as a Python scalar — the kernel-side reference implementation."""
    import math

    if x < -700.0:
        return 0.0
    k = float(math.floor(x * _EXP_INV_LN2 + 0.5))
    fe = (x - k * _EXP_LN2_HI) - k * _EXP_LN2_LO
    p = _EXP_COEF[12]
    for c in reversed(_EXP_COEF[:12]):
        p = p * fe + c
    return p * (2.0**k)


# ---------------------------------------------------------------- twin ln (x > 0)
# Same by-construction philosophy as exp_col: the integer binary exponent is
# extracted EXACTLY (the native log2 is only a candidate, corrected by exact
# power-of-two comparisons, so its rounding can never leak into the result),
# the mantissa is shifted into [√2/2, √2) (|t| ≤ 0.172), and ln(m) comes from
# the atanh series 2t·Σ t^2k/(2k+1) in Horner form — all +,-,*,/ in a pinned
# order. Verified bit-identical Spark / DuckDB / Python over a 7k sweep; max
# rel error vs true ln is 4.4e-16 (abs 3e-17 near x=1). Same inlining caveat
# as exp_sql: pass a simple column reference.

_LN_SQRT2 = 1.4142135623730951
_LN_NC = 11


def ln_col(x: Column) -> Column:
    """Twin natural log for x > 0 as a Spark Column."""
    e0 = F.floor(F.log2(x)).cast("long")
    e1 = (
        F.when(F.pow(F.lit(2.0), e0.cast("double")) > x, e0 - 1)
        .when(F.pow(F.lit(2.0), e0.cast("double") + F.lit(1.0)) <= x, e0 + 1)
        .otherwise(e0)
    )
    m1 = x * F.pow(F.lit(2.0), -e1.cast("double"))
    e = F.when(m1 >= F.lit(_LN_SQRT2), e1 + 1).otherwise(e1)
    m = F.when(m1 >= F.lit(_LN_SQRT2), m1 * F.lit(0.5)).otherwise(m1)
    ed = e.cast("double")
    t = (m - F.lit(1.0)) / (m + F.lit(1.0))
    t2 = t * t
    s = F.lit(1.0 / (2 * (_LN_NC - 1) + 1))
    for k in range(_LN_NC - 2, -1, -1):
        s = s * t2 + F.lit(1.0 / (2 * k + 1))
    return (ed * F.lit(_EXP_LN2_HI) + ed * F.lit(_EXP_LN2_LO)) + F.lit(2.0) * t * s


def append_ln(df, x_col: str, out: str, keep: list[str] | None = None):
    """df → df with ``out`` = twin ln(x_col), computed through chained
    projections instead of one expression tree.

    Why: ln_col's Catalyst tree is ~2,300 nodes (the 11-term atanh-series
    Horner re-inlines the mantissa-reduction subtree at every t² reference),
    which alone — let alone inside a CASE — exceeds the JVM's 64 KB
    bytecode-per-method limit and drops the stage to interpreted execution
    (round-4 codegen-fallback family: HLL estimators, hyperball). Staging
    m/t as real columns makes every Horner reference a leaf read; the
    multi-reference non-cheap intermediates keep CollapseProject from
    re-inlining (same mechanism as trig.append_atan). Identical IEEE op
    sequence to ln_col. ``x_col`` must be an existing column name."""
    cols = keep if keep is not None else list(df.columns)
    carry = list(dict.fromkeys([*cols, x_col]))
    x = F.col(x_col)
    e0 = F.floor(F.log2(x)).cast("long")
    e1 = (
        F.when(F.pow(F.lit(2.0), e0.cast("double")) > x, e0 - 1)
        .when(F.pow(F.lit(2.0), e0.cast("double") + F.lit(1.0)) <= x, e0 + 1)
        .otherwise(e0)
    )
    s1 = df.select(*carry, (x * F.pow(F.lit(2.0), -e1.cast("double"))).alias("__ln_m1__"),
                   e1.alias("__ln_e1__"))
    m1 = F.col("__ln_m1__")
    s2 = s1.select(
        *carry,
        F.when(m1 >= F.lit(_LN_SQRT2), F.col("__ln_e1__") + 1)
        .otherwise(F.col("__ln_e1__"))
        .alias("__ln_e__"),
        F.when(m1 >= F.lit(_LN_SQRT2), m1 * F.lit(0.5)).otherwise(m1).alias("__ln_m__"),
    )
    m = F.col("__ln_m__")
    s3 = s2.select(
        *carry, "__ln_e__", ((m - F.lit(1.0)) / (m + F.lit(1.0))).alias("__ln_t__")
    )
    t = F.col("__ln_t__")
    t2 = t * t
    s = F.lit(1.0 / (2 * (_LN_NC - 1) + 1))
    for k in range(_LN_NC - 2, -1, -1):
        s = s * t2 + F.lit(1.0 / (2 * k + 1))
    ed = F.col("__ln_e__").cast("double")
    return s3.select(
        *cols,
        ((ed * F.lit(_EXP_LN2_HI) + ed * F.lit(_EXP_LN2_LO)) + F.lit(2.0) * t * s).alias(out),
    )


def ln_sql(x: str) -> str:
    """Twin natural log as DuckDB SQL. ``x`` MUST be a simple column ref."""
    check_inline_arg("ln_sql", x=x)
    e0 = f"CAST(floor(log2({x})) AS BIGINT)"
    e1 = (
        f"(CASE WHEN power(2.0, CAST({e0} AS DOUBLE)) > ({x}) THEN {e0} - 1 "
        f"WHEN power(2.0, CAST({e0} AS DOUBLE) + 1.0) <= ({x}) THEN {e0} + 1 ELSE {e0} END)"
    )
    m1 = f"(({x}) * power(2.0, -CAST({e1} AS DOUBLE)))"
    e = f"(CASE WHEN {m1} >= {_LN_SQRT2!r} THEN {e1} + 1 ELSE {e1} END)"
    m = f"(CASE WHEN {m1} >= {_LN_SQRT2!r} THEN {m1} * 0.5 ELSE {m1} END)"
    ed = f"CAST({e} AS DOUBLE)"
    t = f"(({m} - 1.0) / ({m} + 1.0))"
    t2 = f"({t} * {t})"
    s = repr(1.0 / (2 * (_LN_NC - 1) + 1))
    for k in range(_LN_NC - 2, -1, -1):
        s = f"({s} * {t2} + {1.0 / (2 * k + 1)!r})"
    return f"(({ed} * {_EXP_LN2_HI!r} + {ed} * {_EXP_LN2_LO!r}) + 2.0 * {t} * {s})"


def ln_py(x: float) -> float:
    """Twin natural log as a Python scalar.

    Domain: positive NORMAL doubles [2^-1022, 1.8e308] — below that the
    engine versions' 2^-e scale factor overflows to inf (IEEE, silently);
    here the guards mirror that envelope without Python's OverflowError."""
    import math

    e = math.floor(math.log2(x))
    if 2.0**e > x:
        e -= 1
    elif e + 1 <= 1023 and 2.0 ** (e + 1) <= x:
        # e+1 > 1023 would overflow 2^(e+1); engines get inf <= x = false
        e += 1
    m = x * 2.0 ** (-e)
    if m >= _LN_SQRT2:
        m = m * 0.5
        e += 1
    ed = float(e)
    t = (m - 1.0) / (m + 1.0)
    t2 = t * t
    s = 1.0 / (2 * (_LN_NC - 1) + 1)
    for k in range(_LN_NC - 2, -1, -1):
        s = s * t2 + 1.0 / (2 * k + 1)
    return (ed * _EXP_LN2_HI + ed * _EXP_LN2_LO) + 2.0 * t * s


# ---------------------------------------------------------------- shingles / minhash / simhash

def shingles_col(col: Column, n: int = SHINGLE_N) -> Column:
    """Word n-gram shingles as ARRAY<STRING> (= kernels.textstats.shingles)."""
    toks = words_col(col)
    full = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    short = F.when(F.size(toks) == 0, F.array().cast("array<string>")).otherwise(
        F.array(F.concat_ws(" ", toks))
    )
    return F.when(F.size(toks) >= n, full).otherwise(short)


def shingles_sql(expr: str, n: int = SHINGLE_N) -> str:
    toks = words_sql(expr)
    full = (
        f"list_transform(generate_series(1, len({toks}) - {n - 1}), "
        f"i -> array_to_string(({toks})[i:i+{n - 1}], ' '))"
    )
    short = f"CASE WHEN len({toks}) = 0 THEN [] ELSE [array_to_string({toks}, ' ')] END"
    return f"CASE WHEN len({toks}) >= {n} THEN {full} ELSE {short} END"


def normalize_answer_col(col: Column) -> Column:
    """SQuAD normalization (kernels.metrics.normalize_answer) as expressions."""
    s = F.lower(col)
    s = F.regexp_replace(s, r"\b(a|an|the)\b", " ")
    s = F.regexp_replace(s, r"[!\"#$%&'()*+,\-./:;<=>?@\[\\\]^_`{|}~]", "")
    s = F.trim(F.regexp_replace(s, r"\s+", " "))
    return s


def normalize_answer_sql(expr: str) -> str:
    s = f"lower({expr})"
    s = f"regexp_replace({s}, '\\b(a|an|the)\\b', ' ', 'g')"
    s = "regexp_replace({}, '[!\"#$%&''()*+,\\-./:;<=>?@\\[\\\\\\]^_`{{|}}~]', '', 'g')".format(s)
    return f"trim(regexp_replace({s}, '\\s+', ' ', 'g'))"


# ---------------------------------------------------------------- lang id / quality

def lang_id_cols(col: Column) -> Column:
    """argmax stopword-hit language with fixed profile-order tie-break."""
    toks = words_col(col)
    scores = {}
    for lang, words in LANG_PROFILES.items():
        profile = F.array(*[F.lit(w) for w in words])
        scores[lang] = F.size(F.filter(toks, lambda t: F.array_contains(profile, t)))
    best_lang = F.lit("und")
    best = F.lit(0)
    for lang in LANG_PROFILES:
        is_better = scores[lang] > best
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best = F.when(is_better, scores[lang]).otherwise(best)
    return best_lang


def lang_id_sql(expr: str) -> str:
    toks = words_sql(expr)
    score = {
        lang: f"len(list_filter({toks}, t -> list_contains({list(words)!r}, t)))"
        for lang, words in LANG_PROFILES.items()
    }
    best_lang, best = "'und'", "0"
    for lang in LANG_PROFILES:
        best_lang = f"CASE WHEN {score[lang]} > {best} THEN '{lang}' ELSE {best_lang} END"
        best = f"CASE WHEN {score[lang]} > {best} THEN {score[lang]} ELSE {best} END"
    return best_lang


def quality_score_cols(col: Column) -> Column:
    """kernels.textstats.quality_score as expressions (same arithmetic order)."""
    toks = words_col(col)
    n = F.size(toks)
    length_score = F.least(n, F.lit(200)).cast("double") / F.lit(200.0)
    alnum = F.length(F.regexp_replace(col, r"[^A-Za-z0-9]", ""))
    alpha = alnum.cast("double") / F.length(col).cast("double")
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n.cast("double")
    score = F.lit(0.4) * length_score + F.lit(0.3) * alpha + F.lit(0.3) * distinct_ratio
    return F.when((n == 0) | (F.length(col) == 0), F.lit(0.0)).otherwise(score)


def quality_score_sql(expr: str) -> str:
    toks = words_sql(expr)
    n = f"len({toks})"
    length_score = f"(least({n}, 200)::DOUBLE / 200.0)"
    alpha = f"(length(regexp_replace({expr}, '[^A-Za-z0-9]', '', 'g'))::DOUBLE / length({expr})::DOUBLE)"
    distinct_ratio = f"(len(list_distinct({toks}))::DOUBLE / {n}::DOUBLE)"
    score = f"(0.4 * {length_score} + 0.3 * {alpha} + 0.3 * {distinct_ratio})"
    return f"CASE WHEN {n} = 0 OR length({expr}) = 0 THEN 0.0 ELSE {score} END"


def fingerprint_col(col: Column) -> Column:
    """Exact-dedup fingerprint: md5 of lowercased, ws-collapsed text."""
    return F.md5(F.trim(F.regexp_replace(F.lower(col), r"\s+", " ")))


def fingerprint_sql(expr: str) -> str:
    return f"md5(trim(regexp_replace(lower({expr}), '\\s+', ' ', 'g')))"
