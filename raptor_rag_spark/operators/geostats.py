"""Classical spatial statistics over the embedding plane, twin-exact.

Four operators the GIS/crime-analysis stack expects that the engine still
lacked (complementing kde_moran/kde_geary/getis_ord/ripley_k in heatmap.py
and stats.py):

- :func:`sd_ellipse` — per-tile standard deviational ellipse (Yuill 1971):
  mean center, orientation, major/minor axis dispersion. THE directional-
  distribution summary (ArcGIS "Directional Distribution").
- :func:`knox_test` — Knox (1964) space-time interaction: are events that
  are close in space also close in time? The classic epidemiology /
  disease-cluster statistic.
- :func:`gravity_model` — spatial-interaction gravity fit over an
  origin-destination flow matrix: expected flow K·m_o·m_d/d², residuals,
  chi-square contributions (Wilson 1971 unconstrained form).
- :func:`headtail_breaks` — Jiang (2013) head/tail-breaks classification
  for heavy-tailed values: iterative mean splits, the cartographic
  class-break scheme for scale-free data.

Scale shape: every operator is aggregate-first. sd_ellipse is ONE groupBy
(cell-cardinality output) and pure closed-form algebra on six DECIMAL
moments — no second pass over points. knox_test buckets points by grid cell
(space) and by τ-wide epoch bucket (time) and self-joins only the 3×3 / ±1
neighborhoods, so pair work is bounded by local density, never n²; both
probe sides carry the symmetric id1<id2 filter so each pair counts exactly
once. gravity_model reduces trajectories to trips with the struct-min/max
trick (no window), then runs on cell-pair metadata. headtail_breaks is a
fixed unroll of tiny aggregate + broadcast-filter steps, kmeans-style.

Determinism: DECIMAL(28,15) moment sums (partition-order independence),
twin sin/cos/atan2 for the ellipse orientation, identical IEEE expression
trees on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import sqlgen as G
from ..functions import trig as TR
from ..functions.hexgen import flit
from ..kernels.grid import COORD_BITS, RES_SHIFT

DEC = "DECIMAL(28,15)"
PI = 3.141592653589793
_MASK = (1 << COORD_BITS) - 1
_OFFS9 = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]


# ------------------------------------------------ standard deviational ellipse


def sd_ellipse(pts: DataFrame, res: int = 2) -> DataFrame:
    """pts: (x, y) in [0,1)². Returns per-cell directional distribution:
    (cell, n, mx, my, theta, sig1, sig2, area).

    theta = ½·atan2(2·cxy, cxx−cyy) — the covariance eigen-rotation; sig1 /
    sig2 are the dispersion along / across it (σ² rotated in closed form
    from the three central moments, no second data pass); area = π·σ1·σ2.
    Moments come from DECIMAL raw sums (Σx, Σy, Σx², Σy², Σxy), so the
    result is partition-order independent and the DuckDB twin hash-matches.
    """
    cell = G.cell_col(F.col("x"), F.col("y"), res)
    agg = pts.groupBy(cell.alias("cell")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast(DEC)).alias("sx"),
        F.sum(F.col("y").cast(DEC)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(DEC)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(DEC)).alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast(DEC)).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    m = agg.select(
        "cell",
        "n",
        (F.col("sx").cast("double") / nd).alias("mx"),
        (F.col("sy").cast("double") / nd).alias("my"),
        F.col("sxx").cast("double").alias("sxx_d"),
        F.col("syy").cast("double").alias("syy_d"),
        F.col("sxy").cast("double").alias("sxy_d"),
    )
    nd2 = F.col("n").cast("double")
    c = m.select(
        "cell",
        "n",
        "mx",
        "my",
        (F.col("sxx_d") / nd2 - F.col("mx") * F.col("mx")).alias("cxx"),
        (F.col("syy_d") / nd2 - F.col("my") * F.col("my")).alias("cyy"),
        (F.col("sxy_d") / nd2 - F.col("mx") * F.col("my")).alias("cxy"),
    ).select(
        "cell",
        "n",
        "mx",
        "my",
        "cxx",
        "cyy",
        "cxy",
        (F.lit(2.0) * F.col("cxy")).alias("ty"),
        (F.col("cxx") - F.col("cyy")).alias("tx"),
    )
    # staged twin atan2 (trig.append_atan2 — round-4 codegen-fallback fix:
    # the one-expression atan2 tree exceeded the 64 KB/method limit)
    c_at = TR.append_atan2(
        c, "ty", "tx", "__a2__",
        keep=["cell", "n", "mx", "my", "cxx", "cyy", "cxy"],
    )
    th = c_at.withColumn("theta", F.lit(0.5) * F.col("__a2__")).drop("__a2__")
    tr = th.withColumn("st", TR.sin_col(F.col("theta"))).withColumn(
        "ct", TR.cos_col(F.col("theta"))
    )
    s1sq = F.greatest(
        F.col("ct") * F.col("ct") * F.col("cxx")
        + F.lit(2.0) * F.col("st") * F.col("ct") * F.col("cxy")
        + F.col("st") * F.col("st") * F.col("cyy"),
        F.lit(0.0),
    )
    s2sq = F.greatest(
        F.col("st") * F.col("st") * F.col("cxx")
        - F.lit(2.0) * F.col("st") * F.col("ct") * F.col("cxy")
        + F.col("ct") * F.col("ct") * F.col("cyy"),
        F.lit(0.0),
    )
    out = tr.select(
        "cell",
        "n",
        F.round("mx", 6).alias("mx"),
        F.round("my", 6).alias("my"),
        F.round("theta", 6).alias("theta"),
        F.round(F.sqrt(s1sq), 6).alias("sig1"),
        F.round(F.sqrt(s2sq), 6).alias("sig2"),
        F.round(F.lit(PI) * F.sqrt(s1sq) * F.sqrt(s2sq), 6).alias("area"),
    )
    return out


def sd_ellipse_sql(pts_sql: str, res: int = 2) -> str:
    """DuckDB twin of :func:`sd_ellipse`. ``pts_sql`` must yield (x, y)."""
    stage, at2 = TR.atan2_sql("ty", "tx")
    return f"""
WITH pts AS ({pts_sql}),
agg AS (
  SELECT {G.cell_sql('x', 'y', res)} AS cell,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(x AS {DEC})) AS sx, sum(CAST(y AS {DEC})) AS sy,
         sum(CAST(x * x AS {DEC})) AS sxx,
         sum(CAST(y * y AS {DEC})) AS syy,
         sum(CAST(x * y AS {DEC})) AS sxy
  FROM pts GROUP BY 1),
m AS (
  SELECT cell, n,
         CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx,
         CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my,
         CAST(sxx AS DOUBLE) AS sxx_d, CAST(syy AS DOUBLE) AS syy_d,
         CAST(sxy AS DOUBLE) AS sxy_d
  FROM agg),
c AS (
  SELECT cell, n, mx, my,
         sxx_d / CAST(n AS DOUBLE) - mx * mx AS cxx,
         syy_d / CAST(n AS DOUBLE) - my * my AS cyy,
         sxy_d / CAST(n AS DOUBLE) - mx * my AS cxy
  FROM m),
c2 AS (SELECT *, (2.0 * cxy) AS ty, (cxx - cyy) AS tx FROM c),
st AS (SELECT *, {stage} AS atr FROM c2),
th AS (SELECT *, 0.5 * {at2} AS theta FROM st),
tr AS (SELECT *, {TR.sin_sql('theta')} AS st, {TR.cos_sql('theta')} AS ct FROM th),
sq AS (
  SELECT cell, n, mx, my, theta,
         greatest(ct * ct * cxx + 2.0 * st * ct * cxy + st * st * cyy, 0.0) AS s1sq,
         greatest(st * st * cxx - 2.0 * st * ct * cxy + ct * ct * cyy, 0.0) AS s2sq
  FROM tr)
SELECT cell, n, round(mx, 6) AS mx, round(my, 6) AS my,
       round(theta, 6) AS theta,
       round(sqrt(s1sq), 6) AS sig1, round(sqrt(s2sq), 6) AS sig2,
       round({flit(PI)} * sqrt(s1sq) * sqrt(s2sq), 6) AS area
FROM sq
"""


# ---------------------------------------------------------------- Knox test


def _neighbor9(cell, res: int):
    n = 1 << res
    ix = F.shiftrightunsigned(cell, COORD_BITS).bitwiseAND(F.lit(_MASK))
    iy = cell.bitwiseAND(F.lit(_MASK))
    ks = []
    for dx, dy in _OFFS9:
        nx, ny = ix + F.lit(dx), iy + F.lit(dy)
        ok = (nx >= 0) & (nx < n) & (ny >= 0) & (ny < n)
        enc = (
            F.shiftleft(F.lit(res).cast("long"), RES_SHIFT)
            .bitwiseOR(F.shiftleft(nx.cast("long"), COORD_BITS))
            .bitwiseOR(ny.cast("long"))
        )
        ks.append(F.when(ok, enc))
    return F.array_compact(F.array(*ks))


def knox_test(
    events_xy: DataFrame,
    s_eps: float = 0.02,
    t_eps: int = 3600,
    res: int = 5,
    id_col: str = "event_id",
    max_cell: int | None = None,
) -> DataFrame:
    """events_xy: (id_col, x, y, ts). ONE row:
    (n, n_pairs, ns, nt, x_obs, x_exp, knox_ratio).

    Knox space-time interaction: ns = #pairs within ``s_eps`` in space,
    nt = #pairs within ``t_eps`` seconds in time, x_obs = #pairs close in
    BOTH, x_exp = ns·nt / n_pairs (the independence expectation), ratio =
    x_obs / x_exp (>1 ⇒ space-time clustering — contagion, burst crawling).

    Pair enumeration never goes n²: the spatial side joins each point's
    3×3 cell neighborhood at ``res`` (cell width must be ≥ s_eps so no
    qualifying pair escapes the neighborhood), the temporal side joins
    τ-wide epoch buckets ±1; both probe symmetrically and keep id1 < id2,
    so every qualifying pair is counted exactly once. Hot cells/buckets
    bound the worst case by local density — the same contract as
    grid_dbscan and the LSH band joins.

    ``max_cell`` is the 100-TB density guard (round-4 verdict #7, the
    MAX_BAND_BUCKET pattern): pair counts grow with local density SQUARED,
    which is the statistic's true definition, not a plan defect — but at
    pathological density the neighborhood join goes quadratic. With the cap,
    points whose home cell OR τ-bucket holds more than ``max_cell`` points
    are excluded from the whole test (n, ns, nt, x_obs alike — the ratio
    stays internally consistent over the surviving subset), and the DuckDB
    twin applies the identical rule, so the capped statistic is still
    hash-exact (`knox_capped` in the contract registry proves it).

    With no pairs (n < 2, or every point capped away) or a zero expectation,
    ``x_exp``/``knox_ratio`` are NULL, as DuckDB's double division by 0 gives
    in the twin, rather than DIVIDE_BY_ZERO.
    """
    assert 1.0 / (1 << res) >= s_eps, "cell width must cover s_eps"
    t = F.unix_timestamp("ts")
    pts = events_xy.select(
        F.col(id_col).alias("pid"),
        "x",
        "y",
        t.alias("t"),
        G.cell_col(F.col("x"), F.col("y"), res).alias("cell"),
        F.floor(t.cast("double") / F.lit(float(t_eps))).cast("long").alias("tb"),
    )
    if max_cell is not None:
        cell_ok = (
            pts.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("cc"))
            .where(F.col("cc") <= max_cell)
            .select("cell")
        )
        tb_ok = (
            pts.groupBy("tb")
            .agg(F.count(F.lit(1)).alias("bc"))
            .where(F.col("bc") <= max_cell)
            .select("tb")
        )
        pts = (
            pts.join(F.broadcast(cell_ok), "cell")
            .join(F.broadcast(tb_ok), "tb")
            .localCheckpoint(eager=False)
        )
    n_row = pts.agg(F.count(F.lit(1)).cast("long").alias("n"))

    probe_s = pts.select(
        F.col("pid").alias("pid1"),
        F.col("x").alias("x1"),
        F.col("y").alias("y1"),
        F.col("t").alias("t1"),
        F.explode(_neighbor9(F.col("cell"), res)).alias("k"),
    )
    d2 = (F.col("x1") - F.col("x")) * (F.col("x1") - F.col("x")) + (
        F.col("y1") - F.col("y")
    ) * (F.col("y1") - F.col("y"))
    sp = (
        probe_s.join(pts, probe_s["k"] == pts["cell"])
        .where((F.col("pid1") < F.col("pid")) & (d2 <= F.lit(s_eps * s_eps)))
        .select(
            F.abs(F.col("t1") - F.col("t")).alias("dt"),
        )
    )
    s_row = sp.agg(
        F.count(F.lit(1)).cast("long").alias("ns"),
        F.count_if(F.col("dt") <= t_eps).alias("x_obs"),
    )

    probe_t = pts.select(
        F.col("pid").alias("pid1"),
        F.col("t").alias("t1"),
        F.explode(
            F.array(F.col("tb") - 1, F.col("tb"), F.col("tb") + 1)
        ).alias("kb"),
    )
    tp = (
        probe_t.join(pts, probe_t["kb"] == pts["tb"])
        .where(
            (F.col("pid1") < F.col("pid"))
            & (F.abs(F.col("t1") - F.col("t")) <= t_eps)
        )
    )
    t_row = tp.agg(F.count(F.lit(1)).cast("long").alias("nt"))

    comb = n_row.crossJoin(F.broadcast(s_row)).crossJoin(F.broadcast(t_row))
    n_pairs = (F.col("n") * (F.col("n") - 1) / F.lit(2.0)).cast("long")
    x_exp = F.try_divide(
        F.col("ns").cast("double") * F.col("nt").cast("double"),
        F.col("n_pairs").cast("double"),
    )
    return (
        comb.withColumn("n_pairs", n_pairs)
        .withColumn("x_exp", F.round(x_exp, 6))
        .withColumn(
            "knox_ratio",
            F.round(F.try_divide(F.col("x_obs").cast("double"), x_exp), 6),
        )
        .select("n", "n_pairs", "ns", "nt", "x_obs", "x_exp", "knox_ratio")
    )


def knox_test_sql(
    events_xy_sql: str,
    s_eps: float = 0.02,
    t_eps: int = 3600,
    res: int = 5,
    id_col: str = "event_id",
    max_cell: int | None = None,
) -> str:
    """DuckDB twin of :func:`knox_test` (incl. the ``max_cell`` density
    cap, applied with the identical rule so the capped statistic is
    hash-exact). ``pts`` is MATERIALIZED: DuckDB 1.0 otherwise inlines it
    at each of its five references and re-runs the events join each time."""
    n = 1 << res
    key = (
        f"(({res}::BIGINT << {RES_SHIFT}) | ((ix + dx)::BIGINT << {COORD_BITS})"
        f" | (iy + dy)::BIGINT)"
    )
    ok = f"(ix + dx >= 0 AND ix + dx < {n} AND iy + dy >= 0 AND iy + dy < {n})"
    offs = ", ".join(f"({dx}, {dy})" for dx, dy in _OFFS9)
    cap_ctes = ""
    if max_cell is not None:
        cap_ctes = f"""
pts0 AS (
  SELECT * FROM pts_raw
  WHERE cell IN (SELECT cell FROM pts_raw GROUP BY cell
                 HAVING count(*) <= {max_cell})
    AND tb IN (SELECT tb FROM pts_raw GROUP BY tb
               HAVING count(*) <= {max_cell})),"""
    pts_src = "pts0" if max_cell is not None else "pts_raw"
    return f"""
WITH ev AS ({events_xy_sql}),
pts_raw AS (
  SELECT {id_col} AS pid, x, y,
         CAST(floor(epoch(ts)) AS BIGINT) AS t,
         {G.cell_sql('x', 'y', res)} AS cell,
         CAST(floor(CAST(CAST(floor(epoch(ts)) AS BIGINT) AS DOUBLE)
                    / {flit(float(t_eps))}) AS BIGINT) AS tb
  FROM ev),{cap_ctes}
pts AS MATERIALIZED (SELECT * FROM {pts_src}),
pc AS (
  SELECT pid, x, y, t, cell, tb,
         ((cell >> {COORD_BITS}) & {_MASK}) AS ix, (cell & {_MASK}) AS iy
  FROM pts),
offs(dx, dy) AS (VALUES {offs}),
probe_s AS (
  SELECT pid AS pid1, x AS x1, y AS y1, t AS t1, {key} AS k
  FROM pc, offs WHERE {ok}),
sp AS (
  SELECT abs(p.t1 - q.t) AS dt
  FROM probe_s p JOIN pts q ON p.k = q.cell
  WHERE p.pid1 < q.pid
    AND (p.x1 - q.x) * (p.x1 - q.x) + (p.y1 - q.y) * (p.y1 - q.y)
        <= {flit(s_eps * s_eps)}),
s_row AS (
  SELECT CAST(count(*) AS BIGINT) AS ns,
         CAST(coalesce(sum(CASE WHEN dt <= {t_eps} THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS x_obs
  FROM sp),
probe_t AS (
  SELECT pid AS pid1, t AS t1, tb + db AS kb
  FROM pts, (VALUES (-1), (0), (1)) o(db)),
t_row AS (
  SELECT CAST(count(*) AS BIGINT) AS nt
  FROM probe_t p JOIN pts q ON p.kb = q.tb
  WHERE p.pid1 < q.pid AND abs(p.t1 - q.t) <= {t_eps}),
n_row AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pts),
comb AS (
  SELECT n, CAST(CAST(n AS DOUBLE) * (n - 1) / 2.0 AS BIGINT) AS n_pairs,
         ns, nt, x_obs
  FROM n_row, s_row, t_row)
SELECT n, n_pairs, ns, nt, x_obs,
       round(CAST(ns AS DOUBLE) * CAST(nt AS DOUBLE) / CAST(n_pairs AS DOUBLE), 6)
         AS x_exp,
       round(CAST(x_obs AS DOUBLE)
             / (CAST(ns AS DOUBLE) * CAST(nt AS DOUBLE) / CAST(n_pairs AS DOUBLE)), 6)
         AS knox_ratio
FROM comb
"""


# -------------------------------------------------------------- gravity model


def gravity_model(
    events_xy: DataFrame, res: int = 3, id_col: str = "user_id"
) -> DataFrame:
    """events_xy: (id_col, event_id, ts, x, y). Per OD pair (o ≠ d):
    (o_cell, d_cell, flow, m_o, m_d, dist2, expected, resid, chi2).

    Unconstrained gravity model: expected flow = K·m_o·m_d/d², with m_o /
    m_d the cell's total out-/in-flow, d² the squared distance between cell
    centers, and K the single scale fit so Σexpected = Σflow (Wilson 1971).
    resid = flow − expected; chi2 = resid²/expected — the hot desire lines
    a pure distance-decay model cannot explain.

    Scale shape: trips via ONE struct-min/max groupBy per entity (the
    od_matrix trick), then everything runs on cell-pair metadata; masses
    and the 1-row K join back by broadcast. DECIMAL sums make K exact.
    """
    pt = F.struct("ts", "event_id", "x", "y")
    ends = events_xy.groupBy(id_col).agg(
        F.min(pt).alias("p0"), F.max(pt).alias("p1")
    )
    trips = ends.select(
        G.cell_col(F.col("p0.x"), F.col("p0.y"), res).alias("o_cell"),
        G.cell_col(F.col("p1.x"), F.col("p1.y"), res).alias("d_cell"),
    )
    flows = (
        trips.groupBy("o_cell", "d_cell")
        .agg(F.count(F.lit(1)).cast("long").alias("flow"))
        .where(F.col("o_cell") != F.col("d_cell"))
    )
    m_o = flows.groupBy("o_cell").agg(F.sum("flow").cast("long").alias("m_o"))
    m_d = flows.groupBy("d_cell").agg(F.sum("flow").cast("long").alias("m_d"))

    def center(cell, part):
        ix = F.shiftrightunsigned(cell, COORD_BITS).bitwiseAND(F.lit(_MASK))
        iy = cell.bitwiseAND(F.lit(_MASK))
        c = ix if part == "x" else iy
        return (c.cast("double") + F.lit(0.5)) / F.lit(float(1 << res))

    j = flows.join(F.broadcast(m_o), "o_cell").join(F.broadcast(m_d), "d_cell")
    dx = center(F.col("o_cell"), "x") - center(F.col("d_cell"), "x")
    dy = center(F.col("o_cell"), "y") - center(F.col("d_cell"), "y")
    base = j.withColumn("dist2", dx * dx + dy * dy).withColumn(
        "g", F.col("m_o").cast("double") * F.col("m_d").cast("double") / F.col("dist2")
    )
    k_row = base.agg(
        (
            F.sum(F.col("flow").cast(DEC)).cast("double")
            / F.sum(F.col("g").cast(DEC)).cast("double")
        ).alias("k")
    )
    out = base.crossJoin(F.broadcast(k_row)).withColumn(
        "expected", F.col("k") * F.col("g")
    )
    return out.select(
        "o_cell",
        "d_cell",
        "flow",
        "m_o",
        "m_d",
        F.round("dist2", 6).alias("dist2"),
        F.round("expected", 6).alias("expected"),
        F.round(F.col("flow").cast("double") - F.col("expected"), 6).alias("resid"),
        F.round(
            (F.col("flow").cast("double") - F.col("expected"))
            * (F.col("flow").cast("double") - F.col("expected"))
            / F.col("expected"),
            6,
        ).alias("chi2"),
    )


def gravity_model_sql(
    events_xy_sql: str, res: int = 3, id_col: str = "user_id"
) -> str:
    """DuckDB twin of :func:`gravity_model`."""

    def center(cell: str, part: str) -> str:
        c = (
            f"(({cell} >> {COORD_BITS}) & {_MASK})"
            if part == "x"
            else f"({cell} & {_MASK})"
        )
        return f"((CAST({c} AS DOUBLE) + 0.5) / {flit(float(1 << res))})"

    dx = f"({center('o_cell', 'x')} - {center('d_cell', 'x')})"
    dy = f"({center('o_cell', 'y')} - {center('d_cell', 'y')})"
    return f"""
WITH ev AS ({events_xy_sql}),
ends AS (
  SELECT {id_col},
         min(struct_pack(ts := ts, event_id := event_id, x := x, y := y)) AS p0,
         max(struct_pack(ts := ts, event_id := event_id, x := x, y := y)) AS p1
  FROM ev GROUP BY 1),
trips AS (
  SELECT {G.cell_sql('p0.x', 'p0.y', res)} AS o_cell,
         {G.cell_sql('p1.x', 'p1.y', res)} AS d_cell
  FROM ends),
flows AS (
  SELECT o_cell, d_cell, CAST(count(*) AS BIGINT) AS flow
  FROM trips GROUP BY 1, 2 HAVING o_cell <> d_cell),
m_o AS (SELECT o_cell, CAST(sum(flow) AS BIGINT) AS m_o FROM flows GROUP BY 1),
m_d AS (SELECT d_cell, CAST(sum(flow) AS BIGINT) AS m_d FROM flows GROUP BY 1),
base AS (
  SELECT f.o_cell, f.d_cell, f.flow, o.m_o, d.m_d,
         {dx} * {dx} + {dy} * {dy} AS dist2,
         CAST(o.m_o AS DOUBLE) * CAST(d.m_d AS DOUBLE)
           / ({dx} * {dx} + {dy} * {dy}) AS g
  FROM flows f JOIN m_o o USING (o_cell) JOIN m_d d USING (d_cell)),
k_row AS (
  SELECT CAST(sum(CAST(flow AS {DEC})) AS DOUBLE)
         / CAST(sum(CAST(g AS {DEC})) AS DOUBLE) AS k
  FROM base)
SELECT o_cell, d_cell, flow, m_o, m_d,
       round(dist2, 6) AS dist2,
       round(k * g, 6) AS expected,
       round(CAST(flow AS DOUBLE) - k * g, 6) AS resid,
       round((CAST(flow AS DOUBLE) - k * g) * (CAST(flow AS DOUBLE) - k * g)
             / (k * g), 6) AS chi2
FROM base, k_row
"""


# ----------------------------------------------------------- head/tail breaks


def headtail_breaks(
    df: DataFrame, value_col: str, levels: int = 4
) -> DataFrame:
    """(level, n, mean, n_head, head_frac): Jiang's head/tail-breaks class
    boundaries for a heavy-tailed column — split at the mean, recurse on the
    head, ``levels`` times (fixed unroll; levels where the head emptied are
    dropped on both engines identically).

    Each level is a 1-row DECIMAL aggregate + a broadcast filter — the
    kmeans-style declarative loop; no collect, no window, no sort.
    """
    v = F.col(value_col).cast("double")
    cur = df.select(v.alias("v")).where(F.col("v").isNotNull())
    outs = []
    for lvl in range(1, levels + 1):
        m = cur.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (
                F.sum(F.col("v").cast(DEC)).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mean"),
        )
        stats = (
            cur.crossJoin(F.broadcast(m))
            .agg(
                F.max("n").alias("n"),
                F.max("mean").alias("mean"),
                F.sum(F.when(F.col("v") > F.col("mean"), 1).otherwise(0))
                .cast("long")
                .alias("n_head"),
            )
            .select(
                F.lit(lvl).cast("int").alias("level"),
                "n",
                F.round("mean", 6).alias("mean"),
                "n_head",
                F.round(
                    F.col("n_head").cast("double") / F.col("n").cast("double"), 6
                ).alias("head_frac"),
            )
        )
        outs.append(stats)
        cur = cur.crossJoin(F.broadcast(m)).where(F.col("v") > F.col("mean")).select("v")
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.where(F.col("n") > 0)


def headtail_breaks_sql(src_sql: str, value_col: str, levels: int = 4) -> str:
    """DuckDB twin of :func:`headtail_breaks`. ``src_sql`` yields ``value_col``."""
    ctes = [
        f"l1 AS (SELECT CAST({value_col} AS DOUBLE) AS v FROM ({src_sql})"
        f" WHERE {value_col} IS NOT NULL)"
    ]
    selects = []
    for lvl in range(1, levels + 1):
        ctes.append(
            f"""m{lvl} AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(v AS {DEC})) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean
  FROM l{lvl})"""
        )
        selects.append(
            f"""SELECT CAST({lvl} AS INT) AS level, n, round(mean, 6) AS mean,
       n_head, round(CAST(n_head AS DOUBLE) / CAST(n AS DOUBLE), 6) AS head_frac
FROM (
  SELECT max(m.n) AS n, max(m.mean) AS mean,
         CAST(coalesce(sum(CASE WHEN l.v > m.mean THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_head
  FROM l{lvl} l, m{lvl} m)
WHERE n > 0"""
        )
        if lvl < levels:
            ctes.append(
                f"l{lvl + 1} AS (SELECT v FROM l{lvl}, m{lvl} WHERE v > mean)"
            )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


# ------------------------------------------------------------ trend surface


def trend_surface(pts: DataFrame) -> DataFrame:
    """pts: (x, y, z). ONE row (n, a, b, c, r2): first-order trend surface
    z ≈ a + b·x + c·y by ordinary least squares — the classic GIS global-
    trend fit (is document quality / crawl recency / density sloping across
    the embedding plane?). Solved in CLOSED FORM from nine DECIMAL moment
    sums via Cramer's rule, so the whole regression is one map-side-
    combinable aggregate — no iteration, no matrix library, no second pass:
    SSE = Σz² − a·Σz − b·Σxz − c·Σyz gives R² from the same moments.

    Determinism: moments sum in DECIMAL(28,15); the 3×3 determinants expand
    in a pinned multiplication order, identical in the DuckDB twin."""
    agg = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast(DEC)).alias("sx"),
        F.sum(F.col("y").cast(DEC)).alias("sy"),
        F.sum(F.col("z").cast(DEC)).alias("sz"),
        F.sum((F.col("x") * F.col("x")).cast(DEC)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(DEC)).alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast(DEC)).alias("sxy"),
        F.sum((F.col("x") * F.col("z")).cast(DEC)).alias("sxz"),
        F.sum((F.col("y") * F.col("z")).cast(DEC)).alias("syz"),
        F.sum((F.col("z") * F.col("z")).cast(DEC)).alias("szz"),
    )
    d = agg.select(
        "n",
        *[
            F.col(c).cast("double").alias(c)
            for c in ("sx", "sy", "sz", "sxx", "syy", "sxy", "sxz", "syz", "szz")
        ],
    ).withColumn("nd", F.col("n").cast("double"))
    det = (
        F.col("nd") * (F.col("sxx") * F.col("syy") - F.col("sxy") * F.col("sxy"))
        - F.col("sx") * (F.col("sx") * F.col("syy") - F.col("sxy") * F.col("sy"))
        + F.col("sy") * (F.col("sx") * F.col("sxy") - F.col("sxx") * F.col("sy"))
    )
    det_a = (
        F.col("sz") * (F.col("sxx") * F.col("syy") - F.col("sxy") * F.col("sxy"))
        - F.col("sx") * (F.col("sxz") * F.col("syy") - F.col("sxy") * F.col("syz"))
        + F.col("sy") * (F.col("sxz") * F.col("sxy") - F.col("sxx") * F.col("syz"))
    )
    det_b = (
        F.col("nd") * (F.col("sxz") * F.col("syy") - F.col("sxy") * F.col("syz"))
        - F.col("sz") * (F.col("sx") * F.col("syy") - F.col("sxy") * F.col("sy"))
        + F.col("sy") * (F.col("sx") * F.col("syz") - F.col("sxz") * F.col("sy"))
    )
    det_c = (
        F.col("nd") * (F.col("sxx") * F.col("syz") - F.col("sxz") * F.col("sxy"))
        - F.col("sx") * (F.col("sx") * F.col("syz") - F.col("sxz") * F.col("sy"))
        + F.col("sz") * (F.col("sx") * F.col("sxy") - F.col("sxx") * F.col("sy"))
    )
    co = d.select(
        "n", "sz", "sxz", "syz", "szz", "nd",
        (det_a / det).alias("ca"),
        (det_b / det).alias("cb"),
        (det_c / det).alias("cc"),
    )
    sse = (
        F.col("szz")
        - F.col("ca") * F.col("sz")
        - F.col("cb") * F.col("sxz")
        - F.col("cc") * F.col("syz")
    )
    sst = F.col("szz") - F.col("sz") * F.col("sz") / F.col("nd")
    return co.select(
        "n",
        F.round("ca", 6).alias("a"),
        F.round("cb", 6).alias("b"),
        F.round("cc", 6).alias("c"),
        F.round(F.lit(1.0) - sse / sst, 6).alias("r2"),
    )


def trend_surface_sql(pts_sql: str) -> str:
    """DuckDB twin of :func:`trend_surface`. ``pts_sql`` yields (x, y, z)."""
    return f"""
WITH pts AS ({pts_sql}),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(CAST(x AS {DEC})) AS sx, sum(CAST(y AS {DEC})) AS sy,
         sum(CAST(z AS {DEC})) AS sz,
         sum(CAST(x * x AS {DEC})) AS sxx, sum(CAST(y * y AS {DEC})) AS syy,
         sum(CAST(x * y AS {DEC})) AS sxy, sum(CAST(x * z AS {DEC})) AS sxz,
         sum(CAST(y * z AS {DEC})) AS syz, sum(CAST(z * z AS {DEC})) AS szz
  FROM pts),
d AS (
  SELECT n, CAST(n AS DOUBLE) AS nd,
         CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
         CAST(sz AS DOUBLE) AS sz, CAST(sxx AS DOUBLE) AS sxx,
         CAST(syy AS DOUBLE) AS syy, CAST(sxy AS DOUBLE) AS sxy,
         CAST(sxz AS DOUBLE) AS sxz, CAST(syz AS DOUBLE) AS syz,
         CAST(szz AS DOUBLE) AS szz
  FROM agg),
co AS (
  SELECT n, sz, sxz, syz, szz, nd,
         (sz * (sxx * syy - sxy * sxy)
          - sx * (sxz * syy - sxy * syz)
          + sy * (sxz * sxy - sxx * syz))
         / (nd * (sxx * syy - sxy * sxy)
            - sx * (sx * syy - sxy * sy)
            + sy * (sx * sxy - sxx * sy)) AS ca,
         (nd * (sxz * syy - sxy * syz)
          - sz * (sx * syy - sxy * sy)
          + sy * (sx * syz - sxz * sy))
         / (nd * (sxx * syy - sxy * sxy)
            - sx * (sx * syy - sxy * sy)
            + sy * (sx * sxy - sxx * sy)) AS cb,
         (nd * (sxx * syz - sxz * sxy)
          - sx * (sx * syz - sxz * sy)
          + sz * (sx * sxy - sxx * sy))
         / (nd * (sxx * syy - sxy * sxy)
            - sx * (sx * syy - sxy * sy)
            + sy * (sx * sxy - sxx * sy)) AS cc
  FROM d)
SELECT n, round(ca, 6) AS a, round(cb, 6) AS b, round(cc, 6) AS c,
       round(1.0 - (szz - ca * sz - cb * sxz - cc * syz)
                   / (szz - sz * sz / nd), 6) AS r2
FROM co
"""


# ----------------------------------------------------------------- Huff model


def huff_model(
    pts: DataFrame,
    sites: DataFrame,
    res: int = 4,
    eps: float = 1e-9,
) -> DataFrame:
    """Huff (1963) retail-gravity catchment model — the probabilistic
    sibling of the deterministic Voronoi partition: demand cell i patronizes
    site j with probability P_ij = (w_j/d²_ij) / Σ_k (w_k/d²_k), so every
    site captures a SHARE of every cell instead of owning a hard region.

    pts: (x, y) demand points; sites: (sid, sx, sy, w). Returns per site:
    (sid, demand, share) — expected captured demand Σ_i pop_i·P_ij and its
    corpus share. Scale shape: ONE corpus groupBy to (cell, pop), then a
    cells × |sites| broadcast fan-out over cell metadata; both the per-cell
    utility normalizer and the per-site demand are DECIMAL sums (order-
    free); d² gets +eps so co-located site/cell centers stay finite, in
    pinned order on both engines."""
    half = 0.5 / (1 << res)
    cells = (
        pts.select(G.cell_col(F.col("x"), F.col("y"), res).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).cast("long").alias("pop"))
        .select(
            "cell",
            "pop",
            (
                (F.shiftrightunsigned(F.col("cell"), COORD_BITS).bitwiseAND(F.lit(_MASK)))
                .cast("double")
                / F.lit(float(1 << res))
                + F.lit(half)
            ).alias("cx"),
            (
                F.col("cell").bitwiseAND(F.lit(_MASK)).cast("double")
                / F.lit(float(1 << res))
                + F.lit(half)
            ).alias("cy"),
        )
    ).localCheckpoint(eager=False)  # cell metadata; utilities + totals consumers
    u = cells.crossJoin(F.broadcast(sites)).select(
        "cell",
        "pop",
        "sid",
        (
            F.col("w")
            / (
                (F.col("cx") - F.col("sx")) * (F.col("cx") - F.col("sx"))
                + (F.col("cy") - F.col("sy")) * (F.col("cy") - F.col("sy"))
                + F.lit(eps)
            )
        ).alias("u"),
    )
    tot = u.groupBy("cell").agg(
        F.sum(F.col("u").cast(DEC)).cast("double").alias("u_tot")
    )
    p = u.join(tot, "cell").select(
        "sid",
        ((F.col("pop").cast("double") * F.col("u")) / F.col("u_tot")).alias("cap"),
    )
    n_row = cells.agg(F.sum("pop").cast("double").alias("n_pts"))
    return (
        p.groupBy("sid")
        .agg(F.sum(F.col("cap").cast(DEC)).cast("double").alias("demand_raw"))
        .crossJoin(F.broadcast(n_row))
        .select(
            "sid",
            F.round("demand_raw", 6).alias("demand"),
            F.round(F.col("demand_raw") / F.col("n_pts"), 6).alias("share"),
        )
    )


def huff_model_sql(
    pts_sql: str, sites_sql: str, res: int = 4, eps: float = 1e-9
) -> str:
    """DuckDB twin of :func:`huff_model`."""
    half = 0.5 / (1 << res)
    n = float(1 << res)
    return f"""
WITH p AS ({pts_sql}),
sites AS ({sites_sql}),
cells AS (
  SELECT cell, pop,
         CAST((cell >> {COORD_BITS}) & {_MASK} AS DOUBLE) / {flit(n)} + {flit(half)} AS cx,
         CAST(cell & {_MASK} AS DOUBLE) / {flit(n)} + {flit(half)} AS cy
  FROM (
    SELECT {G.cell_sql('x', 'y', res)} AS cell, CAST(count(*) AS BIGINT) AS pop
    FROM p GROUP BY 1)),
u AS (
  SELECT cell, pop, sid,
         (w / ((cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) + {flit(eps)})) AS u
  FROM cells, sites),
tot AS (
  SELECT cell, CAST(sum(CAST(u AS {DEC})) AS DOUBLE) AS u_tot FROM u GROUP BY cell),
cap AS (
  SELECT u.sid, (CAST(u.pop AS DOUBLE) * u.u) / t.u_tot AS cap
  FROM u JOIN tot t ON u.cell = t.cell),
n_row AS (SELECT CAST(sum(pop) AS DOUBLE) AS n_pts FROM cells)
SELECT sid, round(CAST(sum(CAST(cap AS {DEC})) AS DOUBLE), 6) AS demand,
       round(CAST(sum(CAST(cap AS {DEC})) AS DOUBLE) / (SELECT n_pts FROM n_row), 6)
         AS share
FROM cap GROUP BY sid
"""


# ----------------------------------------------------------------- 2SFCA


def accessibility_2sfca(
    pts: DataFrame,
    sites: DataFrame,
    d0: float = 0.25,
    res: int = 4,
) -> DataFrame:
    """Two-step floating catchment area accessibility (Luo & Wang 2003) —
    THE spatial-accessibility index (healthcare/service planning): step 1
    gives each site a supply-demand ratio R_j = s_j / Σ_{cells within d0}
    pop_i; step 2 sums those ratios back onto each demand cell:
    A_i = Σ_{sites within d0} R_j. Zero-access cells (no site in reach)
    report 0.

    pts: (x, y); sites: (sid, sx, sy, s). Returns per cell:
    (cell, pop, n_sites, access). Scale shape: ONE corpus groupBy to
    (cell, pop), then TWO cells × |sites| broadcast fan-outs filtered by
    the d0 circle — both over cell metadata; DECIMAL demand and access
    sums. Distances are cell-center to site (consistent in both engines).
    """
    half = 0.5 / (1 << res)
    cells = (
        pts.select(G.cell_col(F.col("x"), F.col("y"), res).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).cast("long").alias("pop"))
        .select(
            "cell",
            "pop",
            (
                (F.shiftrightunsigned(F.col("cell"), COORD_BITS).bitwiseAND(F.lit(_MASK)))
                .cast("double")
                / F.lit(float(1 << res))
                + F.lit(half)
            ).alias("cx"),
            (
                F.col("cell").bitwiseAND(F.lit(_MASK)).cast("double")
                / F.lit(float(1 << res))
                + F.lit(half)
            ).alias("cy"),
        )
    ).localCheckpoint(eager=False)  # cell metadata; within-join + final left join
    d2 = (F.col("cx") - F.col("sx")) * (F.col("cx") - F.col("sx")) + (
        F.col("cy") - F.col("sy")
    ) * (F.col("cy") - F.col("sy"))
    within = cells.crossJoin(F.broadcast(sites)).where(d2 <= F.lit(d0 * d0))
    ratios = within.groupBy("sid", "s").agg(
        F.sum(F.col("pop").cast(DEC)).cast("double").alias("demand")
    ).select("sid", (F.col("s") / F.col("demand")).alias("r_j"))
    access = (
        within.select("cell", "sid")
        .join(F.broadcast(ratios), "sid")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sites"),
            F.sum(F.col("r_j").cast(DEC)).cast("double").alias("a_raw"),
        )
    )
    return (
        cells.select("cell", "pop")
        .join(access, "cell", "left")
        .select(
            "cell",
            "pop",
            F.coalesce(F.col("n_sites"), F.lit(0).cast("long")).alias("n_sites"),
            F.round(F.coalesce(F.col("a_raw"), F.lit(0.0)), 9).alias("access"),
        )
    )


def accessibility_2sfca_sql(
    pts_sql: str, sites_sql: str, d0: float = 0.25, res: int = 4
) -> str:
    """DuckDB twin of :func:`accessibility_2sfca`."""
    half = 0.5 / (1 << res)
    n = float(1 << res)
    return f"""
WITH p AS ({pts_sql}),
sites AS ({sites_sql}),
cells AS (
  SELECT cell, pop,
         CAST((cell >> {COORD_BITS}) & {_MASK} AS DOUBLE) / {flit(n)} + {flit(half)} AS cx,
         CAST(cell & {_MASK} AS DOUBLE) / {flit(n)} + {flit(half)} AS cy
  FROM (
    SELECT {G.cell_sql('x', 'y', res)} AS cell, CAST(count(*) AS BIGINT) AS pop
    FROM p GROUP BY 1)),
within AS (
  SELECT cell, pop, cx, cy, sid, s
  FROM cells, sites
  WHERE (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) <= {flit(d0 * d0)}),
ratios AS (
  SELECT sid, s / CAST(sum(CAST(pop AS {DEC})) AS DOUBLE) AS r_j
  FROM within GROUP BY sid, s),
access AS (
  SELECT w.cell, CAST(count(*) AS BIGINT) AS n_sites,
         CAST(sum(CAST(r.r_j AS {DEC})) AS DOUBLE) AS a_raw
  FROM within w JOIN ratios r ON w.sid = r.sid
  GROUP BY w.cell)
SELECT c.cell, c.pop,
       coalesce(a.n_sites, 0) AS n_sites,
       round(coalesce(a.a_raw, 0.0), 9) AS access
FROM cells c LEFT JOIN access a ON c.cell = a.cell
"""


# ------------------------------------------------------- geometric median


def tile_geomedian(
    pts: DataFrame, res: int = 2, rounds: int = 4, eps: float = 1e-9
) -> DataFrame:
    """(cell, n_pts, mx, my, gx, gy): per-tile GEOMETRIC median (the L1
    center — the robust location summary an outlier page can't drag, unlike
    the centroid mx/my) via ``rounds`` unrolled Weiszfeld iterations from
    the centroid start:

        g ← Σ w·p / Σ w,   w = 1 / max(‖p − g‖, eps)

    Fixed rounds ⇒ both engines compute the identical rounds-bounded value
    (the cost-distance convergence contract); DECIMAL weight sums make each
    round partition-order independent. Per round: one broadcast join of the
    tile-cardinality medians + one groupBy — the Lloyd/kmeans shape, with
    the corpus re-scanned once per round (inherent to any iterative
    recentering)."""
    base = pts.select(
        G.cell_col(F.col("x"), F.col("y"), res).alias("cell"), "x", "y"
    )
    cent = base.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_pts"),
        (
            F.sum(F.col("x").cast(DEC)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mx"),
        (
            F.sum(F.col("y").cast(DEC)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("my"),
    ).localCheckpoint(eager=False)
    med = cent.select("cell", F.col("mx").alias("gx"), F.col("my").alias("gy"))
    for _ in range(rounds):
        joined = base.join(F.broadcast(med), "cell")
        d = F.sqrt(
            (F.col("x") - F.col("gx")) * (F.col("x") - F.col("gx"))
            + (F.col("y") - F.col("gy")) * (F.col("y") - F.col("gy"))
        )
        wcol = F.lit(1.0) / F.greatest(d, F.lit(eps))
        stepped = joined.select("cell", "x", "y", wcol.alias("w"))
        med = stepped.groupBy("cell").agg(
            (
                F.sum((F.col("w") * F.col("x")).cast(DEC)).cast("double")
                / F.sum(F.col("w").cast(DEC)).cast("double")
            ).alias("gx"),
            (
                F.sum((F.col("w") * F.col("y")).cast(DEC)).cast("double")
                / F.sum(F.col("w").cast(DEC)).cast("double")
            ).alias("gy"),
        ).localCheckpoint(eager=False)  # tile metadata; next round's broadcast
    return cent.join(med, "cell").select(
        "cell",
        "n_pts",
        F.round("mx", 6).alias("mx"),
        F.round("my", 6).alias("my"),
        F.round("gx", 6).alias("gx"),
        F.round("gy", 6).alias("gy"),
    )


def tile_geomedian_sql(
    pts_sql: str, res: int = 2, rounds: int = 4, eps: float = 1e-9
) -> str:
    """DuckDB twin of :func:`tile_geomedian` — identical unrolled rounds."""
    ctes = [
        f"base AS (SELECT {G.cell_sql('x', 'y', res)} AS cell, x, y FROM ({pts_sql}))",
        """cent AS (
  SELECT cell, CAST(count(*) AS BIGINT) AS n_pts,
         CAST(sum(CAST(x AS DECIMAL(28,15))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mx,
         CAST(sum(CAST(y AS DECIMAL(28,15))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS my
  FROM base GROUP BY cell)""",
        "m0 AS (SELECT cell, mx AS gx, my AS gy FROM cent)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(f"""m{r} AS (
  SELECT cell,
         CAST(sum(CAST(w * x AS DECIMAL(28,15))) AS DOUBLE)
           / CAST(sum(CAST(w AS DECIMAL(28,15))) AS DOUBLE) AS gx,
         CAST(sum(CAST(w * y AS DECIMAL(28,15))) AS DOUBLE)
           / CAST(sum(CAST(w AS DECIMAL(28,15))) AS DOUBLE) AS gy
  FROM (
    SELECT b.cell, b.x, b.y,
           1.0 / greatest(sqrt((b.x - m.gx) * (b.x - m.gx)
                               + (b.y - m.gy) * (b.y - m.gy)), {eps!r}) AS w
    FROM base b JOIN m{r - 1} m ON b.cell = m.cell)
  GROUP BY cell)""")
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT c.cell, c.n_pts, round(c.mx, 6) AS mx, round(c.my, 6) AS my,
       round(m.gx, 6) AS gx, round(m.gy, 6) AS gy
FROM cent c JOIN m{rounds} m ON c.cell = m.cell
"""


def radiation_model(
    events_xy: DataFrame, res: int = 3, id_col: str = "user_id"
) -> DataFrame:
    """events_xy: (id_col, event_id, ts, x, y). Per observed OD pair
    (o ≠ d): (o_cell, d_cell, flow, m_i, m_j, s_ij, expected, resid).

    Simini et al. (2012) radiation model — the PARAMETER-FREE alternative to
    the gravity model: expected T_ij = T_i · m_i·m_j /
    ((m_i+s_ij)(m_i+m_j+s_ij)), where m is a cell's total trip-end mass
    (origins + destinations), T_i its outflow, and s_ij the mass inside the
    circle of radius d(i,j) around i, excluding both endpoints. No fitted
    exponent, no K — flows are explained by intervening opportunities alone.

    Scale shape: one struct-min/max groupBy reduces the corpus to trips;
    everything after runs on CELL metadata (≤ 4^res rows). s_ij comes from a
    cell×cell metadata fan-out (broadcast of the per-cell mass table) with a
    per-origin cumulative-mass window ordered by (dist2, cell) — ties broken
    deterministically by cell id, origin excluded by its 0-distance rank,
    destination excluded by subtracting its own mass. No data-scale shuffle
    beyond the trip groupBy.
    """
    pt = F.struct("ts", "event_id", "x", "y")
    ends = events_xy.groupBy(id_col).agg(F.min(pt).alias("p0"), F.max(pt).alias("p1"))
    trips = ends.select(
        G.cell_col(F.col("p0.x"), F.col("p0.y"), res).alias("o_cell"),
        G.cell_col(F.col("p1.x"), F.col("p1.y"), res).alias("d_cell"),
    )
    flows = (
        trips.groupBy("o_cell", "d_cell")
        .agg(F.count(F.lit(1)).cast("long").alias("flow"))
        .where(F.col("o_cell") != F.col("d_cell"))
    )
    mass = (
        trips.select(F.col("o_cell").alias("cell"))
        .unionByName(trips.select(F.col("d_cell").alias("cell")))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
    )
    t_out = trips.groupBy("o_cell").agg(F.count(F.lit(1)).cast("long").alias("t_i"))

    def center(cell, part):
        ix = F.shiftrightunsigned(cell, COORD_BITS).bitwiseAND(F.lit(_MASK))
        iy = cell.bitwiseAND(F.lit(_MASK))
        c = ix if part == "x" else iy
        return (c.cast("double") + F.lit(0.5)) / F.lit(float(1 << res))

    # cell×cell metadata fan-out: per origin, cumulative mass strictly
    # closer than each candidate (ties → smaller cell id counts first)
    o = mass.select(F.col("cell").alias("o_cell"), F.col("m").alias("m_i"))
    c = mass.select(F.col("cell").alias("c_cell"), F.col("m").alias("m_c"))
    dx = center(F.col("o_cell"), "x") - center(F.col("c_cell"), "x")
    dy = center(F.col("o_cell"), "y") - center(F.col("c_cell"), "y")
    pairs = o.crossJoin(F.broadcast(c)).withColumn(
        "dist2", F.round(dx * dx + dy * dy, 12)
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("o_cell")
        .orderBy("dist2", "c_cell")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = pairs.withColumn(
        "cum_before", F.coalesce(F.sum("m_c").over(w), F.lit(0)).cast("long")
    )
    # s_ij: mass strictly before destination j in the (dist2, cell) order,
    # minus the origin itself (rank 0 ⇒ always inside cum_before for j ≠ o)
    s = cum.select(
        "o_cell",
        F.col("c_cell").alias("d_cell"),
        (F.col("cum_before") - F.col("m_i")).alias("s_ij"),
        "m_i",
        F.col("m_c").alias("m_j"),
    )
    j = (
        flows.join(s, ["o_cell", "d_cell"])
        .join(F.broadcast(t_out), "o_cell")
    )
    mi = F.col("m_i").cast("double")
    mj = F.col("m_j").cast("double")
    sij = F.col("s_ij").cast("double")
    expected = (
        F.col("t_i").cast("double") * mi * mj / ((mi + sij) * (mi + mj + sij))
    )
    return j.select(
        "o_cell",
        "d_cell",
        "flow",
        "m_i",
        "m_j",
        "s_ij",
        F.round(expected, 6).alias("expected"),
        F.round(F.col("flow").cast("double") - expected, 6).alias("resid"),
    )


def radiation_model_sql(
    events_xy_sql: str, res: int = 3, id_col: str = "user_id"
) -> str:
    """DuckDB twin of :func:`radiation_model`."""

    def center(cell: str, part: str) -> str:
        c = (
            f"(({cell} >> {COORD_BITS}) & {_MASK})"
            if part == "x"
            else f"({cell} & {_MASK})"
        )
        return f"((CAST({c} AS DOUBLE) + 0.5) / {flit(float(1 << res))})"

    dxc = f"({center('o.o_cell', 'x')} - {center('c.c_cell', 'x')})"
    dyc = f"({center('o.o_cell', 'y')} - {center('c.c_cell', 'y')})"
    cell_o = G.cell_sql("p0x", "p0y", res)
    cell_d = G.cell_sql("p1x", "p1y", res)
    return f"""
WITH ev AS ({events_xy_sql}),
ends AS (
  SELECT {id_col},
         min(struct_pack(ts := ts, event_id := event_id, x := x, y := y)) AS p0,
         max(struct_pack(ts := ts, event_id := event_id, x := x, y := y)) AS p1
  FROM ev GROUP BY {id_col}),
trips_xy AS (
  SELECT p0.x AS p0x, p0.y AS p0y, p1.x AS p1x, p1.y AS p1y FROM ends),
trips AS (
  SELECT {cell_o} AS o_cell, {cell_d} AS d_cell FROM trips_xy),
flows AS (
  SELECT o_cell, d_cell, count(*)::BIGINT AS flow FROM trips
  WHERE o_cell <> d_cell GROUP BY o_cell, d_cell),
mass AS (
  SELECT cell, count(*)::BIGINT AS m FROM (
    SELECT o_cell AS cell FROM trips UNION ALL SELECT d_cell FROM trips)
  GROUP BY cell),
t_out AS (
  SELECT o_cell, count(*)::BIGINT AS t_i FROM trips GROUP BY o_cell),
pairs AS (
  SELECT o.cell AS o_cell, o.m AS m_i, c.cell AS c_cell, c.m AS m_c,
         round({dxc.replace('o.o_cell', 'o.cell').replace('c.c_cell', 'c.cell')} * {dxc.replace('o.o_cell', 'o.cell').replace('c.c_cell', 'c.cell')}
               + {dyc.replace('o.o_cell', 'o.cell').replace('c.c_cell', 'c.cell')} * {dyc.replace('o.o_cell', 'o.cell').replace('c.c_cell', 'c.cell')}, 12) AS dist2
  FROM mass o CROSS JOIN mass c),
cum AS (
  SELECT o_cell, m_i, c_cell, m_c, dist2,
         coalesce(sum(m_c) OVER (PARTITION BY o_cell ORDER BY dist2, c_cell
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS cum_before
  FROM pairs),
s AS (
  SELECT o_cell, c_cell AS d_cell, (cum_before - m_i)::BIGINT AS s_ij, m_i,
         m_c AS m_j
  FROM cum)
SELECT f.o_cell, f.d_cell, f.flow, s.m_i, s.m_j, s.s_ij,
       round(CAST(t.t_i AS DOUBLE) * CAST(s.m_i AS DOUBLE) * CAST(s.m_j AS DOUBLE)
             / ((CAST(s.m_i AS DOUBLE) + CAST(s.s_ij AS DOUBLE))
                * (CAST(s.m_i AS DOUBLE) + CAST(s.m_j AS DOUBLE) + CAST(s.s_ij AS DOUBLE))), 6)
         AS expected,
       round(CAST(f.flow AS DOUBLE)
             - CAST(t.t_i AS DOUBLE) * CAST(s.m_i AS DOUBLE) * CAST(s.m_j AS DOUBLE)
             / ((CAST(s.m_i AS DOUBLE) + CAST(s.s_ij AS DOUBLE))
                * (CAST(s.m_i AS DOUBLE) + CAST(s.m_j AS DOUBLE) + CAST(s.s_ij AS DOUBLE))), 6)
         AS resid
FROM flows f
JOIN s ON f.o_cell = s.o_cell AND f.d_cell = s.d_cell
JOIN t_out t ON f.o_cell = t.o_cell
"""


def gwr_local(
    pts: DataFrame,
    res: int = 4,
    bandwidth: float = 0.08,
    cutoff: float = 3.0,
    min_pts: int = 10,
    x_col: str = "x",
    y_col: str = "y",
    v_col: str = "v",
) -> DataFrame:
    """Geographically Weighted Regression (Fotheringham/Brunsdon/Charlton):
    per occupied cell center, the Gaussian-kernel-weighted OLS fit
    v = b0 + b1·x + b2·y over the points within ``cutoff`` bandwidths.
    Output: (cell_id, ix, iy, n_pts, b0, b1, b2, r2) — the locally varying
    coefficient surface a global trend_surface cannot show.

    Scale shape: the KDE stencil pattern — each point explodes to its
    ≤ (2R+1)² nearby cells (bounded fan-out), weights w = exp(−d²/2h²) use
    the bit-exact twin exp, and ONE groupBy per regression cell accumulates
    the 10 weighted sufficient statistics in DECIMAL. The 3×3 normal
    equations solve in closed form (Cramer), so no per-cell iteration and
    no driver work; degenerate cells (n < min_pts or |det| ≤ 1e-12) drop
    identically in both engines."""
    from .heatmap import _plan

    n, R, s, r2_cut, two_h2 = _plan(res, bandwidth, cutoff)
    x, y, v = F.col(x_col), F.col(y_col), F.col(v_col)
    ix0 = F.greatest(F.least(F.floor(x * F.lit(float(n))).cast("long"), F.lit(n - 1)), F.lit(0))
    iy0 = F.greatest(F.least(F.floor(y * F.lit(float(n))).cast("long"), F.lit(n - 1)), F.lit(0))
    # narrow barrier: callers pass x/y/v as unmaterialized fold/score trees;
    # the stencil filter's pushed-down predicate re-inlines them per
    # candidate row (> 64 KB/method). Materialized: 5 narrow columns/point.
    home = pts.select(
        x.alias("x"), y.alias("y"), v.alias("v"), ix0.alias("ix0"), iy0.alias("iy0")
    ).localCheckpoint(eager=False)
    cand = (
        home
        .select(
            "x", "y", "v", "iy0",
            F.explode(
                F.sequence(F.greatest(F.col("ix0") - R, F.lit(0)),
                           F.least(F.col("ix0") + R, F.lit(n - 1)))
            ).alias("ix"),
        )
        .select(
            "x", "y", "v", "ix",
            F.explode(
                F.sequence(F.greatest(F.col("iy0") - R, F.lit(0)),
                           F.least(F.col("iy0") + R, F.lit(n - 1)))
            ).alias("iy"),
        )
    )
    cx = (F.col("ix").cast("double") + F.lit(0.5)) * F.lit(s)
    cy = (F.col("iy").cast("double") + F.lit(0.5)) * F.lit(s)
    dx = cx - F.col("x")
    dy = cy - F.col("y")
    # narrow barrier (round-4 codegen-fallback fix): fused, the caller's
    # xy-fold/quality trees + the stencil explodes + the twin-exp weight all
    # inline into the hashAgg loop method, exceeding the JVM's 64 KB
    # bytecode limit. The materialized frame is the bounded stencil fan-out
    # (≤ (2R+1)² rows/point, 6 narrow columns).
    staged = (
        cand.withColumn("d2", dx * dx + dy * dy)
        .where(F.col("d2") <= F.lit(r2_cut))
        .withColumn("w", G.exp_col(-(F.col("d2") / F.lit(two_h2))))
        .localCheckpoint(eager=False)
    )

    def S(expr, name):
        return F.sum(expr.cast(DEC)).cast("double").alias(name)

    w_, xx, yy, vv = F.col("w"), F.col("x"), F.col("y"), F.col("v")
    sums = staged.groupBy("ix", "iy").agg(
        F.count(F.lit(1)).cast("long").alias("n_pts"),
        S(w_, "sw"), S(w_ * xx, "swx"), S(w_ * yy, "swy"), S(w_ * vv, "swv"),
        S(w_ * xx * xx, "swxx"), S(w_ * xx * yy, "swxy"), S(w_ * yy * yy, "swyy"),
        S(w_ * xx * vv, "swxv"), S(w_ * yy * vv, "swyv"), S(w_ * vv * vv, "swvv"),
    ).where(F.col("n_pts") >= min_pts)
    sw, swx, swy = F.col("sw"), F.col("swx"), F.col("swy")
    swv, swxx, swxy = F.col("swv"), F.col("swxx"), F.col("swxy")
    swyy, swxv, swyv, swvv = F.col("swyy"), F.col("swxv"), F.col("swyv"), F.col("swvv")
    det = (
        sw * (swxx * swyy - swxy * swxy)
        - swx * (swx * swyy - swxy * swy)
        + swy * (swx * swxy - swxx * swy)
    )
    d0 = (
        swv * (swxx * swyy - swxy * swxy)
        - swx * (swxv * swyy - swxy * swyv)
        + swy * (swxv * swxy - swxx * swyv)
    )
    d1 = (
        sw * (swxv * swyy - swxy * swyv)
        - swv * (swx * swyy - swxy * swy)
        + swy * (swx * swyv - swxv * swy)
    )
    d2_ = (
        sw * (swxx * swyv - swxv * swxy)
        - swx * (swx * swyv - swxv * swy)
        + swv * (swx * swxy - swxx * swy)
    )
    solved = sums.withColumn("det", det).where(F.abs(F.col("det")) > F.lit(1e-12))
    b0 = d0 / F.col("det")
    b1 = d1 / F.col("det")
    b2 = d2_ / F.col("det")
    staged2 = solved.withColumn("b0", b0).withColumn("b1", b1).withColumn("b2", b2)
    sse = swvv - (F.col("b0") * swv + F.col("b1") * swxv + F.col("b2") * swyv)
    sst = swvv - swv * swv / sw
    cell = (
        F.shiftleft(F.lit(res).cast("long"), RES_SHIFT)
        .bitwiseOR(F.shiftleft(F.col("ix"), COORD_BITS))
        .bitwiseOR(F.col("iy"))
    )
    return staged2.where(sst > 0).select(
        cell.alias("cell_id"),
        "ix",
        "iy",
        "n_pts",
        F.round("b0", 6).alias("b0"),
        F.round("b1", 6).alias("b1"),
        F.round("b2", 6).alias("b2"),
        F.round(F.lit(1.0) - sse / sst, 6).alias("r2"),
    )


def gwr_local_sql(
    pts_sql: str,
    res: int = 4,
    bandwidth: float = 0.08,
    cutoff: float = 3.0,
    min_pts: int = 10,
) -> str:
    """DuckDB twin of :func:`gwr_local`; ``pts_sql`` yields (x, y, v)."""
    from .heatmap import _plan

    n, R, s, r2_cut, two_h2 = _plan(res, bandwidth, cutoff)
    cell = (
        f"(({res}::BIGINT << {RES_SHIFT}) | (CAST(ix AS BIGINT) << {COORD_BITS}) | iy)"
    )
    det = ("(sw * (swxx * swyy - swxy * swxy)"
           " - swx * (swx * swyy - swxy * swy)"
           " + swy * (swx * swxy - swxx * swy))")
    d0 = ("(swv * (swxx * swyy - swxy * swxy)"
          " - swx * (swxv * swyy - swxy * swyv)"
          " + swy * (swxv * swxy - swxx * swyv))")
    d1 = ("(sw * (swxv * swyy - swxy * swyv)"
          " - swv * (swx * swyy - swxy * swy)"
          " + swy * (swx * swyv - swxv * swy))")
    d2_ = ("(sw * (swxx * swyv - swxv * swxy)"
           " - swx * (swx * swyv - swxv * swy)"
           " + swv * (swx * swxy - swxx * swy))")
    return f"""
WITH pts AS (SELECT x, y, v FROM ({pts_sql})),
homed AS (
  SELECT x, y, v,
         greatest(least(CAST(floor(x * {flit(float(n))}) AS BIGINT), {n - 1}), 0) AS ix0,
         greatest(least(CAST(floor(y * {flit(float(n))}) AS BIGINT), {n - 1}), 0) AS iy0
  FROM pts),
cand AS (
  SELECT x, y, v, ix, iy FROM (
    SELECT x, y, v, iy0,
           unnest(generate_series(greatest(ix0 - {R}, 0), least(ix0 + {R}, {n - 1}))) AS ix
    FROM homed) cx2,
  LATERAL (SELECT unnest(generate_series(greatest(cx2.iy0 - {R}, 0),
                                         least(cx2.iy0 + {R}, {n - 1}))) AS iy) ly),
staged AS (
  SELECT ix, iy, x, y, v, d2,
         {G.exp_sql(f"(-(d2 / {flit(two_h2)}))")} AS w
  FROM (
    SELECT ix, iy, x, y, v,
           ((CAST(ix AS DOUBLE) + 0.5) * {flit(s)} - x) * ((CAST(ix AS DOUBLE) + 0.5) * {flit(s)} - x)
           + ((CAST(iy AS DOUBLE) + 0.5) * {flit(s)} - y) * ((CAST(iy AS DOUBLE) + 0.5) * {flit(s)} - y) AS d2
    FROM cand)
  WHERE d2 <= {flit(r2_cut)}),
sums AS (
  SELECT ix, iy, count(*)::BIGINT AS n_pts,
         CAST(sum(CAST(w AS {DEC})) AS DOUBLE) AS sw,
         CAST(sum(CAST(w * x AS {DEC})) AS DOUBLE) AS swx,
         CAST(sum(CAST(w * y AS {DEC})) AS DOUBLE) AS swy,
         CAST(sum(CAST(w * v AS {DEC})) AS DOUBLE) AS swv,
         CAST(sum(CAST(w * x * x AS {DEC})) AS DOUBLE) AS swxx,
         CAST(sum(CAST(w * x * y AS {DEC})) AS DOUBLE) AS swxy,
         CAST(sum(CAST(w * y * y AS {DEC})) AS DOUBLE) AS swyy,
         CAST(sum(CAST(w * x * v AS {DEC})) AS DOUBLE) AS swxv,
         CAST(sum(CAST(w * y * v AS {DEC})) AS DOUBLE) AS swyv,
         CAST(sum(CAST(w * v * v AS {DEC})) AS DOUBLE) AS swvv
  FROM staged GROUP BY ix, iy
  HAVING count(*) >= {min_pts}),
solved AS (
  SELECT *, {det} AS det FROM sums WHERE abs({det}) > 1e-12),
coef AS (
  SELECT *, {d0} / det AS b0, {d1} / det AS b1, {d2_} / det AS b2 FROM solved)
SELECT {cell} AS cell_id, ix, iy, n_pts,
       round(b0, 6) AS b0, round(b1, 6) AS b1, round(b2, 6) AS b2,
       round(1.0 - (swvv - (b0 * swv + b1 * swxv + b2 * swyv))
                   / (swvv - swv * swv / sw), 6) AS r2
FROM coef
WHERE (swvv - swv * swv / sw) > 0
"""
