"""geostats operators vs brute-force references (numpy / O(n²) loops)."""

import math

import numpy as np
import pytest

from raptor_rag_spark.operators.geostats import (
    gravity_model,
    headtail_breaks,
    knox_test,
    sd_ellipse,
)


def test_sd_ellipse_matches_numpy_eigen(spark):
    rng = np.random.RandomState(7)
    # anisotropic blob inside one res-2 cell (cell (1,1): [0.25,0.5)²)
    base = rng.randn(200, 2) * np.array([0.04, 0.01])
    th0 = 0.6
    rot = np.array(
        [[math.cos(th0), -math.sin(th0)], [math.sin(th0), math.cos(th0)]]
    )
    pts = base @ rot.T + np.array([0.375, 0.375])
    pts = np.clip(pts, 0.26, 0.49)
    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in pts], "x DOUBLE, y DOUBLE"
    )
    rows = sd_ellipse(df, res=2).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n"] == 200
    assert r["mx"] == pytest.approx(pts[:, 0].mean(), abs=1e-5)
    assert r["my"] == pytest.approx(pts[:, 1].mean(), abs=1e-5)
    # numpy covariance eigen-decomposition as the reference
    cov = np.cov(pts.T, bias=True)
    evals, evecs = np.linalg.eigh(cov)
    sig_major, sig_minor = math.sqrt(evals[1]), math.sqrt(evals[0])
    got = sorted([r["sig1"], r["sig2"]], reverse=True)
    assert got[0] == pytest.approx(sig_major, rel=1e-3)
    assert got[1] == pytest.approx(sig_minor, rel=1e-3)
    # orientation modulo pi must match the major eigenvector's angle
    ang = math.atan2(evecs[1, 1], evecs[0, 1]) % math.pi
    # r.theta orients sig1's axis; if sig2 is the major axis, rotate 90°
    th = r["theta"] % math.pi
    if r["sig2"] > r["sig1"]:
        th = (th + math.pi / 2) % math.pi
    assert min(abs(th - ang), math.pi - abs(th - ang)) < 0.05
    assert r["area"] == pytest.approx(math.pi * r["sig1"] * r["sig2"], abs=1e-5)


def test_knox_matches_bruteforce(spark):
    rng = np.random.RandomState(3)
    n = 120
    xs, ys = rng.rand(n), rng.rand(n)
    ts = rng.randint(0, 86400 * 3, size=n)
    import datetime

    rows = [
        (i, float(xs[i]), float(ys[i]),
         datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=int(ts[i])))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "event_id LONG, x DOUBLE, y DOUBLE, ts TIMESTAMP")
    s_eps, t_eps = 0.02, 3600
    out = knox_test(df, s_eps=s_eps, t_eps=t_eps, res=5).collect()[0]

    ns = nt = x_obs = 0
    for i in range(n):
        for j in range(i + 1, n):
            close_s = (xs[i] - xs[j]) ** 2 + (ys[i] - ys[j]) ** 2 <= s_eps**2
            close_t = abs(int(ts[i]) - int(ts[j])) <= t_eps
            ns += close_s
            nt += close_t
            x_obs += close_s and close_t
    assert out["n"] == n
    assert out["n_pairs"] == n * (n - 1) // 2
    assert out["ns"] == ns
    assert out["nt"] == nt
    assert out["x_obs"] == x_obs
    assert out["x_exp"] == pytest.approx(ns * nt / (n * (n - 1) / 2), abs=1e-5)

    # a cap that every cell exceeds leaves no pairs: NULL, as the DuckDB twin
    import duckdb

    from raptor_rag_spark.operators.geostats import knox_test_sql

    capped = tuple(knox_test(df, s_eps=s_eps, t_eps=t_eps, res=5, max_cell=0).collect()[0])
    con = duckdb.connect()
    con.register("events_xy", df.toPandas())
    sql = knox_test_sql("SELECT * FROM events_xy", s_eps, t_eps, 5, max_cell=0)
    twin = con.execute(sql).fetchone()
    assert capped == twin == (0, 0, 0, 0, 0, None, None)


def test_gravity_model_conserves_total_flow(spark):
    import datetime

    rng = np.random.RandomState(11)
    rows = []
    t0 = datetime.datetime(2024, 1, 1)
    for uid in range(80):
        for k in range(2):  # first and last event = one trip
            rows.append(
                (uid, uid * 10 + k, t0 + datetime.timedelta(hours=k),
                 float(rng.rand()), float(rng.rand()))
            )
    df = spark.createDataFrame(
        rows, "user_id LONG, event_id LONG, ts TIMESTAMP, x DOUBLE, y DOUBLE"
    )
    out = gravity_model(df, res=2).collect()
    tot_flow = sum(r["flow"] for r in out)
    tot_exp = sum(r["expected"] for r in out)
    assert tot_exp == pytest.approx(tot_flow, rel=1e-4)  # K calibration
    for r in out:
        assert r["o_cell"] != r["d_cell"]
        assert r["expected"] > 0
        # r["expected"] is rounded to 6dp while chi2 used the unrounded value
        assert r["chi2"] == pytest.approx(
            (r["flow"] - r["expected"]) ** 2 / r["expected"], abs=1e-2
        )


def test_headtail_breaks_handrolled(spark):
    vals = [1] * 60 + [10] * 25 + [100] * 10 + [1000] * 5
    df = spark.createDataFrame([(v,) for v in vals], "n_chars LONG")
    out = {r["level"]: r for r in headtail_breaks(df, "n_chars", levels=3).collect()}

    cur = vals
    for lvl in range(1, 4):
        if not cur:
            assert lvl not in out
            continue
        m = sum(cur) / len(cur)
        head = [v for v in cur if v > m]
        r = out[lvl]
        assert r["n"] == len(cur)
        assert r["mean"] == pytest.approx(m, abs=1e-6)
        assert r["n_head"] == len(head)
        assert r["head_frac"] == pytest.approx(len(head) / len(cur), abs=1e-6)
        cur = head
