"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its oracle_sql() twin
on DuckDB at the given sf dir, compares row count + column names + an
order-insensitive value hash, and prints one line per query.

Usage: python scripts/check_contract.py [sf_dir] [query ...]

Runs on local[$SPARK_GRAFT_CPUS] (default: the host's core count).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> tuple[int, list[str], str]:
    cols = sorted(df.columns)
    df = df[cols].copy()
    for c in cols:
        col = df[c]
        if col.dtype == object:
            df[c] = col.map(lambda v: repr(sorted(v)) if isinstance(v, (list, set)) else repr(v))
        elif str(col.dtype).startswith("float"):
            df[c] = col.round(6).map(lambda v: repr(v))
        else:
            df[c] = col.map(lambda v: repr(v))
    rows = sorted(df.itertuples(index=False, name=None))
    h = hashlib.md5(repr(rows).encode()).hexdigest()[:12]
    return len(rows), cols, h


def oracle_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per sf table, as the oracles read
    them. A table may be one parquet file or a directory of part files."""
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def check_query(name, run, con, sql: str | None) -> tuple[str, str, pd.DataFrame | None]:
    """(status, message, Spark output) of one query: ``run()`` gives its
    Spark output as a pandas frame, compared with the DuckDB oracle ``sql``
    through :func:`canon`. status is "ok", "FAIL", or "weak" when ``sql``
    is None (no oracle to compare with)."""
    t0 = time.time()
    try:
        sdf = run()
    except Exception as exc:  # noqa: BLE001
        return "FAIL", f"{name}: spark error: {exc}", None
    if sql is None:
        return "weak", f"{name}: rows={len(sdf)} cols={sorted(sdf.columns)} ({time.time()-t0:.1f}s)", sdf
    try:
        odf = con.execute(sql).fetchdf()
    except Exception as exc:  # noqa: BLE001
        return "FAIL", f"{name}: duckdb error: {exc}", sdf
    sn, sc, sh = canon(sdf)
    on, oc, oh = canon(odf)
    ok = (sn, sc, sh) == (on, oc, oh)
    msg = f"{name}: spark({sn},{sh}) duck({on},{oh}) cols={'=' if sc == oc else (sc, oc)} ({time.time()-t0:.1f}s)"
    if not ok and sn == on and sc == oc:
        # value mismatch — show first differing rows
        sm = sdf[sorted(sdf.columns)].sort_values(sorted(sdf.columns)).reset_index(drop=True)
        om = odf[sorted(odf.columns)].sort_values(sorted(odf.columns)).reset_index(drop=True)
        for i in range(min(len(sm), len(om))):
            if not sm.iloc[i].equals(om.iloc[i]):
                msg += f"\n      first diff row {i}:\n      spark: {sm.iloc[i].to_dict()}\n      duck : {om.iloc[i].to_dict()}"
                break
    return ("ok" if ok else "FAIL"), msg, sdf


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # check the checkout this script lives in, whatever the working directory:
    # on this process's path, and on the Python workers' (they inherit PYTHONPATH)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

    import __spark_entry__ as E
    from raptor_rag_spark.session import get_spark

    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    spark = get_spark("contract-check", cores=cores)
    con = oracle_views(sf_dir)

    qs = E.queries()
    oracles = E.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        status, msg, _ = check_query(name, lambda: fn(spark, sf_dir).toPandas(), con, oracles.get(name))
        n_fail += status == "FAIL"
        print(f"{status:<4}  {msg}")
    print(f"\n{'ALL OK' if n_fail == 0 else f'{n_fail} FAILURES'}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
