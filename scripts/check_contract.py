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

# check the checkout this script lives in, whatever the working directory:
# on the driver's path, and on the Python workers' (they inherit PYTHONPATH)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

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


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from raptor_rag_spark.session import get_spark

    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    spark = get_spark("contract-check", cores=cores)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = E.queries()
    oracles = E.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"weak  {name}: rows={len(sdf)} cols={sorted(sdf.columns)} ({time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {exc}")
            n_fail += 1
            continue
        sn, sc, sh = canon(sdf)
        on, oc, oh = canon(odf)
        ok = (sn, sc, sh) == (on, oc, oh)
        status = "ok  " if ok else "FAIL"
        if not ok:
            n_fail += 1
        print(f"{status}  {name}: spark({sn},{sh}) duck({on},{oh}) cols={'=' if sc == oc else (sc, oc)} ({time.time()-t0:.1f}s)")
        if not ok and sn == on and sc == oc:
            # value mismatch — show first differing rows
            sm = sdf[sorted(sdf.columns)].sort_values(sorted(sdf.columns)).reset_index(drop=True)
            om = odf[sorted(odf.columns)].sort_values(sorted(odf.columns)).reset_index(drop=True)
            for i in range(min(len(sm), len(om))):
                if not sm.iloc[i].equals(om.iloc[i]):
                    print(f"      first diff row {i}:\n      spark: {sm.iloc[i].to_dict()}\n      duck : {om.iloc[i].to_dict()}")
                    break
    print(f"\n{'ALL OK' if n_fail == 0 else f'{n_fail} FAILURES'}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
