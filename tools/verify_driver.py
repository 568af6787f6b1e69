"""Driver-contract simulation: run every queries() entry AND its oracle_sql()
in DuckDB over the same parquet, compare rows/cols/value-hash.

Usage: python tools/verify_driver.py <SF_DIR> [name ...]
Build the Spark session with DEFAULT configs (ANSI on, parquet timestamps as
TIMESTAMP_NTZ in Spark 4) — exactly the deltas that caused round-3 reds.
"""
import hashlib
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.chdir(_REPO)

import duckdb
from pyspark.sql import SparkSession

from be_analytic_etl_spark.session import driver_memory

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
ONLY = set(sys.argv[2:])

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _fmt(v):
    """Mirror tests/conftest._canon_cell (empirically-derived driver canon)."""
    import datetime
    import decimal

    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return "b:" + str(bool(v))
    if isinstance(v, (int, np.integer)):
        return "i:" + str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if f != f:
            return "NULL"
        # Full-precision canon, matching the pytest canon: a query green
        # under this cannot be ulp-fragile (ext_zscore_outliers passed a
        # 12-significant-digit canon but failed a stricter compare).
        return "f:" + f"{f:.17g}"
    if isinstance(v, decimal.Decimal):
        return "d:" + str(v.normalize())
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        if getattr(v, "tzinfo", None) is not None:
            v = v.tz_convert("UTC").tz_localize(None) if isinstance(v, pd.Timestamp) else v
        return "t:" + v.isoformat()
    if isinstance(v, datetime.date):
        return "t:" + v.isoformat() + "T00:00:00"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "a:[" + ",".join(_fmt(x) for x in v) + "]"
    return "s:" + str(v)


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(_fmt(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return sorted(cols), h


def main():
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    import __spark_entry__ as E

    qs = E.queries()
    oracles = E.oracle_sql()

    # smoke: entry()
    if not ONLY:
        df = E.entry(spark)
        n = len(df.toPandas())
        print(f"entry(): {n} rows OK", flush=True)

    fails = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            pdf = sdf.toPandas()
            scols, srows = list(pdf.columns), [tuple(r) for r in pdf.itertuples(index=False)]
            odf = con.execute(oracles[name]).df()
            ocols = list(odf.columns)
            ores = [tuple(r) for r in odf.itertuples(index=False)]
            sc, sh = canon(scols, srows)
            oc, oh = canon(ocols, ores)
            rows_ok = len(srows) == len(ores)
            cols_ok = sc == oc
            hash_ok = sh == oh
            ok = rows_ok and cols_ok and hash_ok
            tag = "OK" if ok else "FAIL"
            print(
                f"{name}: {tag} rows={len(srows)}/{len(ores)} cols={cols_ok} hash={hash_ok} ({time.time()-t0:.1f}s)",
                flush=True,
            )
            if not ok:
                fails.append(name)
                if not cols_ok:
                    print(f"  spark cols: {sc}\n  oracle cols: {oc}", flush=True)
        except Exception as e:
            print(f"{name}: ERROR {type(e).__name__}: {str(e)[:500]}", flush=True)
            fails.append(name)
    print(f"TOTAL: {len(qs) if not ONLY else len(ONLY)} queries, {len(fails)} failing: {fails}", flush=True)
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
