"""Driver-style correctness preflight: run every queries() entry on
Spark at a given SF and its oracle_sql() on DuckDB over the same
parquet, compare rows / schema / value-hash the way the driver does
(sort columns by name, sort rows, hash values), print per-query wall
times.  Usage: python tools/preflight.py [sf_dir] [only,names]"""
from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def canon(df: pd.DataFrame) -> tuple[str, str]:
    df = df[sorted(df.columns)]
    schema = ",".join(f"{c}" for c in df.columns)
    rows = df.astype(str).values.tolist()
    rows.sort()
    h = hashlib.sha256("\n".join("|".join(r) for r in rows).encode()).hexdigest()
    return schema, h


def main() -> None:
    from deltoid_spark.queries import oracle_sql, queries
    from deltoid_spark.session import get_spark

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or os.cpu_count()
    spark = get_spark(cores=cores, app="preflight", shuffle_partitions=cores)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    qs, os_ = queries(), oracle_sql()
    t_all = time.time()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF).toPandas()
            t_spark = time.time() - t0
            sql = os_.get(name)
            if sql is None:
                print(f"{name:28s} rows-only {len(sdf):7d} {t_spark:6.2f}s")
                continue
            t1 = time.time()
            odf = con.execute(sql).df()
            t_ora = time.time() - t1
            s1, h1 = canon(sdf)
            s2, h2 = canon(odf)
            ok = (len(sdf) == len(odf), s1 == s2, h1 == h2)
            tag = "PASS" if all(ok) else f"FAIL rows={ok[0]} schema={ok[1]} hash={ok[2]}"
            n_pass += all(ok)
            n_fail += not all(ok)
            print(f"{name:28s} {tag} rows={len(sdf):6d} spark={t_spark:6.2f}s "
                  f"oracle={t_ora:5.2f}s")
            if not all(ok):
                print("  spark schema:", s1)
                print("  ora   schema:", s2)
        except Exception as e:  # noqa: BLE001
            n_fail += 1
            print(f"{name:28s} ERR {type(e).__name__}: {str(e)[:200]}")
    print(f"total {time.time() - t_all:.1f}s  pass={n_pass} fail={n_fail}")
    spark.stop()


if __name__ == "__main__":
    main()
