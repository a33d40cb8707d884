"""DuckDB oracle hashes for the query mix, computed in a process of their own.

    python3 perfbench/oracle.py <tables dir> <query> [<query> ...]

prints one JSON object ``{query: hash}``: the ``value_hash`` of each
query's ``queries.oracle_sql()`` result on ``<tables dir>/<table>.parquet``.
The ``query_mix`` workload runs it beside its warm-up, so DuckDB's
memory and threads never overlap a measured pass.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys


def value_hash(rows, colnames) -> str:
    """Row-order-insensitive hash with columns sorted by name (the
    catalog's oracle comparison)."""

    def cell(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return str(int(v))
        return str(v)

    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("\x01".join(cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def oracle_hashes(sf_dir: str, names: list[str]) -> dict[str, str]:
    import duckdb

    import tables
    from deltoid_spark.queries import oracle_sql

    sql = oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET threads=4")
        con.execute("SET memory_limit='2GB'")
        for t in tables.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(sf_dir, t)}.parquet')"
            )
        out = {}
        for name in names:
            res = con.execute(sql[name])
            cols = [d[0].lower() for d in res.description]
            out[name] = value_hash(res.fetchall(), cols)
        return out
    finally:
        con.close()


if __name__ == "__main__":
    sys.path.insert(1, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    print(json.dumps(oracle_hashes(sys.argv[1], sys.argv[2:])))
