"""Local stand-in for the driver's correctness gate.

For every ``queries()`` entry in __spark_entry__.py with a matching
``oracle_sql()`` entry, runs the Spark query and the DuckDB oracle at
sf0.01 and compares: row count, column-name set, and an
order-insensitive value hash (columns sorted by name, rows sorted,
floats rounded to 9 significant digits).  Queries without an oracle get
a rows-only check (>= 0 rows, stable schema).

Usage: python tools/check_oracles.py [--sf /root/testdata/sf0.01] [--only q1,q2]
"""
from __future__ import annotations

import argparse
import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.hostsize import CPUS, spark_session  # noqa: E402

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _canon_cell(v):
    if v is None:
        return "\0"
    import decimal
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0:
            return "0"
        return f"{v:.9g}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon_cell(v[k])}"
                              for k in sorted(v)) + "}"
    return str(v)


def value_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("\x01".join(_canon_cell(r[i]) for i in order)
                   for r in rows)
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode("utf-8", "surrogatepass"))
        h.update(b"\n")
    return h.hexdigest()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default="")
    args = ap.parse_args()

    import duckdb
    spark = spark_session("check-oracles")
    # one shuffle partition per task slot, as the tests size theirs
    spark.conf.set("spark.sql.shuffle.partitions", str(CPUS))

    import __spark_entry__ as entrymod
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        p = f"{args.sf}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    only = set(args.only.split(",")) if args.only else None
    n_pass = n_fail = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf)
            scols = list(sdf.columns)
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows, "
                  f"schema {scols} ({time.time()-t0:.1f}s)")
            n_pass += 1
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: oracle error {type(e).__name__}: {e}")
            n_fail += 1
            continue
        rows_ok = len(srows) == len(orows)
        schema_ok = sorted(scols) == sorted(ocols)
        hash_ok = (value_hash(srows, scols) == value_hash(orows, ocols)
                   if rows_ok and schema_ok else False)
        ok = rows_ok and schema_ok and hash_ok
        n_pass += ok
        n_fail += not ok
        status = "ok  " if ok else "FAIL"
        detail = "" if ok else (
            f" rows {len(srows)}/{len(orows)} schema_ok={schema_ok}"
            f" spark_cols={scols} oracle_cols={ocols}")
        print(f"{status} {name}: {len(srows)} rows "
              f"({time.time()-t0:.1f}s){detail}")
    print(f"== {n_pass} pass, {n_fail} fail ==")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
