"""Local stand-in for the driver's correctness gate.

Runs every __spark_entry__ queries() entry on Spark and its oracle_sql()
on DuckDB over the same sf dir, compares row count, column names, and an
order-insensitive value hash. Usage:

    python tools/check_contract.py [sf_dir]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def value_hash(rows: list[tuple], columns: list[str]) -> str:
    # sort columns by name, normalize values to strings, sort rows
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def norm(v):
        if v is None:
            return "\x00NULL"
        if isinstance(v, float):
            return f"{v:.6g}"
        return str(v)

    lines = sorted("\x01".join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode("utf-8", "replace"))
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    args = list(sys.argv[1:])
    only: set[str] | None = None
    if "--only" in args:
        i = args.index("--only")
        only = set(args[i + 1].split(","))
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    import __spark_entry__ as entrymod
    from kgforge.session import get_spark

    spark = get_spark(app_name="contract-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only is not None and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
        if name not in oracles:
            print(f"{name:24s} rows={len(srows):7d}  (rows-only, no oracle)")
            continue
        drel = con.sql(oracles[name])
        drows = [tuple(r) for r in drel.fetchall()]
        dcols = list(drel.columns)
        ok_cols = sorted(scols) == sorted(dcols)
        ok_rows = len(srows) == len(drows)
        sh, dh = value_hash(srows, scols), value_hash(drows, dcols)
        ok_hash = sh == dh
        status = "OK " if (ok_cols and ok_rows and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{name:24s} {status} rows {len(srows)}/{len(drows)} "
            f"cols {ok_cols} hash {sh}/{dh}"
        )
        if not ok_hash and ok_rows and ok_cols:
            sset = set("\x01".join(map(str, r)) for r in srows)
            dset = set("\x01".join(map(str, r)) for r in drows)
            print("   spark-only:", sorted(sset - dset)[:2])
            print("   duck-only :", sorted(dset - sset)[:2])
    # entry smoke
    edf = entrymod.entry(spark)
    print(f"entry() rows={edf.count()} schema={edf.schema.simpleString()}")
    spark.stop()
    return failures


if __name__ == "__main__":
    raise SystemExit(main())
