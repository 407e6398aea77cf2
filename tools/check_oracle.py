"""Local stand-in for the driver's DuckDB oracle comparison.

Runs every __spark_entry__.queries() entry on Spark and its oracle_sql() on
DuckDB over the same parquet, then compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted, values
stringified). Usage:  python tools/check_oracle.py [sf_dir] [name ...]
(from any working directory).
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def frame_hash(cols: list[str], rows: list[tuple]) -> tuple[str, int]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return h, len(rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, ROOT)
    # the Python workers Spark starts inherit the environment, not sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import __spark_entry__ as entry
    from kgx.ops import TABLES
    from kgx.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=16, app_name="oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        s_cols = sdf.columns
        s_rows = [tuple(r) for r in sdf.collect()]
        s_hash, s_n = frame_hash(s_cols, s_rows)
        if name not in oracles:
            print(f"{name:28s} rows={s_n:7d} (no oracle — rows-only)")
            continue
        try:
            res = con.execute(oracles[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"{name:28s} ORACLE SQL ERROR: {e}")
            failures.append(name)
            continue
        d_hash, d_n = frame_hash(d_cols, d_rows)
        ok = (s_hash == d_hash) and (s_n == d_n) and (sorted(s_cols) == sorted(d_cols))
        mark = "OK " if ok else "FAIL"
        print(f"{name:28s} {mark} rows {s_n}/{d_n} hash {s_hash}/{d_hash} "
              f"cols {sorted(s_cols) == sorted(d_cols)}")
        if not ok:
            failures.append(name)
            # show a few differing lines for debugging
            order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
            order_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
            ls = sorted("\x1f".join(_norm(r[i]) for i in order_s) for r in s_rows)
            ld = sorted("\x1f".join(_norm(r[i]) for i in order_d) for r in d_rows)
            for a, b in list(zip(ls, ld))[:2000]:
                if a != b:
                    print("   spark:", a.replace("\x1f", " | ")[:160])
                    print("   duck :", b.replace("\x1f", " | ")[:160])
                    break
    spark.stop()
    print("FAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
