"""Local replica of the driver's correctness gate: run every queries()
entry on Spark at sf0.01 and compare against oracle_sql() via DuckDB —
row count, column names, and an order-insensitive value hash (values
normalized to strings, columns sorted by name).

Each result line is flushed as soon as its query finishes and gives the
Spark seconds and the DuckDB-oracle seconds separately (some oracles, e.g.
the recursive-CTE replays, take minutes on their own).

Usage: python tools/check_correctness.py [sf_dir]
"""

from __future__ import annotations

import hashlib
import sys
import time

import duckdb

sys.path.insert(0, "/root/repo")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return f"{v:.6g}"
    return str(v)


def table_hash(rows: list[tuple], cols: list[str]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def say(line: str) -> None:
    print(line, flush=True)


def main(sf_dir: str) -> int:
    import __spark_entry__ as entry_mod
    from text_dedup_spark.session import get_spark

    spark = get_spark("correctness-check", conf={"spark.sql.shuffle.partitions": "16"})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in queries.items():
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            say(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            say(f"ROWS  {name}: {len(rows)} rows, cols={cols} (spark {dt:.1f}s) [no oracle]")
            if len(rows) == 0:
                say(f"WARN  {name}: zero rows")
            continue
        t0 = time.time()
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            say(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        dq = time.time() - t0
        ok_count = len(rows) == len(orows)
        ok_cols = sorted(cols) == sorted(ocols)
        ok_hash = ok_cols and table_hash(rows, cols) == table_hash(orows, ocols)
        status = "OK   " if (ok_count and ok_cols and ok_hash) else "FAIL "
        if status.startswith("FAIL"):
            failures += 1
        say(
            f"{status} {name}: spark={len(rows)} duck={len(orows)} "
            f"cols_match={ok_cols} hash_match={ok_hash} (spark {dt:.1f}s, duckdb {dq:.1f}s)"
        )
        if not ok_cols:
            say(f"      spark cols: {sorted(cols)}\n      duck  cols: {sorted(ocols)}")
        if ok_cols and ok_count and not ok_hash:
            # show a few differing rows for debugging
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            s_set = {tuple(norm_cell(r[i]) for i in order) for r in rows}
            oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
            o_set = {tuple(norm_cell(r[i]) for i in oorder) for r in orows}
            say(f"      spark-only: {list(s_set - o_set)[:3]}")
            say(f"      duck-only : {list(o_set - s_set)[:3]}")
    say(f"\n{failures} failures / {len(queries)} queries")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"))
