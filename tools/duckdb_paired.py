#!/usr/bin/env python3
"""Persistent DuckDB side-runner for Bench's paired passes.

A Spark timing and a DuckDB baseline measured in different host windows
produce a meaningless ratio. Bench spawns this process once per paired pass
(views over the same parquet, at Spark's core count) and, for each round,
asks for the DuckDB timing immediately before running the Spark side, so
both ends of each ratio land in the same window.

Protocol: one query name per stdin line -> one "name\twarm\ttimed" line on
stdout (seconds), "name\tNA\tNA" when the name has no oracle SQL, or
"name\tERR\tERR" when DuckDB fails. "EXIT" terminates.

Dev-only tooling (mirrors the driver's oracle); the engine itself is pure
Scala. Usage:
    python3 tools/duckdb_paired.py <data_dir> <oracle_sql.json> [threads]
threads defaults to the host's core count.
"""
import duckdb, json, os, sys, time

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    data_dir, sql_json = sys.argv[1], sys.argv[2]
    threads = int(sys.argv[3]) if len(sys.argv) > 3 else os.cpu_count()
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in TABLES:
        p = f"{data_dir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"  # spark dir-style output
        if os.path.exists(f"{data_dir}/{t}.parquet"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    sqls = json.load(open(sql_json))
    print("READY", flush=True)
    for line in sys.stdin:
        name = line.strip()
        if not name:
            continue
        if name == "EXIT":
            break
        sql = sqls.get(name)
        if sql is None:
            print(f"{name}\tNA\tNA", flush=True)
            continue
        try:
            t0 = time.time()
            con.execute(sql).fetchall()  # warm (IO cache, plan)
            warm = time.time() - t0
            t1 = time.time()
            con.execute(sql).fetchall()
            print(f"{name}\t{warm:.3f}\t{time.time() - t1:.3f}", flush=True)
        except Exception:
            print(f"{name}\tERR\tERR", flush=True)


if __name__ == "__main__":
    main()
