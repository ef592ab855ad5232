#!/usr/bin/env python3
"""Measure the idle DuckDB baseline for one of Bench's scale dirs.

The base-sf bench has a ~0.3-0.6s/query JVM floor that dwarfs per-query
work, so bench-vs-baseline is only meaningful where the work dominates: the
synthetic N× data Bench builds at /tmp/graft-scale/s2/<sf>_xN. This tool
runs the SAME oracle SQL (from a Verify dump's oracle_sql.json) for Bench's
x30 rows (src/main/resources/graft/x30-rows.txt) in DuckDB over that
parquet and writes bench-baselines/xN_duckdb.json. Bench reads it to flag
paired rows whose DuckDB time disagrees with the baseline (`suspect`) and
for `vs_idle_ratio`. Run it at the core count Bench's Spark side uses.

Dev-only tooling (mirrors the driver's oracle); the engine itself is pure
Scala. Usage:
    python3 tools/x10_baseline.py [scale_dir] [oracle_sql.json] [threads]
threads defaults to the host's core count.
"""
import duckdb, json, os, re, sys, time

ROWS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                    "src", "main", "resources", "graft", "x30-rows.txt")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    scale_dir = sys.argv[1] if len(sys.argv) > 1 else \
        "/tmp/graft-scale/s2/_root_testdata_sf0.1_x30"
    oracle_path = sys.argv[2] if len(sys.argv) > 2 else \
        "/tmp/graft-verify/oracle_sql.json"
    threads = int(sys.argv[3]) if len(sys.argv) > 3 else os.cpu_count()
    # derive the scale factor from the dir name (…_xN) so the blob and
    # its filename say what was actually measured; refuse unparseable
    # names BEFORE the expensive measurement pass
    m = re.search(r"(sf[0-9.]+)?_x(\d+)/?$", scale_dir)
    if not m:
        sys.exit(f"cannot derive scale factor from dir name: {scale_dir} (expect …_xN)")
    base, factor = m.group(1) or "the base data", m.group(2)
    with open(ROWS) as f:
        rows = [ln.strip() for ln in f if ln.strip() and not ln.startswith("#")]
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in TABLES:
        p = f"{scale_dir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"  # spark dir-style output
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(oracle_path))
    out = {}
    for name in rows:
        sql = oracle.get(name)
        if sql is None:
            print(f"SKIP {name}: no oracle sql", file=sys.stderr)
            continue
        con.execute(sql).fetchall()  # warm (IO cache, plan)
        t0 = time.time()
        con.execute(sql).fetchall()
        out[name] = round(time.time() - t0, 3)
        print(f"{name}: {out[name]}s", file=sys.stderr)
    result = {
        "engine": "duckdb-" + duckdb.__version__,
        "threads": threads,
        "data": f"synthetic {factor}x of {base} (SyntheticScale, same replication Bench uses)",
        "method": "oracle_sql.json per query, warm pass then timed pass, wall seconds",
        "queries": out,
        "total": round(sum(out.values()), 3),
    }
    os.makedirs("bench-baselines", exist_ok=True)
    with open(f"bench-baselines/x{factor}_duckdb.json", "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
