#!/usr/bin/env python3
"""VERDICT r19 #1: driver-verifiable scaling evidence at x300.

Runs the bench's own fresh-JVM `--one` mode (warm + 2 hot, min printed as
`[one] <name> <sec>`) over the full x300 synthetic dir at alternating core
counts (32, 8, 32, 8 — alternation cancels host drift; min per (query,
cpus) across rounds), then writes bench-rounds/r20-scaling-x300.json with
per-query seconds and the 8→32-core speedup ratio. A query with no timed
row at either core count, or a zero 32-core time, has no ratio: it is
listed with the reason under `excluded` and printed.

Usage: python3 tools/scaling_run.py <x300_dir> [rounds=2]
"""
import json, os, re, subprocess, sys, time

QUERIES = ["q1_agg", "delta_scan_agg", "q3_join", "q5_multi_join",
           "q9_profit_by_nation", "q18_large_orders", "q6_selective_filter",
           "q_window_rank", "q_events_hourly", "q_sessionize", "dedup_exact",
           "text_token_stats", "emb_centroids", "delta_dv_delete"]

def run_one(dir_, cpus):
    """Returns (per-query seconds, None) or ({}, reason) for a failed run:
    a non-zero exit, a timeout, or no timed rows."""
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    cmd = ["sbt", "-batch",
           "runMain graft.Bench --one %s %s" % (dir_, " ".join(QUERIES))]
    t0 = time.time()
    try:
        p = subprocess.run(cmd, env=env, capture_output=True, text=True,
                           timeout=3600)
    except subprocess.TimeoutExpired:
        print(f"  cpus={cpus}: timed out after {time.time()-t0:.0f}s",
              flush=True)
        return {}, "timeout"
    out = p.stdout + p.stderr
    times = {m.group(1): float(m.group(2))
             for m in re.finditer(r"\[one\] (\S+) ([0-9.]+)", out)}
    print(f"  cpus={cpus}: {len(times)} rows in {time.time()-t0:.0f}s",
          flush=True)
    err = (f"exit {p.returncode}" if p.returncode != 0
           else None if times else "no timed rows")
    if err:
        print(out[-3000:])
        return {}, err
    return times, None

def main():
    dir_ = sys.argv[1]
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    best = {32: {}, 8: {}}
    seq = []
    for r in range(rounds):
        for cpus in (32, 8):
            print(f"round {r+1} cpus={cpus}", flush=True)
            t, err = run_one(dir_, cpus)
            seq.append({"round": r + 1, "cpus": cpus, "queries": t,
                        "failed": err})
            for k, v in t.items():
                if k not in best[cpus] or v < best[cpus][k]:
                    best[cpus][k] = v
    ratios, excluded = {}, {}
    for q in QUERIES:
        missing = [c for c in (8, 32) if q not in best[c]]
        if missing:
            excluded[q] = "no timed row at %s cores" % \
                " and ".join(str(c) for c in missing)
        elif best[32][q] <= 0:
            excluded[q] = "zero 32-core time"
        else:
            ratios[q] = round(best[8][q] / best[32][q], 2)
    art = {
        "purpose": "VERDICT r19 #1: 8-vs-32-core scaling at x300 "
                   "(fresh-JVM --one mode, min over alternating rounds)",
        "dir": dir_,
        "rounds": seq,
        "best_32": {k: round(v, 3) for k, v in sorted(best[32].items())},
        "best_8": {k: round(v, 3) for k, v in sorted(best[8].items())},
        "speedup_8_to_32": dict(sorted(ratios.items())),
        "excluded": dict(sorted(excluded.items())),
    }
    out = "bench-rounds/r20-scaling-x300.json"
    with open(out, "w") as f:
        json.dump(art, f, indent=1)
    print("wrote", out)
    print(json.dumps(art["speedup_8_to_32"], indent=1))
    for q, why in art["excluded"].items():
        print(f"excluded from speedup_8_to_32: {q}: {why}")

if __name__ == "__main__":
    main()
