#!/usr/bin/env python3
"""Scaling evidence at x300: the same queries at 32 and at 8 cores.

Runs the bench's `--one` mode (one fresh JVM per run; it prints each
query's median over Bench's fixed rounds as `[one] <name> <sec> …`) over
the full x300 synthetic dir at alternating core counts (32, 8, 32, 8 —
alternation cancels host drift; min per (query, cpus) across runs), and
writes per-query seconds and the 8→32-core speedup ratio to `out`. The
artifact is rewritten after every completed run, so an interrupted
scaling run keeps what it measured. A query with no timed row at either core count, or
a zero 32-core time, has no ratio: it is listed with the reason under
`excluded` and printed. The queries are Bench's x30 rows
(src/main/resources/graft/x30-rows.txt).

Usage: python3 tools/scaling_run.py <x300_dir> [rounds=2] [out=bench-rounds/scaling-run.json]
"""
import json, os, re, subprocess, sys, time

ROWS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                    "src", "main", "resources", "graft", "x30-rows.txt")
with open(ROWS) as f:
    QUERIES = [ln.strip() for ln in f if ln.strip() and not ln.startswith("#")]

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

def artifact(dir_, seq, best):
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
    return {
        "purpose": "8-vs-32-core scaling at x300 "
                   "(fresh-JVM --one mode, min over alternating runs "
                   "of each run's median)",
        "dir": dir_,
        "rounds": seq,
        "best_32": {k: round(v, 3) for k, v in sorted(best[32].items())},
        "best_8": {k: round(v, 3) for k, v in sorted(best[8].items())},
        "speedup_8_to_32": dict(sorted(ratios.items())),
        "excluded": dict(sorted(excluded.items())),
    }

def main():
    dir_ = sys.argv[1]
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    out = sys.argv[3] if len(sys.argv) > 3 else "bench-rounds/scaling-run.json"
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
            art = artifact(dir_, seq, best)
            os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
            with open(out, "w") as f:
                json.dump(art, f, indent=1)
            print("wrote", out, flush=True)
    print(json.dumps(art["speedup_8_to_32"], indent=1))
    for q, why in art["excluded"].items():
        print(f"excluded from speedup_8_to_32: {q}: {why}")

if __name__ == "__main__":
    main()
