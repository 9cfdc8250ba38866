#!/usr/bin/env python3
"""Time each oracle SQL in DuckDB at a given SF — the gate-budget profiler.

Usage: python3 tools/profile_oracles.py <outDir-with-oracle_sql.json> <sfDir> [timeout_s] [only...]

Prints per-oracle wall seconds sorted descending plus the total; an oracle
that exceeds timeout_s (default 120) is killed and reported as TIMEOUT.
Run after graft.Verify has refreshed <outDir>/oracle_sql.json.
"""
import sys, os, json, time, multiprocessing as mp

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def run_one(sf_dir, sql, q):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    t0 = time.time()
    try:
        con.sql(sql).df()
        q.put(time.time() - t0)
    except Exception as e:
        q.put(f"ERROR {e}")

def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    timeout = float(sys.argv[3]) if len(sys.argv) > 3 else 120.0
    only = set(sys.argv[4:])
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    results = {}
    failures = {}
    for name in sorted(oracles):
        if only and name not in only:
            continue
        q = mp.Queue()
        p = mp.Process(target=run_one, args=(sf_dir, oracles[name], q))
        t0 = time.time()
        p.start()
        p.join(timeout)
        if p.is_alive():
            p.terminate(); p.join()
            results[name] = timeout
            print(f"{name}: TIMEOUT >{timeout}s", flush=True)
        else:
            # the child can die without enqueueing (import failure outside
            # the try, OOM kill): never block forever on the queue
            try:
                r = q.get(timeout=5)
            except Exception:
                failures[name] = f"CHILD DIED exitcode={p.exitcode}"
                print(f"{name}: CHILD DIED exitcode={p.exitcode}", flush=True)
                continue
            if isinstance(r, str):
                failures[name] = r[:200]
                print(f"{name}: {r[:200]}", flush=True)
            else:
                results[name] = r
                if r > 1.0:
                    print(f"{name}: {r:.2f}s", flush=True)
    # failures are tracked separately, NOT as 0.0s timings: a broken oracle
    # must not sink to the bottom of the sorted report looking fast, nor
    # silently deflate TOTAL
    if failures:
        print(f"\n=== FAILED ({len(failures)}) ===")
        for name, why in sorted(failures.items()):
            print(f"  {name}: {why}")
    print("\n=== sorted desc ===")
    for name, s in sorted(results.items(), key=lambda kv: -kv[1])[:30]:
        print(f"{s:8.2f}s  {name}")
    print(f"\nTOTAL {sum(results.values()):.1f}s over {len(results)} timed oracles"
          f" ({len(failures)} FAILED)" if failures else
          f"\nTOTAL {sum(results.values()):.1f}s over {len(results)} oracles")

if __name__ == "__main__":
    main()
