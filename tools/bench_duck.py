#!/usr/bin/env python3
"""Time every oracle SQL query in DuckDB on the same parquet tables —
the single-node baseline side of BASELINE.md.

Usage: python3 tools/bench_duck.py <sfDir> <verifyOutDir> [out.json]

<verifyOutDir> must contain oracle_sql.json (written by graft.Verify).
Each query runs twice (32 threads, results fully fetched); the min is
reported, mirroring graft.Bench's steady-state rule.
"""
import json, sys, time, os
import duckdb

sf_dir, out_dir = sys.argv[1], sys.argv[2]
out_path = sys.argv[3] if len(sys.argv) > 3 else None

with open(os.path.join(out_dir, "oracle_sql.json")) as f:
    oracle = json.load(f)

# BENCH_DUCK_ONLY=q1,q2 restricts to a named subset (e.g. the 15-query
# relational family of SCALE.md's sf0.4 point, measured by a since-retired
# main reproducible from commit 5531381). A subset run
# is stamped into the output ("only") and refuses the full-baseline
# paths so a filtered artifact can't masquerade as a full suite.
only = os.environ.get("BENCH_DUCK_ONLY")
keep = None
if only:
    keep = sorted(q.strip() for q in only.split(","))
    oracle = {k: v for k, v in oracle.items() if k in set(keep)}
    baseline_names = {"BENCH_DUCK_SF001.json", "BENCH_DUCK_SF01.json"}
    if out_path and os.path.basename(out_path) in baseline_names:
        sys.exit(f"refusing to write baseline artifact {out_path} from a "
                 f"BENCH_DUCK_ONLY subset run")

con = duckdb.connect()
con.execute("SET threads TO 32")
for t in ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split():
    p = os.path.join(sf_dir, f"{t}.parquet")
    if os.path.isdir(p):  # Spark-written multi-file table (a `write.parquet` dir)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    elif os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

times = {}
for name in sorted(oracle):
    best = None
    for _ in range(2):
        t0 = time.perf_counter()
        try:
            con.execute(oracle[name]).fetchall()
        except Exception as e:
            print(f"{name}: ERROR {str(e)[:120]}", file=sys.stderr)
            best = None
            break
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    if best is not None:
        times[name] = round(best, 4)

result = {"sf": sf_dir, "total": round(sum(times.values()), 3),
          "n_queries": len(times), "queries": times}
if keep is not None:
    result["only"] = keep
line = json.dumps(result)
if out_path:
    with open(out_path, "w") as f:
        f.write(line + "\n")
print(line[:400])
print(f"== total {result['total']} s over {result['n_queries']} queries",
      file=sys.stderr)
