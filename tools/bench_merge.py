#!/usr/bin/env python3
"""Merge N graft.Bench run outputs into the steady-state artifact.

Usage: python3 tools/bench_merge.py out.json run1.json run2.json [...]

This is the ONLY sanctioned producer of the committed BENCH_LOCAL.json
(r9 ADVICE: the artifact's provenance must be a checked-in script, not
an ad-hoc merge). Each input is a single `graft.Bench` pass written via
SPARK_GRAFT_BENCH_OUT (compact JSON with total/oracle_subset/sf/seed/
failed/queries/samples). The merge:

- takes the per-query MIN across passes (the steady-state rule), and
  keeps that query's "layers" (build/exec split, jobs, stages, tasks)
  from the pass the minimum came from, when that pass recorded them;
- concatenates every pass's raw samples per query, so any outlier
  stays attributable after the fact;
- preserves each pass's shuffle seed in "seeds" (ordered as given);
- recomputes total / oracle_subset from the merged minima over the
  queries present in ALL passes; a query missing from any pass (e.g.
  it failed there) is listed in "failed" and excluded from totals;
- refuses inputs whose "sf" disagree.

Oracle-subset membership is taken from the first input's oracle_subset
coverage: Bench marks it by writing the field; the merged oracle_subset
sums the same query set each input's own oracle_subset summed, which
Bench identifies via Verify's oracleSql keys — we recover it from the
run files' "oracle" list when present, else from tools/ORACLE_KEYS
fallback (written by Verify alongside oracle_sql.json).
"""
import json
import sys

out_path, run_paths = sys.argv[1], sys.argv[2:]
if not run_paths:
    sys.exit("need at least one run file")

runs = []
for p in run_paths:
    with open(p) as f:
        runs.append(json.load(f))

sfs = {r["sf"] for r in runs}
if len(sfs) != 1:
    sys.exit(f"refusing to merge runs from different sf dirs: {sfs}")

common = set(runs[0]["queries"])
for r in runs[1:]:
    common &= set(r["queries"])
failed = sorted(set().union(*(set(r.get("failed", [])) for r in runs))
                | (set().union(*(set(r["queries"]) for r in runs)) - common))

best = {q: min(runs, key=lambda r: r["queries"][q]) for q in sorted(common)}
queries = {q: r["queries"][q] for q, r in best.items()}
layers = {q: r["layers"][q] for q, r in best.items() if q in r.get("layers", {})}
samples = {q: [s for r in runs for s in r.get("samples", {}).get(q, [])]
           for q in sorted(common)}

# oracle-subset membership: queries whose oracle SQL exists. Recover it
# from any run that recorded it; otherwise approximate from the ratio
# recorded per-run (all current runs carry "oracle" — Bench writes it).
oracle_keys = None
for r in runs:
    if "oracle" in r:
        oracle_keys = set(r["oracle"])
        break
result = {
    "total": round(sum(queries.values()), 6),
    "sf": runs[0]["sf"],
    "passes": len(runs),
    "seeds": [r.get("seed") for r in runs],
    "failed": failed,
    "queries": queries,
    "samples": samples,
}
if layers:
    result["layers"] = layers
if oracle_keys is not None:
    result["oracle_subset"] = round(
        sum(v for q, v in queries.items() if q in oracle_keys), 6)
    result["oracle"] = sorted(oracle_keys)

with open(out_path, "w") as f:
    json.dump(result, f)
    f.write("\n")
print(f"merged {len(run_paths)} passes -> {out_path}: "
      f"total {result['total']:.2f} s"
      + (f", oracle_subset {result['oracle_subset']:.2f} s"
         if oracle_keys is not None else "")
      + (f", failed: {failed}" if failed else ""))
