#!/usr/bin/env python3
"""Regenerate the query workloads' assignment and expected outputs.

Usage (from the repository root):

    python3 perfbench/tools/make_expected.py [DUMP_DIR] [--reuse]

`--reuse` skips step 1 and checks an existing dump.

1. `perfbench/run.py --dump DUMP_DIR` runs every declared query once in the
   bench session (AQE off, 8 shuffle partitions, UTC) over
   perfbench/data/sf0.01, writing each output as parquet plus its digest
   and a cold and a warm timing.
2. `tools/compare.py` checks those same outputs against the DuckDB oracle
   for every query in `SparkEntry.oracleSql`.
3. Only if every oracle query is `ok` (and every other query has output)
   are `perfbench/data/queries.tsv` (name, group, module) and
   `perfbench/data/expected_sf0.01.json` (rows and digest per query)
   rewritten. A mismatch is reported and nothing is written. The dump's
   warm timings (stderr, and `digests.json`) are what `panel.txt`'s
   median-per-module choice rests on.

The module of a query is the object its `SparkEntry.queries` builder
calls; its group (etl or curation) follows from the module.
"""
import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
DATA = os.path.join(ROOT, "perfbench", "data")
FIXTURE = os.path.join(DATA, "sf0.01")
ETL_MODULES = {"Transforms", "Aggregates", "Relational", "TimeOps", "AsOf",
               "Sampling", "Features"}
CURATION_MODULES = {"NearDup", "TextSim", "Ann", "Cluster", "Multimodal"}


def modules():
    """query name -> module, parsed from the SparkEntry.queries map."""
    src = open(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")).read()
    body = src[src.index("def queries"):src.index("def oracleSql")]
    pat = r'^\s*"(\w+)"\s*->\s*\n?\s*\(+(?:\(s, d\) =>\s*)?(\w+)\.'
    return {m.group(1): m.group(2) for m in re.finditer(pat, body, re.M)}


def main():
    args = [a for a in sys.argv[1:] if a != "--reuse"]
    dump = os.path.abspath(args[0] if args else os.path.join(ROOT, ".bench_out", "dump"))
    if "--reuse" not in sys.argv:
        subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                        "--dump", dump], check=True)
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "compare.py"),
                        FIXTURE, dump], capture_output=True, text=True, check=True)
    status = json.loads(r.stdout)
    digests = json.load(open(os.path.join(dump, "digests.json")))
    oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))
    bad = {k: v for k, v in status.items()
           if (k in oracle and v["status"] != "ok") or
           (k not in oracle and v["status"] != "rows_only")}
    missing = sorted(set(digests) - set(status))
    mods = modules()
    unparsed = sorted(set(digests) - set(mods))
    stray = sorted(m for m in set(mods.values()) - ETL_MODULES - CURATION_MODULES)
    print(r.stderr.strip(), file=sys.stderr)
    if bad or missing or unparsed or stray:
        for k, v in sorted(bad.items()):
            print(f"MISMATCH {k}: {json.dumps(v)[:400]}", file=sys.stderr)
        for k in missing:
            print(f"NO OUTPUT {k}", file=sys.stderr)
        for k in unparsed:
            print(f"NO MODULE {k} (SparkEntry.queries entry not parsed)", file=sys.stderr)
        for m in stray:
            print(f"UNASSIGNED MODULE {m}: add it to a workload here", file=sys.stderr)
        sys.exit(1)
    with open(os.path.join(DATA, "queries.tsv"), "w") as f:
        f.write("# name\tgroup\tmodule  (module = the ops object the SparkEntry.queries "
                "builder calls)\n")
        for k in sorted(digests):
            group = "etl" if mods[k] in ETL_MODULES else "curation"
            f.write(f"{k}\t{group}\t{mods[k]}\n")
    expected = {k: {"rows": v["rows"], "digest": v["digest"],
                    "oracle": status[k]["status"]} for k, v in sorted(digests.items())}
    with open(os.path.join(DATA, "expected_sf0.01.json"), "w") as f:
        json.dump({"fixture": "perfbench/data/sf0.01", "queries": expected}, f, indent=1)
        f.write("\n")
    print(f"wrote {len(expected)} expected outputs", file=sys.stderr)


if __name__ == "__main__":
    main()
