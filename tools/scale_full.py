#!/usr/bin/env python3
"""Build a FULL k-replica fixture dir (every table, not just the corpus
pair) for the whole-suite oracle pass above sf0.1 (r18 VERDICT ask #3).

Replication rule per table (the key-shift design of SCALE.md's relational
sf0.4/sf0.8 points, whose since-retired main is reproducible from commit
5531381, extended to the event/corpus tables):

  - orders / lineitem : o_orderkey / l_orderkey shifted into disjoint
    ranges per replica (each replica's orders join only its own
    lineitems; per-key fan-in unchanged, total join work scales k).
    o_custkey / part / supplier keys stay fixed — dimensions don't grow
    when the fact stream does.
  - events            : event_id AND user_id shifted — each replica is
    its own user population, so per-user orderings (sessionize, lag,
    windows) keep the base fixture's no-tie guarantees.
  - documents         : doc_id shifted, text identical — duplicate
    density multiplies by k, the corpus stress the dedup family must
    absorb (same device as tools/scale_fixtures.py).
  - embeddings        : vec_id shifted, vectors identical — exact
    vector ties across replicas are deliberate; similarity queries must
    tie-break deterministically or be adjudicated.
  - dims (customer, nation, region, part, supplier): copied 1x.

Both engines read the SAME scaled dir, so the hash-compare contract is
unchanged at any k.

Usage: python3 tools/scale_full.py <srcSfDir> <dstDir> <k>
"""
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SHIFT_COLS = {
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

src, dst, k = sys.argv[1], sys.argv[2], int(sys.argv[3])
os.makedirs(dst, exist_ok=True)

for t in TABLES:
    sp = os.path.join(src, f"{t}.parquet")
    dp = os.path.join(dst, f"{t}.parquet")
    if not os.path.exists(sp):
        continue
    if t not in SHIFT_COLS:
        shutil.copyfile(sp, dp)
        continue
    tab = pq.read_table(sp)
    # one power-of-ten span above the max over all shifted columns, so
    # every replica's ids land in a disjoint, visibly-banded range
    mx = max(pc.max(tab[c]).as_py() for c in SHIFT_COLS[t])
    span = 10 ** len(str(mx))
    reps = []
    for r in range(k):
        rep = tab
        for c in SHIFT_COLS[t]:
            idt = rep.schema.field(c).type
            shifted = pc.cast(pc.add(rep[c], r * span), idt)
            rep = rep.set_column(rep.schema.get_field_index(c),
                                 rep.schema.field(c), shifted)
        reps.append(rep)
    out = pa.concat_tables(reps)
    pq.write_table(out, dp)
    print(f"{t}: {tab.num_rows} -> {out.num_rows} rows (k={k}, span={span})")
