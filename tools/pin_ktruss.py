#!/usr/bin/env python3
"""Independent reference generator for q304_ktruss's pinned oracle.

Rebuilds the co-order part graph from the sf0.01 lineitem parquet, peels
the 5-truss by DIRECT DEFINITION (recompute per-edge common-neighbor
support, delete below k-2, repeat to fixpoint — no orientation tricks),
and prints the (support, n_edges, sum_a, sum_b) histogram VALUES to embed
in the query's oracle in its catalog file (src/main/scala/graft/catalog/). Because this implementation shares nothing with
the Spark one, agreement is a true cross-implementation check.

Usage: python3 tools/pin_ktruss.py [sf_dir] [k]
"""
import sys
from collections import defaultdict

import pyarrow.parquet as pq

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
k = int(sys.argv[2]) if len(sys.argv) > 2 else 5

li = pq.read_table(f"{sf}/lineitem.parquet", columns=["l_orderkey", "l_partkey"]).to_pydict()
rows = [(o, p) for o, p in zip(li["l_orderkey"], li["l_partkey"]) if p % 4 == 0]
byo = defaultdict(list)
for o, p in rows:
    byo[o].append(p)
edges = set()
for o, ps in byo.items():
    ps = sorted(set(ps))
    for i in range(len(ps)):
        for j in range(i + 1, len(ps)):
            edges.add((ps[i], ps[j]))

es = set(edges)
while True:
    adj = defaultdict(set)
    for u, v in es:
        adj[u].add(v)
        adj[v].add(u)
    keep = {(u, v) for (u, v) in es if len(adj[u] & adj[v]) >= k - 2}
    if keep == es or not keep:
        es = keep
        break
    es = keep

adj = defaultdict(set)
for u, v in es:
    adj[u].add(v)
    adj[v].add(u)
hist = defaultdict(lambda: [0, 0, 0])
for u, v in sorted(es):
    h = hist[len(adj[u] & adj[v])]
    h[0] += 1
    h[1] += u
    h[2] += v
print(",".join(f"({s},{c},{sa},{sb})" for s, (c, sa, sb) in sorted(hist.items())))
