#!/usr/bin/env python3
"""Independent reference generator for q305_spanning_forest's pinned oracle.

Rebuilds the weighted co-order part graph ((order, part) deduped, weight
= 1000000 // co-order count) from the sf0.01 lineitem parquet, runs a
plain Kruskal union-find MSF, and prints the per-component-size invariant
rows (n_edges, n_components, sum_weight) to embed in the query's oracle in
its catalog file (src/main/scala/graft/catalog/).
Edge count and total weight per component are invariant across ALL
correct MSFs (even under weight ties), so agreement with the Spark
Boruvka is a true cross-implementation check.

Usage: python3 tools/pin_msf.py [sf_dir]
"""
import sys
from collections import defaultdict

import pyarrow.parquet as pq

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
li = pq.read_table(f"{sf}/lineitem.parquet", columns=["l_orderkey", "l_partkey"]).to_pydict()
rows = [(o, p) for o, p in zip(li["l_orderkey"], li["l_partkey"]) if p % 4 == 0]
byo = defaultdict(set)
for o, p in rows:
    byo[o].add(p)
wedge = defaultdict(int)
for o, ps in byo.items():
    ps = sorted(ps)
    for i in range(len(ps)):
        for j in range(i + 1, len(ps)):
            wedge[(ps[i], ps[j])] += 1
edges = [(u, v, 1000000 // c) for (u, v), c in wedge.items()]

parent = {}
def find(x):
    parent.setdefault(x, x)
    while parent[x] != x:
        parent[x] = parent[parent[x]]
        x = parent[x]
    return x

msf = []
for u, v, w in sorted(edges, key=lambda e: (e[2], e[0], e[1])):
    ru, rv = find(u), find(v)
    if ru != rv:
        parent[ru] = rv
        msf.append((u, v, w))

by_root = defaultdict(lambda: [0, 0])
for u, v, w in msf:
    r = find(u)
    by_root[r][0] += 1
    by_root[r][1] += w
stats = defaultdict(lambda: [0, 0])
for r, (ne, tw) in by_root.items():
    s = stats[ne]
    s[0] += 1
    s[1] += tw
print(",".join(f"({ne},{c},{tw})" for ne, (c, tw) in sorted(stats.items())))
