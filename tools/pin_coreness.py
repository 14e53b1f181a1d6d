#!/usr/bin/env python3
"""Independent reference generator for q308_coreness's pinned oracle.

Rebuilds the co-order part graph from the sf0.01 lineitem parquet and
computes per-node coreness by the SEQUENTIAL MIN-DEGREE PEEL (Batagelj-
Zaversnik by definition: repeatedly remove a minimum-degree node; its
coreness is the running maximum of the minimum degree seen) — a totally
different algorithm from the Spark side's distributed h-index fixpoint,
so agreement is a true cross-implementation check. Prints the
(coreness, n_nodes, sum_ids) histogram VALUES to embed in the
query's oracle in its catalog file (src/main/scala/graft/catalog/).

Usage: python3 tools/pin_coreness.py [sf_dir]
"""
import heapq
import sys
from collections import defaultdict

import pyarrow.parquet as pq

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

li = pq.read_table(f"{sf}/lineitem.parquet", columns=["l_orderkey", "l_partkey"]).to_pydict()
rows = [(o, p) for o, p in zip(li["l_orderkey"], li["l_partkey"]) if p % 4 == 0]
byo = defaultdict(list)
for o, p in rows:
    byo[o].append(p)
adj = defaultdict(set)
for o, ps in byo.items():
    ps = sorted(set(ps))
    for i in range(len(ps)):
        for j in range(i + 1, len(ps)):
            adj[ps[i]].add(ps[j])
            adj[ps[j]].add(ps[i])

deg = {u: len(ns) for u, ns in adj.items()}
heap = [(d, u) for u, d in deg.items()]
heapq.heapify(heap)
removed = set()
core = {}
kmax = 0
while heap:
    d, u = heapq.heappop(heap)
    if u in removed or d != deg[u]:
        continue  # stale heap entry
    kmax = max(kmax, d)
    core[u] = kmax
    removed.add(u)
    for v in adj[u]:
        if v not in removed:
            deg[v] -= 1
            heapq.heappush(heap, (deg[v], v))

hist = defaultdict(lambda: [0, 0])
for u, c in core.items():
    hist[c][0] += 1
    hist[c][1] += u
print(",".join(f"({c},{n},{s})" for c, (n, s) in sorted(hist.items())))
