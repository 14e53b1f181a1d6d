#!/usr/bin/env python3
"""Pin q341's greedy-matching oracle: an independent sequential greedy
matching (scan canonical edges ascending by (w, u, v); take an edge iff
both endpoints are free) over the SAME derived graph the query builds
from events at sf0.01 — the q304/q305 pinned-fixture pattern.
Regenerate with:  python3 tools/pin_matching.py /root/testdata/sf0.01
"""
import sys
import duckdb

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
con = duckdb.connect()
rows = con.execute(f"""
    WITH raw AS (
      SELECT user_id % 120 AS a, event_id % 120 AS b, 1 + event_id % 97 AS w
      FROM read_parquet('{sf}/events.parquet')),
    canon AS (
      SELECT least(a, b) AS u, greatest(a, b) AS v, min(w) AS w
      FROM raw WHERE a <> b GROUP BY 1, 2)
    SELECT u, v, w FROM canon ORDER BY w, u, v
""").fetchall()

used = set()
matched = []
for u, v, w in rows:
    if u not in used and v not in used:
        used.add(u); used.add(v)
        matched.append((u, v, w))

matched.sort()
print(f"-- sequential greedy matching over {len(rows)} canonical edges "
      f"-> {len(matched)} matched pairs")
values = ",\n".join(f"        | ({u}, {v}, {w})" for u, v, w in matched)
print("paste into the query's oracle in src/main/scala/graft/catalog/ (VALUES body):")
print(values)
