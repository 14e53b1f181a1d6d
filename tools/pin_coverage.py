#!/usr/bin/env python3
"""Pin q345's greedy max-coverage oracle: an independent sequential
greedy over the SAME tokenization (trim/lower/whitespace-split) the
query uses on documents at sf0.01 — the q304/q305/q341 pin pattern.
Regenerate with:  python3 tools/pin_coverage.py /root/testdata/sf0.01 10
"""
import sys
import duckdb

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
con = duckdb.connect()
rows = con.execute(f"""
    WITH tok AS (
      SELECT doc_id, list_filter(
        string_split_regex(trim(lower(text)), '\\s+'), w -> len(w) > 0) AS w
      FROM read_parquet('{sf}/documents.parquet')),
    t AS (SELECT doc_id, unnest(w) AS word,
          generate_subscripts(w, 1) AS pos FROM tok),
    bi AS (SELECT a.doc_id, a.word || ' ' || b.word AS f
           FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1)
    SELECT doc_id, list(DISTINCT f) FROM bi GROUP BY doc_id
""").fetchall()
docsets = {int(d): set(w) for d, w in rows}

covered = set()
total = 0
print("paste into the query's oracle in src/main/scala/graft/catalog/ (VALUES body):")
out = []
for pick in range(1, k + 1):
    best = max(docsets.items(),
               key=lambda kv: (len(kv[1] - covered), -kv[0]))
    gain = len(best[1] - covered)
    if gain == 0:
        # everything coverable is covered -> greedy run ends early,
        # matching greedyMaxCoverage which emits no zero-gain picks
        break
    covered |= best[1]
    total += gain
    out.append(f"        | ({pick}, {best[0]}, {gain}, {total})")
print(",\n".join(out))
