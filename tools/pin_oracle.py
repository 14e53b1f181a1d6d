#!/usr/bin/env python3
"""Regenerate the pinned-fixture oracle SQL for hash-dependent queries.

q17_simhash, q20_ann_lsh and q21_embedding_neardup are deterministic
(fixed murmur seeds + fixed testdata) but not SQL-derivable, so their
oracles are the sf0.01 result pinned as a literal
VALUES table (same contract as q64's Count-Min pin). If seeds, LSH
parameters, or the testdata ever change, re-run graft.Verify at sf0.01
and paste this script's output back into the queries' oracles in their
catalog files (src/main/scala/graft/catalog/).
NOT part of the shipped library — dev tooling.

Usage: python3 tools/pin_oracle.py /tmp/verify_out
"""
import glob
import sys

import pandas as pd


def lit(v) -> str:
    if v is None or (isinstance(v, float) and pd.isna(v)):
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    return str(int(v))


def pin(out_dir: str, name: str, cols: list[str], casts: dict[str, str] | None = None) -> str:
    files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
    if not files:
        raise SystemExit(f"no parquet under {out_dir}/{name}")
    df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    df = df[cols].sort_values(cols).reset_index(drop=True)
    df = df.astype(object).where(pd.notna(df), None)
    rows = ",".join("(" + ",".join(lit(v) for v in r) + ")" for r in df.itertuples(index=False))
    # DuckDB types bare integer literals as INT32; cast columns that must
    # land as BIGINT to match Spark's schema hash.
    proj = ", ".join(
        f"CAST({c} AS {casts[c]}) AS {c}" if casts and c in casts else c for c in cols
    )
    return f"SELECT {proj} FROM (VALUES {rows}) AS t({', '.join(cols)})"


def main(out_dir: str) -> None:
    for name, cols, casts in [
        ("q17_simhash", ["id", "simhash"], {"id": "BIGINT", "simhash": "BIGINT"}),
        ("q20_ann_lsh", ["query_id", "neighbor_id", "rank"],
         {"query_id": "BIGINT", "neighbor_id": "BIGINT", "rank": "BIGINT"}),
        ("q21_embedding_neardup", ["a_id", "b_id"], {"a_id": "BIGINT", "b_id": "BIGINT"}),
        ("q126_ann_multiprobe", ["query_id", "neighbor_id", "rank"],
         {"query_id": "BIGINT", "neighbor_id": "BIGINT", "rank": "BIGINT"}),
        ("q135_bpe_merges", ["merge_rank", "left_sym", "right_sym", "n"],
         {"merge_rank": "BIGINT", "n": "BIGINT"}),
        # q22_multimodal was re-oracled analytically in round 8 (real BMP
        # parse on the image/video legs) — no longer pinned.
        ("q172_kcore", ["id", "core_degree"], {"id": "BIGINT", "core_degree": "BIGINT"}),
    ]:
        sql = pin(out_dir, name, cols, casts)
        print(f"--- {name} ---")
        print(sql)
        print()


if __name__ == "__main__":
    main(sys.argv[1])
