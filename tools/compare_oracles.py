#!/usr/bin/env python3
"""Local mirror of the driver's DuckDB oracle compare: for each query with an
entry in oracle_sql.json, run the SQL over the sf parquet tables, load the
Spark parquet dump, sort columns by name, sort rows, and hash values.

With --against, compare two graft.Verify output dirs row for row instead:
every query's parquet dump in either dir (not only the oracled ones) is
hashed the same way, and each mismatch or one-sided dump is printed.
Queries that failed in both runs (failures.json) are listed, not counted.

Usage: python3 tools/compare_oracles.py <sfDir> <verifyOutDir> [query ...]
       python3 tools/compare_oracles.py --against <otherVerifyOutDir> <verifyOutDir> [query ...]
"""
import hashlib
import json
import os
import sys

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        # DuckDB returns float32 for FLOAT-list lambdas (0.26 → 0.25999999…);
        # all engine float outputs are pre-rounded to ≤6dp, so a 6dp canon is
        # lossless on the Spark side and collapses the float32 representation
        return repr(round(v, 6))
    return str(v)


def frame_hash(cols, rows):
    h = hashlib.sha256()
    for ln in sorted_lines(cols, rows):
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def load_dump(path):
    tbl = pq.read_table(path)
    cols = list(tbl.column_names)
    return cols, [tuple(r[c] for c in cols) for r in tbl.to_pylist()]


def sorted_lines(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


def dumps(out_dir):
    return {n for n in os.listdir(out_dir) if os.path.isdir(f"{out_dir}/{n}")}


def failures(out_dir):
    p = f"{out_dir}/failures.json"
    return set(json.load(open(p))) if os.path.exists(p) else set()


def against(other_dir, out_dir, only):
    mine, theirs = dumps(out_dir), dumps(other_dir)
    n_ok = n_bad = 0
    for name in sorted(mine | theirs):
        if only and name not in only:
            continue
        if name not in mine or name not in theirs:
            side = out_dir if name not in mine else other_dir
            print(f"{name}: MISSING in {side}")
            n_bad += 1
            continue
        a_cols, a_rows = load_dump(f"{other_dir}/{name}")
        b_cols, b_rows = load_dump(f"{out_dir}/{name}")
        ok = (sorted(a_cols) == sorted(b_cols) and len(a_rows) == len(b_rows)
              and frame_hash(a_cols, a_rows) == frame_hash(b_cols, b_rows))
        n_ok += ok
        n_bad += not ok
        print(f"{name}: {'OK' if ok else 'MISMATCH'} rows {len(b_rows)}/{len(a_rows)}"
              f" schema {sorted(a_cols) == sorted(b_cols)}")
        if not ok and sorted(a_cols) == sorted(b_cols):
            a_set, b_set = sorted_lines(a_cols, a_rows), sorted_lines(b_cols, b_rows)
            for ln in sorted(set(b_set) - set(a_set))[:3]:
                print(f"  only here : {ln}")
            for ln in sorted(set(a_set) - set(b_set))[:3]:
                print(f"  only other: {ln}")
    both_failed = sorted((failures(out_dir) & failures(other_dir)) - mine - theirs)
    if both_failed:
        print(f"failed in both runs: {', '.join(both_failed)}")
    print(f"== {n_ok} identical, {n_bad} not identical ==")
    sys.exit(1 if n_bad else 0)


def main():
    if sys.argv[1] == "--against":
        against(sys.argv[2], sys.argv[3], set(sys.argv[4:]))
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        spath = f"{out_dir}/{name}"
        if not os.path.isdir(spath):
            print(f"{name}: MISSING spark dump")
            n_bad += 1
            continue
        s_cols, s_rows = load_dump(spath)
        try:
            cur = con.execute(sql)
            o_cols = [d[0] for d in cur.description]
            o_rows = cur.fetchall()
        except Exception as e:
            print(f"{name}: ORACLE ERROR {e}")
            n_bad += 1
            continue
        rows_match = len(s_rows) == len(o_rows)
        schema_match = sorted(s_cols) == sorted(o_cols)
        hash_match = (frame_hash(s_cols, s_rows) == frame_hash(o_cols, o_rows)
                      if rows_match and schema_match else False)
        ok = rows_match and schema_match and hash_match
        n_ok += ok
        n_bad += not ok
        print(f"{name}: {'OK' if ok else 'MISMATCH'} "
              f"rows {len(s_rows)}/{len(o_rows)} schema {schema_match} hash {hash_match}")
        if not ok and rows_match and schema_match:
            sset, oset = sorted_lines(s_cols, s_rows), sorted_lines(o_cols, o_rows)
            diffs = [(a, b) for a, b in zip(sset, oset) if a != b][:5]
            for a, b in diffs:
                print(f"  spark : {a}\n  oracle: {b}")
    print(f"== {n_ok} OK, {n_bad} not OK ==")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
