#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (driver-side tooling only,
not part of the Spark library): runs each oracle SQL in DuckDB over the
testdata parquet tables and compares against the parquet results dumped by
`graft.Verify`. Columns are sorted by name, rows by all columns, values
compared exactly (bit-exact doubles — the query layer is designed for that).

Usage: python3 scripts/check.py <sfDir> <verifyOutDir> [q1,q2,...]

The optional third argument is a comma list of query names, the subset
`graft.Verify` takes as its own third argument: only those oracles run.

DuckDB runs under a fixed memory limit and spills to a temporary directory
under <verifyOutDir>, so one heavy oracle cannot take the machine's memory;
each oracle is timed and the slowest ten are printed at the end.
"""
import json
import math
import os
import sys
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
# Three quarters of physical memory (DuckDB's own default is 80%): the
# t33 oracles need more than 5.5 GB even at sf0.001, and the
# g5_pagerank_deep oracle held ~10 GB resident at sf0.1. Above the limit
# DuckDB spills to its temp directory instead.
MEMORY_LIMIT = "%dMB" % (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
                         * 3 // 4 // 2**20)


def norm(v):
    if v is None:
        return "∅"
    if isinstance(v, float) and math.isnan(v):
        return "∅"  # pandas renders SQL NULL in numeric cols as NaN
    return v


def main(sf_dir, out_dir, subset=None):
    con = duckdb.connect(config={"memory_limit": MEMORY_LIMIT,
                                 "temp_directory": f"{out_dir}/duckdb_tmp"})
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    if subset is not None:
        missing = sorted(subset - oracles.keys())
        if missing:
            print(f"FAIL no oracle dumped for {', '.join(missing)}")
            return 1
        oracles = {k: v for k, v in oracles.items() if k in subset}

    n_pass = n_fail = 0
    oracle_s = []
    for name in sorted(oracles):
        sql = oracles[name]
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchdf()
            t0 = time.perf_counter()
            try:
                want = con.execute(sql).fetchdf()
            finally:
                oracle_s.append((time.perf_counter() - t0, name))
        except Exception as e:
            print(f"FAIL {name}: exec error: {e}")
            n_fail += 1
            continue
        got = got.reindex(sorted(got.columns), axis=1)
        want = want.reindex(sorted(want.columns), axis=1)
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
            n_fail += 1
            continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}")
            n_fail += 1
            continue
        # dtype-family guard (r11 g-family root cause): DuckDB HUGEINT
        # aggregates (SUM over BIGINT) render as float64 in pandas while
        # Spark's parquet stays int64 — value-equality passes (123 ==
        # 123.0) but the driver's hasher formats them differently and
        # hash-fails. Flag any int-vs-float column pair whose float side
        # carries no NaN (a NaN means SQL NULL rendering, which the value
        # compare below catches on its own).
        fam = lambda d: "i" if d.kind in "iu" else ("f" if d.kind == "f" else d.kind)
        dtype_bad = [
            c for c in got.columns
            if {fam(got[c].dtype), fam(want[c].dtype)} == {"i", "f"}
            and not (got[c].isna().any() or want[c].isna().any())]
        if dtype_bad:
            print(f"FAIL {name}: int/float dtype mismatch (driver hasher "
                  f"formats these differently) in columns {dtype_bad}: "
                  f"spark={[str(got[c].dtype) for c in dtype_bad]} "
                  f"oracle={[str(want[c].dtype) for c in dtype_bad]} — "
                  f"CAST the oracle aggregate AS BIGINT or align the types")
            n_fail += 1
            continue
        g = sorted([tuple(norm(v) for v in r) for r in got.itertuples(index=False)],
                   key=repr)
        w = sorted([tuple(norm(v) for v in r) for r in want.itertuples(index=False)],
                   key=repr)
        if g == w:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
        else:
            diffs = [(a, b) for a, b in zip(g, w) if a != b][:3]
            print(f"FAIL {name}: value mismatch, first diffs (spark, oracle):")
            for a, b in diffs:
                print(f"      {a}\n   != {b}")
            n_fail += 1
    print("\nslowest oracles (s):")
    for secs, name in sorted(oracle_s, reverse=True)[:10]:
        print(f"  {secs:8.2f}  {name}")
    print(f"\n{n_pass} pass / {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    names = ({q.strip() for q in sys.argv[3].split(",") if q.strip()}
             if len(sys.argv) > 3 else None)
    sys.exit(main(sys.argv[1], sys.argv[2], names))
