#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: read Verify.scala's
parquet dumps, run each oracle SQL in DuckDB over the same sf tables,
and compare (column names sorted, row-by-row values).

Usage: python3 tools/check.py <sfDir> <verifyOutDir>
"""
import json, math, re, shutil, sys, tempfile
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # driver-style value canonicalisation: repr of float
        return repr(round(v, 9))
    return repr(v)

def main(sf_dir, out_dir):
    # bounded for a shared box: a memory cap and spilling to a scratch dir
    # under /tmp. Insertion order stays preserved: without it mmr_rerank's
    # oracle returns other rows on 4 threads.
    spill = tempfile.mkdtemp(prefix="graft_check_duckdb_", dir="/tmp")
    try:
        return compare(duckdb.connect(config={
            "memory_limit": "4GB", "temp_directory": spill}), sf_dir, out_dir)
    finally:
        shutil.rmtree(spill, ignore_errors=True)

# a WITH-clause CTE definition: `name AS (` after WITH, a comma or a line start
CTE_DEF = re.compile(r'(^|\bWITH\s+|,\s*)(\w+) AS \(', re.M)

def oracle_rows(con, sql):
    """Run one oracle SQL. DuckDB 1.0 inlines every reference to a CTE,
    so a chain of CTEs that each read the last twice (the unrolled rank
    iterations of graph_pagerank_dyn, the candidate sets of mmr_rerank)
    grows exponentially and runs out of memory; on that error the same
    SQL runs again with its CTEs materialized, which gives the same rows."""
    try:
        return con.execute(sql).fetch_df(), ""
    except duckdb.OutOfMemoryException:
        materialized = CTE_DEF.sub(lambda m: f"{m.group(1)}{m.group(2)} AS MATERIALIZED (", sql)
        return con.execute(materialized).fetch_df(), " (CTEs materialized)"

def compare(con, sf_dir, out_dir):
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        try:
            want, how = oracle_rows(con, sql)
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_bad += 1
            continue
        try:
            got = con.execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetch_df()
        except Exception as e:
            print(f"FAIL {name}: spark result unreadable: {e}")
            n_bad += 1
            continue
        wcols, gcols = sorted(want.columns), sorted(got.columns)
        if wcols != gcols:
            print(f"FAIL {name}: columns differ spark={gcols} oracle={wcols}")
            n_bad += 1
            continue
        want, got = want[wcols], got[gcols]
        if len(want) != len(got):
            print(f"FAIL {name}: rows differ spark={len(got)} oracle={len(want)}")
            n_bad += 1
            continue
        diffs = []
        for i in range(len(want)):
            for c in wcols:
                a, b = want[c].iloc[i], got[c].iloc[i]
                if canon(a) != canon(b):
                    diffs.append((i, c, a, b))
        if diffs:
            print(f"FAIL {name}: {len(diffs)} value diffs, first: "
                  f"row={diffs[0][0]} col={diffs[0][1]} "
                  f"oracle={diffs[0][2]!r} spark={diffs[0][3]!r}")
            n_bad += 1
        else:
            print(f"ok   {name} ({len(want)} rows){how}")
            n_ok += 1
    print(f"== {n_ok} ok, {n_bad} fail ==")
    return 1 if n_bad else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
