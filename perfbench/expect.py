#!/usr/bin/env python3
"""Builds perfbench/expected.json, the output check's expected hashes.

    python3 perfbench/expect.py

Run from the root of a checkout at the commit whose outputs are taken
as correct. Every workload query runs twice in fresh JVMs, in opposite
orders; a query whose two hashes differ is reported and the table is
not written. Each query's rows are also written to parquet, and every
query with oracle SQL in the registry is compared with DuckDB over the
same corpus, by the rules of tools/verify_local.py: columns sorted by
name, rows sorted by every column, values compared exactly. A mismatch
is reported and the table is not written.
"""
import json
import os
import shutil
import sys

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def harness_expect(sf_dir, queries, dump):
    shutil.rmtree(dump, ignore_errors=True)
    os.makedirs(dump)
    record, _ = run.harness(dump, ["mode=expect", f"sf={sf_dir}",
                                   f"queries={','.join(queries)}", f"dump={dump}/rows"],
                            timeout=None)
    return record


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def oracle_diff(con, sql, rows_dir):
    """None when the Spark rows equal the oracle's, else the reason."""
    a = canon(con.sql(f"SELECT * FROM '{rows_dir}/*.parquet'").df())
    b = canon(con.sql(sql).df())
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rowcount {len(a)} vs {len(b)}"
    for c in a.columns:
        try:
            eq = (a[c].isna() & b[c].isna()) | (a[c] == b[c])
        except Exception:
            eq = a[c].astype(str) == b[c].astype(str)
        if not bool(eq.all()):
            return f"{c}: {int((~eq).sum())} values differ"
    return None


def main():
    with open(os.path.join(run.HERE, "workloads.json")) as f:
        workloads = json.load(f)
    os.makedirs(run.BUILD_DIR, exist_ok=True)
    run.build()
    by_sf = {}
    for name, spec in workloads.items():
        if name.startswith("_"):
            continue
        by_sf.setdefault(spec["sf"], []).extend(spec["queries"])
    table = {"hashes": {}, "oracle_confirmed": {}, "rows_only": {}}
    problems = []
    for sf, queries in sorted(by_sf.items()):
        sf_dir = os.path.join(run.HERE, "corpus", sf)
        base = os.path.join(run.BUILD_DIR, "expect", sf)
        first = harness_expect(sf_dir, queries, base + "-a")
        second = harness_expect(sf_dir, list(reversed(queries)), base + "-b")
        for q in queries:
            if first["hashes"][q] != second["hashes"][q]:
                problems.append(f"{sf} {q}: not deterministic "
                                f"({first['hashes'][q]} vs {second['hashes'][q]})")
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        confirmed = []
        for q in queries:
            sql = first["oracles"].get(q)
            if sql is None:
                continue
            diff = oracle_diff(con, sql, os.path.join(base + "-a", "rows", q))
            if diff:
                problems.append(f"{sf} {q}: oracle mismatch: {diff}")
            else:
                confirmed.append(q)
        table["hashes"][sf] = {q: first["hashes"][q] for q in queries}
        table["oracle_confirmed"][sf] = confirmed
        table["rows_only"][sf] = [q for q in queries if q not in first["oracles"]]
        print(f"{sf}: {len(queries)} queries, {len(confirmed)} confirmed against DuckDB, "
              f"{len(table['rows_only'][sf])} without oracle")
    for p in problems:
        print("PROBLEM", p)
    if problems:
        sys.exit(1)
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(table, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
