#!/usr/bin/env python3
"""DuckDB oracle check for the `pipeline` workload's first results.

Usage: python3 oracle.py <data_dir> <results_dir> <verdict.json>

<results_dir> holds oracle_sql.json (entry name -> DuckDB SQL) and one
parquet directory per entry with the entry's first result. Each result is
compared with its oracle the way the project's selfcheck does it: same
column names, and the same multiset of rows after normalising every value
(floats by repr, lists and maps element-wise). Writes {entry: "PASS" or a
failure reason} to <verdict.json>.
"""
import json
import math
import sys

import duckdb
import pyarrow.dataset as pads

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return str(v)


def rows_of(table):
    cols = sorted(table.column_names)
    pydict = {c: table.column(c).to_pylist() for c in cols}
    return [tuple(norm(pydict[c][i]) for c in cols) for i in range(table.num_rows)], cols


def compare(con, results_dir, name, sql):
    mine = pads.dataset(f"{results_dir}/{name}").to_table()
    theirs = con.execute(sql).arrow()
    mrows, mcols = rows_of(mine)
    trows, tcols = rows_of(theirs)
    if mcols != tcols:
        return f"columns {mcols} vs {tcols}"
    if sorted(mrows) != sorted(trows):
        diff = [(m, t) for m, t in zip(sorted(mrows), sorted(trows)) if m != t][:2]
        return f"{len(mrows)} vs {len(trows)} rows, values differ; first diffs (graft, oracle): {diff}"
    return "PASS"


def main():
    data_dir, results_dir, verdict_path = sys.argv[1:4]
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(f"{results_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    verdict = {}
    for name, sql in sorted(oracle.items()):
        try:
            verdict[name] = compare(con, results_dir, name, sql)
        except Exception as e:  # a broken oracle or result fails that entry only
            verdict[name] = f"error: {e}"
    with open(verdict_path, "w") as f:
        json.dump(verdict, f, indent=1)


if __name__ == "__main__":
    main()
