"""DuckDB oracle check of the reference results a query workload wrote.

Applies the engine's oracle rule by calling scripts/compare_oracle.py's
own functions: columns compared by sorted name, rows in canonical order,
every value exactly equal; a float that is only close still fails.
"""
import glob
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "scripts"))

import compare_oracle  # noqa: E402


def check(data_dir, results_dir):
    """Returns {query: None if it matches its oracle, else the mismatch}."""
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    with open(os.path.join(results_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    verdicts = {}
    for qdir in sorted(glob.glob(os.path.join(results_dir, "*"))):
        if not os.path.isdir(qdir):
            continue
        q = os.path.basename(qdir)
        got_cols, got = compare_oracle.rows_of(con, f"SELECT * FROM '{qdir}/*.parquet'")
        if q not in oracle:
            verdicts[q] = None if got else "no oracle and an empty result"
            continue
        try:
            exp_cols, exp = compare_oracle.rows_of(con, oracle[q])
        except duckdb.Error as e:
            verdicts[q] = f"oracle SQL error: {e}"
            continue
        gc, gr = compare_oracle.canon(got_cols, got)
        ec, er = compare_oracle.canon(exp_cols, exp)
        if gc != ec:
            verdicts[q] = f"columns {gc} != oracle {ec}"
        elif len(gr) != len(er):
            verdicts[q] = f"{len(gr)} rows != oracle {len(er)}"
        elif not all(compare_oracle.eq(a, b) for r1, r2 in zip(gr, er)
                     for a, b in zip(r1, r2)):
            verdicts[q] = "values differ from the oracle"
        else:
            verdicts[q] = None
    return verdicts
