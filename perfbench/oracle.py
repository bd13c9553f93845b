"""DuckDB answer check for batch_heavy: each row's first-pass result against
`SparkEntry.oracleSql(row)` run over the same seeded copy of the tables.
The frame compare is the repository's own (`tools/oracle_check.py`),
imported read-only."""
import glob
import os
import sys

import pandas as pd


def check(raw):
    sys.path.insert(0, "tools")
    try:
        import duckdb
        from oracle_check import compare_frames
    finally:
        sys.path.pop(0)
    v = raw["values"]
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(v["data_dir"], "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/*.parquet')"
                    % (name, p))
    failures = {}
    for row, sql in sorted(v["oracle_sql"].items()):
        try:
            if not sql:
                raise AssertionError("no oracle SQL")
            got = pd.read_parquet(os.path.join(v["results_dir"], row))
            got = got[sorted(got.columns)].reset_index(drop=True)
            exp = con.execute(sql).df()
            exp = exp[sorted(exp.columns)].reset_index(drop=True)
            bad = compare_frames(row, got, exp)
            if bad:
                raise AssertionError("; ".join(bad[:3]))
        except Exception as e:  # any failure is the row's
            failures["oracle/" + row] = ["%s: %s" % (type(e).__name__, e)]
    con.close()
    return {"attempted": len(v["oracle_sql"]), "failed": len(failures),
            "failures": failures}
