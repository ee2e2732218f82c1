"""Result check against the DuckDB oracle in `SparkEntry.oracleSql`.

The comparison rules are those of the repository's `tools/check.py`:
columns sorted by name, rows sorted by every column, equal column names
and row counts, floating columns equal within rtol=atol=1e-9 (NaN equal
to NaN), every other column equal as strings. A query with no oracle SQL
gets check.py's rows-only check (a non-empty result) and is reported.

The harness keeps one parquet copy per distinct result digest, so an
execution is checked by checking the result its digest names: identical
digests mean identical sorted rows.
"""
import glob

import duckdb
import numpy as np
import pandas as pd

from datagen import TABLES


def compare(got, exp):
    """Return None when `got` matches `exp` under check.py's rules, else a reason."""
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    if len(got.columns):
        got = got.sort_values(by=list(got.columns), ignore_index=True)
        exp = exp.sort_values(by=list(exp.columns), ignore_index=True)
    for c in got.columns:
        g, e = got[c], exp[c]
        if g.dtype.kind == "f" or e.dtype.kind == "f":
            if not np.allclose(g.astype(float), e.astype(float),
                               rtol=1e-9, atol=1e-9, equal_nan=True):
                return f"column {c} differs"
        elif not (g.astype(str).values == e.astype(str).values).all():
            return f"column {c} differs"
    return None


def check(run, data_dir, scratch_dir):
    """Check every execution in a harness run.

    Returns (failures, findings): failures is one entry per failed
    execution (thrown error, wrong result, or a result that could not be
    kept); findings lists queries checked without an oracle.
    """
    con = duckdb.connect(config={"temp_directory": scratch_dir})
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    verdict = {}   # (query, digest) -> None or reason
    findings = []
    for query, dirs in run["results"].items():
        sql = run["oracle_sql"].get(query)
        exp = None
        if sql is None:
            findings.append(f"{query}: no oracle SQL, rows-only check")
        else:
            try:
                exp = con.sql(sql).df()
            except Exception as err:   # an oracle that cannot run checks nothing
                findings.append(f"{query}: oracle SQL failed: {err}")
        for digest, path in dirs.items():
            if path is None:
                verdict[(query, digest)] = "result could not be kept for the check"
                continue
            files = glob.glob(f"{path}/*.parquet")
            got = (con.sql(f"SELECT * FROM read_parquet({files!r})").df()
                   if files else pd.DataFrame())
            if exp is None:
                verdict[(query, digest)] = None if len(got) else "empty result"
                continue
            try:
                verdict[(query, digest)] = compare(got, exp)
            except Exception as err:
                verdict[(query, digest)] = f"compare failed: {err}"
    failures = []
    for e in run["executions"]:
        reason = e["error"] or verdict.get((e["query"], e["digest"]),
                                           "result not checked")
        if reason:
            failures.append({"query": e["query"], "pass": e["pass"],
                             "reason": reason})
    return failures, findings
