"""Output check for one benchmark run.

Ops with a `SparkEntry.oracleSql` entry: the runner writes the cold-pass
result as parquet; here DuckDB runs the oracle SQL on the same generated
corpus and both sides are compared exactly with tools/oracle_check.py's
own canonical form (pandas frames, columns sorted by name, dtype kinds
and dtype-visible cell values, no tolerance), and a result column holding
arrays or structs fails as it does there.

Ops without an oracle are checked by equality of the result digest the
runner takes on every pass (see HASH_ONLY for why each has no oracle).
"""
import glob
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from oracle_check import frame  # noqa: E402

# Ops checked by result-digest equality across passes, with the reason
# they have no DuckDB oracle.
HASH_ONLY = {
    "keyed_write": "direct KeyedTable.write call; output is an untimed read-back of the table",
    "keyed_merge_sparse": "direct KeyedTable.mergeDelta call; output is an untimed read-back of the table",
    "keyed_merge_wide": "direct KeyedTable.mergeDelta call; output is an untimed read-back of the table",
    "keyed_compact": "direct KeyedTable.compact call; output is an untimed read-back of the table",
    "group_commit_3sinks": "direct GroupCommit.commitGroup call; output is an untimed read-back of the sinks",
}


def oracle(corpus, results_dir, sqls, tmp_dir):
    """{op: error or None} for every op with oracle SQL."""
    con = duckdb.connect(config={"temp_directory": tmp_dir})
    for p in glob.glob(os.path.join(corpus, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name, sql in sorted(sqls.items()):
        try:
            parts = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
            if not parts:
                out[name] = "no result written"
                continue
            got = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
            want = con.execute(sql).df()
            gk, gr = frame(got)
            wk, wr = frame(want)
            nested = [c for c in sorted(got.columns) if len(got) > 0
                      and isinstance(got[c].iloc[0], (np.ndarray, list, dict))]
            if gk != wk:
                out[name] = f"columns/dtypes {gk} vs oracle {wk}"
            elif nested:
                out[name] = f"array/struct column(s) {nested}, which the oracle compare cannot hash"
            elif len(gr) != len(wr):
                out[name] = f"{len(gr)} rows vs oracle {len(wr)}"
            elif gr != wr:
                i = next(i for i, (a, b) in enumerate(zip(gr, wr)) if a != b)
                out[name] = f"row {i}: {gr[i]} vs oracle {wr[i]}"
            else:
                out[name] = None
        except Exception as e:  # a failing oracle query is a failed check
            out[name] = f"{type(e).__name__}: {e}"[:400]
    con.close()
    return out


def digests(samples):
    """{op: error or None}: every successful execution of an op gave the
    same result digest."""
    seen = {}
    for s in samples:
        if s["error"] is None:
            seen.setdefault(s["op"], set()).add(s["hash"])
    return {op: None if len(h) == 1 else f"{len(h)} different results across passes"
            for op, h in seen.items()}
