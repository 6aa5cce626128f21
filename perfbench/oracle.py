"""DuckDB oracle check for the analytics workload, with the compare of
`tools/check_oracle.py` (imported from there): columns matched by name,
rows compared as multisets, floats to 10 significant digits, array cells
rejected."""
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_oracle import TABLES, compare  # noqa: E402


def check(corpus_dir, results_dir, oracle_sql, names):
    """One check record per query name; a query without oracle SQL fails."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(corpus_dir, t)}.parquet'")
    out = []
    for name in names:
        sql = oracle_sql.get(name)
        if sql is None:
            out.append({"name": f"oracle.{name}", "ok": False, "detail": "no oracle SQL"})
            continue
        try:
            exp = con.execute(sql).fetchall()
            exp_cols = [d[0] for d in con.description]
            got_rel = con.execute(f"SELECT * FROM '{os.path.join(results_dir, name)}/*.parquet'")
            got_cols = [d[0] for d in got_rel.description]
            ok, msg = compare(exp_cols, exp, got_cols, got_rel.fetchall())
        except Exception as e:  # a query the oracle cannot replay is a failed check
            ok, msg = False, f"{type(e).__name__}: {e}"
        out.append({"name": f"oracle.{name}", "ok": ok, "detail": msg})
    return out
