"""Oracle check of a run's outputs: each query's parquet against its
`SparkEntry.oracleSql` evaluated in DuckDB, with the comparison rules
of tools/check.py (imported unchanged). Oracle results are cached
per input directory and SQL text, since they never change."""
import hashlib
import importlib.util
import json
import os
import re

import duckdb

# a CTE head: `name AS (` or `name(col, ...) AS (`
_CTE_HEAD = re.compile(r"\b(\w+)(\s*\([^()]*\))?\s+AS\s+\(", re.IGNORECASE)


def _check_module(root):
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _oracle_rows(chk, con, sql):
    """The oracle's rows under check.py's normalization. DuckDB 1.0
    inlines every CTE, so a chain of CTEs that each read the previous
    one twice (q23's k-means supersteps) re-expands exponentially;
    the SQL is first tried with its CTEs MATERIALIZED, which leaves
    the result unchanged, and as written if DuckDB rejects that."""
    if sql.lstrip()[:4].upper() == "WITH":
        try:
            return chk.table_to_rows(con.sql(_CTE_HEAD.sub(r"\1\2 AS MATERIALIZED (", sql)))
        except duckdb.Error:
            pass
    return chk.table_to_rows(con.sql(sql))


def check(root, data_dir, out_dir, oracle_sql, cache_dir, tmp):
    """Compare every query in `oracle_sql` ({name: sql or None}).
    Returns (failed names, total rows of the outputs, report lines)."""
    chk = _check_module(root)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{tmp}'")
    for t in chk.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    os.makedirs(cache_dir, exist_ok=True)
    failed, rows_out, lines = set(), 0, []
    for name, sql in sorted(oracle_sql.items()):
        got_dir = os.path.join(out_dir, name)
        if not os.path.isdir(got_dir):
            failed.add(name)
            lines.append(f"[FAIL] {name}: no output (query crashed)")
            continue
        gcols, gfams, got = chk.table_to_rows(con.sql(f"SELECT * FROM '{got_dir}/*.parquet'"))
        rows_out += len(got)
        if sql is None:
            failed.add(name)
            lines.append(f"[FAIL] {name}: no oracle SQL")
            continue
        key = hashlib.sha256(f"{os.path.abspath(data_dir)}\n{sql}".encode()).hexdigest()[:24]
        path = os.path.join(cache_dir, f"{name}-{key}.json")
        if os.path.exists(path):
            with open(path) as fh:
                exp = json.load(fh)
        else:
            ecols, efams, erows = _oracle_rows(chk, con, sql)
            exp = {"cols": ecols, "fams": efams, "rows": [list(r) for r in erows]}
            with open(path + ".tmp", "w") as fh:
                json.dump(exp, fh)
            os.replace(path + ".tmp", path)
        if gcols != exp["cols"]:
            why = f"columns differ spark={gcols} duckdb={exp['cols']}"
        elif gfams != exp["fams"]:
            why = f"column type families differ spark={gfams} duckdb={exp['fams']}"
        elif [list(r) for r in got] != exp["rows"]:
            why = f"rows differ ({len(got)} vs {len(exp['rows'])})"
        else:
            lines.append(f"[PASS] {name}: {len(got)} rows")
            continue
        failed.add(name)
        lines.append(f"[FAIL] {name}: {why}")
    con.close()
    return failed, rows_out, lines
