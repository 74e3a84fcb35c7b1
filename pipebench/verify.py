"""DuckDB check of collected pipeline results.

The JVM driver records, for each lookup and refresh, the pipeline as DuckDB
can replay it (Extract -> a view over the table's files, Execute -> the same
statement, SqlTransform -> a view over the same SQL, Load -> the table it
wrote) and the rows the final view produced in Spark. DuckDB runs the same
SQL over the same files; both sides go through the cell normalisation of
`tools/compare.py` and must be equal as multisets of rows.

A Load is checked on its own: the files Spark wrote must equal DuckDB's view
of the Load's input. A later Extract of that table in the same pipeline then
reads DuckDB's view, so the summary after the re-read is checked against an
independent computation.
"""
import importlib.util
import os

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_compare():
    path = os.path.join(ROOT, "tools", "compare.py")
    spec = importlib.util.spec_from_file_location("compare", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


compare = _load_compare()


def _files(path):
    """DuckDB scan of a parquet table written as a file or a directory."""
    if os.path.isdir(path):
        return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"
    return f"read_parquet('{path}')"


def normalised_rows(df):
    return sorted(map(tuple, compare.frame_cells(df)))


def check_replay(replay, columns, rows):
    """None when DuckDB's replay reproduces `rows`, else the first reason."""
    con = duckdb.connect()
    written = {}
    last_view = None
    for step in replay:
        op = step["op"]
        if op == "extract":
            src = written.get(step["path"])
            src = f"SELECT * FROM {src}" if src else f"SELECT * FROM {_files(step['path'])}"
            con.execute(f"CREATE OR REPLACE TEMP VIEW {step['view']} AS {src}")
        elif op == "execute":
            con.execute(step["sql"])
        elif op == "sql":
            con.execute(f"CREATE OR REPLACE TEMP VIEW {step['view']} AS {step['sql']}")
            last_view = step["view"]
        elif op == "load":
            cols = [r[0] for r in con.execute(f"DESCRIBE {step['view']}").fetchall()]
            sel = ", ".join(f'"{c}"' for c in cols)
            files = f"(SELECT {sel} FROM {_files(step['path'])})"
            mine = f"(SELECT {sel} FROM {step['view']})"
            diff = con.execute(
                f"SELECT (SELECT count(*) FROM ({files} EXCEPT ALL {mine})),"
                f" (SELECT count(*) FROM ({mine} EXCEPT ALL {files}))").fetchone()
            if diff != (0, 0):
                return f"{step['path']}: {diff[0]} extra / {diff[1]} missing rows vs DuckDB"
            written[step["path"]] = step["view"]
        else:
            return f"unknown replay step {op}"
    if last_view is None:
        return "replay has no SqlTransform result"
    expected = con.execute(f"SELECT * FROM {last_view}").fetchdf()
    actual = pd.DataFrame([list(r) for r in rows], columns=columns)
    if sorted(expected.columns) != sorted(actual.columns):
        return f"columns {sorted(actual.columns)} vs DuckDB {sorted(expected.columns)}"
    if normalised_rows(expected) != normalised_rows(actual):
        return f"{len(actual)} rows differ from DuckDB's {len(expected)}"
    return None
