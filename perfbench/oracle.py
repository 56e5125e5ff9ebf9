"""DuckDB goldens and the exact, order-insensitive output check.

Each golden is the repo's own ``oracle_sql()[name]`` evaluated over the
generated input and cached as parquet next to it (once per seed).  Spark
outputs are compared with their golden inside DuckDB, so a large result
(the self-join's pairs) is never collected into Python:

- same column names;
- same value kind per column (int / float / decimal / str / array / ...),
  the strictness of ``oracle/compare.py``: DECIMAL is not DOUBLE;
- equal multisets of rows (``EXCEPT ALL`` both ways plus equal counts).
"""

from __future__ import annotations

import os
import re

_CTE_HEAD = re.compile(r"(?m)^(\s*,?\s*)([A-Za-z_]\w*) AS \(")
_WITH_HEAD = re.compile(r"(WITH(?: RECURSIVE)?\s+)([A-Za-z_]\w*) AS \(")


def _materialized(sql: str) -> str:
    """Mark every CTE of a recursive golden AS MATERIALIZED.  DuckDB inlines
    CTEs, so a recursive closure over an inlined pair CTE re-derives the
    pairs on every iteration (curation_pipeline: 73 s -> 1.2 s on 500 docs).
    Materializing changes the evaluation, never the rows.  Non-recursive
    goldens are left as written; some of them get slower materialized."""
    if "WITH RECURSIVE" not in sql:
        return sql
    return _WITH_HEAD.sub(r"\1\2 AS MATERIALIZED (", _CTE_HEAD.sub(r"\1\2 AS MATERIALIZED (", sql))


def connect(input_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet')"
        )
    return con


def golden(con, input_dir: str, name: str) -> str:
    """Path of the cached golden parquet for `name` (computed on first use;
    written to a temp name and renamed, so a present file is complete)."""
    import __spark_entry__ as entry

    path = os.path.join(input_dir, "oracle", f"{name}.parquet")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        sql = _materialized(entry.oracle_sql()[name])
        tmp = path + ".tmp"
        con.execute(f"COPY ({sql}) TO '{tmp}' (FORMAT parquet)")
        os.replace(tmp, path)
    return path


def _kind(duck_type: str) -> str:
    t = duck_type.upper()
    if t.endswith("[]") or t.startswith(("STRUCT", "MAP")):
        return "array"
    if t.startswith("DECIMAL"):
        return "decimal"
    if t in ("FLOAT", "DOUBLE", "REAL"):
        return "float"
    if "INT" in t:
        return "int"
    if t.startswith("TIMESTAMP"):
        return "ts"
    return t.lower()  # varchar, boolean, date, ...


def _relation(files: list[str]) -> str:
    lst = ", ".join(f"'{f}'" for f in files)
    return f"read_parquet([{lst}], hive_partitioning = false)"


def mismatch(con, spark_files: list[str], golden_path: str) -> str | None:
    """None when the Spark output files equal the golden exactly, else a
    one-line reason."""
    if not spark_files:
        return "no output files"
    s, g = _relation(spark_files), _relation([golden_path])
    s_cols = {r[0]: _kind(r[1]) for r in con.execute(f"DESCRIBE SELECT * FROM {s}").fetchall()}
    g_cols = {r[0]: _kind(r[1]) for r in con.execute(f"DESCRIBE SELECT * FROM {g}").fetchall()}
    if sorted(s_cols) != sorted(g_cols):
        return f"columns {sorted(s_cols)} != {sorted(g_cols)}"
    bad = [c for c in s_cols if s_cols[c] != g_cols[c]]
    if bad:
        return "kinds differ: " + ", ".join(f"{c} {s_cols[c]}!={g_cols[c]}" for c in bad)
    cols = ", ".join(f'"{c}"' for c in sorted(s_cols))
    n_s, n_g = (con.execute(f"SELECT count(*) FROM {r}").fetchone()[0] for r in (s, g))
    if n_s != n_g:
        return f"row count {n_s} != {n_g}"
    n_diff = con.execute(
        f"SELECT count(*) FROM ((SELECT {cols} FROM {s} EXCEPT ALL SELECT {cols} FROM {g}) "
        f"UNION ALL (SELECT {cols} FROM {g} EXCEPT ALL SELECT {cols} FROM {s}))"
    ).fetchone()[0]
    return f"{n_diff} rows differ" if n_diff else None
