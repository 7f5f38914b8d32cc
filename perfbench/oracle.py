"""Run-scoped output check against the DuckDB oracle in ``sqlgen``.

The expected tables are the ``sqlgen`` oracle queries evaluated by DuckDB
over the run's own ``events`` table. All six queries share one CTE chain, so
they are evaluated in ONE statement (each query's final SELECT becomes a
list-valued column) and the chain runs once instead of six times.

The pipeline's outputs are read back with DuckDB straight from parquet (no
Spark), restricted to ``run_id = <this run>``, with ``run_id`` and
``p_date`` dropped. Each table is compared with the semantics of
``tests/conftest.py::normalize``: columns matched by name, rows compared as
an unordered multiset, NULL equal to NULL; ``error_rate`` and
``warning_rate`` are compared after rounding to 9 decimals.
"""

from __future__ import annotations

import os

import duckdb

from timberline_spark import sqlgen
from timberline_spark.transcripts import DUCKDB

# output table -> (oracle query, compare a column subset, float columns)
TABLES = {
    "sink_errors": ("q_route_errors", False, ()),
    "sink_tool_calls": ("q_route_tool_calls", False, ()),
    "sink_anomalies": ("q_route_anomalies", False, ()),
    "report_buckets": ("q_report_buckets", True, ()),
    "top_issues": ("q_top_issues", False, ()),
    "report_summary": ("q_summary", False, ("error_rate", "warning_rate")),
}
DROPPED = ("run_id", "p_date")


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    return con


def compute_expected(con: duckdb.DuckDBPyConnection, events_path: str) -> None:
    """Create one ``exp_<table>`` DuckDB table per checked output."""
    con.execute(
        f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet('{events_path}')"
    )
    ctes = sqlgen.pipeline_ctes(DUCKDB)
    cols = []
    for table, (query, _, _) in TABLES.items():
        sql = getattr(sqlgen, query)(DUCKDB)
        if not sql.startswith(ctes + "\n"):
            raise ValueError(f"{query} does not extend the shared oracle CTE chain")
        cols.append(f"(SELECT list(x) FROM ({sql[len(ctes) + 1:]}) x) AS {table}")
    con.execute(
        f"CREATE OR REPLACE TABLE oracle_lists AS {ctes}\nSELECT {', '.join(cols)}"
    )
    for table in TABLES:
        con.execute(
            f"CREATE OR REPLACE TABLE exp_{table} AS"
            f" SELECT unnest({table}, recursive := true) FROM oracle_lists"
        )
    con.execute("DROP TABLE oracle_lists")


def expected_rows(con: duckdb.DuckDBPyConnection, table: str) -> int:
    return con.execute(f"SELECT count(*) FROM exp_{table}").fetchone()[0]


def _columns(con, rel_sql: str) -> list[str]:
    return [r[0] for r in con.execute(f"DESCRIBE {rel_sql}").fetchall()]


def compare_table(
    con: duckdb.DuckDBPyConnection, table: str, actual_dir: str, run_id: str
) -> str | None:
    """None when the run's rows of ``actual_dir`` equal ``exp_<table>``,
    else a one-line description of the difference."""
    _, subset, float_cols = TABLES[table]
    files = f"{actual_dir}/**/*.parquet"
    if not os.path.isdir(actual_dir):
        return f"{table}: output directory missing"
    src = f"read_parquet('{files}', hive_partitioning = true, union_by_name = true)"
    actual_cols = [c for c in _columns(con, f"SELECT * FROM {src}") if c not in DROPPED]
    exp_cols = _columns(con, f"SELECT * FROM exp_{table}")
    if subset:
        missing = sorted(set(exp_cols) - set(actual_cols))
        if missing:
            return f"{table}: missing columns {missing}"
    elif sorted(actual_cols) != sorted(exp_cols):
        return f"{table}: columns {sorted(actual_cols)} != oracle {sorted(exp_cols)}"

    def proj(c: str) -> str:
        return f'round("{c}", 9)' if c in float_cols else f'"{c}"'

    sel = ", ".join(proj(c) for c in sorted(exp_cols))
    act = f"SELECT {sel} FROM {src} WHERE run_id = '{run_id}'"
    exp = f"SELECT {sel} FROM exp_{table}"
    n_act = con.execute(f"SELECT count(*) FROM ({act})").fetchone()[0]
    n_exp = con.execute(f"SELECT count(*) FROM ({exp})").fetchone()[0]
    only_exp = con.execute(f"SELECT count(*) FROM ({exp} EXCEPT ALL {act})").fetchone()[0]
    only_act = con.execute(f"SELECT count(*) FROM ({act} EXCEPT ALL {exp})").fetchone()[0]
    if n_act != n_exp or only_exp or only_act:
        return (
            f"{table}: {n_act} rows vs oracle {n_exp};"
            f" {only_exp} oracle rows missing, {only_act} unexpected rows"
        )
    return None


def check_run(con: duckdb.DuckDBPyConnection, out_dir: str, run_id: str) -> list[str]:
    """Compare every checked output of one run; returns the mismatches."""
    errors = []
    for table in TABLES:
        try:
            err = compare_table(con, table, f"{out_dir}/{table}", run_id)
        except duckdb.Error as e:  # unreadable or type-incompatible output
            err = f"{table}: {type(e).__name__}: {e}"
        if err:
            errors.append(err)
    return errors


def self_test(
    con: duckdb.DuckDBPyConnection, out_dir: str, run_id: str, scratch: str
) -> str | None:
    """Copy one checked output twice, corrupt one row of the second copy,
    and require the check to pass the first and fail the second. Returns
    None when it does, else what went wrong."""
    table = "sink_errors"
    src = f"read_parquet('{out_dir}/{table}/**/*.parquet', hive_partitioning = true)"
    verdicts = {}
    for name, corrupt in (("clean", "false"), ("corrupt", "rn = 1")):
        copy_dir = f"{scratch}/{name}/{table}"
        os.makedirs(copy_dir, exist_ok=True)
        con.execute(
            f"COPY (SELECT * EXCLUDE (rn) REPLACE (CASE WHEN {corrupt}"
            f" THEN message || '#' ELSE message END AS message) FROM"
            f" (SELECT *, row_number() OVER () AS rn FROM {src}"
            f" WHERE run_id = '{run_id}')) TO '{copy_dir}/part-0.parquet' (FORMAT parquet)"
        )
        verdicts[name] = compare_table(con, table, copy_dir, run_id)
    if verdicts["clean"] is not None:
        return f"an unmodified copy of {table} failed the check: {verdicts['clean']}"
    if verdicts["corrupt"] is None:
        return f"a one-row corruption of {table} passed the check"
    return None
