"""Seeded input generator for the pipeline benchmark.

The seed decides every row of an ``events`` table with the schema and value
domains of the repository's test data (TESTDATA.md): ``event_id`` unique
bigint, ``ts`` in January 2024, ``user_id`` < 10^9, five event types,
two-decimal ``value``, a ``props`` string. The transcripts input table is
derived from it with ``transcripts.duckdb_transcripts_cte``, the same SQL
the oracle evaluates, so the oracle can recompute every output from
``events`` alone.

Conversation skew follows FIXTURES.md §1: conversation sizes follow a Zipf
law whose exponent puts about 30% of the turns into 1% of the
conversations.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
N_USERS = 20_000
ZIPF_A = 0.79  # top 1% of N_USERS hold ~30% of the turns
JAN_1_2024_US = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
DAY_US = 86_400 * 1_000_000


def _user_pool(seed: int) -> np.ndarray:
    """N_USERS distinct user ids below 10^9, ordered by popularity rank."""
    rng = np.random.default_rng([seed, 0])
    ids = np.unique(rng.integers(0, 1_000_000_000, size=N_USERS * 2))
    return rng.permutation(ids)[:N_USERS]


def make_events(
    seed: int,
    part: int,
    n_rows: int,
    first_day: int,
    n_days: int,
    id_base: int,
    pool_seed: int | None = None,
) -> pa.Table:
    """One ``events`` table: n_rows rows spread evenly over days
    [first_day, first_day + n_days) of January 2024 (first_day is 0-based).

    ``seed`` and ``part`` decide the rows; ``part`` separates independently
    drawn tables (the history and the increment of the daily workload).
    ``pool_seed`` (default: ``seed``) decides the user pool, so tables drawn
    with different seeds can share users and the increment continues the
    history's conversations. Event ids are ``id_base`` + a dense rank in
    time order, unique within the table.
    """
    users = _user_pool(seed if pool_seed is None else pool_seed)
    rng = np.random.default_rng([seed, 1 + part])
    w = 1.0 / np.arange(1, N_USERS + 1) ** ZIPF_A
    user_id = users[rng.choice(N_USERS, size=n_rows, p=w / w.sum())]
    day = np.repeat(np.arange(n_days), -(-n_rows // n_days))[:n_rows] + first_day
    ts_us = JAN_1_2024_US + day * DAY_US + rng.integers(0, DAY_US, size=n_rows)
    order = np.argsort(ts_us, kind="stable")
    user_id = user_id[order]
    ts_us = ts_us[order]
    event_type = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=n_rows)]
    value = np.round(rng.exponential(40.0, size=n_rows), 2)
    props = np.char.add(
        np.char.add('{"k": ', rng.integers(0, 100, size=n_rows).astype(str)), "}"
    )
    return pa.table(
        {
            "event_id": pa.array(id_base + np.arange(n_rows, dtype=np.int64)),
            "ts": pa.array(ts_us, type=pa.timestamp("us")),
            "user_id": pa.array(user_id.astype(np.int64)),
            "event_type": pa.array(event_type.tolist(), type=pa.string()),
            "value": pa.array(value),
            "props": pa.array(props.tolist(), type=pa.string()),
        }
    )


def write_events(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def write_transcripts(events_path: str, out_dir: str) -> int:
    """Derive the transcripts input table from an events parquet with the
    oracle's own SQL and write it under out_dir as one parquet file per
    ``ts`` date, the layout of a day-partitioned table (so a scan of a
    multi-day input runs as one task per day, not one task in all).
    Returns the row count."""
    import duckdb

    from timberline_spark.transcripts import duckdb_transcripts_cte

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')")
        con.execute(f"CREATE TABLE t AS {duckdb_transcripts_cte('events')}")
        days = [r[0] for r in con.execute(
            "SELECT DISTINCT CAST(ts AS DATE) AS d FROM t ORDER BY d"
        ).fetchall()]
        for d in days:
            con.execute(
                f"COPY (SELECT * FROM t WHERE CAST(ts AS DATE) = DATE '{d}'"
                f" ORDER BY ts, conv_id, turn_idx)"
                f" TO '{out_dir}/part-{d}.parquet' (FORMAT parquet)"
            )
        return con.execute("SELECT count(*) FROM t").fetchone()[0]
    finally:
        con.close()
