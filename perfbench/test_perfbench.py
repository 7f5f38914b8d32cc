"""Tests of the benchmark's own parts (no Spark): the seeded generator, the
oracle check and its self-test, and the event-log folding.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb
import eventlog
import gen
import oracle
import pytest


def _digest(path: str) -> str:
    """sha256 over a file, or over the names and bytes of a directory's files."""
    files = [path] if os.path.isfile(path) else [
        os.path.join(path, n) for n in sorted(os.listdir(path))
    ]
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _inputs(tmp_path, seed: int, tag: str) -> tuple[str, str]:
    ev = str(tmp_path / tag / "events.parquet")
    gen.write_events(gen.make_events(seed, 0, 3_000, 0, 30, 0), ev)
    gen.write_transcripts(ev, str(tmp_path / tag / "input"))
    return ev, str(tmp_path / tag / "input")


def test_same_seed_same_bytes_different_seed_different_data(tmp_path):
    a_ev, a_in = _inputs(tmp_path, 7, "a")
    b_ev, b_in = _inputs(tmp_path, 7, "b")
    c_ev, c_in = _inputs(tmp_path, 8, "c")
    assert _digest(a_ev) == _digest(b_ev)
    assert _digest(a_in) == _digest(b_in)
    assert len(os.listdir(a_in)) == 30  # one file per day
    assert _digest(a_ev) != _digest(c_ev)
    rows = duckdb.sql(
        f"SELECT count(*) FROM (SELECT * FROM '{a_ev}' EXCEPT SELECT * FROM '{c_ev}')"
    ).fetchone()[0]
    assert rows > 2_000


def test_increment_shares_the_history_users_and_follows_its_own_seed():
    hist = gen.make_events(0, 0, 5_000, 0, 29, 0)
    inc = {s: gen.make_events(s, 1, 500, 29, 1, 5_000, pool_seed=0) for s in (1, 2)}
    pool = set(gen._user_pool(0).tolist())
    for t in inc.values():
        assert set(t.column("user_id").to_pylist()) <= pool
        assert min(t.column("event_id").to_pylist()) == 5_000
        assert {d.day for d in t.column("ts").to_pylist()} == {30}
    assert set(inc[1].column("user_id").to_pylist()) & set(hist.column("user_id").to_pylist())
    assert inc[1].column("ts") != inc[2].column("ts")


def test_generated_events_keep_the_test_data_domains():
    t = gen.make_events(3, 0, 20_000, 0, 30, 0)
    con = duckdb.connect()
    con.register("t", t)
    n, ids, max_user, types, lo, hi, cents = con.execute(
        "SELECT count(*), count(DISTINCT event_id), max(user_id),"
        " count(DISTINCT event_type), min(ts), max(ts),"
        " count(*) FILTER (WHERE round(value, 2) <> value) FROM t"
    ).fetchone()
    assert n == ids == 20_000
    assert max_user < 10**9 and types == 5 and cents == 0
    assert lo.year == hi.year == 2024 and lo.month == hi.month == 1
    # conversation skew: the top 1% of conversations hold about 30% of turns
    top = con.execute(
        "SELECT sum(n) / 20000.0 FROM (SELECT count(*) n FROM t GROUP BY user_id"
        " ORDER BY n DESC LIMIT (SELECT count(DISTINCT user_id) // 100 FROM t))"
    ).fetchone()[0]
    assert 0.2 < top < 0.4


@pytest.fixture(scope="module")
def checked(tmp_path_factory):
    """Expected tables for a small seeded input, and a fake run output made
    from them (what a correct pipeline run would have written)."""
    tmp = tmp_path_factory.mktemp("oracle")
    ev, _ = _inputs(tmp, 11, "in")
    con = oracle.connect(str(tmp))
    oracle.compute_expected(con, ev)
    out = tmp / "out"
    for table in oracle.TABLES:
        d = out / table
        d.mkdir(parents=True)
        con.execute(
            f"COPY (SELECT *, 'r1' AS run_id FROM exp_{table}"
            f" UNION ALL (SELECT *, 'other' AS run_id FROM exp_{table} LIMIT 3))"
            f" TO '{d}/part-0.parquet' (FORMAT parquet)"
        )
    return con, str(out), tmp


def test_expected_tables_are_not_empty(checked):
    con, _, _ = checked
    for table in oracle.TABLES:
        assert oracle.expected_rows(con, table) > 0, table


def test_check_passes_a_correct_run_and_ignores_other_runs(checked):
    con, out, _ = checked
    assert oracle.check_run(con, out, "r1") == []


@pytest.mark.parametrize("table", list(oracle.TABLES))
def test_check_names_the_table_with_one_wrong_row(checked, table):
    con, out, tmp = checked
    bad = tmp / f"bad-{table}"
    for t in oracle.TABLES:
        (bad / t).mkdir(parents=True)
        src = f"read_parquet('{out}/{t}/*.parquet')"
        if t == table:
            # change the first numeric-or-text column of one row
            col = sorted(c for c in oracle._columns(con, f"SELECT * FROM {src}")
                         if c != "run_id")[0]
            typ = con.execute(f"SELECT typeof(\"{col}\") FROM {src} LIMIT 1").fetchone()[0]
            new = f"\"{col}\" || '#'" if typ == "VARCHAR" else f"\"{col}\" + 1"
            sql = (f"SELECT * EXCLUDE (rn) REPLACE (CASE WHEN rn = 1 THEN {new}"
                   f" ELSE \"{col}\" END AS \"{col}\") FROM"
                   f" (SELECT *, row_number() OVER () AS rn FROM {src})")
        else:
            sql = f"SELECT * FROM {src}"
        con.execute(f"COPY ({sql}) TO '{bad}/{t}/part-0.parquet' (FORMAT parquet)")
    errors = oracle.check_run(con, str(bad), "r1")
    assert len(errors) == 1 and errors[0].startswith(table + ":"), errors


def test_self_test_catches_a_one_row_corruption(checked):
    con, out, tmp = checked
    assert oracle.self_test(con, out, "r1", str(tmp / "selftest")) is None


def test_fold_attributes_jobs_by_submission_time():
    spans = [
        eventlog.Span("trace", 100.0, 200.0, None, "t"),
        eventlog.Span("parse", 110.0, 120.0, "trace", "t"),
        eventlog.Span("enrich", 120.5, 130.0, "trace", "t"),
    ]

    def task(stage, launch, finish, run_ms, shuffle=0):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                "Input Metrics": {"Bytes Read": 10},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                "Disk Bytes Spilled": 0, "Output Metrics": {"Bytes Written": 5},
            },
        }

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 111_000,
         "Stage IDs": [0, 1]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 121_000,
         "Stage IDs": [2]},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 150_000,
         "Stage IDs": [3]},
        task(0, 111_000, 111_100, 100, shuffle=7),
        task(1, 112_000, 112_100, 100),
        task(1, 112_000, 112_400, 400),
        task(1, 112_000, 112_100, 100),
        task(2, 121_000, 121_050, 50),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 113_000},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 122_000},
    ]
    c = eventlog.fold(json.loads(json.dumps(events)), spans)
    p, e, root = c["parse"], c["enrich"], c["trace"]
    assert (p.jobs, p.stages, p.tasks) == (1, 2, 4)
    assert (e.jobs, e.stages, e.tasks) == (1, 1, 1)
    assert (root.jobs, root.stages, root.tasks) == (1, 0, 0)  # outside every layer
    assert p.shuffle_write_bytes == 7 and p.input_bytes == 40
    assert p.run_s == pytest.approx(0.7) and p.cpu_s == pytest.approx(0.7)
    assert p.first_job_s == 111.0 and p.last_job_end_s == 113.0
    assert p.task_skew() == pytest.approx(4.0)  # heaviest stage: 400 / median 100
