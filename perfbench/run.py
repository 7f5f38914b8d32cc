"""Oracle-checked benchmark of ``pipeline.run_pipeline``.

Usage (from the repository root)::

    python3 perfbench/run.py --workload backfill_50k --seed 1 --seconds 10 --trace 0

One client calls ``run_pipeline`` on ``local[nproc]`` and waits for it to
finish (a closed loop), reading a pre-built input table generated from
``--seed``. Every run, timed or not, is checked against the DuckDB oracle
outside the timing. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a traced run
(see README.md for the metric map).

Workloads (see ``WORKLOADS``):

- ``backfill_50k``: 30 days of turns written into an empty ``out_dir``;
  exercises per-row work (parse, enrich, classify, stage write, dedup
  shuffle) and a 30-date fan-out.
- ``daily_increment``: one new day appended under a new ``run_id`` to a
  fixed 29-day history; every repetition starts from the same history state,
  so fixed per-run cost and history-size effects dominate.

``--child history`` is internal: it writes the daily history in a process of
its own.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

from common import (
    HERE, ROOT, STATE, fresh_out, peak_rss_mb, setup_env, start_spark, stop_spark,
)

MIN_TIMED_RUNS = 2
# Untimed steady runs between the cold run and the timed ones: the JVM is
# still compiling during the first steady run after the cold one (measured
# on 4 cores: daily 6.2 s, then 5.1, 4.8, 4.3-4.6 s; backfill up to 1.3x
# slower than the second).
WARMUP_RUNS = 1
HISTORY_SEED = 0  # the daily history is one fixed state; --seed decides the increment


@dataclass(frozen=True)
class Workload:
    n_turns: int  # turns in the timed input table
    n_days: int  # days the timed input spans
    history_turns: int = 0  # turns in the pre-built history (0: empty out_dir)
    history_days: int = 0


WORKLOADS = {
    "backfill_50k": Workload(n_turns=50_000, n_days=30),
    "daily_increment": Workload(
        n_turns=6_900, n_days=1, history_turns=200_000, history_days=29
    ),
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- inputs ---------------------------------------------------------------


def _tree_state(path: str) -> dict:
    """Relative path -> [size, mtime_ns] of every file under path."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            st = os.stat(p)
            out[os.path.relpath(p, path)] = [st.st_size, st.st_mtime_ns]
    return out


def history_state(wl: Workload, work: str) -> str:
    """The daily workload's history: run ``hist`` of ``run_pipeline`` over
    ``history_turns`` turns, written by a child process (so the cold run
    measured later stays cold) and cached under ``.perfbench/cache``. The
    cache key covers the program's and the generator's sources, so a
    changed program rebuilds it; a manifest of file sizes and times catches
    a cached state that a run modified in place."""
    h = hashlib.sha256(repr((HISTORY_SEED, wl.history_turns, wl.history_days)).encode())
    sources = sorted(glob.glob(f"{ROOT}/timberline_spark/**/*.py", recursive=True))
    for p in sources + [f"{HERE}/{m}" for m in ("common.py", "gen.py", "run.py")]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    cache = f"{STATE}/cache/history-{h.hexdigest()[:16]}"
    out = f"{cache}/out"
    try:
        with open(f"{cache}/manifest.json") as f:
            if json.load(f) == _tree_state(out):
                return out
        log("cached history was modified; rebuilding")
    except (OSError, ValueError):
        pass
    for stale in glob.glob(f"{STATE}/cache/history-*"):  # other program versions
        shutil.rmtree(stale, ignore_errors=True)

    import gen

    t = time.perf_counter()
    events, inp, tmp = f"{work}/history_events.parquet", f"{work}/history_input", f"{cache}.tmp"
    gen.write_events(
        gen.make_events(HISTORY_SEED, 0, wl.history_turns, 0, wl.history_days, 0), events
    )
    gen.write_transcripts(events, inp)
    shutil.rmtree(tmp, ignore_errors=True)
    cmd = [sys.executable, os.path.abspath(__file__), "--child", "history",
           "--work", work, "--spec", json.dumps({"input": inp, "out": f"{tmp}/out"})]
    if subprocess.run(cmd, stdout=subprocess.DEVNULL, timeout=150).returncode != 0:
        raise RuntimeError("the history child failed")
    with open(f"{tmp}/manifest.json", "w") as f:
        json.dump(_tree_state(f"{tmp}/out"), f)
    os.rename(tmp, cache)
    log(f"history: {wl.history_turns} turns built ({time.perf_counter() - t:.1f} s)")
    return out


def prepare_inputs(name: str, seed: int, work: str) -> dict:
    """Generate the seeded events and input tables; for the daily workload
    also get the history state. Returns the paths."""
    import gen

    wl = WORKLOADS[name]
    paths = {"events": f"{work}/events.parquet", "input": f"{work}/input", "base": None}
    if wl.history_turns:
        paths["base"] = history_state(wl, work)
        events = gen.make_events(
            seed, 1, wl.n_turns, wl.history_days, wl.n_days, wl.history_turns,
            pool_seed=HISTORY_SEED,
        )
    else:
        events = gen.make_events(seed, 0, wl.n_turns, 0, wl.n_days, 0)
    gen.write_events(events, paths["events"])
    paths["n_turns"] = gen.write_transcripts(paths["events"], paths["input"])
    return paths


def history_child(work: str, spec: dict) -> None:
    from timberline_spark.pipeline import run_pipeline

    spark = start_spark(work)
    try:
        run_pipeline(spark, "", spec["out"], "hist", input_table=spec["input"])
    finally:
        stop_spark(spark)


# ---- the measured loop ----------------------------------------------------


class Checker:
    """Oracle expected tables for the timed input, plus attempt accounting."""

    def __init__(self, paths: dict, work: str):
        import oracle

        self.oracle = oracle
        self.con = oracle.connect(f"{work}/tmp")
        oracle.compute_expected(self.con, paths["events"])
        self.attempted = 0
        self.failed = 0

    def check(self, out: str, run_id: str, raised: bool = False) -> None:
        self.attempted += 1
        errors = ["run_pipeline raised"] if raised else self.oracle.check_run(
            self.con, out, run_id
        )
        if errors:
            self.failed += 1
            for e in errors:
                log(f"CHECK FAILED {run_id}: {e}")


def measure(name: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    from timberline_spark.pipeline import run_pipeline

    t = time.perf_counter()
    paths = prepare_inputs(name, seed, work)
    checker = Checker(paths, work)
    log(f"inputs and oracle: {paths['n_turns']} turns ({time.perf_counter() - t:.1f} s)")

    def one_run(spark, run_id: str) -> tuple[float, str]:
        out = f"{work}/out-{run_id}"
        fresh_out(paths, out)
        t0 = time.perf_counter()
        try:
            run_pipeline(spark, "", out, run_id, input_table=paths["input"])
            raised = False
        except Exception:
            traceback.print_exc()
            raised = True
        dt = time.perf_counter() - t0
        checker.check(out, run_id, raised)
        return dt, out

    t0, epoch0 = time.perf_counter(), time.time()
    spark = start_spark(work)
    try:
        session_s = time.perf_counter() - t0
        cold_s, out = one_run(spark, "cold")
        setup_s = session_s + cold_s
        shutil.rmtree(out, ignore_errors=True)
        for i in range(WARMUP_RUNS):
            shutil.rmtree(one_run(spark, f"warmup{i}")[1], ignore_errors=True)

        run_s: list[float] = []
        while True:
            dt, out = one_run(spark, f"run{len(run_s)}")
            run_s.append(dt)
            if sum(run_s) >= seconds and len(run_s) >= MIN_TIMED_RUNS:
                break  # keep the last output for the self-test
            shutil.rmtree(out, ignore_errors=True)
        rss = peak_rss_mb(spark)
        run_med = statistics.median(run_s)
        log(f"run_s median of {len(run_s)}: {run_med:.3f} {['%.3f' % v for v in run_s]}")
        log(f"setup_s {setup_s:.3f} (session {session_s:.3f} + cold run {cold_s:.3f})")

        if trace:
            import traced

            # a second SparkContext in the same (warm) JVM, with the event log on
            spark.stop()
            metrics = traced.run(
                {"workload": name, "seed": seed, "input": paths["input"],
                 "base": paths["base"], "out": f"{work}/out-traced", "run_id": "traced",
                 "trace_file": f"{STATE}/trace-{name}-{seed}.json"},
                work, (epoch0, epoch0 + session_s),
            )
            checker.check(f"{work}/out-traced", "traced")
            metrics["session.start_s"] = {"value": session_s, "unit": "s"}
            metrics["session.peak_rss_mb"] = {"value": rss, "unit": "MB"}
            metrics["trace.overhead"] = {
                "value": metrics["pipeline.s"]["value"] / run_med, "unit": "ratio",
            }
        else:
            metrics = {
                "run_s": {"value": run_med, "unit": "s"},
                "turns_per_s": {"value": paths["n_turns"] / run_med, "unit": "turns/s"},
                "setup_s": {"value": setup_s, "unit": "s"},
            }
    finally:
        stop_spark(spark)

    problem = checker.oracle.self_test(
        checker.con, out, f"run{len(run_s) - 1}", f"{work}/selftest"
    )
    if problem:
        log(f"SELF-TEST FAILED: {problem}")
    log(f"attempted={checker.attempted} failed={checker.failed}"
        f" failed_ratio={checker.failed / checker.attempted:.3f}")
    return {
        "correct": checker.failed == 0 and problem is None,
        "attempted": checker.attempted,
        "failed": checker.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--child", choices=("history",), help=argparse.SUPPRESS)
    ap.add_argument("--work", help=argparse.SUPPRESS)
    ap.add_argument("--spec", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if args.child:
        setup_env(args.work)
        history_child(args.work, json.loads(args.spec))
        return 0
    if not args.workload:
        ap.error("--workload is required")
    work = os.path.join(STATE, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        setup_env(work)
        import timberline_spark  # noqa: F401  (fails outside a checkout)

        result = measure(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
