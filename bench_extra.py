#!/usr/bin/env python
"""Extra benchmarks (guide §1.4): noop-sink isolation of each chain stage
and of any registered query.

NOT the driver's bench — bench.py is frozen; this file exists so
optimization work can attribute time to individual operators. Timings are
min-of-N with full recomputation per trial (no caching anywhere).

Usage:
    python bench_extra.py [--trials 3] [--stages s1,s2,...]

``--stages`` takes chain stage names (the ``stages`` table below; all of
them by default) and registered query names (``__spark_entry__.queries()``,
run through the noop sink). Where a name is both — ``transcripts``,
``dedup``, ``top_issues``, ``summary`` — the chain stage of the same
computation is timed. To time every registered query:

    python bench_extra.py --trials 2 --stages "$(python -c \
        'import __spark_entry__ as e; print(",".join(e.queries()))')"
"""

from __future__ import annotations

import argparse
import json
import os
import time


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--stages", default=None)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pyspark.sql import functions as F

    from timberline_spark import aggregate as agg
    from timberline_spark import queries as Q
    from timberline_spark import route
    from timberline_spark.enrich import enrich_turns
    from timberline_spark.parse import parse_turns
    from timberline_spark.session import get_spark
    from timberline_spark.transcripts import load_transcripts

    spark = get_spark("bench_extra", cores=cpus, shuffle_partitions=cpus)

    def tr():
        return load_transcripts(spark, sf_dir)

    def classified():
        return route.classify_turns(enrich_turns(spark, parse_turns(tr())))

    stages = {
        # raw synthesized table (window + text CASE) only
        "transcripts": lambda: noop(tr()),
        # events scan + window only (no text synthesis): project the cheap cols
        "window_only": lambda: noop(
            tr().select("conv_id", "turn_idx", "role", "ts")
        ),
        "parse_native": lambda: noop(parse_turns(tr())),
        "parse_pandas": lambda: noop(parse_turns(tr(), impl="pandas")),
        "enrich": lambda: noop(enrich_turns(spark, parse_turns(tr()))),
        "classified": lambda: noop(classified()),
        "kept": lambda: noop(route.kept_turns(classified())),
        "dedup": lambda: noop(agg.dedup_turns(route.kept_turns(classified()))),
        "buckets": lambda: noop(
            agg.report_buckets(agg.dedup_turns(route.kept_turns(classified())))
        ),
        "top_issues": lambda: noop(
            agg.top_issues(
                agg.score_clusters(
                    agg.report_buckets(
                        agg.dedup_turns(route.kept_turns(classified()))
                    )
                )
            )
        ),
        "summary": lambda: noop(
            agg.run_summary(
                agg.score_clusters(
                    agg.report_buckets(
                        agg.dedup_turns(route.kept_turns(classified()))
                    )
                )
            )
        ),
    }
    wanted = args.stages.split(",") if args.stages else list(stages)
    for name, fn in (Q.PIPELINE_QUERIES | Q.EXTRA_QUERIES).items():
        stages.setdefault(name, lambda fn=fn: noop(fn(spark, sf_dir)))
    unknown = [n for n in wanted if n not in stages]
    if unknown:
        ap.error(f"unknown stage or query: {', '.join(unknown)}")

    # warm codegen/JIT once on a small slice so trial 1 isn't compile-bound
    noop(classified().limit(2000))
    noop(
        agg.top_issues(
            agg.score_clusters(
                agg.report_buckets(
                    agg.dedup_turns(route.kept_turns(classified().limit(2000)))
                )
            )
        )
    )

    out = {}
    for name in wanted:
        fn = stages[name]
        best = None
        samples = []
        for _ in range(args.trials):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            fn()
            el = time.time() - t0
            samples.append(round(el, 3))
            best = el if best is None else min(best, el)
        spark.sparkContext.setJobDescription(None)
        out[name] = {"min": round(best, 3), "samples": samples}
        print(f"{name}: {out[name]}", flush=True)
    print(json.dumps({"stages": out, "sf": os.path.basename(sf_dir), "cpus": cpus}))


if __name__ == "__main__":
    main()
