"""Ad-hoc per-query timer: bench.py's protocol (shared-MV prebuild,
warm best-of-N, noop sink) over an explicit query list — for measuring
one optimization without paying the full 144-query bench.

    python tools/time_queries.py [sf_dir] q_name [q_name ...]

Each timed call runs in its own job group; the line per query prints
every call's seconds and Spark job count (``statusTracker``), so
running it in two checkouts compares jobs and seconds per call.

Env: SPARK_GRAFT_BENCH_RUNS (default 3).
"""

from __future__ import annotations

import os
import sys
import time


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args.pop(0) if args and args[0].startswith("/") else "/root/testdata/sf0.1"
    if not args:
        print("usage: time_queries.py [sf_dir] q_name ...", file=sys.stderr)
        return 2

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry_mod
    from page_rank_hadoop_spark import get_spark
    from page_rank_hadoop_spark.plans import registry

    spark = get_spark("time_queries")
    sc = spark.sparkContext
    qs = entry_mod.queries()
    spark.range(1000).count()
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()
    # the bench's shared-MV prebuild, so numbers attribute like bench.py's
    t0 = time.perf_counter()
    registry._pagerank10(spark, sf_dir).write.format("noop").mode("overwrite").save()
    registry._emb_pairs(spark, sf_dir)
    print(f"# mv build {time.perf_counter() - t0:.2f}s", file=sys.stderr)

    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    for name in args:
        if name not in qs:
            print(f"{name}: UNKNOWN", flush=True)
            continue
        per, jobs = [], []
        for i in range(runs):
            group = f"time_queries-{name}-{i}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            try:
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            finally:
                sc.setJobGroup(None, None)
            per.append(round(time.perf_counter() - t0, 3))
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        print(f"{name}: best {min(per):.3f}s of {per} jobs {jobs}", flush=True)
    print(f"# loadavg {os.getloadavg()[0]:.1f}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
