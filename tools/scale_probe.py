"""Measured scaling evidence for SCALE.md: time headline queries at
sf0.001 / sf0.01 / sf0.1 (1x / 10x / 100x rows) and fit the log-log
scaling exponent. An operator whose exponent is ~1.0 scales linearly in
input size on a fixed-resource box — the local proxy for "holds at
1000 executors on 100 TB"; >1.2 means super-linear work (quadratic
blocks, iteration growth) worth explaining or fixing.

Run on a QUIET host (this box has multi-minute contention waves):

    python tools/scale_probe.py [query ...]

Prints a markdown table (paste into SCALE.md). min-of-N timings per SF
(N=3 below sf0.1, N=2 at sf0.1) with the noop sink — same measurement
discipline as bench.py. Fixed per-query driver overhead (~0.1-0.3 s of
plan build + job scheduling) floors the small-SF times, so exponents
are UNDERESTIMATES of pure data scaling — fine for an upper-bound
check, which is the point.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SFS = [
    ("/root/testdata/sf0.001", 0.001, 3),
    ("/root/testdata/sf0.01", 0.01, 3),
    ("/root/testdata/sf0.1", 0.1, 2),
]

DEFAULT_QUERIES = [
    "flagship_mom_pivot",
    "ext_exact_dedup",
    "ext_minhash_lsh_neardup",
    "ext_simhash_neardup",
    "ext_dedup_groups",
    "ext_tfidf",
    "ext_lm_score",
    "ext_ivf_pq_ann",
    "ext_pagerank",
    "ext_pipeline",
    "sessionize",
    "ext_stratified_sample",
]


def main() -> None:
    from pyspark.sql import SparkSession

    from be_analytic_etl_spark.registry import QUERIES
    from be_analytic_etl_spark.session import cached_scope, driver_memory

    names = sys.argv[1:] or DEFAULT_QUERIES
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    # Warm: JVM + parquet footers at every SF so run 1 isn't cold-start.
    for sf_dir, _, _ in SFS:
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    results: dict[str, list[float]] = {}
    for name in names:
        times = []
        for sf_dir, _, n_runs in SFS:
            best = math.inf
            for _ in range(n_runs):
                t0 = time.perf_counter()
                with cached_scope(spark):
                    QUERIES[name](spark, sf_dir).write.mode("overwrite").format(
                        "noop"
                    ).save()
                best = min(best, time.perf_counter() - t0)
            times.append(best)
            print(f"# {name} @ {sf_dir}: {best:.3f}s", file=sys.stderr, flush=True)
        results[name] = times

    print("| query | sf0.001 | sf0.01 | sf0.1 | t(0.1)/t(0.01) | exponent |")
    print("|---|---|---|---|---|---|")
    for name, (t1, t2, t3) in results.items():
        # slope of log(t) vs log(sf) over the last decade (the one where
        # data cost dominates the fixed overhead floor)
        exp = math.log(t3 / t2) / math.log(10)
        print(
            f"| {name} | {t1:.2f}s | {t2:.2f}s | {t3:.2f}s "
            f"| {t3 / t2:.1f}x | {exp:.2f} |"
        )


if __name__ == "__main__":
    main()
