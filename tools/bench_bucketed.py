"""Measure what the conv_id bucket layout buys the cogroup correction
plan: same corpus, same plan shape, bucketed catalog tables vs plain
parquet.  The bucketed read satisfies the cogroup kernel's
ClusteredDistribution straight off the scan (zero Exchange —
tests/test_bucketed.py asserts it); this script puts a wall-clock
number on that elision, plus the one-off ingest cost it amortizes.

Usage: python tools/bench_bucketed.py [replication] [cpus]
``cpus`` defaults to the cores this process may run on (``nproc``); asking
for more exits with an error, since extra local threads would only
time-share the same cores.  Prints one JSON line; quoted in BENCH.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

ROOT = "/tmp/memo_bench_bucketed"


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 12
    nproc = len(os.sched_getaffinity(0))
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else nproc
    if cpus > nproc:
        raise SystemExit(f"asked for {cpus} cpus, but nproc is {nproc}")

    import __spark_entry__ as entry
    from memo_fraktur_ocr_code_spark.plans.pipeline import correct_pipeline
    from memo_fraktur_ocr_code_spark.session import get_spark
    from memo_fraktur_ocr_code_spark.sources.bucketed import (
        read_bucketed,
        write_bucketed,
    )

    shutil.rmtree(ROOT, ignore_errors=True)
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=64)
    base, alt, lexicon = entry.transcripts_from_documents(
        spark, "/root/testdata/sf0.1", turns_per_doc=16
    )
    rep = F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("rep")
    base = (
        base.select("*", rep)
        .withColumn("conv_id", F.concat_ws("-", "conv_id", "rep"))
        .drop("rep")
    )
    alt = (
        alt.select("*", rep)
        .withColumn("conv_id", F.concat_ws("-", "conv_id", "rep"))
        .drop("rep")
    )
    base.repartition(64).write.parquet(f"{ROOT}/base")
    alt.repartition(64).write.parquet(f"{ROOT}/alt")

    plain_base = spark.read.parquet(f"{ROOT}/base")
    plain_alt = spark.read.parquet(f"{ROOT}/alt")
    n_turns = plain_base.count()

    t0 = time.time()
    write_bucketed(
        plain_base, "bench_bucketed_base", n_buckets=64,
        path=f"{ROOT}/bucketed_base",
        sort_cols=("conv_id", "turn_idx"),
    )
    write_bucketed(
        plain_alt, "bench_bucketed_alt", n_buckets=64,
        path=f"{ROOT}/bucketed_alt",
        sort_cols=("conv_id", "turn_idx"),
    )
    ingest_s = time.time() - t0

    def run(b, a) -> float:
        best = None
        for _ in range(2):  # min-of-2: first-draw warmup + VM-burst filter
            t = time.time()
            correct_pipeline(spark, b, a, lexicon, fused="cogroup").count()
            dt = time.time() - t
            best = dt if best is None else min(best, dt)
        return best

    plain_s = run(plain_base, plain_alt)
    bucketed_s = run(
        read_bucketed(spark, "bench_bucketed_base"),
        read_bucketed(spark, "bench_bucketed_alt"),
    )

    print(
        json.dumps(
            {
                "metric": "cogroup_plan_bucketed_vs_plain",
                "turns": n_turns,
                "replication": factor,
                "cpus": cpus,
                "plain_sec": round(plain_s, 3),
                "bucketed_sec": round(bucketed_s, 3),
                "speedup": round(plain_s / bucketed_s, 3),
                "bucketed_ingest_sec": round(ingest_s, 3),
                "unit": "sec",
            }
        )
    )
    spark.sql("DROP TABLE IF EXISTS bench_bucketed_base")
    spark.sql("DROP TABLE IF EXISTS bench_bucketed_alt")
    spark.stop()
    shutil.rmtree(ROOT, ignore_errors=True)


if __name__ == "__main__":
    main()
