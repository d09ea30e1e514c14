#!/usr/bin/env python
"""Per-phase wall timing of the crawl-round bench dataflow at one core
count — a diagnostic for the scaling gate, NOT a graded benchmark.  Each
phase is materialized to a noop sink in sequence, so phase walls include
that phase's work only (upstream phases are cached first).

Usage: python tools/phase_timing.py --cores 32 [--n-urls 200000] [--body-scale 64]
"""

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--n-urls", type=int, default=200_000)
    ap.add_argument("--body-scale", type=int, default=64)
    args = ap.parse_args()
    os.environ["SPARK_GRAFT_BODY_SCALE"] = str(args.body_scale)

    import pandas as pd
    import pyspark.sql.functions as F
    from pyspark.sql.functions import pandas_udf

    from hdx_metadata_crawler_spark.functions.url import url_hash
    from hdx_metadata_crawler_spark.session import get_spark
    from hdx_metadata_crawler_spark.sources import synthetic
    from hdx_metadata_crawler_spark.streaming import bloom
    from hdx_metadata_crawler_spark.streaming.frontier import (
        _FETCH_SCHEMA,
        _fetch_batches,
        build_spans,
        politeness_slots,
    )

    spark = get_spark(
        "phase-timing", master=f"local[{args.cores}]",
        shuffle_partitions=max(args.cores, 8),
    )
    n_tasks = 128

    @pandas_udf("string")
    def seed_url_udf(seq: pd.Series) -> pd.Series:
        return seq.map(synthetic.seed_url)

    frontier = (
        spark.range(args.n_urls, numPartitions=n_tasks)
        .select(seed_url_udf(F.col("id")).alias("canon_url"))
        .select(
            "canon_url",
            url_hash(F.col("canon_url")).alias("url_hash"),
            F.regexp_extract("canon_url", r"^https?://([^/]+)", 1).alias("host"),
            F.lit(0).alias("priority"),
            F.lit(0).alias("depth"),
            F.lit(0).alias("attempt"),
        )
    ).cache()
    seen = frontier.filter(F.pmod("url_hash", F.lit(10)) < 3).select(
        "url_hash", "canon_url"
    ).cache()
    frontier.count(); seen.count()
    blooms = bloom.build_blooms(seen, n_partitions=128).cache()
    blooms.count()

    # warmup (small) to pay codegen/python-worker startup outside the timers
    warm = politeness_slots(frontier.limit(2000), rps=2.0, n_salts=64)
    warm.repartition(8).mapInPandas(_fetch_batches, _FETCH_SCHEMA) \
        .write.mode("overwrite").format("noop").save()

    phases: dict[str, float] = {}

    t = time.time()
    candidates = bloom.bloom_anti_join(
        frontier, seen, blooms, n_partitions=128
    ).cache()
    candidates.count()
    phases["probe"] = round(time.time() - t, 2)

    t = time.time()
    scheduled = politeness_slots(candidates, rps=2.0, n_salts=64).cache()
    scheduled.count()
    phases["politeness"] = round(time.time() - t, 2)

    t = time.time()
    fetched = (
        scheduled.repartition(n_tasks)
        .mapInPandas(_fetch_batches, _FETCH_SCHEMA)
        .withColumn("round", F.lit(0))
    ).cache()
    fetched.count()
    phases["fetch"] = round(time.time() - t, 2)

    t = time.time()
    docs = build_spans(fetched.filter(F.col("status") == "ok"))
    out_dir = tempfile.mkdtemp(prefix="phase_docs_")
    docs.write.mode("overwrite").parquet(out_dir)
    phases["spans_write"] = round(time.time() - t, 2)

    phases["total"] = round(sum(phases.values()), 2)
    phases["cores"] = args.cores
    print(json.dumps(phases))
    import shutil

    shutil.rmtree(out_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
