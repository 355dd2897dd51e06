#!/usr/bin/env python3
"""spark-submit entry point for the parse→enrich→route→aggregate job.

Usage (cluster):
    zip -r job.zip log_ship_elastic_postfix_spark
    spark-submit --py-files job.zip main.py \
        --pages s3://bucket/pages/ --state s3://bucket/state/ \
        --bookmark /var/lib/logship/bookmark --batches 64 \
        --tz America/Phoenix

Local smoke:
    python main.py --generate 10000 --workdir /tmp/logship-demo

The reference's CLI analog: server.js -c <configdir>
(/root/reference/server.js:8-16). Config flags here mirror the ini
surface (timezone, batch sizing, sink names) as documented in
SURVEY.md §2.1 S6.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--pages", help="pages table path (parquet/Iceberg)")
    p.add_argument("--generate", type=int, default=0,
                   help="generate a synthetic pages table with N urls")
    p.add_argument("--workdir", default="/tmp/logship",
                   help="state/bookmark/sink root when not given explicitly")
    p.add_argument("--state", help="state table path")
    p.add_argument("--bookmark", help="bookmark/lineage manifest dir")
    p.add_argument("--batches", type=int, default=8)
    p.add_argument("--tz", default="America/Phoenix")
    p.add_argument("--now", help="deterministic clock (ISO); default: wall")
    p.add_argument("--master", default=None,
                   help="override master (default: from spark-submit)")
    p.add_argument("--streaming", action="store_true",
                   help="run the Structured Streaming surface "
                        "(availableNow drain) instead of the batch loop")
    p.add_argument("--compact", action="store_true",
                   help="compact the state table (one file per "
                        "partition, content-identical) and exit — the "
                        "out-of-band OPTIMIZE maintenance job")
    return p


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)

    from pyspark.sql import SparkSession
    b = SparkSession.builder.appName("log-ship-elastic-postfix-spark")
    if args.master:
        b = b.master(args.master)
    spark = (b.config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())

    from log_ship_elastic_postfix_spark import datagen
    from log_ship_elastic_postfix_spark.operators.state import StateStore
    from log_ship_elastic_postfix_spark.plans.pipeline import (
        DEFAULT_NOW, PipelineConfig, run_pipeline)
    from log_ship_elastic_postfix_spark.sources.bookmark import BookmarkStore

    state = StateStore(args.state or os.path.join(args.workdir, "state"))

    if args.compact:  # maintenance mode: no input needed
        did = state.compact(spark)
        print(json.dumps({"compacted": did}))
        spark.stop()
        return

    pages_path = args.pages
    if args.generate:
        pages_path = os.path.join(args.workdir, "pages")
        datagen.generate_pages(spark, args.generate, n_hot=4, hot_lines=256) \
            .write.mode("overwrite").parquet(pages_path)
    if not pages_path:
        raise SystemExit("--pages or --generate is required")

    now = (dt.datetime.fromisoformat(args.now) if args.now
           else dt.datetime.now())
    cfg = PipelineConfig(tz=args.tz, now=now, n_batches=args.batches)

    bookmark = BookmarkStore(args.bookmark
                             or os.path.join(args.workdir, "bookmark"))

    # sink availability gate (reference: ES ping before the reader
    # starts, lib/logship.js:35-45) — fail before any input scan.
    # run_pipeline re-probes internally; the streaming surface needs
    # the explicit call.
    state.preflight(spark)

    pages = spark.read.parquet(pages_path)

    if args.streaming:
        from log_ship_elastic_postfix_spark.streaming.microbatch import (
            start_pipeline_stream)
        q = start_pipeline_stream(
            spark, pages_path, cfg=cfg, state=state,
            checkpoint_dir=os.path.join(args.workdir, "checkpoint"),
            bookmark=bookmark, available_now=True)
        q.awaitTermination()
        results = []
    else:
        results = run_pipeline(spark, pages, cfg, state=state,
                               bookmark=bookmark)

    from pyspark.sql import functions as F
    st = state.read(spark)
    summary = {
        "batches_run": len(results),
        "batches_committed": len(bookmark.processed_batches()),
        "docs_in_state": st.count() if st is not None else 0,
        "sink_counts": {r["sink"]: r["n"] for r in
                        st.groupBy("sink").agg(F.count(F.lit(1)).alias("n"))
                        .collect()} if st is not None else {},
    }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
