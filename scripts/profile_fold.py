#!/usr/bin/env python3
"""cProfile the pure-Python fold hot loop (VERDICT r4 item 8).

Stages a representative parsed-lines pandas frame once via the real
parse path, then profiles ``_fold_partition_factory`` standalone —
no Spark in the timed region, so the numbers isolate the Python fold
constant factor that dominates pipeline_e2e's residual.
"""

from __future__ import annotations

import cProfile
import io
import os
import pstats
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def stage_parsed(n_urls: int) -> "pd.DataFrame":
    from bench import build_spark, stage_pages
    from pyspark.sql import functions as F
    from log_ship_elastic_postfix_spark.operators.parse import (
        PARSED_FIELDS, parse_lines)
    from log_ship_elastic_postfix_spark.sources.pages import (
        pages_to_lines, with_batch_seq)

    workdir = os.environ.get("SPARK_GRAFT_WORKDIR", "/tmp/log_ship_bench")
    spark = build_spark(16)
    spark.sparkContext.setLogLevel("ERROR")
    pages_path = stage_pages(spark, n_urls, workdir, n_hot=8, hot_lines=1024)
    lines = with_batch_seq(pages_to_lines(spark.read.parquet(pages_path)), 1)
    pr = parse_lines(lines, now=None)
    pruned = pr.parsed.select(
        "qid", "host", "prog", "date", "batch_seq", "line_no",
        *[F.col(f"`{c}`") for c in PARSED_FIELDS if c != "qid"])
    pdf = pruned.toPandas()
    spark.stop()
    return pdf


def main():
    import pandas as pd  # noqa: F401
    from log_ship_elastic_postfix_spark.operators.assemble import (
        _fold_partition_factory)

    n_urls = int(os.environ.get("PROFILE_URLS", "30000"))
    pdf = stage_parsed(n_urls)
    print(f"parsed lines: {len(pdf)}", file=sys.stderr)
    fold = _fold_partition_factory()

    def run():
        n_docs = 0
        for out in fold(iter([pdf.copy()])):
            n_docs += len(out)
        return n_docs

    # warm (dict/caches) + wall time
    t0 = time.monotonic()
    n_docs = run()
    wall = time.monotonic() - t0
    print(f"docs: {n_docs}  wall: {wall:.2f}s  "
          f"({len(pdf)/wall:,.0f} lines/s)", file=sys.stderr)

    prof = cProfile.Profile()
    prof.enable()
    run()
    prof.disable()
    s = io.StringIO()
    pstats.Stats(prof, stream=s).sort_stats("cumulative").print_stats(25)
    print(s.getvalue())


if __name__ == "__main__":
    main()
