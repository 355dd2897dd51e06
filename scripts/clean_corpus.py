#!/usr/bin/env python3
"""spark-submit entry for the composed corpus-cleaning pipeline:

    python scripts/clean_corpus.py --input /path/docs.parquet \
        --output /path/clean --min-docs-line 2 --neardup 0.7 \
        --quality-min-words 50 [--url-col url] [--no-counts]

Reads a documents table (id + text [+ url] columns), runs the
clean_corpus chain (url dedup → line dedup → exact dedup → MinHash
near-dup CC → Gopher quality → repetition gate, each stage optional),
writes the survivors as parquet, and prints ONE JSON line with the
per-stage drop accounting — the corpus-paper stage_counts table.

Star connected components, AQE on; the planner picks the verify
joins. ``--no-counts`` (collect_counts=False) drops the per-stage
count actions for pure-throughput runs. ``--shards-out DIR`` finishes
the job as a trainer handoff: the survivors are also written as a
training-shard drop (operators.shards layout + per-shard manifest).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import build_spark  # noqa: E402


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="documents parquet")
    p.add_argument("--output", required=True, help="survivor parquet dir")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--url-col", default=None,
                   help="enables canonical-url dedup")
    p.add_argument("--min-docs-line", type=int, default=None,
                   help="enables cross-doc boilerplate line dedup")
    p.add_argument("--no-exact", action="store_true")
    p.add_argument("--neardup", type=float, default=0.7,
                   help="jaccard threshold; <=0 disables")
    p.add_argument("--minhash-k", type=int, default=32)
    p.add_argument("--minhash-bands", type=int, default=8)
    p.add_argument("--quality-min-words", type=int, default=50,
                   help="<=0 disables the Gopher quality gate")
    p.add_argument("--repetition-max", type=float, default=None)
    p.add_argument("--no-counts", action="store_true")
    p.add_argument("--shards-out", default=None,
                   help="also write the survivors as a training-shard "
                        "drop (operators.shards layout + manifest)")
    p.add_argument("--shards-n", type=int, default=64)
    p.add_argument("--shards-seed", default="0")
    p.add_argument("--cpus", type=int,
                   default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    args = p.parse_args()

    from log_ship_elastic_postfix_spark.plans.corpus import (
        CorpusCleanConfig, clean_corpus)

    spark = build_spark(args.cpus, python_heavy=True)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(args.input)

    cfg = CorpusCleanConfig(
        id_col=args.id_col, text_col=args.text_col,
        url_col=args.url_col,
        line_dedup_min_docs=args.min_docs_line,
        exact_dedup=not args.no_exact,
        neardup_threshold=args.neardup if args.neardup > 0 else None,
        minhash_k=args.minhash_k, minhash_bands=args.minhash_bands,
        quality_min_words=(args.quality_min_words
                           if args.quality_min_words > 0 else None),
        repetition_max_frac=args.repetition_max,
        collect_counts=not args.no_counts)

    t0 = time.monotonic()
    res = clean_corpus(docs, cfg)
    res.docs.write.mode("overwrite").parquet(args.output)
    n_out = spark.read.parquet(args.output).count()
    sec = time.monotonic() - t0

    out = {
        "n_survivors": n_out,
        "elapsed_sec": round(sec, 2),
        "docs_per_sec": round(n_out / sec, 1) if sec else None,
        "stage_counts": res.stage_counts,
        "output": args.output,
    }

    if args.shards_out:
        # cleaned corpus → trainer handoff in the same job: the drop
        # reads the just-written survivors so its lineage starts from
        # the committed parquet, not the in-flight plan
        from log_ship_elastic_postfix_spark.operators.shards import (
            write_training_shards)

        t0 = time.monotonic()
        totals = write_training_shards(
            spark.read.parquet(args.output), args.shards_out,
            id_col=args.id_col, text_col=args.text_col,
            seed=args.shards_seed, n_shards=args.shards_n)
        out["shards"] = {**totals, "out": args.shards_out,
                         "elapsed_sec": round(time.monotonic() - t0, 2)}

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
