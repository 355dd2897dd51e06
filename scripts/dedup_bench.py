#!/usr/bin/env python3
"""Dedup-family scale bench: MinHash near-dup + exact dedup + line
dedup throughput on a synthetic corpus 20-100× the driver documents
table, so the scale claims in operators/dedup.py carry measured
numbers instead of extrapolation.

Corpus: deterministic word-salad docs (~60 tokens each) with planted
near-duplicate pairs (1 in 16 docs is a 3-token mutation of its
predecessor) and exact duplicates (1 in 32). Prints one JSON line:

    {"n_docs": N, "minhash_sec": ..., "minhash_docs_per_sec": ...,
     "exact_sec": ..., "line_dedup_sec": ..., "n_neardup_pairs": ...,
     "clean_corpus_sec": ..., "clean_corpus_stage_counts": {...}}

The composed clean_corpus run doubles as a closed-form correctness
proof at scale (the planted structure's stage counts are asserted —
the process exits nonzero on mismatch).

Run: python scripts/dedup_bench.py [n_docs]  (default 100_000)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import build_spark  # noqa: E402


def synth_docs(spark, n: int):
    """Deterministic synthetic corpus, generated distributed (no
    driver-side rows): 60-token docs over a 64-word vocabulary;
    doc i with i%16==1 mutates doc i-1 in 3 token positions (planted
    near-dup, jaccard ~0.8); i%32==4 copies i-1 verbatim (planted
    exact dup — i-1 is never itself a mutant)."""
    from pyspark.sql import functions as F

    vocab = [f"w{j:02d}" for j in range(64)]
    vocab_sql = "array(" + ",".join(f"'{w}'" for w in vocab) + ")"
    d = spark.range(0, n, 1, 64).withColumnRenamed("id", "doc_id")
    # one base key per doc: mutants (i%16==1) derive from i-1, exact
    # copies (i%32==4) copy i-1 (which is never itself a mutant, so
    # the copy is byte-identical)
    key = (F.when(F.col("doc_id") % 16 == 1, F.col("doc_id") - 1)
           .when(F.col("doc_id") % 32 == 4, F.col("doc_id") - 1)
           .otherwise(F.col("doc_id")))
    d = d.withColumn("k", key).withColumn(
        "is_mut", F.col("doc_id") % 16 == 1)
    # xxhash64, not modular-linear mixing: (a·k + b·t) mod 64 is still
    # linear in (k mod 64, t) and collapses the corpus to 64 documents
    tok = ("element_at({v}, int(pmod(xxhash64(k, t), 64)) + 1)"
           ).format(v=vocab_sql)
    mut = ("element_at({v}, int(pmod(xxhash64(doc_id, t, 7), 61)) + 1)"
           ).format(v=vocab_sql)
    text = F.expr(
        f"array_join(transform(sequence(0, 59), t -> case "
        f"when is_mut and t % 20 = 5 then {mut} else {tok} end), ' ')")
    return d.select("doc_id", text.alias("text"))


def main() -> None:
    from pyspark.sql import functions as F
    from log_ship_elastic_postfix_spark.operators import dedup

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_spark(cpus, shuffle_partitions=max(64, cpus * 2),
                        python_heavy=True)
    spark.sparkContext.setLogLevel("ERROR")

    docs = synth_docs(spark, n)
    path = os.path.join(os.environ.get("SPARK_GRAFT_WORKDIR", "/tmp"),
                        f"dedup_bench_{n}")
    if not os.path.exists(path):
        docs.write.mode("overwrite").parquet(path)
    corpus = spark.read.parquet(path)

    # warm (small slice through the same plans)
    warm = corpus.limit(2000)
    dedup.near_duplicates_minhash(warm, threshold=0.6).count()

    t0 = time.monotonic()
    pairs = dedup.near_duplicates_minhash(corpus, threshold=0.6)
    n_pairs = pairs.count()
    minhash_sec = time.monotonic() - t0

    t0 = time.monotonic()
    n_exact = dedup.duplicate_assignments(corpus).count()
    exact_sec = time.monotonic() - t0

    t0 = time.monotonic()
    ld = dedup.boilerplate_line_dedup(
        corpus.withColumn(
            "text", F.concat(F.lit("BOILER\n"), F.col("text"))),
        min_docs=2)
    ld.write.format("noop").mode("overwrite").save()
    line_sec = time.monotonic() - t0

    # composed clean_corpus at scale (star-CC, planner-chosen verify
    # joins): the planted structure
    # has a closed form, so the run doubles as a correctness proof of
    # the composition at 20-100× driver scale: exact removes the 1-in-
    # 32 verbatim copies, near-dup CC removes the 1-in-16 mutants
    # (each clusters with its base; keeper = min id). Quality is off:
    # the word-salad corpus has no stopwords by construction.
    # LSH config is recall-sized to the plant: mutants sit at jaccard
    # ≈0.73 (9 of 67 shingles differ), where the default 8×4-row bands
    # miss 1−(1−0.73⁴)⁸ ≈ 6.7% of pairs (measured: 418/6250). 32 bands
    # of 2 rows drive the miss probability to (1−0.73²)³² ≈ 2·10⁻¹¹
    # while random pairs (jaccard ≈10⁻⁴) still collide band-wise with
    # probability ≤32·10⁻⁸ — exactly the s-curve tuning a production
    # pipeline does against its target threshold.
    from log_ship_elastic_postfix_spark.plans.corpus import (
        CorpusCleanConfig, clean_corpus)

    t0 = time.monotonic()
    res = clean_corpus(corpus, CorpusCleanConfig(
        neardup_threshold=0.6, quality_min_words=None,
        minhash_k=64, minhash_bands=32))
    clean_sec = time.monotonic() - t0
    # exact congruence counts (valid for ANY n, not just multiples of
    # 32): mutants are ids ≡ 1 (mod 16), copies ids ≡ 4 (mod 32)
    n_mut = (n - 2) // 16 + 1 if n > 1 else 0
    n_copy = (n - 5) // 32 + 1 if n > 4 else 0
    exp = {"input": n, "exact_dedup": n - n_copy,
           "neardup": n - n_copy - n_mut}
    got = {k: res.stage_counts.get(k) for k in exp}
    if got != exp:
        raise AssertionError(
            f"clean_corpus planted-structure mismatch: {got} != {exp}")

    # benchmark decontamination at scale: the "benchmark" is the
    # doc_id % 1000 == 7 slice of the corpus itself. With 8-grams the
    # flagged set is EXACTLY that slice, in closed form: the planted
    # mutant/copy relations never touch ids ≡ 7 (mod 1000) — both
    # congruences are unsolvable mod 16/32 — and a spurious 8-gram
    # collision between unrelated docs needs 8 consecutive token
    # matches (p = 64⁻⁸ per offset pair, ≈1e-4 expected over the
    # whole corpus). 5-grams would admit ~30 random collisions at
    # 100k docs — gram order is part of the decontamination contract.
    bench_slice = corpus.filter(F.col("doc_id") % 1000 == 7) \
        .select("text")
    t0 = time.monotonic()
    decon = dedup.benchmark_contamination(corpus, bench_slice, n=8)
    n_contam = decon.filter(F.col("contaminated")).count()
    decon_sec = time.monotonic() - t0
    if n_contam != (n + 992) // 1000:
        raise AssertionError(
            f"decontamination plant mismatch: {n_contam} flagged, "
            f"expected {(n + 992) // 1000}")

    # perplexity scoring at scale (self-model build + score)
    from log_ship_elastic_postfix_spark.operators import perplexity as P

    t0 = time.monotonic()
    model, unk = P.build_unigram_model(corpus)
    n_scored = P.perplexity_scores(corpus, model, unk).count()
    ppl_sec = time.monotonic() - t0
    assert n_scored == n

    # incremental dedup vs committed HashState at scale: commit the
    # first half's hashes, probe the second half as a new crawl
    # batch. Closed form: every planted copy doc (id ≡ 4 mod 32) in
    # the batch is dropped — its verbatim base id-1 sits either in
    # the batch (within-batch dup) or in the committed half
    # (cross-state dup); mutants and originals are unique content —
    # so kept = batch_size − #{i ∈ [h, n): i ≡ 4 (mod 32)}.
    import shutil
    import tempfile

    half = n // 2
    state_dir = tempfile.mkdtemp(prefix="dedup_bench_state_")
    try:
        state = dedup.HashState(os.path.join(state_dir, "hashes"))
        committed = dedup.incremental_exact_dedup(
            corpus.filter(F.col("doc_id") < half), None)
        state.append(committed)
        batch = corpus.filter(F.col("doc_id") >= half)
        t0 = time.monotonic()
        n_kept = dedup.incremental_exact_dedup(
            batch, state.read(spark)).count()
        inc_sec = time.monotonic() - t0
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)
    n_batch = n - half
    n_copy_in_batch = sum(1 for i in range(half, n) if i % 32 == 4)
    if n_kept != n_batch - n_copy_in_batch:
        raise AssertionError(
            f"incremental dedup plant mismatch: kept {n_kept}, "
            f"expected {n_batch - n_copy_in_batch}")

    print(json.dumps({
        "n_docs": n,
        "decontaminate_sec": round(decon_sec, 2),
        "decontaminate_docs_per_sec": round(n / decon_sec, 1),
        "n_contaminated": n_contam,
        "perplexity_sec": round(ppl_sec, 2),
        "perplexity_docs_per_sec": round(n / ppl_sec, 1),
        "incremental_dedup_sec": round(inc_sec, 2),
        "incremental_dedup_docs_per_sec": round(n_batch / inc_sec, 1),
        "incremental_kept": n_kept,
        "minhash_sec": round(minhash_sec, 2),
        "minhash_docs_per_sec": round(n / minhash_sec, 1),
        "n_neardup_pairs": n_pairs,
        "n_exact_dup_assignments": n_exact,
        "exact_sec": round(exact_sec, 2),
        "exact_docs_per_sec": round(n / exact_sec, 1),
        "line_dedup_sec": round(line_sec, 2),
        "line_dedup_docs_per_sec": round(n / line_sec, 1),
        "clean_corpus_sec": round(clean_sec, 2),
        "clean_corpus_docs_per_sec": round(n / clean_sec, 1),
        "clean_corpus_stage_counts": res.stage_counts,
        "cpus": cpus,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
