"""Streaming corpus ingest with incremental dedup — the continuous
form of :func:`~..operators.dedup.incremental_exact_dedup`: crawl
batches arrive forever, only novel content lands in the corpus, and
every crash point replays to the same corpus (exactly-once by
construction, not by fsync luck).

The reference's loop is tail → probe store → upsert → advance
bookmark, idempotent at each step (/root/reference/lib/logship.js:
86-120, 259-393). This module keeps that decomposition and adds the
dedup-specific twist that makes replay subtle: the batch's OWN
committed hashes must not hide the batch from itself.

Replay analysis (the design is chosen so every window is safe):

1. ``bookmark.is_processed(batch_id)`` → skip. A fully-committed
   batch never recomputes.
2. Survivors are computed against committed hashes **excluding rows
   tagged with this batch_id**. A crash after the hash append but
   before the bookmark commit therefore replays to the *identical*
   survivor set — without the exclusion, the batch's own hashes would
   anti-join its replay to empty and the corpus overwrite below would
   erase the rows it wrote the first time (silent data loss in the
   crash window).
3. The corpus write targets ``corpus/ingest_batch=<id>`` with
   overwrite — replays rewrite the same directory with the same rows,
   never append duplicates (the standard idempotent-foreachBatch
   sink shape).
4. The hash append is plain append with an ``ingest_batch`` tag;
   replayed appends duplicate rows harmlessly (reads go through
   DISTINCT, and the exclusion filter in step 2 is by batch id, so
   duplicates cannot change any batch's survivor set).
5. The bookmark commit is last; its manifest carries the survivor /
   dropped counts (the per-batch lineage + metrics contract).

Determinism requirement: replayed batches must be byte-identical —
guaranteed here because the file source replays fixed offsets from
the checkpoint, and survivor selection (min-id per hash) is a pure
function of batch content + prior-batch state.

Scale shape is inherited from ``incremental_exact_dedup``: the state
probe exchanges 8-byte hashes + one id; document text shuffles only
on the final survivor join, keyed by id.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (_is_missing_path, incremental_exact_dedup,
                               normalize_text)
from ..sources.bookmark import BookmarkStore


class DedupIngest:
    """foreachBatch processor: corpus sink + hash state + bookmark."""

    def __init__(self, corpus_path: str, hash_path: str,
                 bookmark: BookmarkStore, *,
                 id_col: str = "doc_id", text_col: str = "text",
                 hash_expr=None):
        self.corpus_path = corpus_path
        self.hash_path = hash_path
        self.bookmark = bookmark
        self.id_col = id_col
        self.text_col = text_col
        self.hash_expr = hash_expr

    def _committed(self, spark: SparkSession,
                   exclude_batch: int) -> Optional[DataFrame]:
        # only the legitimate first-batch case (store not created yet)
        # may degrade to "no committed state"; any OTHER read failure
        # (corruption, permissions, transient IO) must abort the batch
        # — silently deduping against nothing would commit duplicates
        # with the bookmark advancing normally (ADVICE r5)
        try:
            df = spark.read.parquet(self.hash_path)
        except AnalysisException as exc:
            if _is_missing_path(exc):
                return None
            raise
        return (df.filter(F.col("ingest_batch") != exclude_batch)
                .select("content_hash"))

    def process(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.bookmark.is_processed(batch_id):
            return
        spark = batch_df.sparkSession
        h = (self.hash_expr if self.hash_expr is not None
             else F.xxhash64(normalize_text(F.col(self.text_col))))
        survivors = incremental_exact_dedup(
            batch_df, self._committed(spark, batch_id),
            text_col=self.text_col, id_col=self.id_col, hash_expr=h)
        # checkpoint BEFORE deriving the corpus frame: both writes must
        # consume the single evaluated survivor set (ADVICE r5 — the
        # pre-checkpoint plan would recompute the whole dedup lineage,
        # including a second hash-store scan, for the corpus write).
        # The checkpoint job also counts the survivors; an Observation
        # fires once, so each batch makes its own
        kept = Observation("ingest_kept")
        survivors = (survivors.observe(kept, F.count(F.lit(1)).alias("n"))
                     .localCheckpoint(eager=True))
        docs = batch_df.join(survivors.select(self.id_col), self.id_col)
        n_kept = kept.get["n"]
        (docs.write.mode("overwrite")
         .parquet(os.path.join(self.corpus_path,
                               f"ingest_batch={batch_id}")))
        (survivors.withColumn("ingest_batch", F.lit(batch_id))
         .write.mode("append").parquet(self.hash_path))
        self.bookmark.commit(batch_id, {
            "batch_seq": batch_id,
            "n_in": batch_df.count(),
            "n_kept": n_kept,
        })


def start_dedup_ingest_stream(
    spark: SparkSession,
    source_path: str,
    *,
    corpus_path: str,
    hash_path: str,
    bookmark: BookmarkStore,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
    schema=None,
):
    """readStream(documents dir) → foreachBatch(DedupIngest) — the
    continuous crawl-ingest loop. ``available_now=True`` drains the
    backlog and stops (catch-up / test mode); otherwise the query
    runs until stopped."""
    if schema is None:
        schema = spark.read.parquet(source_path).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(source_path))
    ingest = DedupIngest(corpus_path, hash_path, bookmark)
    writer = (stream.writeStream.foreachBatch(ingest.process)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("update"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
