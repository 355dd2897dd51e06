"""Sequence packing: assign documents to fixed-token-budget training
sequences — the step between a cleaned corpus and a trainer's sampler.

Rule (deterministic, SQL-restatable, and the standard scale shape):

- documents are sharded by a deterministic function of the id:
  ``id % n_shards`` for numeric ids (restatable in plain SQL),
  ``pmod(xxhash64(id), n_shards)`` for string ids (no numeric-id
  assumption — any id type shards uniformly);
- within a shard, documents are taken in id order and packed
  greedily: a document's sequence is the one its FIRST token lands in
  (``seq_id = floor(cumulative_tokens_before_doc / budget)``), so a
  document may straddle its sequence's end — the trainer-side reader
  splits or pads, exactly like fixed-stride packing of a token stream;
- the token budget is counted by a PLUGGABLE column factory
  (``token_counter``): whitespace tokens by default, or
  :func:`~..functions.textstats.bpe_ish_token_count` for
  trainer-faithful sub-word budgets — real trainers budget by
  tokenizer tokens, not words.

Scale shape: one exchange on the shard key, then a per-shard ordered
window cumsum — the window never spans shards, so ``n_shards`` is the
parallelism knob and no global sort/single-partition window exists
anywhere (the classic packing-at-scale mistake).

Sizing ``n_shards`` (each shard's cumsum is ONE sorted task): pick
``n_shards ≥ corpus_rows / 10M`` (≈ a few hundred MB of (id, count)
pairs per task — Spark's external sort spills, but task *time* and
straggler risk grow with shard size; at 100 TB / ~10¹⁰ docs that is
n_shards ≈ 1000, one task per executor core). When not given,
``n_shards`` defaults to the input DataFrame's partition count — the
scan already sized partitions to ``maxPartitionBytes``, so shard
volume tracks input volume instead of a fixed constant (the round-4
default of 8 would have serialized a 100 TB sort into 8 tasks).

Output is one row per document: (id, shard, n_tokens, seq_id,
offset_in_seq).
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType
from pyspark.sql.window import Window

from ..functions.textstats import WS_RUN, token_count


def shard_key(df: DataFrame, id_col: str, n_shards: int) -> Column:
    """Deterministic shard in [0, n_shards): modulo for numeric ids
    (plain-SQL restatable), xxhash64 for everything else."""
    if isinstance(df.schema[id_col].dataType, NumericType):
        return (F.col(id_col) % n_shards).cast("long")
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards)).cast("long")


def pack_documents(df: DataFrame, *, id_col: str = "doc_id",
                   text_col: str = "text", budget: int = 1024,
                   n_shards: Optional[int] = None,
                   token_counter: Callable[[Column], Column] = token_count,
                   ) -> DataFrame:
    """(id, text) → (id, shard, n_tokens, seq_id, offset_in_seq).

    ``token_counter`` maps the text column to a per-doc token count —
    pass ``textstats.bpe_ish_token_count`` for sub-word budgets.
    ``n_shards=None`` derives the shard count from the input's
    partition count (see module docstring for the sizing rule)."""
    assert budget > 0
    if n_shards is None:
        n_shards = max(1, df.rdd.getNumPartitions())
    assert n_shards > 0
    d = df.select(
        F.col(id_col),
        token_counter(F.col(text_col)).alias("n_tokens"),
        shard_key(df, id_col, n_shards).alias("shard"))
    w = (Window.partitionBy("shard").orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("_s")
    d = d.select(id_col, "shard", "n_tokens", start)
    return d.select(
        id_col, "shard", "n_tokens",
        F.floor(F.col("_s") / budget).cast("long").alias("seq_id"),
        F.pmod(F.col("_s"), F.lit(budget)).cast("long")
        .alias("offset_in_seq"))


def sequence_stats(packed: DataFrame) -> DataFrame:
    """Per-(shard, seq_id) rollup: docs and tokens per sequence —
    the packing-efficiency report (partial+final agg, one exchange)."""
    return (packed.groupBy("shard", "seq_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("n_tokens"))
            .orderBy("shard", "seq_id"))


def chunk_documents(df: DataFrame, *, id_col: str = "doc_id",
                    text_col: str = "text", window: int = 128,
                    stride: Optional[int] = None) -> DataFrame:
    """Split long documents into fixed-token context windows — the
    long-document counterpart of :func:`pack_documents` (packing
    concatenates short docs up to the budget; chunking slices docs
    that exceed it, with optional overlap so no span loses its left
    context at a hard boundary).

    Rule: whitespace tokens of the trimmed text (case and token order
    preserved); chunk ``k`` covers tokens ``[k·stride, k·stride +
    window)`` for every start strictly inside the document; the tail
    chunk is shorter. ``stride`` defaults to ``window`` (disjoint);
    ``stride < window`` overlaps. Zero-token docs yield no chunks.
    Chunk text is whitespace-normalized (single spaces) — the
    tokenizer-input form, not a byte-identical substring.

    Scale shape: pure Catalyst, zero exchanges — sequence() builds
    the start offsets, explode fans out, slice+array_join project the
    chunk. Fan-out is rows × ceil(n/stride); no shuffle, no Python.
    Output: (id, chunk_id, start_token, n_chunk_tokens, chunk_text).
    """
    assert window > 0
    stride = window if stride is None else stride
    assert 0 < stride <= window, "stride must be in (0, window]"
    toks = F.filter(F.split(F.trim(F.col(text_col)), WS_RUN),
                    lambda x: x != "")
    d = df.select(F.col(id_col), toks.alias("_toks"),
                  F.size(toks).alias("_n")).filter(F.col("_n") > 0)
    starts = F.sequence(
        F.lit(0), F.col("_n") - 1, F.lit(stride))
    d = d.select(id_col, "_toks", "_n",
                 F.explode(starts).alias("start_token"))
    chunk = F.slice(F.col("_toks"), F.col("start_token") + 1, window)
    return d.select(
        F.col(id_col),
        (F.col("start_token") / stride).cast("long").alias("chunk_id"),
        F.col("start_token").cast("long"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"))
