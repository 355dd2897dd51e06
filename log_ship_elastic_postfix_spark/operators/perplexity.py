"""LM-perplexity quality filter — the CCNet-style companion to the
Gopher rules (Wenzek et al. 2020, "CCNet: Extracting High Quality
Monolingual Datasets from Web Crawl Data"): score each document by a
language-model negative log-likelihood per token and bucket the corpus
into head / middle / tail; pipelines keep head+middle or weight
sampling by bucket.

CCNet uses a KenLM 5-gram model; that binary dependency doesn't exist
here, so the model is the deterministic, SQL-restatable reduction with
the same pipeline shape: a **unigram add-one model** built from a
reference corpus (or the corpus itself):

    lp_micro(tok) = round( ln((c_tok + 1) / (N + V)) * 1e6 )   [int]
    unk_micro     = round( ln(      1     / (N + V)) * 1e6 )
    nll(doc)      = round( -Σ lp_micro(tok_i) / (n · 1e6), 6 )

Log-probs are frozen to integer micro-nats at model-build time, so a
document score is an exact integer sum followed by one double
division — bit-identical in any engine; the only floating-point step
(`ln`) happens once per VOCABULARY entry, not per document token.
A real KenLM plugs into the same seams: the model table becomes the
KenLM scores, nothing downstream changes.

Scale shape: the model is a (token, lp_micro) table ≤ the vocabulary
(optionally capped to the top ``max_vocab`` tokens, everything else
scoring as unk) — broadcast by default, hash-join fallback for huge
vocabularies; scoring is explode → join → per-doc sum, exchanges
keyed on token then id. N and V are two longs of driver metadata.
"""

from __future__ import annotations

import math
from typing import Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.textstats import WS_RUN


def _tokens(df: DataFrame, text_col: str, extra: Tuple[str, ...] = ()
            ) -> DataFrame:
    return (df.select(
        *extra,
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), WS_RUN))
        .alias("token"))
        .filter(F.col("token") != ""))


def build_unigram_model(
    ref: DataFrame, *, text_col: str = "text",
    max_vocab: Optional[int] = None,
) -> Tuple[DataFrame, int]:
    """Reference corpus → ((token, lp_micro) model table, unk_micro).

    ``max_vocab`` keeps only the top-K tokens by count (ties by token
    — deterministic); the rest score as unk. At web scale cap to
    ~2²⁰: the model stays broadcastable and rare-token statistics are
    noise anyway. N (total tokens) and V (distinct tokens) are counted
    BEFORE capping, so the distribution still sums over the full
    vocabulary."""
    cnt = (_tokens(ref, text_col)
           .groupBy("token").agg(F.count(F.lit(1)).alias("c")))
    n, v = cnt.agg(F.sum("c"), F.count(F.lit(1))).first()
    denom = float(n + v)
    model = cnt.select(
        "token",
        F.round(F.log((F.col("c") + 1.0) / denom) * 1e6)
        .cast("long").alias("lp_micro"))
    if max_vocab is not None:
        model = (model.join(
            cnt.orderBy(F.col("c").desc(), F.col("token").asc())
            .limit(max_vocab).select("token"), "token"))
    unk_micro = int(round(math.log(1.0 / denom) * 1e6))
    return model, unk_micro


def perplexity_scores(
    df: DataFrame, model: DataFrame, unk_micro: int, *,
    text_col: str = "text", id_col: str = "doc_id",
    broadcast_model: bool = True,
) -> DataFrame:
    """(id, text) → (id, n_tokens, nll) — nll in nats/token, rounded
    to 6 decimals (micro-nat integer sum ÷ n·1e6: exact cross-engine).
    Empty docs score nll = 0.0 with n_tokens = 0 (degenerate; the
    word-count quality rule is what drops them)."""
    m = F.broadcast(model) if broadcast_model else model
    toks = _tokens(df, text_col, extra=(id_col,))
    per_doc = (toks.join(m, "token", "left")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_tokens"),
                    F.sum(F.coalesce("lp_micro", F.lit(unk_micro)))
                    .alias("_lpsum")))
    return (df.select(id_col).join(per_doc, id_col, "left")
            .select(
                id_col,
                F.coalesce("n_tokens", F.lit(0)).cast("long")
                .alias("n_tokens"),
                F.when(F.coalesce("n_tokens", F.lit(0)) > 0,
                       F.round(-F.col("_lpsum")
                               / (F.col("n_tokens") * 1e6), 6))
                .otherwise(F.lit(0.0)).alias("nll")))


def nll_bucket(nll: Column, *, head_max: float, middle_max: float) -> Column:
    """CCNet head/middle/tail on the scored nll. Thresholds are
    INJECTED (config or a prior percentile job on a sample) rather
    than computed inline: exact corpus-wide terciles need a global
    exact percentile, which Spark's `percentile` materializes per
    group — fine on a sample, not as a mandatory 100 TB stage. Same
    injection pattern as the IVF trained-centroid path."""
    return (F.when(nll <= head_max, F.lit("head"))
            .when(nll <= middle_max, F.lit("middle"))
            .otherwise(F.lit("tail")))


def perplexity_buckets(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id",
    ref: Optional[DataFrame] = None, head_max: float,
    middle_max: float, max_vocab: Optional[int] = None,
    broadcast_model: bool = True,
) -> DataFrame:
    """One-call form: build the model from ``ref`` (default: the
    corpus itself — self-scoring, the differential-test configuration;
    production points ref at a curated corpus à la CCNet's Wikipedia)
    and bucket every doc. Returns (id, n_tokens, nll, ppl_bucket)."""
    model, unk = build_unigram_model(
        ref if ref is not None else df,
        text_col=text_col, max_vocab=max_vocab)
    scored = perplexity_scores(
        df, model, unk, text_col=text_col, id_col=id_col,
        broadcast_model=broadcast_model)
    return scored.withColumn(
        "ppl_bucket",
        nll_bucket(F.col("nll"), head_max=head_max,
                   middle_max=middle_max))
