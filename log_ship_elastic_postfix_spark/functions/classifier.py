"""Model-based quality classification: feature-hashed linear scorer.

Production web corpora gate documents with a trained linear classifier
over hashed bag-of-words features (the GPT-3 WebText quality filter,
CCNet's fastText language/quality models, FineWeb's edu classifier).
This module is that operator re-expressed for Catalyst: tokenize →
hash every token into a bounded feature space → per-feature integer
weight → sum → threshold. It complements the statistical gates
(:mod:`.textstats` Gopher rules, :mod:`..operators.perplexity`): those
are hand-written heuristics, this is the learned-model slot.

Weights are pluggable, mirroring how the reference takes its parser
grammar and field maps from injected config rather than code
(/root/reference/lib/logship.js:37-52 — the extension-surface analog):

* ``weights=None`` (default): weight(token) is the integer value of
  the token's first four md5 hex chars minus 32768 — a fixed
  pseudo-random projection into [-32768, 32767] micro-units over a
  65,536-bucket feature space. Deterministic, engine-portable
  (md5-only, the same auditability rationale as
  :mod:`..operators.mixing`), and the stand-in used by tests and the
  cross-engine oracle where no trained model ships.
* ``weights=DataFrame(bucket int, weight long)``: a trained model's
  weight vector. Tokens explode, join the (broadcast) weight table on
  their bucket, and scores re-assemble per document — the production
  path for real models too large for a literal expression.

Integer micro-units end to end (the :mod:`..operators.perplexity`
pattern): ``score_micro`` is an exact BIGINT in every engine, so the
keep/drop decision ``score_micro >= threshold_micro * n_tokens``
(i.e. mean token weight >= threshold, cleared of division) can never
diverge by a rounding ulp between Spark and an auditing SQL engine.

Scale shape: the default path is a zero-exchange narrow projection —
`transform` + `aggregate` over the token array, whole-stage codegen,
no Python, runs at scan speed (plan-gated). The weights path adds one
broadcast hash join (the model) and one partial-aggregated exchange
keyed on the doc id (ids + partial sums only; text never shuffles).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import WS_RUN

N_BUCKETS = 16 ** 4  # 4 md5 hex chars -> 65,536 feature buckets
_CENTER = N_BUCKETS // 2


def tokens(text: Column) -> Column:
    """Whitespace tokens of lowercased text, empties dropped — the
    shared tokenizer rule (textstats.py / perplexity.py)."""
    return F.filter(F.split(F.lower(F.trim(text)), WS_RUN),
                    lambda x: x != "")


def token_bucket(token: Column) -> Column:
    """Feature-hash bucket 0..65535: integer value of the first four
    md5 hex chars."""
    return F.conv(F.substring(F.md5(token), 1, 4), 16, 10).cast("long")


def default_weight(token: Column) -> Column:
    """The shipped-model stand-in: bucket − 32768 micro-units."""
    return token_bucket(token) - F.lit(_CENTER).cast("long")


def classifier_score(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    weights: DataFrame | None = None,
    bias_micro: int = 0,
    threshold_micro: int = 0,
) -> DataFrame:
    """Score + gate every document with the hashed linear model.

    Returns ``id_col, n_tokens, score_micro, keep`` where
    ``score_micro = Σ weight(token) + bias`` (BIGINT micro-units) and
    ``keep ⇔ score_micro >= threshold_micro · n_tokens`` (mean token
    weight vs threshold in exact integer arithmetic; an empty doc
    scores ``bias`` against 0).

    ``weights`` rows are ``(bucket int/long, weight long)``; missing
    buckets weigh 0 (a sparse trained model). The two paths produce
    identical results when the weight table materializes the default
    rule (pinned by test)."""
    toks = tokens(F.col(text_col))
    if weights is None:
        score = (F.aggregate(
            F.transform(toks, default_weight),
            F.lit(0).cast("long"), lambda acc, x: acc + x)
            + F.lit(int(bias_micro)).cast("long"))
        out = df.select(
            F.col(id_col),
            F.size(toks).cast("long").alias("n_tokens"),
            score.alias("score_micro"))
    else:
        wtab = weights.select(F.col("bucket").cast("long").alias("bucket"),
                              F.col("weight").cast("long").alias("weight"))
        ex = df.select(
            F.col(id_col),
            F.explode_outer(toks).alias("_tok"))
        scored = (ex.withColumn("bucket", token_bucket(F.col("_tok")))
                  .join(F.broadcast(wtab), "bucket", "left")
                  .groupBy(id_col)
                  .agg(F.count("_tok").cast("long").alias("n_tokens"),
                       (F.coalesce(F.sum("weight"), F.lit(0)).cast("long")
                        + F.lit(int(bias_micro)).cast("long"))
                       .alias("score_micro")))
        out = scored
    return out.withColumn(
        "keep",
        F.col("score_micro")
        >= F.lit(int(threshold_micro)).cast("long") * F.col("n_tokens"))
