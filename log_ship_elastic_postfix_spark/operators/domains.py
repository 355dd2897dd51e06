"""Per-domain corpus control: document caps.

Web pipelines bound how much any single registered domain contributes
to the training mix (RefinedWeb / FineWeb keep at most N documents or
tokens per domain — one mega-site must not dominate the corpus). This
is the domain-keyed analog of the reference's per-index routing counts
(/root/reference/lib/logship.js:330-335 — tally per elasticsearch
index, here cap per registered domain), built on
:func:`..functions.urls.url_registered_domain`.

Scale design for the cap (the part a naive window gets wrong):

* A single ``row_number() OVER (PARTITION BY domain)`` sorts every
  domain in one task — a 10⁹-page domain at crawl scale is one
  straggler task holding the whole domain's rows.
* Here rows first split by a domain-count pre-aggregation (key+count
  exchange only). Domains at or under the cap bypass ranking
  entirely — no sort, and with the default broadcast of the over-cap
  domain list (they number ≤ distinct_domains and are the heavy
  hitters by definition) those rows never shuffle at all.
* Over-cap rows rank in TWO phases: a salted local top-cap
  (window over (domain, salt) keeps ≤ cap rows per salt, bounding
  every sort task) then the global top-cap over the ≤ cap·n_salts
  survivors per domain. Salting pays here because a top-cap divides:
  each salt's local top-cap bounds its sort task, and the merge sees
  at most cap·n_salts rows. Salted ≡ unsalted is pinned by test.

Ordering is total — (order column, id) — so the kept set is
deterministic and an external SQL engine restates it verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.urls import url_registered_domain


def domain_cap(
    df: DataFrame,
    *,
    cap: int,
    url_col: str = "url",
    id_col: str = "doc_id",
    order_col: str | None = None,
    n_salts: int = 16,
    broadcast_over: bool = True,
) -> DataFrame:
    """Keep at most ``cap`` documents per registered domain.

    Keepers are the first ``cap`` rows per domain ordered by
    ``(order_col, id_col)`` (``id_col`` alone when no order column) —
    ties impossible, so re-runs keep the identical set. Returns the
    input columns plus ``domain`` and ``capped`` (true iff the row's
    domain exceeded the cap and was truncated).

    ``broadcast_over=False`` falls back to a shuffle join against the
    over-cap domain list for the (unusual) regime where heavy hitters
    outnumber broadcast capacity; results are identical (pinned by
    test, the :func:`.dedup.benchmark_contamination` pattern).
    """
    assert cap >= 1, "cap must be >= 1"
    # an existing 'domain' column would silently duplicate (ambiguous
    # references downstream, and callers dropping 'domain' would drop
    # the user's original too — ADVICE r5); the caller renames first
    assert "domain" not in df.columns, \
        "domain_cap: input already has a 'domain' column — rename it"
    dom = url_registered_domain(F.col(url_col)).alias("domain")
    keyed = df.select(dom, "*")

    counts = keyed.groupBy("domain").agg(F.count(F.lit(1)).alias("_n"))
    over = counts.filter(F.col("_n") > cap).select("domain")
    over_j = F.broadcast(over) if broadcast_over else over

    flagged = keyed.join(
        over_j.withColumn("_over", F.lit(True)), "domain", "left")
    under = (flagged.filter(F.col("_over").isNull())
             .drop("_over").withColumn("capped", F.lit(False)))
    heavy = flagged.filter(F.col("_over").isNotNull()).drop("_over")

    order_exprs = ([F.col(order_col).asc()] if order_col else []) + \
        [F.col(id_col).asc()]
    if n_salts > 1:
        salt = F.pmod(F.xxhash64(F.col(id_col).cast("string")),
                      F.lit(n_salts))
        local_w = Window.partitionBy("domain", "_salt").orderBy(*order_exprs)
        heavy = (heavy.withColumn("_salt", salt)
                 .withColumn("_r", F.row_number().over(local_w))
                 .filter(F.col("_r") <= cap)
                 .drop("_r", "_salt"))
    global_w = Window.partitionBy("domain").orderBy(*order_exprs)
    heavy_kept = (heavy.withColumn("_r", F.row_number().over(global_w))
                  .filter(F.col("_r") <= cap)
                  .drop("_r")
                  .withColumn("capped", F.lit(True)))
    return under.unionByName(heavy_kept)
