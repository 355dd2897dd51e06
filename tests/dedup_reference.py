"""Driver-side reference forms of dedup operators, kept as
differential oracles for the tests (production uses
``operators.dedup``): the JVM word n-gram shingle expression and plain
min-label-propagation connected components.

Both are pure DataFrame expressions — nothing here runs in a Python
worker, so unlike ``grok_reference`` this module needs no cloudpickle
registration."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from log_ship_elastic_postfix_spark.operators.dedup import normalize_text


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingle set (distinct), JVM-side — no Python.

    Built from ``arrays_zip`` of n shifted slices, NOT element_at
    inside a transform lambda: a lambda capturing the token-array
    expression embeds (and re-evaluates) the normalize+split tree once
    per element per position — measured ~50× slower on 54-token docs
    (Catalyst CollapseProject inlines projections into lambdas and has
    no cross-invocation CSE). With slices, split evaluates n times per
    row, period."""
    toks = F.split(normalize_text(text), " ")
    k = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    parts = [F.slice(toks, j + 1, k).alias(f"t{j}") for j in range(n)]
    grams = F.transform(
        F.arrays_zip(*parts),
        lambda s: F.concat_ws(" ", *[s[f"t{j}"] for j in range(n)]),
    )
    return F.when(k > 0, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>"))


def connected_components_labelprop(
    pairs: DataFrame, *, id_a: str = "id_a", id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Plain min-label propagation (O(component-diameter) rounds) —
    the differential reference for the star algorithm in
    ``operators.dedup.connected_components``."""
    edges = (pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
             .unionByName(
                 pairs.select(F.col(id_b).alias("src"),
                              F.col(id_a).alias("dst")))
             .distinct()
             .localCheckpoint(eager=True))
    labels = (edges.select(F.col("src").alias("id")).distinct()
              .withColumn("label", F.col("id"))
              .localCheckpoint(eager=True))
    for _ in range(max_iter):
        nbr_min = (edges.join(labels, edges["dst"] == labels["id"])
                   .groupBy("src").agg(F.min("label").alias("nbr_label")))
        new_labels = (labels.join(nbr_min, labels["id"] == nbr_min["src"],
                                  "left")
                      .select(F.col("id"),
                              F.least(F.col("label"),
                                      F.coalesce(F.col("nbr_label"),
                                                 F.col("label")))
                              .alias("label"))
                      .localCheckpoint(eager=True))
        n_changed = (new_labels.alias("n")
                     .join(labels.alias("o"), "id")
                     .filter(F.col("n.label") != F.col("o.label")).count())
        labels = new_labels
        if n_changed == 0:
            return labels.select(F.col("id"), F.col("label").alias("cluster_id"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations")
