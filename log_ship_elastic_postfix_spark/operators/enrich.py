"""Enrichment: broadcast dimension lookups.

The reference enriches docs with a ``_parent`` id fetched per-batch
from Redis (``mget(qids)``, /root/reference/lib/logship.js:235-257) —
a key-value lookup join against a small external map. In Spark that is
a broadcast hash join: the dimension ships to every executor once, the
probe stays narrow (no shuffle of the fact side), which is the only
join shape that survives a 10¹²-row fact table with a KB..MB dim.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_parent(docs: DataFrame, parent_map: Optional[DataFrame]) -> DataFrame:
    """Left-join the qid→parent dimension; optional exactly like the
    reference's redis client (skipped when unconfigured,
    lib/logship.js:238-241)."""
    if parent_map is None:
        return docs.withColumn("_parent", F.lit(None).cast("string"))
    dim = parent_map.select(
        F.col("qid").alias("_pq"), F.col("parent").alias("_parent"))
    return (docs.join(F.broadcast(dim), docs["qid"] == dim["_pq"], "left")
            .drop("_pq"))

