"""Routing + fan-out sinks.

Reference semantics (/root/reference/lib/logship.js:337-393): each doc
routes to a dated index — ``<parent.index>-YYYY-MM-DD`` when a parent
id is attached, else ``<index>-YYYY-MM-DD`` (the "orphan" series); the
redundant ``qid`` is dropped from the body (it is the ``_id``).

Spark design: routing is two cheap narrow columns (``sink``,
``route_date``); the write fans out via ``partitionBy(sink,
route_date)`` so each (sink, day) lands in its own directory tree —
the Iceberg-partitioned analog of per-day index names, giving the same
partition-pruned lookups the reference engineered with uniqYMD index
lists (lib/logship.js:263-279).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ORPHAN_SINK = "postfix-orphan"
PARENT_SINK = "postfix-parent"
REJECT_SINK = "rejects"


def date_suffix(iso_date: Column) -> Column:
    """ISO doc date → 'YYYY-MM-DD' routing suffix.

    Reference: per-day index names ``postfix-orphan-YYYY-MM-DD``
    (lib/logship.js:143-161). The ISO string is already
    zero-padded, so this is a zero-cost substring — no timestamp parse,
    no session-timezone sensitivity.
    """
    return F.substring(iso_date, 1, 10)


def route_docs(
    docs: DataFrame,
    *,
    orphan_sink: str = ORPHAN_SINK,
    parent_sink: str = PARENT_SINK,
) -> DataFrame:
    """docs (+ optional _parent) → docs + (sink, route_date)."""
    has_parent = (F.col("_parent").isNotNull()
                  if "_parent" in docs.columns else F.lit(False))
    return (
        docs
        .withColumn("sink", F.when(has_parent, F.lit(parent_sink))
                             .otherwise(F.lit(orphan_sink)))
        .withColumn("route_date", date_suffix(F.col("date")))
    )


def pin_committed_routing(routed: DataFrame,
                          committed: DataFrame) -> DataFrame:
    """Reference parity (/root/reference/lib/logship.js:298): a doc
    matched in committed state updates IN PLACE — its ``sink`` and
    ``route_date`` stay the committed values even when this batch's
    enrichment would route it elsewhere (the orphan→parent flip when
    the parent map gains an entry between batches). The pin keeps every
    qid in exactly one (sink, route_date) partition for its lifetime;
    without it a sink flip is a partition migration the storage layer
    must clean up (``StateStore.upsert`` handles that too, defensively,
    but the pin makes it unreachable in the normal flow). Broadcast
    join: the pin frame is batch-bounded metadata (qid + two short
    strings per matched doc).

    When a qid somehow has committed rows under MORE than one
    (sink, route_date) — reachable via the documented cross-date
    scoping gap — the pin picks the max (route_date, sink) pair via
    an aggregate, NOT dropDuplicates: dropDuplicates keeps an
    arbitrary row per key, so replays of the same batch could route
    the doc to different partitions, the exact nondeterminism the
    pin exists to prevent. max_by-style struct max is deterministic
    for every run over the same committed state."""
    pins = (committed.groupBy("qid")
            .agg(F.max(F.struct("route_date", "sink")).alias("_p"))
            .select("qid", F.col("_p.sink").alias("_pin_sink"),
                    F.col("_p.route_date").alias("_pin_rd")))
    cols = routed.columns
    return (routed.join(F.broadcast(pins), "qid", "left")
            .withColumn("sink", F.coalesce("_pin_sink", F.col("sink")))
            .withColumn("route_date",
                        F.coalesce("_pin_rd", F.col("route_date")))
            .select(*cols))


def write_routed(routed: DataFrame, path: str, mode: str = "append",
                 typed: bool = True) -> None:
    """Fan-out partitioned write. ``qid`` stays as a column (the _id
    analog — parquet has no out-of-band doc id).

    ``typed=True`` applies the index-map-template sink typing
    (date→timestamp, delay/nrcpt→float, size→double — S7,
    /root/reference/index-map-template.json:5-18) so the terminal
    table is consumer-typed while the in-flight pipeline stays
    all-string like the reference."""
    if typed:
        from .sink_schema import apply_sink_types
        routed = apply_sink_types(routed)
    (routed.write.mode(mode)
     .partitionBy("sink", "route_date")
     .parquet(path))


def write_rejects(rejects: DataFrame, path: str, mode: str = "append") -> None:
    """Dead-letter sink for parse rejects, partitioned by reason.

    The reference only logs parse errors (emitParseError,
    lib/postfix-doc.js:294-296); a persistent reject table is the
    pipeline-grade equivalent — replayable, countable, and partition-
    pruned by reject_reason for triage queries."""
    (rejects.write.mode(mode)
     .partitionBy("reject_reason")
     .parquet(path))


def sink_counts(routed: DataFrame) -> DataFrame:
    """Per-sink routed-count parity metric (BASELINE.json), plus the
    reference's per-batch new/match tallies analog. Partial+final agg —
    no extra shuffle beyond the groupBy exchange."""
    return (routed.groupBy("sink")
            .agg(F.count(F.lit(1)).alias("doc_count"),
                 F.sum(F.col("n_events")).alias("event_count"),
                 F.sum(F.when(F.col("isFinal"), 1).otherwise(0)).alias("final_count"))
            .orderBy("sink"))
