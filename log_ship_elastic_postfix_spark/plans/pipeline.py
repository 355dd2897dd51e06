"""End-to-end batch pipeline: parse → assemble → enrich → route → sink.

The Spark re-expression of the reference's doQueue continuation chain
(/root/reference/lib/logship.js:194-233): one declarative plan per
micro-batch instead of four sequential callbacks. Stage boundaries:

  scan (narrow) → parse (narrow, codegen) → **exchange on qid**
  (sessionize) → broadcast enrich (narrow) → fan-out partitioned write

The qid exchange is the pipeline's only shuffle; at 10¹² rows that is
the number that matters, so everything else is engineered to stay on
the scan side of it (pre-filters before the grammar projection, column
pruning through the parse, broadcast-only joins after the fold).
"""

from __future__ import annotations

import datetime as dt
import logging
from dataclasses import dataclass
from typing import Optional

_log = logging.getLogger(__name__)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import enrich, route
from ..operators.assemble import ORDER_COLS
from ..operators.parse import ParseResult, is_reject, parse_lines
from ..operators.state import StateStore, merge_with_state
from ..sources.bookmark import BookmarkStore
from ..sources.pages import pages_to_lines, with_batch_seq

# deterministic clock for year inference in tests/bench; production
# passes datetime.now()
DEFAULT_NOW = dt.datetime(2024, 8, 1, 0, 0, 0)


@dataclass
class PipelineConfig:
    """The ini-file analog (/root/reference/lib/config.js + defaults
    lib/logship.js:48-63), as a plain dataclass."""
    tz: str = "America/Phoenix"
    now: dt.datetime = DEFAULT_NOW
    n_batches: int = 1
    orphan_sink: str = route.ORPHAN_SINK
    parent_sink: str = route.PARENT_SINK
    # S7 typed sink (index-map-template projection) on the terminal
    # write; False writes the all-string in-flight shape (the r1
    # behavior) — bench times both so the typed feature's cost is
    # visible separately, never conflated with pipeline regressions
    typed_sink: bool = True


@dataclass
class BatchResult:
    batch_seq: int
    docs: DataFrame
    routed: DataFrame
    rejects: DataFrame
    counts: Optional[list] = None
    manifest: Optional[dict] = None


# line length passenger: carries the manifest's byte lineage through
# the parse (see run_batch)
LINE_BYTES = "_line_bytes"


def parse_stage(lines: DataFrame, cfg: PipelineConfig) -> ParseResult:
    # only the order keys ride through the parse UDF — url/lang/text
    # passengers would be Arrow-serialized both ways for nothing
    passengers = [c for c in (*ORDER_COLS, LINE_BYTES)
                  if c in lines.columns]
    return parse_lines(lines, tz=cfg.tz, now=cfg.now,
                       passengers=passengers)


def assemble_stage(parsed: DataFrame, cfg: PipelineConfig,
                   state_docs: Optional[DataFrame] = None) -> DataFrame:
    # prune to the fold's working set before the qid exchange — the
    # pipeline's only shuffle must carry parsed fields, never the page
    # text/html passenger columns (at 100 TB the difference is the
    # whole shuffle volume)
    from ..operators.parse import PARSED_FIELDS
    keep = [c for c in ("qid", "host", "prog", "date", *ORDER_COLS)
            if c in parsed.columns]
    keep += [f for f in PARSED_FIELDS if f in parsed.columns and f != "qid"]
    parsed = parsed.select(*[F.col(f"`{c}`") for c in keep])
    return merge_with_state(parsed, state_docs)


def run_batch(
    spark: SparkSession,
    lines: DataFrame,
    cfg: PipelineConfig,
    *,
    batch_seq: int = 0,
    state: Optional[StateStore] = None,
    parent_map: Optional[DataFrame] = None,
    sink_path: Optional[str] = None,
    rejects_path: Optional[str] = None,
    bookmark: Optional[BookmarkStore] = None,
) -> BatchResult:
    """One micro-batch through the full pipeline.

    Mirrors doQueue: lookup committed state for the batch's keys →
    fold-continue → parent enrich → route → idempotent sink upsert →
    commit bookmark manifest. Any failure before the manifest commit
    leaves the batch replayable (upsert is idempotent).
    """
    if "batch_seq" not in lines.columns:
        lines = lines.withColumn("batch_seq", F.lit(batch_seq))

    if bookmark is not None:
        lines = lines.withColumn(LINE_BYTES, F.length("line"))
    pr = parse_stage(lines, cfg)
    rejects = pr.rejects.drop(LINE_BYTES)

    # single-pass rule: the scan+grok (the pipeline's most expensive
    # stage) runs ONCE per batch. Everything downstream — the distinct
    # dates for state pruning, the fold input, the manifest counts and
    # lineage — reads the persisted grok output; round 1 re-ran the full parse
    # 3-4× per batch for these (at 100 TB: 3-4 redundant table scans).
    # Persisted data is batch-bounded, MEMORY_AND_DISK by default.
    # The same rule holds for the fold: StateStore.upsert checkpoints
    # the routed docs once, and its noop anti-join, carry union and
    # write all read that copy instead of re-running exchange + fold.
    multi_consumer = state is not None or bookmark is not None
    if multi_consumer and pr.all_rows is not None:
        pr.all_rows.persist()

    try:
        # one aggregate over the persisted grok output answers the
        # parsed lines' distinct dates (state pruning, needed before
        # the fold) and the manifest's counts and lineage, grouped by
        # input partition (the parse is narrow, so its partitions are
        # the input's). The dates ride as structs so a NULL date is
        # kept like distinct() keeps it.
        kept = ~is_reject()
        aggs = []
        if state is not None:
            aggs.append(F.collect_set(F.when(kept, F.struct(
                F.substring("date", 1, 10).alias("d")))).alias("dates"))
        if bookmark is not None:
            aggs += [F.count(F.lit(1)).alias("rows"),
                     F.count_if(~kept).alias("rejects"),
                     F.sum(LINE_BYTES).alias("bytes")]
            meta = (pr.all_rows.groupBy(
                F.spark_partition_id().alias("partition_id"))
                .agg(*aggs).collect())
        else:
            meta = [pr.all_rows.agg(*aggs).first()] if aggs else []

        state_docs = None
        if state is not None:
            dates = [d["d"] for d in
                     {d for r in meta for d in r["dates"]}]
            state_docs = state.lookup(spark, pr.parsed, dates=dates)
            if state_docs is not None:
                # two consumers (continuation seeds + routing pins):
                # persist so the pruned state scan runs once per batch;
                # batch-bounded (matched docs only), released below
                state_docs.persist()

        docs = assemble_stage(pr.parsed, cfg, state_docs=state_docs)
        docs = enrich.with_parent(docs, parent_map)
        routed = route.route_docs(
            docs, orphan_sink=cfg.orphan_sink, parent_sink=cfg.parent_sink)
        if state_docs is not None:
            # reference parity: matched docs update in place at their
            # committed index (lib/logship.js:298) — pin sink/route_date
            routed = route.pin_committed_routing(routed, state_docs)

        manifest: Optional[dict] = None
        if state is not None:
            state.upsert(spark, routed.drop("_parent"))
        elif sink_path is not None:
            route.write_routed(routed, sink_path, typed=cfg.typed_sink)
        if rejects_path is not None:
            route.write_rejects(rejects, rejects_path)

        if bookmark is not None:
            manifest = {
                "batch_seq": batch_seq,
                "lineage": [{"partition_id": r["partition_id"],
                             "rows": r["rows"], "bytes": r["bytes"]}
                            for r in sorted(
                                meta, key=lambda r: r["partition_id"])],
                "n_lines": sum(r["rows"] for r in meta),
                "n_rejects": sum(r["rejects"] for r in meta),
            }
            bookmark.commit(batch_seq, manifest)
    finally:
        if multi_consumer and pr.all_rows is not None:
            pr.all_rows.unpersist()
        if state_docs is not None:
            state_docs.unpersist()

    return BatchResult(batch_seq=batch_seq, docs=docs, routed=routed,
                       rejects=rejects, manifest=manifest)


def run_batch_with_retry(
    spark: SparkSession,
    lines: DataFrame,
    cfg: PipelineConfig,
    *,
    max_tries: int = 3,
    backoff_sec: float = 60.0,
    sleep=None,
    **kwargs,
) -> BatchResult:
    """Job-level batch retry — the reference's failure policy
    (/root/reference/lib/logship.js:169-192): on error, retry the WHOLE
    batch after ``backoff_sec``, at most ``max_tries`` attempts, then
    re-raise (the process-shutdown analog; the cluster manager restarts
    the job). Replay is safe by construction: the sink upsert is
    idempotent (replace-by-qid) and the bookmark manifest commits last,
    so a half-failed attempt leaves no visible partial state. The
    reference clears its in-memory pfDocs before retrying; here each
    attempt re-derives every frame from the immutable input, so there
    is nothing to clear. ``sleep`` is injectable for tests."""
    import time as _time

    do_sleep = sleep if sleep is not None else _time.sleep
    for attempt in range(1, max_tries + 1):
        try:
            return run_batch(spark, lines, cfg, **kwargs)
        except Exception as exc:  # noqa: BLE001 — policy mirrors reference
            if attempt == max_tries:
                raise
            _log.warning("batch attempt %d/%d failed (%s); retrying in %ss",
                         attempt, max_tries, exc, backoff_sec)
            do_sleep(backoff_sec)
    raise AssertionError("unreachable")


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    cfg: PipelineConfig,
    *,
    state: Optional[StateStore] = None,
    parent_map: Optional[DataFrame] = None,
    bookmark: Optional[BookmarkStore] = None,
    stop_after: Optional[int] = None,
) -> list[BatchResult]:
    """Micro-batch loop over the pages table.

    Already-committed batches are skipped via the bookmark store —
    the resume path (reference: safe-log-reader bookmark). Batches run
    in ascending batch_seq so cross-batch event order is preserved
    (earlier batches commit first, lib/logship.js:112,316).

    Before any input scan, the state sink is preflight-probed
    (reference: ES ping before the reader starts, lib/logship.js:35-45)
    — a misconfigured sink aborts here, not after the parse work.
    """
    if state is not None:
        state.preflight(spark)
    lines = with_batch_seq(pages_to_lines(pages), cfg.n_batches)
    results: list[BatchResult] = []
    for b in range(cfg.n_batches):
        if bookmark is not None and bookmark.is_processed(b):
            continue
        batch_lines = lines.filter(F.col("batch_seq") == b)
        results.append(run_batch(
            spark, batch_lines, cfg, batch_seq=b, state=state,
            parent_map=parent_map, bookmark=bookmark))
        if stop_after is not None and len(results) >= stop_after:
            break
    return results
