"""Per-layer metrics of a traced run: the benchmark's spans around
calls into the program, plus the event-log layer split of the same
run (``eventlog.py``), per operation and then the median over
operations."""

from __future__ import annotations

import os
import statistics
from collections import Counter
from types import SimpleNamespace

from . import eventlog
from .workloads import CORPUS_QUERIES, passes

# event-log window key → per-layer metric name
_FROM_LOG = {
    "operators.parse.python_s": "operators.parse.python_s",
    "operators.parse.init_s": "operators.parse.init_s",
    "operators.parse.rows_out": "operators.parse.rows_out",
    "operators.assemble.python_s": "operators.assemble.python_s",
    "operators.assemble.init_s": "operators.assemble.init_s",
    "operators.assemble.rows_out": "operators.assemble.docs_out",
    "operators.assemble.max_partition_rows":
        "operators.assemble.max_partition_rows",
    "plans.pipeline.shuffle_bytes": "plans.pipeline.shuffle_bytes",
    "plans.pipeline.fetch_wait_s": "plans.pipeline.fetch_wait_s",
    "jobs": "plans.pipeline.jobs",
    "slot_idle_frac": "plans.pipeline.slot_idle_frac",
    "sources.pages.scan_s": "sources.pages.scan_s",
    "sources.pages.bytes_read": "sources.pages.bytes_read",
    "operators.route.write_s": "operators.route.write_s",
    "operators.route.files": "operators.route.files",
    "operators.route.bytes": "operators.route.bytes",
    "operators.route.commit_s": "operators.route.commit_s",
    "operators.state.matched_docs": "operators.state.matched_docs",
    "operators.state.partitions": "operators.state.partitions_rewritten",
    "operators.state.bytes": "operators.state.bytes_written",
    "operators.state.files": "operators.state.files",
    "operators.dedup.candidate_rows": "operators.dedup.candidate_rows",
    "operators.dedup.verified_rows": "operators.dedup.verified_rows",
    "unattributed.task_s": "unattributed.task_s",
}


def _op_values(log: eventlog.EventLog, spans, op, unmapped: Counter) -> dict:
    w = log.window(op.start, op.end)
    unmapped.update(w.unmapped)
    v = {name: w.values.get(key, 0.0) for key, name in _FROM_LOG.items()}
    upserts = spans.within("operators.state.upsert", op.start, op.end)
    commits = spans.within("sources.bookmark.commit", op.start, op.end)
    batches = spans.within("run_batch", op.start, op.end)
    v["operators.state.upsert_s"] = sum(s.dur for s in upserts)
    v["sources.bookmark.commit_s"] = sum(s.dur for s in commits)
    # the manifest: everything run_batch does between the upsert and
    # the commit (lineage and the two counts)
    manifest_jobs, manifest_s = 0, 0.0
    for up, cm in zip(upserts, commits):
        manifest_jobs += log.window(up.end, cm.start).values["jobs"]
        manifest_s += cm.end - up.end
    v["sources.bookmark.jobs"] = manifest_jobs
    v["sources.bookmark.manifest_s"] = manifest_s
    v["plans.pipeline.batch_s"] = statistics.median(
        [s.dur for s in batches] or [op.dur])
    # state rows written (carry rows of rewritten partitions included)
    # per doc the batches routed
    routed = op.counts.get("routed_docs", 0)
    rows = w.values.get("operators.state.rows_written", 0.0)
    v["operators.state.write_amp"] = rows / routed if routed else 0.0
    v["operators.parse.rejects"] = op.counts.get("rejects", 0)
    v["operators.enrich.parent_hits"] = op.counts.get("parent_hits", 0)
    return v


def collect(ctx, workload, ops, work: str, slots: int) -> dict:
    path = eventlog.find_app_log(os.path.join(work, "eventlog"))
    log = eventlog.EventLog(eventlog.load_events(path), ctx.roots, slots)
    unmapped: Counter = Counter()
    units = ops
    if workload.name == "corpus_queries":
        # the unit is one pass over the queries: one event-log window
        units = [SimpleNamespace(start=p[0].start, end=p[-1].end,
                                 dur=sum(o.dur for o in p), counts={})
                 for p in passes(ops)]
    per_unit = [_op_values(log, ctx.spans, u, unmapped) for u in units]
    values = {k: statistics.median([v[k] for v in per_unit])
              for k in per_unit[0]}
    for q in CORPUS_QUERIES:
        durs = [o.dur for o in ops if o.name == q]
        values[f"query.{q}_s"] = statistics.median(durs) if durs else 0.0
    values["unattributed.node_kinds"] = len(unmapped)
    return {"values": values, "unmapped": dict(unmapped),
            "per_op": per_unit}
