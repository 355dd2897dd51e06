#!/usr/bin/env python3
"""Record the small event log the mapper tests read.

    python3 perfbench/tests/make_fixture.py

Runs, on a traced session: one stateless batch to a sink over 30
generated urls, the same lines cut into two batches through a state
table and a bookmark, and the ``neardup_clusters`` query over the
committed documents. It keeps only the event fields ``eventlog.py``
reads, replaces the work directory with ``/data/bench``, and stores
each phase's time window plus the counts the mapper should recover,
taken from the inputs' closed form, not from Spark.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
OUT = os.path.join(HERE, "data", "eventlog_small.json.gz")
NEUTRAL = "/data/bench"


def _trim_plan(info: dict) -> dict:
    return {"nodeName": info["nodeName"],
            "simpleString": info.get("simpleString", ""),
            "metrics": [{"name": m["name"], "accumulatorId": m["accumulatorId"],
                         "metricType": m["metricType"]}
                        for m in info.get("metrics", [])],
            "children": [_trim_plan(c) for c in info.get("children", [])]}


def trim(e: dict) -> dict | None:
    kind = e["Event"].rsplit(".", 1)[-1]
    if kind in ("SparkListenerSQLExecutionStart",
                "SparkListenerSQLAdaptiveExecutionUpdate"):
        out = {"Event": kind, "executionId": e["executionId"],
               "sparkPlanInfo": _trim_plan(e["sparkPlanInfo"])}
        if "time" in e:
            out["time"] = e["time"]
        return out
    if kind == "SparkListenerDriverAccumUpdates":
        return {"Event": kind, "accumUpdates": e["accumUpdates"]}
    if kind == "SparkListenerJobStart":
        return {"Event": kind, "Job ID": e["Job ID"],
                "Submission Time": e["Submission Time"],
                "Stage IDs": e["Stage IDs"]}
    if kind == "SparkListenerStageCompleted":
        info = e["Stage Info"]
        return {"Event": kind, "Stage Info": {
            "Stage ID": info["Stage ID"],
            "Accumulables": [{"ID": a["ID"], "Value": a.get("Value")}
                             for a in info.get("Accumulables", [])
                             if not str(a.get("Name", "")).startswith(
                                 "internal.")]}}
    if kind == "SparkListenerTaskEnd":
        m = e.get("Task Metrics") or {}
        return {"Event": kind, "Stage ID": e["Stage ID"], "Task Metrics": {
            "Executor Run Time": m.get("Executor Run Time", 0),
            "Shuffle Read Metrics": {"Total Records Read": (
                m.get("Shuffle Read Metrics") or {}).get(
                    "Total Records Read", 0)}}}
    return None


def main() -> None:
    sys.path.insert(0, ROOT)
    import numpy as np

    from perfbench import eventlog, inputs, oracle
    from perfbench.run import build_session
    from perfbench.workloads import SLOTS
    from perfbench.trace import stop_session

    import __spark_entry__ as entry
    from log_ship_elastic_postfix_spark.operators.state import StateStore
    from log_ship_elastic_postfix_spark.plans.pipeline import (
        PipelineConfig, run_batch)
    from log_ship_elastic_postfix_spark.sources.bookmark import BookmarkStore
    from log_ship_elastic_postfix_spark.sources.pages import (
        pages_to_lines, with_batch_seq)

    work = os.path.join(ROOT, ".perfbench_fixture")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = ROOT
    spark = build_session(work, trace=True, slots=SLOTS)
    spec = inputs.PagesSpec(n_urls=30, n_hot=1, hot_lines=8)
    rng = np.random.default_rng(7)
    rows = inputs.page_rows(spec)
    pages = os.path.join(work, "pages")
    inputs.stage_pages(spec, pages, rng, rows)
    batch_paths, batch_of = inputs.stage_incremental(
        spec, os.path.join(work, "inc"), 2, rng)
    corpus = os.path.join(work, "corpus")
    inputs.stage_corpus(os.path.join(ROOT, "perfbench", "data"), corpus, rng)
    windows = {}
    try:
        t0 = time.time()
        run_batch(spark, with_batch_seq(pages_to_lines(
            spark.read.parquet(pages)), 1), PipelineConfig(),
            sink_path=os.path.join(work, "sink"))
        windows["batch"] = [t0, time.time()]

        state_path = os.path.join(work, "state")
        state = StateStore(state_path)
        bookmark = BookmarkStore(os.path.join(work, "bookmark"))
        for b, path in enumerate(batch_paths):
            t0 = time.time()
            run_batch(spark, pages_to_lines(spark.read.parquet(path)),
                      PipelineConfig(), batch_seq=b, state=state,
                      bookmark=bookmark)
            windows[f"state_batch_{b}"] = [t0, time.time()]

        t0 = time.time()
        entry.queries()["neardup_clusters"](spark, corpus).toPandas()
        windows["neardup_clusters"] = [t0, time.time()]
    finally:
        stop_session(spark)

    log_dir = os.path.join(work, "eventlog")
    events = [t for t in map(trim, eventlog.load_events(
        eventlog.find_app_log(log_dir))) if t is not None]
    # qids with a qid-bearing line in both batches: the lookup matches
    qid_batches: dict[int, set] = {}
    for u, li, b in zip(rows["uidx"], rows["li"], batch_of):
        if (u % 10, li) not in inputs.QID_LESS:
            qid_batches.setdefault(u, set()).add(b)
    sql = entry.oracle_sql()["minhash_neardup"]
    pairs = oracle.run_oracle(sql, {
        t: os.path.join(ROOT, "perfbench", "data", f"{t}.parquet")
        for t in inputs.CORPUS_TABLES})
    fixture = {
        "roots": {"pages": [pages, *batch_paths], "state": [state_path]},
        "windows": windows,
        "expect": {
            "batch_lines": spec.total_lines(),
            "batch_docs": spec.n_urls,
            "matched_docs": sum(1 for bs in qid_batches.values()
                                if bs == {0, 1}),
            "verified_pairs": len(pairs),
        },
        "events": events,
    }
    text = json.dumps(fixture, separators=(",", ":")).replace(work, NEUTRAL)
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with gzip.open(OUT, "wt") as fh:
        fh.write(text)
    shutil.rmtree(work, ignore_errors=True)
    print(f"wrote {OUT} ({len(text)} bytes, {len(events)} events)")


if __name__ == "__main__":
    main()
