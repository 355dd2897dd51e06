"""StateStore cost pins: with committed state, the upsert evaluates
its input exactly once (the detect_noop anti-join, the carry union and
the write all read one materialization, whose job also observes the
touched dates), and that materialization keeps the write's file count
(a ``persist`` of the input would keep every shuffle partition and
multiply the files per rewritten partition). ``read`` answers an empty
store without Spark and infers the schema once between writes."""

from __future__ import annotations

import glob
import os

import uuid

from log_ship_elastic_postfix_spark import datagen
from log_ship_elastic_postfix_spark.operators.state import StateStore
from log_ship_elastic_postfix_spark.plans.pipeline import (
    PipelineConfig, run_pipeline)

COLS = ["qid", "sink", "route_date", "payload"]


def test_upsert_evaluates_input_once(spark, tmp_path):
    """With state present the input's Python stage runs once per row;
    evaluated lazily per action it ran four times per row here."""
    store = StateStore(str(tmp_path / "state"))
    committed = [(f"q{i}", "postfix-orphan", f"2024-07-0{1 + i % 2}", "v1")
                 for i in range(6)]
    assert store.upsert(spark, spark.createDataFrame(committed, COLS))

    rows_seen = spark.sparkContext.accumulator(0)

    def payload(batches):
        for pdf in batches:
            rows_seen.add(len(pdf))
            yield pdf.assign(payload="v2-" + pdf["qid"])

    # q0/q1 change, q6 is new; the Python passenger stands in for the
    # pipeline's fold, which no optimizer rule can prune or dedupe
    keys = spark.createDataFrame(
        [("q0", "postfix-orphan", "2024-07-01"),
         ("q1", "postfix-orphan", "2024-07-02"),
         ("q6", "postfix-orphan", "2024-07-01")],
        "qid string, sink string, route_date string")
    incoming = keys.mapInPandas(
        payload, "qid string, sink string, route_date string, "
                 "payload string")
    assert store.upsert(spark, incoming)

    assert rows_seen.value == 3     # one evaluation per incoming row
    got = {r["qid"]: r["payload"] for r in store.read(spark).collect()}
    assert got == {"q0": "v2-q0", "q1": "v2-q1", "q2": "v1", "q3": "v1",
                   "q4": "v1", "q5": "v1", "q6": "v2-q6"}


def test_upsert_files_per_rewritten_partition(spark, tmp_path):
    """A two-batch pipeline run: the second batch's upsert rewrites the
    partitions it changes with no more files than the lazy plan's
    AQE-coalesced write made (two per partition here: one from the
    incoming docs, one from the carried rows)."""
    pages = datagen.generate_pages(spark, 20, n_hot=1, hot_lines=20,
                                   n_partitions=2)
    store = StateStore(str(tmp_path / "state"))
    run_pipeline(spark, pages, PipelineConfig(n_batches=2), state=store)
    parts = glob.glob(str(tmp_path / "state" / "sink=*" / "route_date=*"))
    assert parts
    files = {os.path.basename(p): len(glob.glob(f"{p}/*.parquet"))
             for p in parts}
    assert max(files.values()) <= 2, files


def _jobs_run_by(spark, fn):
    """(result of fn(), number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"g-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)  # type: ignore[arg-type]
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_empty_store_runs_no_job(spark, tmp_path):
    """A preflighted store with no committed docs reads as None from a
    directory listing: no schema-inference job, no failed read."""
    store = StateStore(str(tmp_path / "state"))
    store.preflight(spark)
    assert store.exists(spark)
    out, jobs = _jobs_run_by(spark, lambda: store.read(spark))
    assert out is None and jobs == 0


def test_read_reuses_schema(spark, tmp_path):
    """A repeated read runs no job and equals a fresh inferred read;
    after an upsert that keeps the columns the next read sees the new
    docs, again with no job; a write with other columns makes the next
    read infer them."""
    path = str(tmp_path / "state")
    store = StateStore(path)
    store.upsert(spark, spark.createDataFrame(
        [("q0", "postfix-orphan", "2024-07-01", "v1")], COLS))
    first = store.read(spark)
    again, jobs = _jobs_run_by(spark, lambda: store.read(spark))
    assert jobs == 0
    fresh = spark.read.parquet(path)
    assert again.schema == first.schema == fresh.schema
    assert sorted(again.collect()) == sorted(fresh.collect())

    store.upsert(spark, spark.createDataFrame(
        [("q1", "postfix-orphan", "2024-07-02", "v1")], COLS))
    after, jobs = _jobs_run_by(spark, lambda: store.read(spark))
    assert jobs == 0
    assert after.schema == spark.read.parquet(path).schema
    assert {r["qid"] for r in after.collect()} == {"q0", "q1"}

    # an int payload, then a long one: the union widens the committed
    # column, so the files change type and the schema is inferred anew
    other = str(tmp_path / "other")
    store = StateStore(other)
    cols = "qid string, sink string, route_date string, payload int"
    store.upsert(spark, spark.createDataFrame(
        [("q0", "postfix-orphan", "2024-07-01", 1)], cols))
    assert dict(store.read(spark).dtypes)["payload"] == "int"
    store.upsert(spark, spark.createDataFrame(
        [("q1", "postfix-orphan", "2024-07-01", 2**40)],
        cols.replace("int", "bigint")))
    got = store.read(spark)
    assert got.schema == spark.read.parquet(other).schema
    assert dict(got.dtypes)["payload"] == "bigint"
    assert sorted(r["payload"] for r in got.collect()) == [1, 2**40]
