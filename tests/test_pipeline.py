"""End-to-end pipeline tests: the golden mail.log slice, per-sink
routed-count parity against a hand-computed oracle, the byte-identical
text-per-url invariant, idempotent replay, and bookmark resume."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from log_ship_elastic_postfix_spark import datagen
from log_ship_elastic_postfix_spark.operators.state import StateStore
from log_ship_elastic_postfix_spark.plans.pipeline import (
    PipelineConfig, run_batch, run_pipeline)
from log_ship_elastic_postfix_spark.sources.bookmark import BookmarkStore
from log_ship_elastic_postfix_spark.sources.pages import (
    pages_to_lines, with_batch_seq)

CFG = PipelineConfig()

# hand-computed per-scenario expectations (independent of the fold
# implementation): (n_events, isFinal, rejects_per_url)
SCENARIO_EXPECT = {
    0: (3, True, 0),   # queued, smtp, removed
    1: (3, True, 0),   # dup smtp suppressed
    2: (3, True, 0),   # queued, local, removed (pickup: no event)
    3: (4, True, 0),   # queued, bounced, error, removed
    4: (3, True, 0),   # queued, released-from-hold, removed
    5: (4, True, 0),   # rspamd, queued, smtp, removed
    6: (2, True, 2),   # queued, removed (+spamd & garbage rejects)
    7: (3, True, 0),   # queued, expired, removed
    8: (2, False, 0),  # queued, deferred smtp — still open
    9: (2, True, 1),   # queued, removed (scache line is qid-less)
}


@pytest.fixture(scope="module")
def small_pages(spark):
    return datagen.generate_pages(spark, 50, n_hot=2, hot_lines=40,
                                  n_partitions=4).cache()


def test_text_extraction_invariant(spark, small_pages):
    """Byte-identical extracted text per url (BASELINE.json input_hint)."""
    from log_ship_elastic_postfix_spark.sources.pages import (
        text_invariant_violations)
    assert text_invariant_violations(small_pages).count() == 0
    assert pages_to_lines(small_pages).count() == small_pages.count()


def test_golden_mail_log_slice(spark):
    """The reference's minimum end-to-end oracle (test/mail.log →
    1 doc, 2 events, 3 rejects)."""
    lines = datagen.golden_mail_log(spark)
    res = run_batch(spark, lines, CFG)
    docs = res.docs.collect()
    assert len(docs) == 1
    d = docs[0].asDict(recursive=True)
    assert d["qid"] == "3mTESTqid01"
    assert d["from"] == ""              # null sender
    assert d["size"] == "2666"
    assert d["nrcpt"] == "2"
    assert d["delay"] == "0.51"
    assert d["message-id"] == "G1@web.example.net"
    assert d["isFinal"] is False
    assert d["n_events"] == 2           # queued + smtp delivery
    assert res.rejects.count() == 3     # spamd + madeup + empty line


def test_scenario_docs_and_sink_parity(spark, small_pages):
    """Per-sink routed-count parity vs the hand-computed oracle."""
    lines = with_batch_seq(pages_to_lines(small_pages), 1)
    res = run_batch(spark, lines, CFG)
    docs = {r["qid"]: r.asDict(recursive=True) for r in res.docs.collect()}
    assert len(docs) == 50              # one doc per url

    n_urls = 50
    per_scen = n_urls // 10
    for uidx in range(n_urls):
        scen = uidx % 10
        qid = "3" + _b36(uidx) + "zXy"
        exp_events, exp_final, _ = SCENARIO_EXPECT[scen]
        if uidx < 2:                    # hot urls get +40 smtp events
            exp_events += 40
        d = docs[qid]
        assert d["n_events"] == exp_events, (uidx, scen, d["n_events"])
        assert d["isFinal"] is exp_final, (uidx, scen)

    exp_rejects = sum(per_scen * SCENARIO_EXPECT[s][2] for s in range(10))
    assert res.rejects.count() == exp_rejects

    counts = {r["sink"]: r["doc_count"]
              for r in res.routed.groupBy("sink").count()
              .withColumnRenamed("count", "doc_count").collect()}
    assert counts == {"postfix-orphan": 50}


def test_parent_routing(spark, small_pages):
    """Docs with a parent id route to the parent sink (J2 + S4)."""
    lines = with_batch_seq(pages_to_lines(small_pages), 1)
    parent_map = spark.createDataFrame(
        [("3" + _b36(u) + "zXy", f"parent-{u}") for u in range(5)],
        "qid string, parent string")
    res = run_batch(spark, lines, CFG, parent_map=parent_map)
    counts = {r["sink"]: r[1] for r in
              res.routed.groupBy("sink").count().collect()}
    assert counts == {"postfix-orphan": 45, "postfix-parent": 5}


def test_state_replay_idempotent(spark, small_pages, tmp_path):
    """Running the same batch twice against the state store yields an
    identical store (the reference's create-fails/detect_noop replay
    guarantee, lib/logship.js:361-379)."""
    lines = with_batch_seq(pages_to_lines(small_pages), 1)
    store = StateStore(str(tmp_path / "state"))
    run_batch(spark, lines, CFG, state=store)
    first = {r["qid"]: r.asDict(recursive=True)
             for r in store.read(spark).collect()}
    run_batch(spark, lines, CFG, state=store)   # replay
    second = {r["qid"]: r.asDict(recursive=True)
              for r in store.read(spark).collect()}
    assert first == second
    assert len(first) == 50


def test_cross_batch_merge(spark, tmp_path):
    """Lines for one qid split across two batches merge into one doc
    equal to the single-batch fold (J1 continuation)."""
    pages = datagen.generate_pages(spark, 10, n_partitions=2)
    lines = pages_to_lines(pages)
    # split by line parity: first half of each url's lines, then rest
    l1 = lines.filter(F.col("line_no") % 2 == 0)
    l2 = lines.filter(F.col("line_no") % 2 == 1)
    store = StateStore(str(tmp_path / "state2"))
    run_batch(spark, l1, CFG, batch_seq=0, state=store)
    run_batch(spark, l2, CFG, batch_seq=1, state=store)
    merged = {r["qid"]: r.asDict(recursive=True)
              for r in store.read(spark).drop("sink", "route_date").collect()}

    oneshot = run_batch(spark, lines, CFG).docs
    expected = {r["qid"]: r.asDict(recursive=True) for r in oneshot.collect()}
    assert set(merged) == set(expected)
    for qid in expected:
        # event *sets* must match; ordering across batches follows
        # batch commit order (earlier batch's events first), while the
        # one-shot fold uses line order — same set, same count.
        m, e = merged[qid], expected[qid]
        assert m["n_events"] == e["n_events"], qid
        assert sorted(map(str, m["events"])) == sorted(map(str, e["events"])), qid
        assert m["isFinal"] == e["isFinal"]


def test_bookmark_resume(spark, small_pages, tmp_path):
    """Kill-and-resume: processing with a bookmark skips committed
    batches and converges to the uninterrupted run's state."""
    cfg = PipelineConfig(n_batches=4)
    store_a = StateStore(str(tmp_path / "sa"))
    bm = BookmarkStore(str(tmp_path / "bm"))
    # "crash" after two batches
    run_pipeline(spark, small_pages, cfg, state=store_a, bookmark=bm,
                 stop_after=2)
    assert len(bm.processed_batches()) == 2
    # resume: only the remaining batches run
    results = run_pipeline(spark, small_pages, cfg, state=store_a, bookmark=bm)
    assert len(results) == 2
    assert len(bm.processed_batches()) == 4

    # equivalent to an uninterrupted run
    store_b = StateStore(str(tmp_path / "sb"))
    run_pipeline(spark, small_pages, PipelineConfig(n_batches=4),
                 state=store_b)
    a = {r["qid"]: r.asDict(recursive=True)
         for r in store_a.read(spark).collect()}
    b = {r["qid"]: r.asDict(recursive=True)
         for r in store_b.read(spark).collect()}
    assert a == b
    # manifests carry per-partition lineage metrics
    m = bm.read_manifest(0)
    assert m["n_lines"] > 0 and isinstance(m["lineage"], list)


def test_manifest_counts_match_counts(spark, small_pages, tmp_path):
    """The manifest's line and reject counts, taken in one aggregate,
    equal separate count()s of the grok output and of the rejects,
    qid-less rejects included, and the hand-computed reject count."""
    from log_ship_elastic_postfix_spark.plans.pipeline import parse_stage
    lines = with_batch_seq(pages_to_lines(small_pages), 1)
    pr = parse_stage(lines, CFG)
    reasons = {r["reject_reason"] for r in pr.rejects.collect()}
    assert "no_qid" in reasons and len(reasons) > 1

    bm = BookmarkStore(str(tmp_path / "bm"))
    run_batch(spark, lines, CFG, bookmark=bm)
    m = bm.read_manifest(0)
    assert m["n_lines"] == pr.all_rows.count() == lines.count()
    assert m["n_rejects"] == pr.rejects.count() == sum(
        5 * SCENARIO_EXPECT[s][2] for s in range(10))


def test_manifest_lineage_per_input_partition(spark, small_pages,
                                              tmp_path):
    """The manifest's lineage, taken from the persisted grok output,
    equals a per-partition count and line-byte sum over the input,
    ordered by partition id; the byte passenger stays out of the
    rejects."""
    lines = with_batch_seq(pages_to_lines(small_pages), 1)
    bm = BookmarkStore(str(tmp_path / "bm"))
    res = run_batch(spark, lines, CFG, bookmark=bm)
    want = [r.asDict() for r in
            lines.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count(F.lit(1)).alias("rows"),
                 F.sum(F.length("line")).alias("bytes"))
            .orderBy("partition_id").collect()]
    m = bm.read_manifest(0)
    assert len(want) > 1 and m["lineage"] == want
    assert sum(p["rows"] for p in m["lineage"]) == m["n_lines"]
    assert res.rejects.columns == ["batch_seq", "line_no", "reject_reason"]


def _b36(n: int) -> str:
    digits = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    if n == 0:
        return "0"
    out = ""
    while n:
        out = digits[n % 36] + out
        n //= 36
    return out
