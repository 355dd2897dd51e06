"""Round-2 behaviors: no-op write suppression, job-level batch retry,
typed sink schema, bookmark validation, LSH degenerate-input bounds,
multi-batch fold ordering, and rspamd/rmilter event parity."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from log_ship_elastic_postfix_spark import datagen
from log_ship_elastic_postfix_spark.operators import dedup
from log_ship_elastic_postfix_spark.operators.assemble import (
    assemble, fold_lines)
from log_ship_elastic_postfix_spark.operators.parse import parse_lines
from log_ship_elastic_postfix_spark.operators.state import StateStore
from log_ship_elastic_postfix_spark.plans.pipeline import (
    PipelineConfig, run_batch, run_batch_with_retry)
from log_ship_elastic_postfix_spark.sources.bookmark import BookmarkStore
from log_ship_elastic_postfix_spark.sources.pages import (
    pages_to_lines, with_batch_seq)

CFG = PipelineConfig()


def _mtimes(root: str) -> dict[str, float]:
    return {p: os.path.getmtime(p)
            for p in glob.glob(f"{root}/**/*.parquet", recursive=True)}


# ------------------------------------------------------ noop suppression
def test_upsert_noop_suppression(spark, tmp_path):
    """Replaying an unchanged batch writes nothing (detect_noop analog,
    lib/logship.js:370) — zero parquet files rewritten."""
    pages = datagen.generate_pages(spark, 20, n_partitions=2)
    lines = with_batch_seq(pages_to_lines(pages), 1)
    store = StateStore(str(tmp_path / "state"))
    res = run_batch(spark, lines, CFG, state=store)
    before = _mtimes(store.path)
    assert before

    # identical replay → upsert short-circuits
    wrote = store.upsert(spark, res.routed.drop("_parent"))
    assert wrote is False
    assert _mtimes(store.path) == before

    # a genuinely new doc → write happens
    changed = res.routed.drop("_parent").withColumn(
        "qid", F.concat(F.col("qid"), F.lit("X")))
    assert store.upsert(spark, changed) is True
    assert _mtimes(store.path) != before


def test_upsert_safe_under_static_overwrite_mode(spark, tmp_path):
    """upsert must not lose untouched partitions even when the session
    default is static partitionOverwriteMode (it forces dynamic for the
    write and restores the previous value)."""
    pages = datagen.generate_pages(spark, 30, n_partitions=2)
    lines = with_batch_seq(pages_to_lines(pages), 1)
    store = StateStore(str(tmp_path / "state"))
    run_batch(spark, lines, CFG, state=store)
    all_docs = store.read(spark)
    dates = sorted(r["route_date"] for r in
                   all_docs.select("route_date").distinct().collect())
    assert len(dates) >= 2
    n_before = all_docs.count()

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        # rewrite only one date partition, with modified content
        one_day = (store.read(spark)
                   .filter(F.col("route_date") == dates[0])
                   .withColumn("host", F.lit("rewritten")))
        assert store.upsert(spark, one_day) is True
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    after = store.read(spark)
    assert after.count() == n_before          # other partitions intact
    assert after.filter(F.col("route_date") == dates[1]).count() > 0
    assert spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode") == "dynamic"


# --------------------------------------------------------------- retry
class _FlakyStore(StateStore):
    def __init__(self, path: str, failures: int):
        super().__init__(path)
        self.failures = failures
        self.attempts = 0

    def upsert(self, spark, incoming, detect_noop=True):
        self.attempts += 1
        if self.failures > 0:
            self.failures -= 1
            raise RuntimeError("transient sink failure")
        return super().upsert(spark, incoming, detect_noop=detect_noop)


def test_batch_retry_recovers_transient_failure(spark, tmp_path):
    pages = datagen.generate_pages(spark, 15, n_partitions=2)
    lines = with_batch_seq(pages_to_lines(pages), 1)

    flaky = _FlakyStore(str(tmp_path / "flaky"), failures=1)
    naps: list[float] = []
    run_batch_with_retry(spark, lines, CFG, state=flaky,
                         backoff_sec=60, sleep=naps.append)
    assert flaky.attempts == 2
    assert naps == [60]

    clean = StateStore(str(tmp_path / "clean"))
    run_batch(spark, lines, CFG, state=clean)
    a = {r["qid"]: r.asDict(recursive=True)
         for r in flaky.read(spark).collect()}
    b = {r["qid"]: r.asDict(recursive=True)
         for r in clean.read(spark).collect()}
    assert a == b


def test_batch_retry_exhausts_and_raises(spark, tmp_path):
    pages = datagen.generate_pages(spark, 5, n_partitions=1)
    lines = with_batch_seq(pages_to_lines(pages), 1)
    flaky = _FlakyStore(str(tmp_path / "flaky2"), failures=99)
    with pytest.raises(RuntimeError, match="transient sink failure"):
        run_batch_with_retry(spark, lines, CFG, state=flaky,
                             max_tries=3, sleep=lambda s: None)
    assert flaky.attempts == 3  # reference policy: ≤3 tries then abort


# ----------------------------------------------------------- typed sink
def test_typed_sink_schema_and_values(spark, tmp_path):
    """write_routed applies the index-map typing (S7): the sink parquet
    carries timestamp/float/double columns while in-flight docs stay
    strings (reference contract, test/logship.js:26-27)."""
    pages = datagen.generate_pages(spark, 10, n_partitions=2)
    lines = with_batch_seq(pages_to_lines(pages), 1)
    sink = str(tmp_path / "sink")
    res = run_batch(spark, lines, CFG, sink_path=sink)

    # in-flight stays all-string
    inflight = dict(res.docs.dtypes)
    assert inflight["size"] == "string" and inflight["date"] == "string"

    out = spark.read.parquet(sink)
    t = dict(out.dtypes)
    assert t["date"] == "timestamp"
    assert t["delay"] == "float"
    assert t["nrcpt"] == "float"
    assert t["size"] == "double"
    ev = out.schema["events"].dataType.elementType
    assert ev["date"].dataType.typeName() == "timestamp"

    d = out.filter(F.col("qid") == "30zXy").collect()[0]  # scenario 0
    assert d["size"] == 2666.0
    assert d["nrcpt"] == pytest.approx(2.0)
    assert d["delay"] == pytest.approx(0.51)
    assert d["date"] is not None
    assert all(e["date"] is not None for e in d["events"])


def test_rejects_dead_letter_sink(spark, tmp_path):
    """Parse rejects persist to a reason-partitioned dead-letter table
    with counts matching the in-flight reject frame."""
    pages = datagen.generate_pages(spark, 30, n_partitions=2)  # scen 6/9 reject
    lines = with_batch_seq(pages_to_lines(pages), 1)
    rp = str(tmp_path / "rejects")
    res = run_batch(spark, lines, CFG, sink_path=str(tmp_path / "sink"),
                    rejects_path=rp)
    stored = spark.read.parquet(rp)
    assert stored.count() == res.rejects.count() > 0
    reasons = {r["reject_reason"] for r in
               stored.select("reject_reason").distinct().collect()}
    assert reasons == {"prog_filtered", "envelope_miss", "no_qid"}


# ----------------------------------------------------- bookmark validate
def test_bookmark_rejects_file_path(tmp_path):
    f = tmp_path / "not_a_dir"
    f.write_text("x")
    with pytest.raises(NotADirectoryError, match="not a directory"):
        BookmarkStore(str(f))


def test_bookmark_creates_nested_dir(tmp_path):
    bm = BookmarkStore(str(tmp_path / "a" / "b" / "bm"))
    assert bm.processed_batches() == []


# ------------------------------------------------- LSH degenerate inputs
def test_lsh_empty_docs_never_bucket(spark):
    """10⁵ un-shingle-able docs (the web-scale empty-page flood) must
    produce ZERO candidate pairs and finish in bounded time — round 1
    gave them all one shared signature (one mega-bucket per band)."""
    empties = spark.range(0, 100_000, 1, 8).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, F.lit("")).otherwise(F.lit("one two"))
        .alias("text"))  # "" and sub-3-token docs both un-shingle-able
    cand = dedup.minhash_lsh_candidates(empties)
    assert cand.count() == 0
    sim = dedup.simhash_candidates(empties)
    assert sim.count() == 0


def test_lsh_bucket_cap_drops_and_logs(spark, caplog):
    """An over-cap bucket (here: 300 identical docs vs cap 50) is
    dropped with a logged count — no silent caps, no O(bucket²) blowup;
    distinct near-dups below the cap are still found."""
    import logging

    rows = [(i, "the quick brown fox jumps over the lazy dog wow")
            for i in range(300)]
    rows += [(1000, "completely different text about spark catalyst tungsten engine"),
             (1001, "completely different text about spark catalyst tungsten engines")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with caplog.at_level(logging.WARNING,
                         logger="log_ship_elastic_postfix_spark.operators.dedup"):
        pairs = dedup.near_duplicates_minhash(
            df, threshold=0.5, max_bucket_size=50)
        found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1000, 1001) in found
    assert not any(a < 300 and b < 300 for a, b in found)  # capped away
    assert any("over-cap" in r.message for r in caplog.records)


# ---------------------------------------------- multi-batch fold order
def _sparse_doc(doc: dict) -> dict:
    """A doc with null event fields dropped (the fold's own event form)."""
    return {**doc, "events": [{k: v for k, v in e.items() if v is not None}
                              for e in doc["events"]]}


def _oracle_docs(parsed) -> dict:
    """Per-qid fold_lines over the parsed rows in (batch_seq, line_no)
    order: the sequential fold the distributed one must reproduce."""
    rows = sorted((r.asDict() for r in parsed.collect()),
                  key=lambda r: (r["batch_seq"], r["line_no"]))
    by_qid: dict[str, list[dict]] = {}
    for r in rows:
        by_qid.setdefault(r["qid"], []).append(
            {k: v for k, v in r.items() if v is not None})
    return {q: fold_lines(rs) for q, rs in by_qid.items()}


def test_fold_orders_by_batch_then_line(spark):
    """line_no restarts per batch, so ordering is only defined by
    (batch_seq, line_no); the fold must honor the composite key
    (round-1 bug: line_no-only ordering picked the wrong hoist)."""
    qid = "3mXbatchQQ"
    b0 = [
        f"Jul 26 04:18:00 mx1 postfix/qmgr[9]: {qid}: from=<a@x>, size=1, nrcpt=1 (queue active)",
        f"Jul 26 04:18:01 mx1 postfix/smtp[9]: {qid}: to=<t@y>, relay=r1, delay=0.111, delays=0.1/0/0/0.01, dsn=2.0.0, status=sent (250 one)",
    ]
    b1 = [
        f"Jul 26 04:18:02 mx1 postfix/smtp[9]: {qid}: to=<t@y>, relay=r2, delay=0.999, delays=0.9/0/0/0.09, dsn=2.0.0, status=sent (250 two)",
        f"Jul 26 04:18:03 mx1 postfix/qmgr[9]: {qid}: removed",
    ]
    rows = ([(0, i + 1, l) for i, l in enumerate(b0)]
            + [(1, i + 1, l) for i, l in enumerate(b1)])  # line_no reused!
    lines = spark.createDataFrame(
        rows, "batch_seq long, line_no long, line string")
    parsed = parse_lines(lines, now=CFG.now).parsed

    plain = {r["qid"]: r.asDict(recursive=True)
             for r in assemble(parsed).collect()}
    assert {q: _sparse_doc(d) for q, d in plain.items()} \
        == _oracle_docs(parsed)
    # last hoist in GLOBAL order is batch 1's delay
    assert plain[qid]["delay"] == "0.999"
    assert plain[qid]["n_events"] == 4


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_fold_matches_oracle_randomized(spark, seed):
    """Randomized multi-batch, multi-qid sweep: interleaved lifecycles,
    duplicate lines, expired/removed orders — the distributed fold must
    equal the sequential per-qid fold_lines oracle."""
    import random

    rng = random.Random(seed)
    qids = [f"3mRND{q}zz" for q in range(6)]
    lines = []
    for b in range(2):
        for i in range(120):
            q = rng.choice(qids)
            kind = rng.randrange(6)
            ts = f"Jul 26 {rng.randrange(24):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}"
            if kind == 0:
                line = f"{ts} mx1 postfix/qmgr[9]: {q}: from=<s{rng.randrange(3)}@x>, size={rng.randrange(999)}, nrcpt=1 (queue active)"
            elif kind == 1:
                line = f"{ts} mx1 postfix/smtp[9]: {q}: to=<t{rng.randrange(4)}@y>, relay=r{rng.randrange(2)}, delay=0.{rng.randrange(9)}, delays=0.1/0/0/0.1, dsn=2.0.0, status=sent (250 ok {rng.randrange(3)})"
            elif kind == 2:
                line = f"{ts} mx1 postfix/qmgr[9]: {q}: removed"
            elif kind == 3:
                line = f"{ts} mx1 postfix/cleanup[9]: {q}: message-id=<m{rng.randrange(3)}@z>"
            elif kind == 4:
                line = f"{ts} mx1 postfix/postsuper[9]: {q}: released from hold"
            else:
                line = f"{ts} mx1 postfix/qmgr[9]: {q}: from=<s@x>, status=expired, returned to sender"
            lines.append((b, i + 1, line))
        # exact duplicate of a random earlier line within the batch
        dup = rng.choice(lines[-120:])
        lines.append((b, 121, dup[2]))
    df = spark.createDataFrame(
        lines, "batch_seq long, line_no long, line string")
    parsed = parse_lines(df, now=CFG.now).parsed
    docs = {r["qid"]: _sparse_doc(r.asDict(recursive=True))
            for r in assemble(parsed).collect()}
    assert docs == _oracle_docs(parsed)


# ------------------------------------------------ rspamd/rmilter parity
def test_rspamd_event_keeps_queue_id_no_rmilter_synthesis():
    """Events strip only qid/host/prog (lib/postfix-doc.js:280-282) —
    queue_id stays in the event body; rspamd lines never get
    rmilter_spam_* actions even when spam_scan-shaped keys appear."""
    doc = fold_lines([{
        "qid": "795941FED7", "host": "mx1", "prog": "rspamd",
        "date": "D1", "queue_id": "795941FED7", "score": "4.50",
        "spam_scan": "clean",
        "raw_msg": "scan done: queue-id: <795941FED7>; score=4.50",
    }])
    assert doc["n_events"] == 1
    e = doc["events"][0]
    assert e["queue_id"] == "795941FED7"
    assert e["action"] == "rspamd_scan_result"
    assert "qid" not in e and "host" not in e and "prog" not in e


def test_rmilter_synthesis_still_applies():
    doc = fold_lines([{
        "qid": "Q", "host": "mx1", "prog": "rmilter", "date": "D1",
        "queue_id": "Q", "spam_scan": "spam",
        "raw_msg": "mlfi_eom: queue_id: <Q>; spam_scan: spam",
    }])
    e = doc["events"][0]
    assert e["action"] == "rmilter_spam_spam"
    assert e["queue_id"] == "Q"


def test_digitless_uppercase_qid_accepted(spark):
    """Short-format postfix queue ids are uppercase hex and can be
    all-letters (DEADBEEF); free-form lowercase prefixes stay
    rejected."""
    lines = spark.createDataFrame(
        [(1, "Jul 26 04:18:34 mx1 postfix/qmgr[9]: DEADBEEF: from=<a@x>, size=5, nrcpt=1 (queue active)"),
         (2, "Jul 26 04:18:35 mx1 postfix/scache[9]: statistics: start interval Jul 26 04:00:00")],
        "line_no long, line string")
    pr = parse_lines(lines, now=CFG.now)
    kept = {r["qid"] for r in pr.parsed.collect()}
    assert kept == {"DEADBEEF"}
    rejects = {r["reject_reason"] for r in pr.rejects.collect()}
    assert rejects == {"no_qid"}
