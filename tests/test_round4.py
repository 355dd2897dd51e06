"""Round-4 regression tests: the ADVICE findings (URL fragment-query
leak, persist leaks, compact swap, partition-migration stranding) and
the reference-parity committed-routing pin."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from log_ship_elastic_postfix_spark import datagen
from log_ship_elastic_postfix_spark.functions import urls
from log_ship_elastic_postfix_spark.operators.state import StateStore
from log_ship_elastic_postfix_spark.plans.pipeline import (
    PipelineConfig, run_batch)
from log_ship_elastic_postfix_spark.sources.pages import (
    pages_to_lines, with_batch_seq)

CFG = PipelineConfig()


def _b36(n: int) -> str:
    digits = "0123456789abcdefghijklmnopqrstuvwxyz"
    if n == 0:
        return "0"
    out = ""
    while n:
        out = digits[n % 36] + out
        n //= 36
    return out


# --------------------------------------- urls: fragment-query leak
def test_url_fragment_query_not_leaked(spark):
    """A '?' INSIDE the fragment is fragment content: rule 3 drops it
    wholesale, never re-attaches it as a query (ADVICE finding)."""
    cases = {
        "http://h.com/p#f?x=1": "http://h.com/p",
        "http://h.com/p?a=1#f?x=2": "http://h.com/p?a=1",
        "https://h.com/#?utm_source=x": "https://h.com/",
        "http://h.com/p?utm_source=x#f?keep=1": "http://h.com/p",
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    got = {r["url"]: r["c"] for r in df.select(
        "url", urls.canonical_url(F.col("url")).alias("c")).collect()}
    assert got == cases
    # idempotence holds on the fixed cases too
    df2 = spark.createDataFrame([(v,) for v in cases.values()],
                                "url string")
    got2 = {r["url"]: r["c"] for r in df2.select(
        "url", urls.canonical_url(F.col("url")).alias("c")).collect()}
    assert got2 == {v: v for v in cases.values()}


# ------------------------------- state: partition-migration handling
def test_upsert_migration_cleans_old_partition(spark, tmp_path):
    """A qid committed under (orphan, D) arriving under (parent, D)
    must leave exactly ONE committed row: the old partition is part of
    the rewrite set and drops the stale row, carry rows survive."""
    store = StateStore(str(tmp_path / "state"))
    cols = ["qid", "sink", "route_date", "payload"]
    rows1 = [("q1", "postfix-orphan", "2024-07-01", "v1"),
             ("q2", "postfix-orphan", "2024-07-01", "v1")]
    assert store.upsert(spark, spark.createDataFrame(rows1, cols))

    rows2 = [("q1", "postfix-parent", "2024-07-01", "v2")]
    assert store.upsert(spark, spark.createDataFrame(rows2, cols))

    got = {(r["qid"], r["sink"], r["payload"])
           for r in store.read(spark).collect()}
    assert got == {("q1", "postfix-parent", "v2"),
                   ("q2", "postfix-orphan", "v1")}
    keys = spark.createDataFrame([("q1",)], "qid string")
    looked = store.lookup(spark, keys, dates=["2024-07-01"]).collect()
    assert len(looked) == 1 and looked[0]["sink"] == "postfix-parent"


def test_upsert_migration_deletes_emptied_partition(spark, tmp_path):
    """When ALL rows of the old partition migrate away, dynamic
    overwrite cannot express the now-empty partition — upsert must
    delete the directory explicitly."""
    store = StateStore(str(tmp_path / "state"))
    cols = ["qid", "sink", "route_date", "payload"]
    assert store.upsert(spark, spark.createDataFrame(
        [("q1", "postfix-orphan", "2024-07-01", "v1")], cols))
    old_dir = str(tmp_path / "state" /
                  "sink=postfix-orphan" / "route_date=2024-07-01")
    assert os.path.isdir(old_dir)

    assert store.upsert(spark, spark.createDataFrame(
        [("q1", "postfix-parent", "2024-07-01", "v2")], cols))
    assert not os.path.isdir(old_dir), "emptied partition must be deleted"
    got = [(r["qid"], r["sink"], r["payload"])
           for r in store.read(spark).collect()]
    assert got == [("q1", "postfix-parent", "v2")]


def test_upsert_same_partition_update_unchanged_behavior(spark, tmp_path):
    """Non-migration updates keep the round-3 behavior: only the
    changed partition rewrites, unchanged partitions keep files."""
    import time
    store = StateStore(str(tmp_path / "state"))
    cols = ["qid", "sink", "route_date", "payload"]
    rows1 = [("q1", "postfix-orphan", "2024-07-01", "v1"),
             ("q2", "postfix-orphan", "2024-07-02", "v1")]
    assert store.upsert(spark, spark.createDataFrame(rows1, cols))
    b_dir = str(tmp_path / "state" /
                "sink=postfix-orphan" / "route_date=2024-07-02")
    before = {p: os.path.getmtime(p) for p in glob.glob(f"{b_dir}/*")}
    time.sleep(1.1)
    rows2 = [("q1", "postfix-orphan", "2024-07-01", "v2"),
             ("q2", "postfix-orphan", "2024-07-02", "v1")]
    assert store.upsert(spark, spark.createDataFrame(rows2, cols))
    after = {p: os.path.getmtime(p) for p in glob.glob(f"{b_dir}/*")}
    assert after == before


# --------------------------------- pipeline: committed-routing pin
def test_pipeline_pins_committed_sink(spark, tmp_path):
    """Reference lib/logship.js:298: a doc matched in committed state
    updates at its committed index. A parent-map entry appearing
    between batches must NOT migrate the doc to the parent sink — and
    the state table ends with exactly one row per qid."""
    pages = datagen.generate_pages(spark, 10, n_partitions=2)
    lines = pages_to_lines(pages)
    l1 = lines.filter(F.col("line_no") % 2 == 0)
    l2 = lines.filter(F.col("line_no") % 2 == 1)
    store = StateStore(str(tmp_path / "state"))
    run_batch(spark, l1, CFG, batch_seq=0, state=store)

    parent_map = spark.createDataFrame(
        [("3" + _b36(u) + "zXy", f"parent-{u}") for u in range(10)],
        "qid string, parent string")
    run_batch(spark, l2, CFG, batch_seq=1, state=store,
              parent_map=parent_map)

    committed = store.read(spark).select("qid", "sink").collect()
    assert len(committed) == 10                       # one row per qid
    assert {r["sink"] for r in committed} == {"postfix-orphan"}

    # a FRESH qid (no committed doc) still routes by enrichment: run
    # the same corpus without state and the parent sink is used
    res = run_batch(spark, lines, CFG, parent_map=parent_map)
    sinks = {r["sink"] for r in res.routed.select("sink").collect()}
    assert sinks == {"postfix-parent"}


# ------------------------------------------- compact: swap semantics
def test_compact_uses_sibling_swap(spark, tmp_path):
    """compact() must not leave tmp/trash siblings behind and must
    keep content identical (the OOM-prone full-table localCheckpoint
    is gone — ADVICE finding)."""
    store = StateStore(str(tmp_path / "state"))
    cols = ["qid", "sink", "route_date", "payload"]
    for i in range(3):
        rows = [(f"q{i}_{j}", "postfix-orphan", "2024-07-01", f"v{i}")
                for j in range(4)]
        store.upsert(spark, spark.createDataFrame(rows, cols))
    before = {tuple(r) for r in store.read(spark).collect()}
    assert store.compact(spark)
    after = {tuple(r) for r in store.read(spark).collect()}
    assert after == before
    assert not os.path.exists(str(tmp_path / "state__compact_tmp"))
    assert not os.path.exists(str(tmp_path / "state__compact_old"))
    part = str(tmp_path / "state/sink=postfix-orphan/route_date=2024-07-01")
    assert len(glob.glob(f"{part}/*.parquet")) == 1


# --------------------------- clean_corpus: compose-at-scale + counts
def test_clean_corpus_scale_config_planted_counts(spark):
    """The composed cleaning chain (star-CC, planner-chosen verify
    joins) on the 100k-doc planted corpus: stage counts must equal the plant's
    closed form — exact removes the 1-in-32 verbatim copies, near-dup
    CC removes the 1-in-16 mutants. LSH is recall-sized to the plant
    (32 bands × 2 rows; mutants sit at jaccard ≈0.73 where the default
    8×4 bands measurably miss ~6.7%)."""
    import scripts.dedup_bench as db
    from log_ship_elastic_postfix_spark.plans.corpus import (
        CorpusCleanConfig, clean_corpus)

    n = 100_000
    docs = db.synth_docs(spark, n).localCheckpoint(eager=True)
    res = clean_corpus(docs, CorpusCleanConfig(
        neardup_threshold=0.6, quality_min_words=None,
        minhash_k=64, minhash_bands=32))
    assert res.stage_counts == {
        "input": n,
        "exact_dedup": n - n // 32,
        "neardup": n - n // 32 - n // 16,
    }


def test_clean_corpus_collect_counts_off(spark, monkeypatch):
    """collect_counts=False: zero count() actions, empty stage_counts,
    and the SAME survivor set as the accounting mode."""
    from log_ship_elastic_postfix_spark.plans.corpus import (
        CorpusCleanConfig, clean_corpus)

    docs = spark.createDataFrame(
        [(i, ("the quick brown fox jumps over the lazy dog "
              "and then it sat down on a mat number %d" % (i % 25)))
         for i in range(50)], "doc_id long, text string")
    # patch the CONCRETE class (pyspark.sql.classic.…DataFrame in
    # Spark 4 overrides count; patching the abstract base is a no-op)
    DF = type(docs)
    cfg = dict(neardup_threshold=0.5, quality_min_words=10)

    n_counts = 0
    orig_count = DF.count

    def track_count(self):
        nonlocal n_counts
        n_counts += 1
        return orig_count(self)

    monkeypatch.setattr(DF, "count", track_count)
    with_counts = clean_corpus(docs, CorpusCleanConfig(**cfg))
    n_on = n_counts
    assert set(with_counts.stage_counts) == {
        "input", "exact_dedup", "neardup", "quality"}

    n_counts = 0
    res = clean_corpus(docs, CorpusCleanConfig(
        collect_counts=False, **cfg))
    n_off = n_counts
    monkeypatch.undo()

    assert res.stage_counts == {}
    # exactly the per-stage accounting counts are skipped (the one
    # remaining count() is the LSH bucket-drop accounting, which is
    # operator-internal and unconditional)
    assert n_off == n_on - len(with_counts.stage_counts)

    assert (sorted(r["doc_id"] for r in res.docs.collect())
            == sorted(r["doc_id"] for r in with_counts.docs.collect()))


# ------------------------------------- benchmark decontamination
def test_benchmark_contamination(spark):
    from log_ship_elastic_postfix_spark.operators import dedup

    docs = spark.createDataFrame([
        (1, "the secret benchmark phrase is hidden inside this document"),
        (2, "completely unrelated words nothing in common at all here"),
        (3, "short doc"),
    ], "doc_id long, text string")
    bench = spark.createDataFrame(
        [("question the secret benchmark phrase is hidden answer yes",)],
        "text string")

    got = {r["doc_id"]: (r["n_shared_ngrams"], r["contaminated"])
           for r in dedup.benchmark_contamination(docs, bench, n=5)
           .collect()}
    # doc 1 shares exactly two distinct 5-grams with the benchmark
    assert got[1] == (2, True)
    assert got[2] == (0, False)
    assert got[3] == (0, False)      # too short to form a 5-gram

    # shuffle-join path (broadcast off) is result-identical
    got2 = {r["doc_id"]: (r["n_shared_ngrams"], r["contaminated"])
            for r in dedup.benchmark_contamination(
                docs, bench, n=5, broadcast_benchmark=False).collect()}
    assert got2 == got


# ------------------------------------------- sequence packing
def test_pack_documents_semantics(spark):
    """Greedy fixed-budget packing: a doc's sequence is where its
    first token lands; straddling is allowed; offsets are exact."""
    from log_ship_elastic_postfix_spark.operators import packing

    rows = [(0, "a " * 6), (8, "b " * 6), (16, "c " * 6)]  # shard 0
    df = spark.createDataFrame(
        [(i, t.strip()) for i, t in rows], "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           packing.pack_documents(df, budget=10, n_shards=8).collect()}
    # cumulative starts: 0, 6, 12 → seqs 0, 0, 1; offsets 0, 6, 2
    assert (got[0]["seq_id"], got[0]["offset_in_seq"]) == (0, 0)
    assert (got[8]["seq_id"], got[8]["offset_in_seq"]) == (0, 6)
    assert (got[16]["seq_id"], got[16]["offset_in_seq"]) == (1, 2)

    stats = {(r["shard"], r["seq_id"]): (r["n_docs"], r["n_tokens"])
             for r in packing.sequence_stats(
                 packing.pack_documents(df, budget=10, n_shards=8))
             .collect()}
    assert stats == {(0, 0): (2, 12), (0, 1): (1, 6)}


def test_pack_documents_plan_no_global_window(spark):
    """The window must partition by shard — no single-partition global
    window (the packing-at-scale killer): the only exchange is
    hashpartitioning on the shard key."""
    from log_ship_elastic_postfix_spark.operators import packing

    df = spark.createDataFrame(
        [(i, "x y z") for i in range(50)], "doc_id long, text string")
    plan = packing.pack_documents(df)._jdf.queryExecution() \
        .executedPlan().toString()
    ex = [ln for ln in plan.splitlines()
          if "Exchange hashpartitioning" in ln]
    assert len(ex) == 1 and "shard" in ex[0], plan
    assert "Exchange SinglePartition" not in plan, plan


def test_sniff_media_type_total(spark):
    """Totality fuzz: arbitrary byte payloads never throw and always
    classify into the documented type set."""
    import random
    from log_ship_elastic_postfix_spark.operators import multimodal as mm

    known = {"image/png", "image/jpeg", "image/gif", "application/pdf",
             "audio/ogg", "video/webm", "image/webp", "audio/wav",
             "video/avi", "text/html", "text/plain",
             "application/octet-stream"}
    rng = random.Random(7)
    payloads = [b"", None, b"\x00", b"RIFF", b"RIFF12345678"] + [
        bytes(rng.randrange(256) for _ in range(rng.randrange(0, 64)))
        for _ in range(500)]
    for p in payloads:
        assert mm.sniff_media_type(p) in known


def test_pack_documents_invariants(spark):
    """Randomized (seeded) invariants: offsets < budget, per-shard
    reconstruction start == seq_id*budget + offset == exclusive
    cumsum in id order, seq ids nondecreasing, and sequence_stats
    conserves doc/token totals. Includes empty docs and docs larger
    than the whole budget."""
    import random
    from log_ship_elastic_postfix_spark.operators import packing

    rng = random.Random(11)
    rows = [(i, " ".join("w" for _ in range(rng.choice(
        [0, 1, 3, 7, 10, 25]))))
        for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    budget, n_shards = 10, 4
    packed = packing.pack_documents(df, budget=budget,
                                    n_shards=n_shards).collect()
    by_shard: dict = {}
    for r in packed:
        assert 0 <= r["offset_in_seq"] < budget
        by_shard.setdefault(r["shard"], []).append(r)
    n_tok = {i: (len(t.split()) if t.strip() else 0) for i, t in rows}
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r["doc_id"])
        cum = 0
        last_seq = 0
        for r in rs:
            assert r["doc_id"] % n_shards == shard
            assert r["n_tokens"] == n_tok[r["doc_id"]]
            assert r["seq_id"] * budget + r["offset_in_seq"] == cum
            assert r["seq_id"] >= last_seq
            last_seq = r["seq_id"]
            cum += r["n_tokens"]
    stats = packing.sequence_stats(
        packing.pack_documents(df, budget=budget,
                               n_shards=n_shards)).collect()
    assert sum(r["n_docs"] for r in stats) == 200
    assert sum(r["n_tokens"] for r in stats) == sum(n_tok.values())


# ----------------------- PII redaction + deterministic splitting
def test_redact_pii_rules_and_order(spark):
    from log_ship_elastic_postfix_spark.functions import redact

    rows = [
        (0, "mail a.b+c@ex.co and 192.168.0.1 and 4111111111111111"),
        (1, "no pii here at all"),
        (2, "two mails x@y.io z@w.ai one ip 8.8.8.8"),
        # digits inside an email local part must be consumed by the
        # EMAIL rule first, never double-redacted as <NUM>
        (3, "4111111111111111@ex.com"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in df.select(
        "doc_id",
        redact.redact_pii(F.col("text")).alias("r")).select(
        "doc_id", "r.*").collect()}
    assert got[0]["text_redacted"] == "mail <EMAIL> and <IP> and <NUM>"
    assert (got[0]["n_emails"], got[0]["n_ips"], got[0]["n_longnums"]) \
        == (1, 1, 1)
    assert got[1]["text_redacted"] == "no pii here at all"
    assert got[2]["n_emails"] == 2 and got[2]["n_ips"] == 1
    assert got[3]["text_redacted"] == "<EMAIL>"
    assert got[3]["n_longnums"] == 0


def test_split_assign_stable_and_sized(spark):
    """Assignments are a pure function of the id (stable under corpus
    growth) and the train fraction lands near the threshold k/256."""
    from log_ship_elastic_postfix_spark.functions import redact

    small = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    big = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    col = redact.split_assign(F.col("doc_id"), 0.8)
    a_small = {r["doc_id"]: r["s"]
               for r in small.select("doc_id", col.alias("s")).collect()}
    a_big = {r["doc_id"]: r["s"]
             for r in big.select("doc_id", col.alias("s")).collect()}
    assert all(a_big[k] == v for k, v in a_small.items())
    frac = sum(v == "train" for v in a_big.values()) / len(a_big)
    assert abs(frac - 204 / 256) < 0.02
    # exact boundary pin: md5('549')[:2] == 'cc', and the 0.8 rule is
    # "bucket < hex(floor(0.8·256)) = 'cc'" — a bucket-'cc' id is
    # heldout. (A round()-based threshold produced 'cd' and silently
    # disagreed with the published rule exactly and only here.)
    assert a_big[549] == "heldout" and a_big[755] == "heldout"


# --------------------------- catalog MERGE backend (state_catalog)
def test_merge_sql_shape():
    """The per-batch MERGE statement: key match + partition pruning in
    ON, per-row content-hash noop guard, UPDATE SET * / INSERT *."""
    from log_ship_elastic_postfix_spark.operators import state_catalog as sc

    cols = ["qid", "sink", "route_date", "events", "date"]
    sql = sc.merge_sql("cat.db.state", cols,
                       dates=["2024-07-01", "2024-07-02"])
    assert "MERGE INTO cat.db.state t" in sql
    assert "t.`qid` = s.`qid`" in sql
    assert "t.`route_date` IN ('2024-07-01', '2024-07-02')" in sql
    assert "WHEN MATCHED AND xxhash64(to_json(struct(" in sql
    assert "THEN UPDATE SET *" in sql
    assert "WHEN NOT MATCHED THEN INSERT *" in sql
    # hash operands: sorted, qualified on both sides (the same
    # canonical order StateStore._doc_hash uses)
    assert "t.`date`, t.`events`, t.`qid`, t.`route_date`, t.`sink`" in sql
    assert "s.`date`, s.`events`, s.`qid`, s.`route_date`, s.`sink`" in sql

    plain = sc.merge_sql("cat.db.state", cols, detect_noop=False)
    assert "xxhash64" not in plain
    assert "WHEN MATCHED THEN UPDATE SET *" in plain

    ddl = sc.create_table_sql("cat.db.state")
    assert "PARTITIONED BY (`sink`, `route_date`)" in ddl
    assert sc.compact_sql("cat.db.state") == \
        "CALL cat.system.rewrite_data_files('db.state')"


def test_catalog_store_wiring(spark, tmp_path):
    """The backend's non-MERGE surface runs against the session
    catalog for real (exists/ensure/read/lookup); the MERGE statement
    reaches the engine and fails only on the v1 table's missing
    row-level-operation capability — the one piece this container
    cannot supply (no Iceberg/Delta jars)."""
    from log_ship_elastic_postfix_spark.operators.state_catalog import (
        CatalogStateStore)

    spark.sql(f"CREATE DATABASE IF NOT EXISTS t4db "
              f"LOCATION '{tmp_path / 'warehouse'}'")
    try:
        store = CatalogStateStore("t4db.state", using="parquet")
        assert not store.exists(spark)
        store.preflight(spark)          # absent table: gate passes
        assert store.read(spark) is None

        batch = spark.createDataFrame(
            [("q1", "postfix-orphan", "2024-07-01", "v1")],
            ["qid", "sink", "route_date", "payload"])
        store.ensure(spark, batch)
        assert store.exists(spark)
        assert store.read(spark).count() == 0
        assert store.lookup(spark, batch.select("qid"),
                            dates=["2024-07-01"]).count() == 0

        with pytest.raises(Exception) as exc:
            store.upsert(spark, batch)
        # the statement parsed and bound; only the table capability is
        # missing in-sandbox
        assert "MERGE" in str(exc.value).upper()
    finally:
        spark.sql("DROP DATABASE IF EXISTS t4db CASCADE")


# ----------------------- stream_metrics query: tz-independence pin
def test_stream_metrics_tz_independent(spark):
    """q_stream_metrics must produce identical rows under any
    spark.sql.session.timeZone (watermark columns are LTZ; the query
    pins instants with an explicit +00:00 offset and renders UTC
    fields)."""
    import __spark_entry__ as entry
    sf = "/root/testdata/sf0.001"
    if not os.path.exists(sf):
        pytest.skip("testdata missing")
    q = entry.queries()["stream_metrics"]
    base = [tuple(r) for r in q(spark, sf).collect()]
    assert base, "stream must emit finalized windows"
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
        shifted = [tuple(r) for r in q(spark, sf).collect()]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert shifted == base


# ------------------------------------ IVF: trained-centroid injection
def test_ivf_trained_centroids(spark):
    """ivf_topk accepts explicit trained centroids (the production
    path): with axis-aligned centroids and clustered vectors, per-cell
    probing returns the in-cluster neighbors; n_probe=C reproduces the
    brute-force oracle exactly."""
    import numpy as np
    from log_ship_elastic_postfix_spark.operators import similarity

    rng_free = [
        # two tight clusters around e0 and e1 (dim 4)
        (0, [1.0, 0.05, 0.0, 0.0]), (1, [1.0, -0.04, 0.02, 0.0]),
        (2, [0.98, 0.0, 0.05, 0.01]),
        (10, [0.03, 1.0, 0.0, 0.02]), (11, [-0.02, 1.0, 0.04, 0.0]),
        (12, [0.0, 0.97, -0.03, 0.01]),
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in rng_free], "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]

    got = similarity.ivf_topk(df, k=2, n_probe=1, centroids=cents)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append(r["nbr_id"])
    # 1-cell probe keeps each query inside its own cluster
    for q in (0, 1, 2):
        assert set(by_q[q]) <= {0, 1, 2} - {q}
    for q in (10, 11, 12):
        assert set(by_q[q]) <= {10, 11, 12} - {q}

    # probing all cells == exact brute force
    exact = {(r["query_id"], r["nbr_id"], r["rank"])
             for r in similarity.brute_force_topk(df, k=2).collect()}
    full = {(r["query_id"], r["nbr_id"], r["rank"])
            for r in similarity.ivf_topk(df, k=2, n_probe=2,
                                         centroids=cents).collect()}
    assert full == exact


def test_ivf_n_docs_skips_count(spark, monkeypatch):
    """Passing n_docs (or centroid_stride) must not run the sizing
    df.count() job."""
    from log_ship_elastic_postfix_spark.operators import similarity

    df = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, float(i % 3), 0.5]) for i in range(64)],
        "vec_id long, embedding array<double>")
    DF = type(df)
    calls = []
    orig = DF.count

    def track(self):
        calls.append(1)
        return orig(self)

    monkeypatch.setattr(DF, "count", track)
    similarity.ivf_topk(df, k=2, n_centroids=4, n_probe=4,
                        n_docs=64).collect()
    assert not calls, "n_docs must replace the sizing count job"


# ---------------- driver multi-line corpora actually discriminate
def test_driver_multiline_rules_discriminate(spark):
    """The round-3 gap: dup-line fractions and the bullet rule were
    closed-form constants on the single-line sf corpus. The derived
    multi-line corpora must produce BOTH outcomes for each."""
    import __spark_entry__ as entry
    sf = "/root/testdata/sf0.001"
    if not os.path.exists(sf):
        pytest.skip("testdata missing")

    rep = entry.queries()["repetition_stats"](spark, sf).collect()
    fracs = {r["dup_line_frac"] for r in rep}
    assert 0.0 in fracs and 2.0 / 3.0 in fracs
    assert any(r["dup_line_char_frac"] > 0 for r in rep)

    gq = entry.queries()["gopher_quality"](spark, sf).collect()
    bullets = {r["bullet_ok"] for r in gq}
    assert bullets == {True, False}


# ------------------------------- multimodal: sniffing + cached probe
def test_sniff_media_type_signatures():
    from log_ship_elastic_postfix_spark.operators import multimodal as mm

    assert mm.sniff_media_type(b"\x89PNG\r\n\x1a\nrest") == "image/png"
    assert mm.sniff_media_type(b"\xff\xd8\xff\xe0JFIF") == "image/jpeg"
    assert mm.sniff_media_type(b"GIF89a....") == "image/gif"
    assert mm.sniff_media_type(b"%PDF-1.7") == "application/pdf"
    assert mm.sniff_media_type(b"RIFF\x00\x00\x00\x00WEBPVP8 ") == "image/webp"
    assert mm.sniff_media_type(b"RIFF\x00\x00\x00\x00WAVEfmt ") == "audio/wav"
    assert mm.sniff_media_type(b"  \n\t<html><body>") == "text/html"
    assert mm.sniff_media_type(b"plain words here") == "text/plain"
    assert mm.sniff_media_type(b"bin\x00ary") == "application/octet-stream"


def test_media_metadata_sniffs_types(spark):
    """End-to-end through the mapInPandas stage: a planted PNG header
    classifies image/png; html-ish and plain payloads split."""
    from log_ship_elastic_postfix_spark.operators import multimodal as mm

    rows = [("a", b"\x89PNG\r\n\x1a\n" + b"x" * 16),
            ("b", b"<html><p>hi</p></html>"),
            ("c", b"just some words")]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = {r["url"]: (r["media_type"], r["n_bytes"])
           for r in mm.extract_media_metadata(df).collect()}
    assert got == {"a": ("image/png", 24),
                   "b": ("text/html", 22),
                   "c": ("text/plain", 15)}


def test_try_pil_probe_is_cached(monkeypatch):
    """The failed-import probe must run once per process, not once per
    row (the round-3 measured 2× media_metadata regression); and a
    monkeypatched _try_pil still drives both decode paths."""
    from log_ship_elastic_postfix_spark.operators import multimodal as mm

    mm._try_pil.cache_clear()
    mm._try_pil()
    for _ in range(10):
        mm._decode_image(b"payload-bytes")
    info = mm._try_pil.cache_info()
    assert info.misses == 1 and info.hits >= 10

    # monkeypatch bypasses the cache entirely: stub path
    monkeypatch.setattr(mm, "_try_pil", lambda: None)
    w, h = mm._decode_image(b"payload-bytes")
    assert (w, h) == mm._decode_image_stub(b"payload-bytes")

    # ...and the PIL path (fake Image object)
    class FakeIm:
        width, height = 11, 7
        format = "PNG"

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    class FakeImage:
        @staticmethod
        def open(buf):
            return FakeIm()

    monkeypatch.setattr(mm, "_try_pil", lambda: FakeImage)
    assert mm._decode_image(b"anything") == (11, 7)


# ----------------------------------- dedup: no persisted-frame leaks
def test_verify_paths_unpersist(spark, monkeypatch):
    """jaccard_pairs / simhash_near_duplicates must not leak cached
    shingle/simhash frames (ADVICE finding): every DataFrame.persist()
    made inside the verify paths is matched by an unpersist() before
    the call returns."""
    from log_ship_elastic_postfix_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog number %d" % i)
         for i in range(40)], "doc_id long, text string")
    # the CONCRETE class: Spark 4's classic DataFrame overrides
    # persist/unpersist, so patching the abstract base is a no-op
    DF = type(docs)

    live: list = []
    n_persists = 0
    orig_p, orig_u = DF.persist, DF.unpersist

    def track_p(self, *a, **k):
        nonlocal n_persists
        n_persists += 1
        live.append(self._jdf)
        return orig_p(self, *a, **k)

    def track_u(self, *a, **k):
        for i, j in enumerate(live):
            if j.equals(self._jdf):
                live.pop(i)
                break
        return orig_u(self, *a, **k)

    monkeypatch.setattr(DF, "persist", track_p)
    monkeypatch.setattr(DF, "unpersist", track_u)

    dedup.near_duplicates_minhash(docs, threshold=0.5).count()
    assert n_persists >= 3, "tracking must observe the real persists"
    assert not live, "minhash verify leaked a persisted frame"

    dedup.simhash_near_duplicates(docs).count()
    assert not live, "simhash verify leaked a persisted frame"
