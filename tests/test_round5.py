"""Round-5 regression tests: the split_assign frac-endpoint bug, the
compact() crashed-swap recovery window, and the deterministic
committed-routing pin (VERDICT r4 #1 + both ADVICE mediums + low)."""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import functions as F

from log_ship_elastic_postfix_spark.functions import redact
from log_ship_elastic_postfix_spark.operators import route
from log_ship_elastic_postfix_spark.operators.state import StateStore


# ----------------------------------------- split_assign: frac grid
def _expected_split(doc_id: int, frac: float) -> str:
    """The PUBLISHED rule, restated independently: bucket = first md5
    hex byte of str(id); train iff bucket index < floor(frac*256)."""
    k = max(0, min(256, int(frac * 256)))
    bucket = hashlib.md5(str(doc_id).encode()).hexdigest()[:2]
    return "train" if int(bucket, 16) < k else "heldout"


def test_split_assign_frac_grid(spark):
    """Sweep the whole domain incl. both endpoints. frac=1.0 once
    produced the 3-char threshold '100' and lexicographically sent
    ~93% of docs to heldout ('ff' < '100' is False) — VERDICT r4 #1."""
    ids = list(range(600))  # >2x256 so every bucket appears w.h.p.
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    for frac in (0.0, 1 / 256, 0.5, 255 / 256, 1.0):
        got = {r["doc_id"]: r["s"] for r in df.select(
            "doc_id",
            redact.split_assign(F.col("doc_id"), frac).alias("s"))
            .collect()}
        want = {i: _expected_split(i, frac) for i in ids}
        assert got == want, f"frac={frac}"
    # endpoint totality, stated explicitly
    full = df.select(redact.split_assign(F.col("doc_id"), 1.0).alias("s"))
    assert full.filter(F.col("s") != "train").count() == 0
    none = df.select(redact.split_assign(F.col("doc_id"), 0.0).alias("s"))
    assert none.filter(F.col("s") != "heldout").count() == 0


# ------------------------------- compact(): crashed-swap recovery
def _seed_store(spark, tmp_path) -> tuple[StateStore, set]:
    store = StateStore(str(tmp_path / "state"))
    cols = ["qid", "sink", "route_date", "payload"]
    rows = [(f"q{j}", "postfix-orphan", "2024-07-01", f"v{j}")
            for j in range(6)]
    assert store.upsert(spark, spark.createDataFrame(rows, cols))
    return store, {tuple(r) for r in store.read(spark).collect()}


def test_compact_crash_between_renames_recovers_from_tmp(spark, tmp_path):
    """Crash window: base renamed to __compact_old, __compact_tmp (the
    complete compacted copy) not yet swapped in. read()/exists() must
    recover instead of reporting 'no state' (ADVICE medium)."""
    store, before = _seed_store(spark, tmp_path)
    base = str(tmp_path / "state")
    # the compacted tmp copy is complete before the first rename, so
    # a byte-copy of base is a faithful stand-in for it
    shutil.copytree(base, base + "__compact_tmp")
    os.rename(base, base + "__compact_old")
    assert not os.path.exists(base)

    assert store.exists(spark), "recovery must surface the survivor"
    assert os.path.exists(base)
    assert not os.path.exists(base + "__compact_old"), (
        "old copy is deleted only AFTER base is restored")
    assert {tuple(r) for r in store.read(spark).collect()} == before


def test_compact_crash_before_swap_recovers_from_old(spark, tmp_path):
    """Crash window: base moved aside and tmp already gone/never
    written — the pre-compaction copy under __compact_old is the only
    copy and must be promoted back, never deleted."""
    store, before = _seed_store(spark, tmp_path)
    base = str(tmp_path / "state")
    os.rename(base, base + "__compact_old")

    assert store.read(spark) is not None
    assert {tuple(r) for r in store.read(spark).collect()} == before
    assert not os.path.exists(base + "__compact_old")


def test_compact_after_crash_recovery_roundtrip(spark, tmp_path):
    """A compact() issued on a crashed store first heals the swap,
    then compacts normally — content identical, siblings cleaned."""
    store, before = _seed_store(spark, tmp_path)
    base = str(tmp_path / "state")
    shutil.copytree(base, base + "__compact_tmp")
    os.rename(base, base + "__compact_old")

    assert store.compact(spark)
    assert {tuple(r) for r in store.read(spark).collect()} == before
    assert not os.path.exists(base + "__compact_tmp")
    assert not os.path.exists(base + "__compact_old")


def test_exists_false_on_truly_empty_store(spark, tmp_path):
    """Recovery must not invent state where none ever existed."""
    store = StateStore(str(tmp_path / "nothing"))
    assert not store.exists(spark)
    assert store.read(spark) is None


# ----------------------- pin_committed_routing: deterministic pick
def test_pin_committed_routing_deterministic(spark):
    """A qid committed under two (sink, route_date) pairs (the
    documented cross-date scoping gap) must pin to the SAME pair on
    every run — max(route_date, sink), not dropDuplicates' arbitrary
    survivor (ADVICE low)."""
    routed = spark.createDataFrame(
        [("q1", "postfix-parent", "2024-07-09", "x")],
        "qid string, sink string, route_date string, payload string")
    committed_rows = [
        ("q1", "postfix-orphan", "2024-07-01"),
        ("q1", "postfix-parent", "2024-07-03"),
        ("q1", "postfix-orphan", "2024-07-03"),
    ]
    import itertools
    seen = set()
    for perm in itertools.permutations(committed_rows):
        committed = spark.createDataFrame(
            list(perm), "qid string, sink string, route_date string")
        got = route.pin_committed_routing(routed, committed).collect()
        assert len(got) == 1
        seen.add((got[0]["sink"], got[0]["route_date"]))
    # one deterministic answer across all input orders: the max
    # (route_date, sink) committed pair
    assert seen == {("postfix-parent", "2024-07-03")}


# ------------------- packing: pluggable tokenizer + sized shards
def test_pack_documents_bpe_budget(spark):
    """The pluggable token_counter changes the BUDGET unit, nothing
    else: 'ab3!' is 1 whitespace token but 3 BPE-ish tokens, so under
    a 5-token budget three such docs straddle differently."""
    from log_ship_elastic_postfix_spark.functions import textstats
    from log_ship_elastic_postfix_spark.operators import packing

    rows = [(0, "ab3!"), (8, "ab3!"), (16, "ab3!")]  # all shard 0
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bpe = {r["doc_id"]: r for r in packing.pack_documents(
        df, budget=5, n_shards=8,
        token_counter=textstats.bpe_ish_token_count).collect()}
    # starts 0, 3, 6 under the 3-token BPE count → seqs 0, 0, 1
    assert all(bpe[i]["n_tokens"] == 3 for i in (0, 8, 16))
    assert [(bpe[i]["seq_id"], bpe[i]["offset_in_seq"])
            for i in (0, 8, 16)] == [(0, 0), (0, 3), (1, 1)]
    ws = {r["doc_id"]: r for r in packing.pack_documents(
        df, budget=5, n_shards=8).collect()}
    # whitespace count = 1 each → all three fit in sequence 0
    assert [(ws[i]["seq_id"], ws[i]["offset_in_seq"])
            for i in (0, 8, 16)] == [(0, 0), (0, 1), (0, 2)]


def test_pack_documents_string_ids(spark):
    """String ids shard via xxhash64 — no numeric-id assumption; the
    per-shard cumsum invariants hold regardless of id type."""
    from log_ship_elastic_postfix_spark.operators import packing

    df = spark.createDataFrame(
        [(f"url-{i}", "w " * (i % 7 + 1)) for i in range(200)],
        "doc_id string, text string")
    got = packing.pack_documents(df, budget=16, n_shards=4).collect()
    assert len(got) == 200
    assert {r["shard"] for r in got} <= set(range(4))
    # within each shard, id-ordered starts are non-decreasing and
    # offset_in_seq = start % budget exactly
    by_shard: dict = {}
    for r in sorted(got, key=lambda r: (r["shard"], r["doc_id"])):
        s = by_shard.setdefault(r["shard"], [0])[-1]
        start = r["seq_id"] * 16 + r["offset_in_seq"]
        assert start == s, r
        by_shard[r["shard"]].append(s + r["n_tokens"])


# ----------------------------- corpus mixing (weights + order)
def test_weighted_sample_rule_independent_restatement(spark):
    """Keep-decision equals an independent Python md5 restatement of
    the published rule for every (stratum, id), including both
    endpoints and a sub-percent weight."""
    from log_ship_elastic_postfix_spark.operators import mixing

    weights = {"a": 1.0, "b": 0.5, "c": 0.004, "d": 0.0}
    rows = [(i, "abcde"[i % 5]) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, stratum string")
    kept = {r["doc_id"] for r in mixing.weighted_sample(
        df, weights, stratum_col="stratum", default_frac=0.1).collect()}

    def want(i, s):
        w = weights.get(s, 0.1)
        k = int(w * 16 ** 8)
        if k >= 16 ** 8:
            return True
        b = hashlib.md5(f"{s}:{i}".encode()).hexdigest()[:8]
        return int(b, 16) < k

    expect = {i for i, s in rows if want(i, s)}
    assert kept == expect
    # endpoints: every 'a' kept, every 'd' dropped
    assert all(i in kept for i, s in rows if s == "a")
    assert all(i not in kept for i, s in rows if s == "d")


def test_training_order_is_permutation_and_seed_sensitive(spark):
    """Per-shard positions are a dense 0..n-1 rank; the whole output
    is a permutation of the input ids; a different seed produces a
    different order while the same seed is bit-stable."""
    from log_ship_elastic_postfix_spark.operators import mixing

    df = spark.createDataFrame([(i,) for i in range(300)], "doc_id long")
    a = mixing.training_order(df, seed="1", n_shards=8).collect()
    assert {r["doc_id"] for r in a} == set(range(300))
    by_shard: dict = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r["position"])
    for shard, pos in by_shard.items():
        assert sorted(pos) == list(range(len(pos))), shard

    a2 = mixing.training_order(df, seed="1", n_shards=8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, a2))
    b = mixing.training_order(df, seed="2", n_shards=8).collect()
    assert sorted(map(tuple, a)) != sorted(map(tuple, b))


# --------------------------- perplexity filter (CCNet-style)
def test_unigram_model_closed_form(spark):
    """Tiny corpus, hand-computed add-one model and doc scores."""
    import math as m
    from log_ship_elastic_postfix_spark.operators import perplexity as P

    docs = spark.createDataFrame(
        [(0, "a a b"), (1, "a c")], "doc_id long, text string")
    model, unk = P.build_unigram_model(docs)
    got = {r["token"]: r["lp_micro"] for r in model.collect()}
    # counts: a=3, b=1, c=1; N=5, V=3, denom=8
    assert got == {"a": round(m.log(4 / 8) * 1e6),
                   "b": round(m.log(2 / 8) * 1e6),
                   "c": round(m.log(2 / 8) * 1e6)}
    assert unk == round(m.log(1 / 8) * 1e6)

    s = {r["doc_id"]: r for r in
         P.perplexity_scores(docs, model, unk).collect()}
    exp0 = -(2 * got["a"] + got["b"]) / 3e6
    exp1 = -(got["a"] + got["c"]) / 2e6
    assert s[0]["n_tokens"] == 3 and abs(s[0]["nll"] - exp0) < 1e-5
    assert s[1]["n_tokens"] == 2 and abs(s[1]["nll"] - exp1) < 1e-5


def test_perplexity_unknown_and_empty(spark):
    """Out-of-vocabulary tokens score the unk constant; empty docs
    come back (n_tokens=0, nll=0.0) via the left join."""
    from log_ship_elastic_postfix_spark.operators import perplexity as P

    ref = spark.createDataFrame([(0, "a a a a")], "doc_id long, text string")
    model, unk = P.build_unigram_model(ref)
    docs = spark.createDataFrame(
        [(0, "zzz"), (1, "   ")], "doc_id long, text string")
    s = {r["doc_id"]: r for r in
         P.perplexity_scores(docs, model, unk).collect()}
    assert s[0]["n_tokens"] == 1 and abs(s[0]["nll"] - (-unk / 1e6)) < 1e-5
    assert s[1]["n_tokens"] == 0 and s[1]["nll"] == 0.0


def test_perplexity_bucket_thresholds(spark):
    """nll_bucket boundaries are inclusive on head/middle."""
    from log_ship_elastic_postfix_spark.operators import perplexity as P

    df = spark.createDataFrame(
        [(1.0,), (2.0,), (3.0,)], "nll double")
    got = [r["b"] for r in df.select(P.nll_bucket(
        F.col("nll"), head_max=1.0, middle_max=2.0).alias("b"))
        .orderBy("nll").collect()]
    assert got == ["head", "middle", "tail"]


def test_clean_corpus_perplexity_stage(spark):
    """The clean_corpus hook drops tail docs: a gibberish doc (rare
    tokens only) scores worse than repetitive common-token docs and
    is cut by the stage; stage accounting records it."""
    from log_ship_elastic_postfix_spark.plans import corpus as C

    rows = [(i, "the cat sat on the mat and the dog sat too "
             "while the cat and the dog sat on it is a fine day "
             "for the cat and the dog to sit on the mat with the "
             "others in the sun by the door of the house")
            for i in range(8)]
    rows.append((99, "qzx vplk wrn zzkt blorp fnid chmx grlt "
                 "vexq jzzn plwq xcvb mnrt qqpz lkjh zxcw ertn "
                 "bvcd poiu ytre wqas dfgh jklz xcvn mqwe rtyu "
                 "iopa sdfg hjkl zxnm qwer tyui opas dfgj klzx"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = C.CorpusCleanConfig(
        exact_dedup=False, neardup_threshold=None,
        quality_min_words=None, perplexity_tail_max=4.0)
    res = C.clean_corpus(df, cfg)
    kept = {r["doc_id"] for r in res.docs.collect()}
    assert 99 not in kept and kept == set(range(8))
    assert res.stage_counts["perplexity"] == 8


def test_clean_corpus_decontaminate_stage(spark):
    """The clean_corpus decontamination stage in both modes: 'scrub'
    removes only the planted span and keeps the doc; 'drop' removes
    the whole doc; passenger columns survive the scrub rebuild."""
    from log_ship_elastic_postfix_spark.plans import corpus as C

    rows = [(i, f"unique body {i} with words\nshared leaked answer"
             if i % 3 == 0 else f"unique body {i} with words",
             f"u{i}") for i in range(9)]
    df = spark.createDataFrame(rows, "doc_id long, text string, url string")
    bench = spark.createDataFrame(
        [("Shared  LEAKED answer",)], "text string")

    base = dict(exact_dedup=False, neardup_threshold=None,
                quality_min_words=None)
    scrub = C.clean_corpus(df, C.CorpusCleanConfig(
        decontaminate_benchmark=bench, **base))
    got = {r["doc_id"]: r for r in scrub.docs.collect()}
    assert len(got) == 9
    assert got[3]["text"] == "unique body 3 with words"
    assert got[4]["text"] == "unique body 4 with words"
    assert got[3]["url"] == "u3"          # passengers rejoined
    assert scrub.stage_counts["decontaminate"] == 9

    drop = C.clean_corpus(df, C.CorpusCleanConfig(
        decontaminate_benchmark=bench, decontaminate_mode="drop",
        decontaminate_ngram=3, **base))
    kept = {r["doc_id"] for r in drop.docs.collect()}
    assert kept == {i for i in range(9) if i % 3 != 0}
    assert drop.stage_counts["decontaminate"] == 6


# ---------------------- span-level decontamination (Lee et al.)
def test_scrub_contaminated_spans_planted(spark):
    """Closed form on a planted corpus: variant-case/whitespace spans
    match via normalization, blank lines survive, a fully-contaminated
    doc survives as text_clean='' (caller's drop policy)."""
    from log_ship_elastic_postfix_spark.operators import dedup

    docs = spark.createDataFrame([
        (0, "keep me\nThe  EVAL   answer\nalso keep"),
        (1, "only clean text\n\ntrailing after blank"),
        (2, "The eval answer"),                      # fully contaminated
    ], "doc_id long, text string")
    bench = spark.createDataFrame(
        [("the eval answer",), ("decoy never present",)], "text string")

    spans = {(r["doc_id"], r["span_idx"]) for r in
             dedup.contaminated_spans(docs, bench).collect()}
    assert spans == {(0, 1), (2, 0)}

    got = {r["doc_id"]: r for r in
           dedup.scrub_contaminated_spans(docs, bench).collect()}
    assert got[0]["text_clean"] == "keep me\nalso keep"
    assert (got[0]["n_spans_removed"], got[0]["n_spans_kept"]) == (1, 2)
    assert got[1]["text_clean"] == "only clean text\n\ntrailing after blank"
    assert got[1]["n_spans_removed"] == 0
    assert got[2]["text_clean"] == ""
    assert (got[2]["n_spans_removed"], got[2]["n_spans_kept"]) == (1, 0)


def test_scrub_spans_join_strategy_equivalence(spark):
    """broadcast and shuffle benchmark joins give identical results
    (same guarantee benchmark_contamination pins)."""
    from log_ship_elastic_postfix_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"line a {i % 4}\nline b {i}") for i in range(40)],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [("line a 1\nline a 2",)], "text string")
    a = sorted(map(tuple, dedup.scrub_contaminated_spans(
        docs, bench, broadcast_benchmark=True).collect()))
    b = sorted(map(tuple, dedup.scrub_contaminated_spans(
        docs, bench, broadcast_benchmark=False).collect()))
    assert a == b
    removed = {t[0] for t in a if t[1] > 0}
    assert removed == {i for i in range(40) if i % 4 in (1, 2)}


def test_pack_documents_derives_n_shards_from_input(spark):
    """n_shards=None sizes the sort from the input's partition count
    (the fixed default of 8 serialized a 100 TB sort into 8 tasks —
    VERDICT r4 'What's wrong' #2)."""
    from log_ship_elastic_postfix_spark.operators import packing

    df = (spark.createDataFrame(
        [(i, "x y z") for i in range(120)], "doc_id long, text string")
        .repartition(12))
    got = packing.pack_documents(df, budget=8)
    shards = {r["shard"] for r in got.collect()}
    assert shards == set(range(12))


# ------------------------------------ hashed linear quality classifier
def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_classifier_default_matches_python_restatement(spark):
    """The default md5-derived weight rule, restated independently in
    pure Python, reproduces score_micro/keep exactly."""
    from log_ship_elastic_postfix_spark.functions import classifier
    rows = [(1, "Alpha beta GAMMA"), (2, ""), (3, "  x  y  z  "),
            (4, "beta beta beta")]
    out = {r["doc_id"]: r for r in
           classifier.classifier_score(_mk_docs(spark, rows)).collect()}

    def w(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:4], 16) - 32768

    for doc_id, text in rows:
        toks = [t for t in text.lower().strip().split() if t]
        exp = sum(w(t) for t in toks)
        got = out[doc_id]
        assert got["n_tokens"] == len(toks), doc_id
        assert got["score_micro"] == exp, doc_id
        assert got["keep"] == (exp >= 0), doc_id


def test_classifier_weight_table_path_equals_default(spark):
    """Injecting a weight table that materializes the default rule
    yields identical scores — pins that the broadcast-join production
    path and the literal-expression path implement one model."""
    from log_ship_elastic_postfix_spark.functions import classifier
    docs = _mk_docs(spark, [(i, f"tok{i % 11} tok{i % 7} shared word")
                            for i in range(40)] + [(99, "")])
    wtab = spark.range(classifier.N_BUCKETS).select(
        F.col("id").alias("bucket"),
        (F.col("id") - classifier.N_BUCKETS // 2).alias("weight"))
    a = classifier.classifier_score(docs).orderBy("doc_id").collect()
    b = classifier.classifier_score(docs, weights=wtab) \
        .orderBy("doc_id").collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]


def test_classifier_bias_and_threshold(spark):
    """keep ⇔ score_micro ≥ threshold·n_tokens, in exact integers:
    a sparse weight table isolates the arithmetic."""
    from log_ship_elastic_postfix_spark.functions import classifier
    docs = _mk_docs(spark, [(1, "a a a a"), (2, "a a"), (3, "")])
    # weight(a) = +5 via a one-row table on a's bucket
    bucket_a = int(hashlib.md5(b"a").hexdigest()[:4], 16)
    wtab = spark.createDataFrame([(bucket_a, 5)], ["bucket", "weight"])
    out = {r["doc_id"]: r for r in classifier.classifier_score(
        docs, weights=wtab, bias_micro=-8, threshold_micro=3).collect()}
    # doc1: 4*5-8=12 vs 3*4=12 -> keep; doc2: 2*5-8=2 vs 6 -> drop;
    # doc3: -8 vs 0 -> drop
    assert out[1]["score_micro"] == 12 and out[1]["keep"]
    assert out[2]["score_micro"] == 2 and not out[2]["keep"]
    assert out[3]["score_micro"] == -8 and not out[3]["keep"]


# ------------------------------------------------- per-domain caps
def _pages(spark, n=120):
    """1 light domain (ids %4==0 -> site0), rest heavy on site1."""
    rows = [(i, f"https://www.site{0 if i % 4 == 0 else 1}.com/p/{i}",
             (i * 37) % 100) for i in range(n)]
    return spark.createDataFrame(rows, ["doc_id", "url", "quality"])


def test_domain_cap_keeps_top_ranked_per_domain(spark):
    from log_ship_elastic_postfix_spark.operators import domains
    df = _pages(spark)
    out = domains.domain_cap(df, cap=10, order_col="quality",
                             id_col="doc_id").collect()
    by_dom = {}
    for r in out:
        by_dom.setdefault(r["domain"], []).append(r)
    # light domain: 30 docs > 10 -> also capped here; recompute expected
    import collections
    rows = _pages(spark).collect()
    want = collections.defaultdict(list)
    for r in rows:
        dom = "site0.com" if r["doc_id"] % 4 == 0 else "site1.com"
        want[dom].append(r)
    for dom, grp in want.items():
        keep = sorted(grp, key=lambda r: (r["quality"], r["doc_id"]))[:10]
        got_ids = sorted(r["doc_id"] for r in by_dom[dom])
        assert got_ids == sorted(r["doc_id"] for r in keep), dom
        assert all(r["capped"] for r in by_dom[dom]), dom


def test_domain_cap_under_cap_passthrough_uncapped(spark):
    from log_ship_elastic_postfix_spark.operators import domains
    df = _pages(spark, n=24)  # 6 on site0, 18 on site1, cap 20
    out = domains.domain_cap(df, cap=20, order_col="quality",
                             id_col="doc_id").collect()
    assert len(out) == 24
    assert not any(r["capped"] for r in out)


def test_domain_cap_salted_and_join_strategy_invariant(spark):
    """salted ≡ unsalted ≡ shuffle-join fallback: identical kept sets
    (salting only spreads the top-cap sort; it must not change it)."""
    from log_ship_elastic_postfix_spark.operators import domains
    df = _pages(spark)

    def kept(**kw):
        return sorted(
            (r["doc_id"], r["domain"], r["capped"])
            for r in domains.domain_cap(
                df, cap=7, order_col="quality", id_col="doc_id",
                **kw).collect())

    base = kept(n_salts=1)
    assert kept(n_salts=8) == base
    assert kept(n_salts=8, broadcast_over=False) == base


# ------------------------------------------------------ SemDeDup
def test_semantic_dedup_planted_closed_form(spark):
    """Two orthogonal clusters; verbatim + near-verbatim copies drop
    by min-id-wins, cluster assignment is exact."""
    from log_ship_elastic_postfix_spark.operators import similarity
    e0 = [1.0] + [0.0] * 15
    e1 = [0.0] * 8 + [1.0] + [0.0] * 7
    near_e0 = [1.0, 0.01] + [0.0] * 14          # cos ≈ 0.99995 vs e0
    far_e0 = [1.0, 0.5] + [0.0] * 14            # cos ≈ 0.894 < 0.95
    rows = [(0, e0), (1, e1), (2, near_e0), (3, far_e0), (10, e0),
            (11, e1)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["vec_id"]: r for r in similarity.semantic_dedup(
        df, centroids=[(0, e0), (1, e1)], threshold=0.95).collect()}
    assert {i: out[i]["cell"] for i in out} == \
        {0: 0, 1: 1, 2: 0, 3: 0, 10: 0, 11: 1}
    # dropped: 2 (near e0, id 0 smaller), 10 (verbatim e0), 11
    # (verbatim e1); kept: 0, 1, 3 (0.894 below threshold)
    assert {i for i in out if out[i]["dropped"]} == {2, 10, 11}


def test_semantic_dedup_tie_breaks_to_lowest_cid(spark):
    """A vector equidistant from two centroids lands in the lower
    cid's cell (the rounded-cosine tie rule both engines share)."""
    from log_ship_elastic_postfix_spark.operators import similarity
    e0 = [1.0] + [0.0] * 15
    e1 = [0.0, 1.0] + [0.0] * 14
    mid = [1.0, 1.0] + [0.0] * 14               # cos = 0.707.. to both
    df = spark.createDataFrame([(5, mid)], ["vec_id", "embedding"])
    out = similarity.semantic_dedup(
        df, centroids=[(3, e1), (2, e0)], threshold=0.99).collect()
    assert out[0]["cell"] == 2 and not out[0]["dropped"]


# ---------------------------------------------- context-window chunking
def test_chunk_documents_closed_form(spark):
    from log_ship_elastic_postfix_spark.operators import packing
    text = " ".join(f"t{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame([(1, text), (2, "one"), (3, "  ")],
                               ["doc_id", "text"])
    out = sorted(
        ((r["doc_id"], r["chunk_id"], r["start_token"],
          r["n_chunk_tokens"], r["chunk_text"])
         for r in packing.chunk_documents(
             df, window=8, stride=4).collect()))
    # doc1 starts 0,4,8: [t0..t7], [t4..t9](6), [t8..t9](2); doc2 one
    # chunk; doc3 (whitespace only) none
    assert out == [
        (1, 0, 0, 8, " ".join(f"t{i}" for i in range(8))),
        (1, 1, 4, 6, " ".join(f"t{i}" for i in range(4, 10))),
        (1, 2, 8, 2, "t8 t9"),
        (2, 0, 0, 1, "one"),
    ]


def test_chunk_documents_disjoint_cover_every_token(spark):
    """stride == window: chunks partition the token stream exactly."""
    from log_ship_elastic_postfix_spark.operators import packing
    rows = [(i, " ".join(f"w{j}" for j in range((i * 13) % 40 + 1)))
            for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = packing.chunk_documents(df, window=7).collect()
    per_doc = {}
    for r in got:
        per_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, text in rows:
        n = len(text.split())
        chunks = sorted(per_doc[doc_id], key=lambda r: r["chunk_id"])
        assert sum(r["n_chunk_tokens"] for r in chunks) == n
        assert " ".join(r["chunk_text"] for r in chunks) == text


# ------------------------------------------- cross-source dup audit
def test_cross_source_duplication_closed_form(spark):
    from log_ship_elastic_postfix_spark.operators import dedup
    rows = [
        (1, "same text", "a"), (2, "same  TEXT ", "a"),  # a-a pair
        (3, "same text", "b"),                           # spans a-b ×2
        (4, "other", "a"), (5, "other", "c"),            # a-c pair
        (6, "unique", "b"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {(r["source_a"], r["source_b"]): r["dup_pairs"]
           for r in dedup.cross_source_duplication(df).collect()}
    assert got == {("a", "a"): 1, ("a", "b"): 2, ("a", "c"): 1}


# --------------------------- clean_corpus: classifier + domain-cap stages
def test_clean_corpus_classifier_and_domain_cap_stages(spark):
    """The composed chain runs the new gates with discriminating
    counts: the domain cap truncates the heavy domain, the default
    classifier gate drops exactly the docs whose independent Python
    restatement scores below threshold."""
    from log_ship_elastic_postfix_spark.plans import corpus

    rows = []
    for i in range(40):
        dom = 0 if i % 4 == 0 else 1          # heavy domain 1 (30 docs)
        rows.append((i, f"uniq{i} alpha beta word{i % 9} tail{i % 5}",
                     f"https://www.site{dom}.com/p/{i}"))
    df = spark.createDataFrame(rows, ["doc_id", "text", "url"])
    cfg = corpus.CorpusCleanConfig(
        url_col="url", exact_dedup=False, neardup_threshold=None,
        quality_min_words=None, domain_cap_n=12,
        classifier_threshold_micro=0)
    res = corpus.clean_corpus(df, cfg)
    got = sorted(r["doc_id"] for r in res.docs.collect())

    # expected: domain 0 (10 docs) passes; domain 1 keeps lowest 12
    # ids (no order col -> id order); then classifier keep rule
    import collections
    doms = collections.defaultdict(list)
    for i, text, url in rows:
        doms["site0" if i % 4 == 0 else "site1"].append(i)
    survivors = set(doms["site0"]) | set(sorted(doms["site1"])[:12])

    def score(text):
        return sum(
            int(hashlib.md5(t.encode()).hexdigest()[:4], 16) - 32768
            for t in text.lower().split())

    want = sorted(i for i, text, url in rows
                  if i in survivors and score(text) >= 0)
    assert got == want
    assert res.stage_counts["domain_cap"] == len(survivors)
    assert res.stage_counts["classifier"] == len(want)
    # and the gate is discriminating: some survivor was dropped by it
    assert res.stage_counts["classifier"] < len(survivors)


def test_clean_corpus_classifier_weight_table_stage(spark):
    """The injected-weights leg of the classifier stage: a hostile
    weight table that nukes one token drops exactly the docs carrying
    it."""
    from log_ship_elastic_postfix_spark.plans import corpus

    rows = [(1, "good text here"), (2, "bad words here"),
            (3, "good stuff")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    bucket_bad = int(hashlib.md5(b"bad").hexdigest()[:4], 16)
    wtab = spark.createDataFrame([(bucket_bad, -1)], ["bucket", "weight"])
    cfg = corpus.CorpusCleanConfig(
        exact_dedup=False, neardup_threshold=None,
        quality_min_words=None, classifier_threshold_micro=0,
        classifier_weights=wtab)
    res = corpus.clean_corpus(df, cfg)
    assert sorted(r["doc_id"] for r in res.docs.collect()) == [1, 3]


# ------------------------- incremental dedup vs committed HashState
def test_incremental_dedup_two_batch_resume(spark, tmp_path):
    """Batch 2 must drop docs whose content was committed by batch 1
    (cross-batch), and first-id-wins within each batch."""
    from log_ship_elastic_postfix_spark.operators.dedup import (
        HashState, incremental_exact_dedup)

    state = HashState(str(tmp_path / "hashes"))
    b1 = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text"), (3, "Alpha   TEXT")],
        "doc_id long, text string")
    s1 = incremental_exact_dedup(b1, state.read(spark))
    got1 = sorted(r["doc_id"] for r in s1.collect())
    assert got1 == [1, 2]  # 3 normalizes to 1's content
    state.append(s1)

    b2 = spark.createDataFrame(
        [(10, "beta text"),      # committed in batch 1 -> dropped
         (11, "gamma text"),     # novel
         (12, "gamma  text"),    # within-batch dup of 11
         (13, "ALPHA text")],    # committed -> dropped
        "doc_id long, text string")
    s2 = incremental_exact_dedup(b2, state.read(spark))
    assert sorted(r["doc_id"] for r in s2.collect()) == [11]
    state.append(s2)

    # replay idempotence: re-running batch 2 against the updated
    # state yields nothing new (its own hashes are now committed),
    # and double-append does not corrupt the store
    s2r = incremental_exact_dedup(b2, state.read(spark))
    assert s2r.count() == 0
    state.append(s2)  # duplicate append
    assert incremental_exact_dedup(b2, state.read(spark)).count() == 0


def test_incremental_dedup_first_batch_no_state(spark):
    from log_ship_elastic_postfix_spark.operators.dedup import (
        incremental_exact_dedup)

    b = spark.createDataFrame(
        [(5, "x y"), (4, "x  y"), (6, "z")], "doc_id long, text string")
    got = sorted(r["doc_id"] for r in
                 incremental_exact_dedup(b, None).collect())
    assert got == [4, 6]  # min id wins the x-y group


# ----------------------------------------- corpus composition report
def test_corpus_report_rollup_invariants(spark):
    """Grand total == sum of leaf cells; per-source subtotal == sum of
    its (source, lang) cells; grouping_id identifies each level; no
    NULL group values survive (coalesced to '(all)')."""
    from log_ship_elastic_postfix_spark.operators.report import (
        corpus_report)

    rows = spark.createDataFrame(
        [(1, "a b c", "en", "s1"), (2, "d e", "en", "s1"),
         (3, "f", "de", "s1"), (4, "g h i j", "de", "s2"),
         (5, "", "en", "s2")],
        "doc_id long, text string, lang string, source string")
    out = {(r["source"], r["lang"]): r
           for r in corpus_report(rows).collect()}
    assert all(k[0] is not None and k[1] is not None for k in out)

    leaf = {k: v for k, v in out.items()
            if v["grouping_id"] == 0}
    assert leaf[("s1", "en")]["n_docs"] == 2
    assert leaf[("s1", "en")]["n_tokens"] == 5
    assert leaf[("s2", "en")]["min_doc_tokens"] == 0

    sub = out[("s1", "(all)")]
    assert sub["grouping_id"] == 1  # lang rolled up
    assert sub["n_docs"] == 3 and sub["n_tokens"] == 6

    total = out[("(all)", "(all)")]
    assert total["grouping_id"] == 3
    assert total["n_docs"] == 5
    assert total["n_tokens"] == sum(v["n_tokens"] for v in leaf.values())
    assert total["n_bytes"] == sum(v["n_bytes"] for v in leaf.values())
    assert total["max_doc_tokens"] == 4


# -------------------------------------- training-shard writer
def _shard_docs(spark, n=120):
    return spark.createDataFrame(
        [(i, f"doc {i} body " + "tok " * (i % 7)) for i in range(n)],
        "doc_id long, text string")


def test_write_training_shards_roundtrip(spark, tmp_path):
    """Layout + manifest contract: ids round-trip, positions are
    dense and the file read order IS the training order, the
    manifest verifies, and a rewrite is byte-deterministic."""
    from log_ship_elastic_postfix_spark.operators import shards

    df = _shard_docs(spark)
    out = str(tmp_path / "corpus_drop")
    totals = shards.write_training_shards(df, out, seed="s1",
                                          n_shards=8)
    assert totals["n_docs"] == 120 and totals["n_shards"] == 8

    data = spark.read.parquet(out + "/data")
    assert sorted(r["doc_id"] for r in data.collect()) == list(range(120))
    # dense per-shard positions
    for r in (data.groupBy("shard")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.min("position").alias("lo"),
                   F.max("position").alias("hi")).collect()):
        assert (r["lo"], r["hi"]) == (0, r["n"] - 1), r
    # sequential parquet read of one shard is already position-order
    one = spark.read.parquet(out + "/data/shard=0")
    pos = [r["position"] for r in one.collect()]
    assert pos == sorted(pos)
    # manifest audit passes
    assert shards.verify_shards(spark, out).count() == 0
    # determinism: a second drop produces identical manifests
    out2 = str(tmp_path / "corpus_drop2")
    shards.write_training_shards(df, out2, seed="s1", n_shards=8)
    m1 = sorted(map(tuple, spark.read.parquet(out + "/_manifest")
                    .collect()))
    m2 = sorted(map(tuple, spark.read.parquet(out2 + "/_manifest")
                    .collect()))
    assert m1 == m2
    # a different seed is a different permutation
    out3 = str(tmp_path / "corpus_drop3")
    shards.write_training_shards(df, out3, seed="s2", n_shards=8)
    m3 = sorted(map(tuple, spark.read.parquet(out3 + "/_manifest")
                    .collect()))
    assert m3 != m1


def test_verify_shards_flags_tampered_shard(spark, tmp_path):
    """Corrupting one shard's text is caught by exactly that shard's
    fingerprint (counts/bytes may also shift; no other shard may)."""
    import shutil

    from log_ship_elastic_postfix_spark.operators import shards

    df = _shard_docs(spark, 60)
    out = str(tmp_path / "drop")
    shards.write_training_shards(df, out, n_shards=4)
    # tamper: rewrite shard=1 with one row's text altered
    sdir = out + "/data/shard=1"
    rows = spark.read.parquet(sdir).collect()
    rows[0] = rows[0].asDict()
    rows[0]["text"] = rows[0]["text"] + " TAMPERED"
    fixed = [r if isinstance(r, dict) else r.asDict() for r in rows]
    tmp = str(tmp_path / "tampered")
    spark.createDataFrame(fixed).coalesce(1) \
        .write.mode("overwrite").parquet(tmp)
    shutil.rmtree(sdir)
    shutil.move(tmp, sdir)
    bad = shards.verify_shards(spark, out).collect()
    assert [r["shard"] for r in bad] == [1]


def test_incremental_dedup_randomized_vs_model(spark, tmp_path):
    """Four random batches against a pure-Python reference model of
    the published rule (first id per normalized-content key not yet
    committed), with a small whitespace/case-variant alphabet so
    within-batch and cross-batch collisions both occur often."""
    import random

    from log_ship_elastic_postfix_spark.operators.dedup import (
        HashState, incremental_exact_dedup)

    rng = random.Random(20260817)
    variants = []
    for j in range(10):
        variants += [f"tok{j} text", f" TOK{j}   text ", f"tok{j}\ttext"]
    state = HashState(str(tmp_path / "hashes"))
    seen: set = set()
    next_id = 0
    for batch_i in range(4):
        rows = []
        for _ in range(rng.randint(5, 40)):
            rows.append((next_id, rng.choice(variants)))
            next_id += 1
        df = spark.createDataFrame(rows, "doc_id long, text string")
        surv = incremental_exact_dedup(df, state.read(spark))
        got = sorted(r["doc_id"] for r in surv.collect())
        first: dict = {}
        for i, t in rows:
            key = " ".join(t.lower().split())
            if key in seen or key in first:
                continue
            first[key] = i
        assert got == sorted(first.values()), f"batch {batch_i}"
        seen |= set(first)
        state.append(surv)
