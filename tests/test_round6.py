"""Round-6 optimization guards: internals changed for performance
must keep their published behavior (and the fixed write-task balance
stays fixed)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F


def test_shard_write_tasks_balanced(spark, tmp_path):
    """repartitionByRange on shard: one write task carries at most a
    contiguous run of ~1 shard (range boundary sharing allows 2) —
    the hash-repartition it replaced left ~37 % of tasks empty and
    packed 2-4 shards onto stragglers (VERDICT r5 #3)."""
    from log_ship_elastic_postfix_spark.operators.shards import _with_order

    df = spark.createDataFrame(
        [(i, f"doc text {i}") for i in range(2000)], ["doc_id", "text"])
    n_shards = 16
    docs = _with_order(df, id_col="doc_id", seed="42", n_shards=n_shards)
    parts = (docs.repartitionByRange(n_shards, "shard")
             .withColumn("_p", F.spark_partition_id())
             .groupBy("_p")
             .agg(F.countDistinct("shard").alias("n_shards_in_task"))
             .collect())
    assert max(r["n_shards_in_task"] for r in parts) <= 2
    # every shard is written by some task, none lost
    total = (docs.select("shard").distinct().count())
    assert total == n_shards


def test_minhash_band_buckets_collide_iff_band_equal(spark):
    """The fused signature+banding kernel: equal minhash band slices
    MUST collide (recall contract); distinct docs get ≥1 distinct
    bucket. Checked against independently computed signatures."""
    import numpy as np
    from log_ship_elastic_postfix_spark.operators import dedup

    texts = ["the quick brown fox jumps over the lazy dog " * 3,
             "the quick brown fox jumps over the lazy dog " * 3,
             "a completely different document with other words entirely"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               ["doc_id", "text"])
    rows = (df.select("doc_id", dedup.minhash_band_buckets(
        F.col("text"), 32, 3, 8).alias("bb")).orderBy("doc_id").collect())
    b0, b1, b2 = (np.array(r["bb"]) for r in rows)
    assert (b0 == b1).all(), "identical docs must share every band bucket"
    assert (b0 != b2).any(), "different docs must differ in some band"


def test_minhash_band_buckets_pinned(spark):
    """The tokenizer and the low lane the band buckets hash with are
    shared with the other dedup kernels; the bucket values are pinned
    so a change there shows (k=8/bands=4 over 3-grams, and k=4/bands=2
    over 6-grams, which needs the coefficient extension), and a doc
    shorter than n_shingle stays NULL."""
    from log_ship_elastic_postfix_spark.operators import dedup

    texts = ["The quick brown fox jumps over the lazy dog",
             "lorem ipsum dolor sit amet consectetur adipiscing elit sed do",
             "a b"]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    rows = (df.select(
        "doc_id",
        dedup.minhash_band_buckets(F.col("text"), 8, 3, 4).alias("bb"),
        dedup.minhash_band_buckets(F.col("text"), 4, 6, 2).alias("bb6"))
        .orderBy("doc_id").collect())
    assert [(r["bb"], r["bb6"]) for r in rows] == [
        ([3068866863649535979, 171290526924671849,
          -5156541991276600236, -1127642486349187061],
         [-4577404097114422540, -5798340811075664233]),
        ([-5657394299704550526, -2572578773790845185,
          -3063864098833065568, -5717230371931668618],
         [4267166599381043487, 4941884714971095145]),
        (None, None)]


def test_gram_hash_lanes_independent():
    """The two 31-bit lanes of a 64-bit gram id must collide
    independently. Token-hash deltas orthogonal to both the low-lane
    coefficients and (1, 1, 1) make the low lanes of two grams equal;
    a high lane derived as 31·c + 17 from the low one then collides
    too (a full 64-bit collision), the independent lane does not. The
    finalizer over the packed lanes is a bijection, so it neither adds
    nor removes a collision."""
    import numpy as np
    from log_ship_elastic_postfix_spark.operators import dedup

    p = dedup._MERSENNE31
    lanes = dedup._lanes(3)
    c = [int(v) for v in lanes[0]]
    delta = [(c[1] - c[2]) % p, (c[2] - c[0]) % p, (c[0] - c[1]) % p]
    x = np.array([p // 2, p // 3, p // 5], dtype=np.int64)
    y = np.array([(int(v) - d) % p for v, d in zip(x, delta)],
                 dtype=np.int64)
    sx, sy = (dedup._shingle_hashes(v, 3, lanes) for v in (x, y))
    assert sx[0] == sy[0], "construction must collide the low lane"
    hx, hy = dedup._hash64(x, lanes), dedup._hash64(y, lanes)
    assert hx != hy
    derived = np.stack([lanes[0], (lanes[0] * 31 + 17) % p])
    assert dedup._hash64(x, derived) == dedup._hash64(y, derived)


def test_shingle_strings_equal_jvm_shingles(spark):
    """The gram-id set the Jaccard verify consumes must be the JVM
    shingles expression's distinct-gram SET under the gram hash: each
    JVM shingle string, re-tokenized and hashed with the same lanes,
    gives exactly the ids _gram_hashes64 emits for that doc."""
    import zlib

    import numpy as np
    from dedup_reference import shingles
    from log_ship_elastic_postfix_spark.operators import dedup

    n = 3
    lanes = dedup._lanes(n)

    def gram_id(gram):
        th = np.array([zlib.crc32(t.encode("utf-8"))
                       for t in gram.split(" ")], dtype=np.int64)
        return int(dedup._hash64(th, lanes).astype(np.int64)[0])

    # 5-8: separators Python's str.split() breaks on but the tokenizer
    # (textstats.WS) keeps inside a token (NBSP, U+0085, U+2028,
    # \x1c-\x1f)
    df = spark.createDataFrame(
        [(1, "The  Quick brown fox  the quick brown"), (2, "a b"),
         (3, "x y z w v"), (4, ""),
         (5, "alpha beta\u00a0gamma delta epsilon"),
         (6, "alpha beta gamma\u0085delta epsilon"),
         (7, "alpha beta\u2028gamma delta\u2029epsilon"),
         (8, "alpha\x1cbeta gamma\x1ddelta epsilon\x1ezeta\x1feta")],
        ["doc_id", "text"])
    rows = (df.select(
        "doc_id",
        dedup._gram_hashes64(F.col("text"), n).alias("py"),
        shingles(F.col("text"), n).alias("jvm"))
        .orderBy("doc_id").collect())
    for r in rows:
        assert sorted(r["py"]) == sorted({gram_id(g) for g in r["jvm"]}), r
    assert [len(r["py"]) for r in rows] == [4, 0, 3, 0, 2, 2, 1, 1]


def test_gram_hashes_match_shingle_semantics(spark):
    """_gram_hashes64 emits one hash per DISTINCT word n-gram — the
    count must equal the JVM shingle expression's distinct-gram count
    for every doc (the quantity decontamination joins on). n=8 is the
    operator's own default and needs the coefficient extension beyond
    the published five (it crashed before _coef — caught by the
    8-gram dedup_bench run)."""
    from dedup_reference import shingles
    from log_ship_elastic_postfix_spark.operators import dedup

    long_doc = " ".join(f"w{i % 11}" for i in range(30))
    df = spark.createDataFrame(
        [(1, "a b c a b c a b"), (2, "x  y\tz  x y"), (3, ""),
         (4, "one two"), (5, "ONE two THREE four one TWO three FOUR"),
         (6, long_doc)],
        ["doc_id", "text"])
    for n in (3, 8):
        got = (df.select(
            "doc_id",
            F.size(dedup._gram_hashes64(F.col("text"), n)).alias("n_hash"),
            F.size(shingles(F.col("text"), n)).alias("n_gram"))
            .orderBy("doc_id").collect())
        for r in got:
            assert r["n_hash"] == r["n_gram"], (n, r)


def test_normalize_dates_memo_matches_impl():
    """The factorize/scatter memoization must be row-for-row identical
    to the direct implementation, including NaN (envelope-miss) rows
    and the repeated-timestamp fast path."""
    import datetime as dt

    from log_ship_elastic_postfix_spark.operators.parse import (
        _normalize_dates, _normalize_dates_impl)

    mon = pd.Series(["Jul", "Jul", None, "Dec", "Jul", "Jul"])
    day = pd.Series(["26", "26", None, "31", "26", "4"])
    hh = pd.Series(["04", "04", None, "23", "04", "09"])
    mi = pd.Series(["18", "18", None, "59", "18", "00"])
    ss = pd.Series(["34", "34", None, "59", "34", "01"])
    now = dt.datetime(2024, 8, 1)
    a = _normalize_dates(mon, day, hh, mi, ss, "America/Phoenix", now)
    b = _normalize_dates_impl(mon, day, hh, mi, ss, "America/Phoenix", now)
    assert list(a.fillna("~")) == list(b.fillna("~"))


def test_null_vector_rows_score_zero_not_crash(spark):
    """A NULL embedding must reproduce the old expression semantics
    (score 0.0 branch) instead of crashing the batch kernel."""
    from log_ship_elastic_postfix_spark.operators import similarity

    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0, 0.0]),
            (2, None), (3, [0.0, 1.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.embedding_near_duplicates(
        df, dim=4, threshold=0.9, n_tables=4, n_bits=2).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (0, 1) in pairs          # the identical pair survives
    assert all(2 not in p for p in pairs)  # null vector never matches

    sem = similarity.semantic_dedup(
        df, centroids=[(0, [1.0, 0.0, 0.0, 0.0])], threshold=0.9,
        n_blocks=2).collect()
    got = {r["vec_id"]: r["dropped"] for r in sem}
    assert got[1] is True and got[2] is False


def test_ann_topk_dot_null_embedding_matches_oracle(spark, tmp_path):
    """A NULL embedding gives NULL dots, as DuckDB's list_dot_product
    does, instead of failing the task: the NULL neighbour sorts last
    under ``dot desc`` on both engines, and a NULL query vector ranks
    its neighbours by id alone."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    vecs = [[0.5, 0.25, 0.0, 1.0], [0.125, 0.5, 0.75, 0.0], None,
            [1.0, 1.0, 0.5, 0.25], [0.0, 0.0, 0.25, 0.5],
            [0.75, 0.0, 1.0, 0.125]]
    pq.write_table(pa.table({
        "vec_id": pa.array(range(len(vecs)), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32()))}),
        str(tmp_path / "embeddings.parquet"))

    def rows(pdf):
        return sorted(
            tuple(None if pd.isna(v) else int(v) for v in r)
            for r in pdf[["query_id", "nbr_id", "dot", "rank"]]
            .itertuples(index=False))

    got = rows(entry.queries()["ann_topk_dot"](
        spark, str(tmp_path)).toPandas())
    con = duckdb.connect()
    con.execute("create view embeddings as select * from "
                f"'{tmp_path / 'embeddings.parquet'}'")
    want = rows(con.sql(entry.oracle_sql()["ann_topk_dot"]).df())
    assert got == want
    # every query ranks all 5 neighbours; the NULL one comes last
    assert len(got) == 6 * 5
    assert all(r[2] is None for r in got if 2 in r[:2])
    assert all(r[3] == 5 for r in got if r[1] == 2)


def test_bullet_line_ratio_breaks_lines_on_newline_only(spark):
    r"""Lines start only after "\n", as the denominator's split and the
    oracle's string_split(text, chr(10)) have it: a bullet after a bare
    "\r", U+0085 or U+2028 starts no line; CRLF ends one like "\n"."""
    from log_ship_elastic_postfix_spark.functions.textstats import (
        bullet_line_ratio)

    texts = ["- a\r\n- b\r\nc",
             "x\r- no\n* y",
             "x\u2028- no\n  • z\nw",
             "\u0085- no\n-"]

    def want(t):
        lines = t.split("\n")
        return sum(l.lstrip(" ")[:1] in ("-", "*", "•")
                   for l in lines) / len(lines)

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r[0] for r in df.select(bullet_line_ratio(F.col("text")))
           .collect()]
    assert got == [want(t) for t in texts] == [2 / 3, 1 / 2, 1 / 3, 1 / 2]
