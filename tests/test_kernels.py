"""The Arrow batch kernels built by ``functions.kernel.arrow_kernel``.

Plan gate: however a kernel's output is filtered, the physical plan
evaluates it in exactly one ``ArrowEvalPython`` node (a second node is
a second Python worker per task running the kernel again).
Adversarial inputs: a NULL row, an all-NULL Arrow batch, an empty frame
and empty or short text finish without a task failure and give the
value each kernel's docstring states."""

from __future__ import annotations

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from log_ship_elastic_postfix_spark.functions import textstats
from log_ship_elastic_postfix_spark.operators import dedup, similarity

SF_DIR = "/root/testdata/sf0.01"
_NODE = re.compile(r"ArrowEvalPython \[(.*)\], \[")


def _top_level(items: str) -> list[str]:
    """Split ``a(x, y)#1, b(z)#2`` on the commas outside parentheses."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(items):
        depth += {"(": 1, ")": -1}.get(ch, 0)
        if ch == "," and depth == 0:
            out.append(items[start:i].strip())
            start = i + 1
    return out + [items[start:].strip()]


def python_udf_nodes(df) -> Counter:
    """Each Python UDF call of the physical plan (``name(args)#id``) →
    the number of ArrowEvalPython nodes that evaluate it."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return Counter(udf for m in _NODE.finditer(plan)
                   for udf in _top_level(m.group(1)))


def _texts(spark):
    return spark.createDataFrame(
        [(0, "a b c d e\na b c d e"), (1, "f g h")], "id long, text string")


def _vecs(spark):
    return spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.6, 0.8]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>")


def _embeddings_dir(tmp_path, vecs):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({
        "vec_id": pa.array(range(len(vecs)), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32()))}),
        str(tmp_path / "embeddings.parquet"))
    return str(tmp_path)


# kernel → (UDF name in the plan, frame filtered on the kernel's output)
GATED = {
    "shingle": ("kernel", lambda spark, tmp: _texts(spark).select(
        "id", dedup.simhash64(F.col("text")).alias("h"))
        .filter(F.col("h") != 0)),
    "cosine": ("cos", lambda spark, tmp: _vecs(spark).select(
        "vec_id", similarity._cosine_batch(
            F.col("embedding"), F.col("embedding")).alias("s"))
        .filter(F.col("s") > 0.5)),
    "lsh_sign": ("buckets", lambda spark, tmp: similarity.lsh_sign_buckets(
        _vecs(spark), dim=2, n_tables=2, n_bits=3)
        .filter(F.col("bucket") > 0)),
    "ivf_assign": ("assign", lambda spark, tmp: similarity.ivf_topk(
        _vecs(spark), k=1, n_probe=1, centroids=[[1.0, 0.0], [0.0, 1.0]])
        .filter(F.col("score") > 0)),
    "repetition": ("rep", lambda spark, tmp: _texts(spark).select(
        "id", textstats.repetition_stats(F.col("text")).alias("r"))
        .filter((F.col("r.dup_line_frac") > 0)
                & (F.col("r.top_bigram_char_frac") > 0))),
    "dots_vs_queries": ("_dots_vs_queries",
                        lambda spark, tmp: entry.queries()["ann_topk_dot"](
                            spark, _embeddings_dir(tmp, [[1.0, 2.0],
                                                         [3.0, 4.0]]))
                        .filter(F.col("dot") > 0)),
}


@pytest.mark.parametrize("kernel", sorted(GATED))
def test_kernel_evaluated_in_one_python_node(spark, tmp_path, kernel):
    name, build = GATED[kernel]
    df = build(spark, tmp_path)
    nodes = python_udf_nodes(df)
    assert [u for u in nodes if u.startswith(name + "(")], nodes
    assert all(n == 1 for n in nodes.values()), nodes
    df.collect()


def test_ann_topk_ivf_evaluates_each_udf_once(spark):
    """The IVF query: the cosine re-rank and the two assigns (corpus
    cell, query probes), each in exactly one ArrowEvalPython node —
    the join's inferred ``isnotnull(element_at(assign(…), 1))`` once
    stacked a second corpus-side assign."""
    df = entry.queries()["ann_topk_ivf"](spark, SF_DIR)
    nodes = python_udf_nodes(df)
    assert sorted(u.split("(")[0] for u in nodes) == [
        "assign", "assign", "cos"], nodes
    assert all(n == 1 for n in nodes.values()), nodes


# --------------------------------------------------- adversarial inputs
_SHAPES = ["null_row", "all_null_batch", "empty_frame"]


def _frame(spark, shape, live_rows, schema):
    """``live_rows`` plus a NULL row, four NULL rows in one partition
    (one Arrow batch), or no rows."""
    if shape == "null_row":
        rows = live_rows + [(len(live_rows), None)]
    elif shape == "all_null_batch":
        rows = [(i, None) for i in range(4)]
    else:
        rows = []
    return spark.createDataFrame(rows, schema).coalesce(1)


_TEXT = "id long, text string"
_SHORT_TEXTS = [(0, ""), (1, "a"), (2, "a b"), (3, "   \t ")]
# the one bigram of "a b" covers all of its characters
_REP = {"a b": (0.0, 0.0, 1.0, 0.0)}


@pytest.mark.parametrize("shape", _SHAPES)
def test_text_kernels_degenerate_input(spark, shape):
    """Fewer than n tokens (NULL, empty, blank, short text): NULL
    MinHash bands and SimHash and an empty gram-id set; repetition
    fractions are 0.0 where no line repeats and no n-gram exists."""
    df = _frame(spark, shape, _SHORT_TEXTS, _TEXT)
    rows = df.select(
        "text",
        dedup.minhash_band_buckets(F.col("text"), 8, 3, 4).alias("bands"),
        dedup.simhash64(F.col("text"), 3).alias("sim"),
        dedup._gram_hashes64(F.col("text"), 3).alias("grams"),
        textstats.repetition_stats(F.col("text")).alias("rep")).collect()
    assert len(rows) == df.count()
    for r in rows:
        assert (r["bands"], r["sim"], r["grams"]) == (None, None, []), r
        assert tuple(r["rep"]) == _REP.get(r["text"], (0.0,) * 4), r


_VEC = "vec_id long, embedding array<double>"
_LIVE_VECS = [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.6, 0.8])]


@pytest.mark.parametrize("shape", _SHAPES)
def test_vector_kernels_degenerate_input(spark, tmp_path, shape):
    """NULL and zero vectors: cosine 0.0, every sign bit 1 in the LSH
    buckets, IVF score 0.0 and NULL dots."""
    df = _frame(spark, shape, _LIVE_VECS, _VEC)
    null_ids = {r["vec_id"] for r in df.collect()
                if r["embedding"] is None}

    cos = {r["vec_id"]: r["s"] for r in df.select(
        "vec_id", similarity._cosine_batch(
            F.col("embedding"), F.array(F.lit(1.0), F.lit(0.0))).alias("s"))
        .collect()}
    assert all(cos[i] == 0.0 for i in null_ids | ({1} & set(cos)))

    buckets = similarity.lsh_sign_buckets(
        df, dim=2, n_tables=2, n_bits=3).collect()
    assert len(buckets) == 2 * df.count()
    assert all(r["bucket"] == 7 for r in buckets
               if r["vec_id"] in null_ids | {1})

    ivf = similarity.ivf_topk(df, k=3, n_probe=2,
                              centroids=[[1.0, 0.0], [0.0, 1.0]]).collect()
    assert all(r["score"] == 0.0 for r in ivf
               if {r["query_id"], r["nbr_id"]} & (null_ids | {1}))

    vecs = [r["embedding"] for r in df.orderBy("vec_id").collect()]
    dots = entry.queries()["ann_topk_dot"](
        spark, _embeddings_dir(tmp_path, vecs)).collect()
    assert len(dots) == (len(vecs) * (len(vecs) - 1) if vecs else 0)
    assert all(r["dot"] is None for r in dots
               if {r["query_id"], r["nbr_id"]} & null_ids)
