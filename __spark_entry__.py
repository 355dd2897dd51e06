"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 plus
the training-data-pipeline ops (dedup/similarity/text-analysis) over
the driver's parquet tables; ``oracle_sql()`` carries the DuckDB
equivalent for every SQL-expressible one. Float-order-sensitive ops
(cosine ANN) are expressed as exact integer-quantized variants so the
value-hash comparison is bit-deterministic across engines; inherently
non-relational ops (the per-qid session fold) ship rows-only with
their golden-doc pytest coverage in tests/.
"""

from __future__ import annotations

import atexit
import datetime as dt
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from log_ship_elastic_postfix_spark import datagen
from log_ship_elastic_postfix_spark.functions import textstats
from log_ship_elastic_postfix_spark.operators import dedup, route, similarity
from log_ship_elastic_postfix_spark.operators.parse import parse_lines
from log_ship_elastic_postfix_spark.plans.pipeline import (
    PipelineConfig, run_batch)
from log_ship_elastic_postfix_spark.sources.pages import (
    pages_to_lines, with_batch_seq)

NOW = dt.datetime(2024, 8, 1)

_STOPS = ", ".join(f"'{w}'" for w in textstats.EN_STOPWORDS)

# exact all-pairs word-3-gram Jaccard ≥ 0.5 over documents — ground
# truth for both LSH near-dup paths (shingle semantics mirror
# tests/dedup_reference.shingles: normalized text, distinct 3-grams)
_JACCARD_PAIRS_SQL = (
    "with t as (select doc_id, string_split(trim(regexp_replace("
    "lower(text), '\\s+', ' ', 'g')), ' ') as toks from documents), "
    "s as (select doc_id, list_distinct(list_transform("
    "range(greatest(len(toks) - 2, 0)), "
    "i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) as sh "
    "from t), "
    "p as (select a.doc_id as id_a, b.doc_id as id_b, "
    "round(len(list_intersect(a.sh, b.sh))::double / "
    "nullif(len(list_distinct(list_concat(a.sh, b.sh))), 0), 6) as jaccard "
    "from s a join s b on a.doc_id < b.doc_id) "
    "select id_a, id_b, jaccard from p where jaccard >= 0.5"
)

# exact brute-force cosine top-5 for query ids < 50 — ground truth for
# both ANN paths (sign-LSH and IVF)
_ANN_BRUTE_SQL = (
    "with e as (select vec_id, embedding::double[] as v "
    "from embeddings), "
    "scored as (select a.vec_id as query_id, b.vec_id as nbr_id, "
    " round(list_dot_product(a.v, b.v) / "
    " (sqrt(list_dot_product(a.v, a.v)) * "
    "  sqrt(list_dot_product(b.v, b.v))), 6) as score "
    " from e a join e b on a.vec_id < 50 and a.vec_id != b.vec_id), "
    "r as (select *, row_number() over (partition by query_id "
    "order by score desc, nbr_id asc) as rank from scored) "
    "select query_id, nbr_id, score, rank::int as rank "
    "from r where rank <= 5"
)


# parquet row-group counts per table path — metadata only (never
# results), read once per process
_RG_CACHE: dict[str, int] = {}


def _t(spark: SparkSession, sf_dir: str, name: str,
       parallelize: bool = True) -> DataFrame:
    """Driver table scan, re-parallelized when the file layout is
    unsplittable. The driver's tables are single-file parquet with ONE
    row group (verified: every sf0.01-sf1.0 table except lineitem),
    and a parquet row group cannot be split across tasks — so every
    narrow query was executing its whole per-row pipeline on a single
    core regardless of cluster size (guide §6: input split size). A
    round-robin repartition to the session's default parallelism
    restores scan-side parallelism for the price of one small
    exchange; it fires only when the actual row-group count is below
    half the available slots (data-adaptive, never a local[32]
    constant), and results are unaffected — every declared query's
    output is order-canonicalized by its own sort or by the
    order-insensitive aggregate semantics the oracle gate checks.

    ``parallelize=False`` opts a query out: queries whose first real
    operator is an aggregation/join exchange gain nothing scan-side
    (their per-row map work is trivial) and would pay the extra
    exchange for free — measured sessionize 1.5 → 3.2 s with it on."""
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if not parallelize:
        return df
    par = spark.sparkContext.defaultParallelism
    if path not in _RG_CACHE:
        try:
            import glob as _g

            import pyarrow.parquet as _pq
            files = ([path] if os.path.isfile(path)
                     else _g.glob(os.path.join(path, "*.parquet")))
            _RG_CACHE[path] = sum(
                _pq.ParquetFile(f).metadata.num_row_groups
                for f in files[:256])
        except Exception:
            _RG_CACHE[path] = par  # unknown layout — leave the scan be
    if _RG_CACHE[path] < max(par // 2, 2):
        df = df.repartition(par)
    return df


def _mkdtemp(prefix: str) -> str:
    """Per-run-unique temp dir, removed at interpreter exit — the
    returned query DataFrames lazily read these paths, so deletion
    must wait until after the caller materializes them (ADVICE r5:
    repeated bench/verify runs were accumulating full corpus copies
    under the temp dir)."""
    import tempfile as _tf

    d = _tf.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


# ---------------------------------------------------------------- helpers
def _synthetic_lines(events: DataFrame) -> DataFrame:
    """Deterministic syslog lines built from the events table — the
    parse-parity fixture (both engines construct the identical corpus,
    only this side actually greps it back through the grammar)."""
    return events.select(
        F.col("event_id").alias("line_no"),
        F.format_string(
            "Jul 26 04:18:34 mx%d postfix/qmgr[%d]: Q%dX: "
            "from=<u%d@x.com>, size=%d, nrcpt=1 (queue active)",
            (F.col("user_id") % 8 + 1).cast("int"),
            F.col("event_id").cast("int"),
            F.col("event_id").cast("int"),
            F.col("user_id").cast("int"),
            F.floor(F.col("value") * 100).cast("long"),
        ).alias("line"),
    )


# ---------------------------------------------------------------- queries
def q_scan_filter_project(spark, sf_dir):
    """S1/P2/P4: scan + pushed-down predicate + pruned projection."""
    return (_t(spark, sf_dir, "events", parallelize=False)
            .filter((F.col("event_type") == "purchase") & (F.col("value") > 30))
            .select("event_id", "user_id", "value"))


def q_parse_grok(spark, sf_dir):
    """P1/P3/F1: envelope+grammar round-trip over synthetic lines.

    ``fields`` names exactly the kv fields this query projects
    (guide §4.1: every parsed field is its own regex pass and its own
    column across the Arrow boundary; the grammar itself — envelope,
    prog filter, qid rule, dates — is unchanged)."""
    lines = _synthetic_lines(_t(spark, sf_dir, "events"))
    parsed = parse_lines(lines, now=NOW,
                         fields=["from", "size", "nrcpt"]).parsed
    return parsed.select(
        F.col("line_no").alias("event_id"),
        F.col("qid"),
        F.col("host"),
        F.col("prog"),
        F.col("from").alias("sender"),
        F.col("size").alias("size_str"),
        F.col("nrcpt").alias("nrcpt_str"),
        F.col("date").alias("date_iso"),
    )


def q_props_extract(spark, sf_dir):
    """F1: regex field extraction from a semi-structured column."""
    return (_t(spark, sf_dir, "events")
            .select("event_id",
                    F.regexp_extract(F.col("props"), r'"k": (\d+)', 1)
                    .alias("k_str")))


def q_date_route_counts(spark, sf_dir):
    """P7/F6/A12/A13: date-suffix routing projection + per-route counts."""
    return (_t(spark, sf_dir, "events", parallelize=False)
            .select(F.date_format("ts", "yyyy-MM-dd").alias("route_date"))
            .groupBy("route_date")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("route_date"))


def q_sessionize(spark, sf_dir):
    """J3/A1-A13 (SQL-checkable projection of the session fold):
    per-key ordered aggregates. Exact-integer money (cents) so the
    value hash is engine-deterministic."""
    e = _t(spark, sf_dir, "events", parallelize=False)
    return (e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .alias("first_ts"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .alias("last_ts"),
        F.sum(F.floor(F.col("value") * 100)).alias("total_value_cents"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .alias("n_purchases"),
        F.array_join(F.array_sort(F.collect_set("event_type")), ",")
        .alias("event_types"),
    ))


def q_sessionize_events_list(spark, sf_dir):
    """The ordered-event-assembly shape of the fold as an
    SQL-checkable aggregate: per key, the full event-type sequence in
    (ts, event_id) order — the per-qid events array analog."""
    e = _t(spark, sf_dir, "events", parallelize=False)
    ordered = F.array_sort(F.collect_list(F.struct(
        F.col("ts"), F.col("event_id"), F.col("event_type"))))
    return (e.groupBy("user_id").agg(
        F.array_join(F.transform(ordered, lambda x: x["event_type"]), ",")
        .alias("event_seq"),
        F.count(F.lit(1)).alias("n_events")))


def q_dedup_first_wins(spark, sf_dir):
    """First-queued-wins + exact-duplicate suppression as a relational
    check: per user, count of distinct (event_type, value) pairs — the
    dedup-by-content analog (A11) — plus the first purchase id."""
    e = _t(spark, sf_dir, "events", parallelize=False)
    first_purchase = F.min(F.when(
        F.col("event_type") == "purchase", F.col("event_id")))
    return (e.groupBy("user_id").agg(
        F.countDistinct(F.col("event_type"),
                        F.floor(F.col("value") * 100)).alias("n_distinct_events"),
        first_purchase.alias("first_purchase_id")))


def q_multi_join_enrich(spark, sf_dir):
    """Multi-hop broadcast enrich chain (customer→nation→region) with
    an exact-integer revenue rollup — the J2 chain at TPC-H shape."""
    o = _t(spark, sf_dir, "orders", parallelize=False)
    c = _t(spark, sf_dir, "customer", parallelize=False)
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (o.join(c, o["o_custkey"] == c["c_custkey"])
            .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
            .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
            .groupBy(F.col("r_name").alias("region"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.floor(F.col("o_totalprice") * 100))
                 .alias("revenue_c"))
            .orderBy("region"))


def q_rollup_counts(spark, sf_dir):
    """Hierarchical rollup (date × event_type) — grouping-sets shape
    the reference lacks (SURVEY §2.4 N/A row), exact counts."""
    e = _t(spark, sf_dir, "events", parallelize=False).select(
        F.date_format("ts", "yyyy-MM-dd").alias("d"), "event_type")
    return (e.rollup("d", "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.coalesce(F.col("d"), F.lit("ALL")).alias("d"),
                    F.coalesce(F.col("event_type"), F.lit("ALL"))
                    .alias("event_type"), "n"))


def q_text_quality_full(spark, sf_dir):
    """Extended quality metrics: punctuation ratio + bpe-ish subword
    token count (regexp token classes), both engine-exact."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        textstats.punct_ratio(F.col("text")).alias("punct_ratio"),
        textstats.bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"))


def q_first_event_wins(spark, sf_dir):
    """First-value-by-order semantics (the first-queued-wins analog,
    reference lib/postfix-doc.js:272-278) as a window rank."""
    e = _t(spark, sf_dir, "events", parallelize=False)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(),
                                              F.col("event_id").asc())
    return (e.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", F.col("event_id").alias("first_event_id"),
                    F.col("event_type").alias("first_event_type")))


def q_lookup_join(spark, sf_dir):
    """J1: batch keys ⋈ state/dimension by key (left outer)."""
    e = _t(spark, sf_dir, "events", parallelize=False)
    c = _t(spark, sf_dir, "customer", parallelize=False)
    return (e.join(c, e["user_id"] == c["c_custkey"], "left")
            .groupBy(F.coalesce(F.col("c_mktsegment"), F.lit("__none__"))
                     .alias("segment"))
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("segment"))


def q_broadcast_enrich(spark, sf_dir):
    """J2: broadcast dimension enrich (lang → lang_name)."""
    d = _t(spark, sf_dir, "documents", parallelize=False)
    dim = datagen.lang_dim(spark)
    return (d.join(F.broadcast(dim), "lang", "left")
            .groupBy("lang", "lang_name", "family")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("lang"))


def q_distinct_keys(spark, sf_dir):
    """A12: distinct key set."""
    return (_t(spark, sf_dir, "events", parallelize=False)
            .select("user_id").distinct())


def q_agg_lineitem(spark, sf_dir):
    """Partial+final hash aggregation at TPC-H shape (exact-integer
    sums so the hash matches bit-for-bit)."""
    l = _t(spark, sf_dir, "lineitem", parallelize=False)
    return (l.filter(F.col("l_shipdate") <= F.lit("2001-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("count_order"),
                 F.sum(F.floor(F.col("l_quantity") * 100)).alias("sum_qty_c"),
                 F.sum(F.floor(F.col("l_extendedprice") * 100))
                 .alias("sum_price_c"))
            .orderBy("l_returnflag", "l_linestatus"))


def q_dedup_exact(spark, sf_dir):
    """Exact dedup: identical normalized text → keeper + members.

    The driver's documents table has no exact duplicates (round 1 was
    vacuously green at 0 rows), so the corpus is the table UNIONed with
    deterministic planted copies (doc_id<30 re-emitted at +10000) —
    both engines plant identically, and the query must find exactly
    those groups."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = (d.filter(F.col("doc_id") < 30)
               .select((F.col("doc_id") + 10000).alias("doc_id"), "text"))
    un = d.unionByName(planted)
    norm = dedup.normalize_text(F.col("text"))
    return (un.select(F.col("doc_id"), norm.alias("norm"))
            .groupBy("norm")
            .agg(F.min("doc_id").alias("keeper_id"),
                 F.count(F.lit(1)).alias("group_size"),
                 F.array_join(F.transform(
                     F.sort_array(F.collect_list("doc_id")),
                     lambda x: x.cast("string")), ",").alias("member_ids"))
            .filter(F.col("group_size") > 1)
            .select("keeper_id", "group_size", "member_ids"))


def q_dedup_assignments(spark, sf_dir):
    """Scale-shaped exact dedup: one (doc_id, keeper_id) row per
    non-keeper duplicate — no per-group member arrays (the collect_list
    report shape breaks on a 10⁹-member group). Same planted corpus as
    dedup_exact."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = (d.filter(F.col("doc_id") < 30)
               .select((F.col("doc_id") + 10000).alias("doc_id"), "text"))
    return (dedup.duplicate_assignments(d.unionByName(planted))
            .orderBy("doc_id"))


def q_token_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        textstats.token_count(F.col("text")).alias("n_tokens"),
        F.length("text").cast("long").alias("text_len"))


def q_quality(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        textstats.stopword_ratio(F.col("text")).alias("stopword_ratio"),
        textstats.mean_word_length(F.col("text")).alias("mean_word_len"))


def q_lang_id(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", textstats.lang_id(F.col("text")).alias("lang_pred"))


def q_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id",
                    textstats.fingerprint_md5(F.col("text")).alias("fp_md5"))


def q_token_jaccard_pairs(spark, sf_dir):
    """n-gram (n=1 token-set) Jaccard near-dup pairs, exact pairwise
    over a capped id range — the verification primitive under LSH."""
    d = (_t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
         .select("doc_id",
                 F.array_distinct(F.split(dedup.normalize_text(F.col("text")),
                                          " ")).alias("toks")))
    a = d.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("ta"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("tb"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("ta", "tb")).cast("double")
    union = F.size(F.array_union("ta", "tb")).cast("double")
    jac = inter / union
    return (pairs.select("id_a", "id_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= 0.5))


def q_ann_topk_dot(spark, sf_dir):
    """Exact top-5 neighbors by integer-quantized dot product (bit-
    deterministic across engines; the cosine variants are rows-only)."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(F.col("embedding"),
                    lambda x: F.round(x.cast("double") * 1000).cast("long"))
        .alias("q"))
    corpus = e.select(F.col("vec_id").alias("nbr_id"), F.col("q").alias("nv"))

    # exact int64 dots against ALL query vectors in one Arrow batch
    # kernel (guide §4.2/§8: decide with small rows — the 50 query
    # vectors are bounded metadata like the semantic_dedup centroid
    # collect). The r5 form cross-joined 50 queries onto every corpus
    # row and ran an interpreted per-element aggregate over ~1M pair
    # rows, shipping two 64-long arrays per row; here each corpus
    # vector crosses the boundary once and comes back as 50 longs.
    # Integer sums are order-independent, so results are identical.
    import numpy as _np
    import pandas as _pd
    from log_ship_elastic_postfix_spark.functions.kernel import arrow_kernel

    q_rows = (e.filter(F.col("vec_id") < 50).orderBy("vec_id")
              .select("vec_id", "q").collect())
    q_live = [j for j, r in enumerate(q_rows) if r["q"] is not None]
    q_mat = _np.array([q_rows[j]["q"] for j in q_live],
                      dtype=_np.int64)                    # (Q', d)
    q_ids = F.array(*[F.lit(int(r["vec_id"])) for r in q_rows])

    # hintless on purpose: under `from __future__ import annotations`
    # the hints are strings and pyspark's signature inference rejects
    # them (the repetition_stats precedent)
    @arrow_kernel("array<long>")
    def _dots_vs_queries(nv):
        if len(nv) == 0:
            return _pd.Series([], dtype=object)
        # a NULL vector on either side gives NULL dots, as DuckDB's
        # list_dot_product does; both engines sort them last
        live = nv.notna().to_numpy()
        out = _np.full((len(nv), len(q_rows)), None, dtype=object)
        if live.any() and q_live:
            m = _np.array(nv[live].tolist(), dtype=_np.int64)  # (n', d)
            out[_np.ix_(live, q_live)] = m @ q_mat.T           # (n', Q')
        return _pd.Series(out.tolist())

    scored = (corpus
              .select("nbr_id", F.posexplode(
                  _dots_vs_queries(F.col("nv"))).alias("_qi", "dot"))
              .select(F.element_at(q_ids, F.col("_qi") + 1).cast("long")
                      .alias("query_id"), "nbr_id", "dot")
              .filter(F.col("query_id") != F.col("nbr_id")))
    w = Window.partitionBy("query_id").orderBy(F.col("dot").desc(),
                                               F.col("nbr_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("query_id", "nbr_id", "dot", "rank"))


def q_minhash_neardup(spark, sf_dir):
    """MinHash+LSH near-dup pairs, exact-Jaccard verified.

    Oracle-checked against the exact all-pairs 3-gram Jaccard set:
    precision is exact by construction (every candidate is verified),
    so equality holds iff LSH recall is 1.0 on this corpus — the
    recall check the round-1 verdict asked for, as a value-hash
    equality instead of a separate metric."""
    d = _t(spark, sf_dir, "documents")
    return (dedup.near_duplicates_minhash(d, threshold=0.5)
            .orderBy("id_a", "id_b"))


def q_simhash_neardup(spark, sf_dir):
    """SimHash-sliced candidates → exact-Jaccard verify (same oracle
    as the minhash path; the two candidate generators are directly
    comparable). EXPLICIT corpus cap at doc_id<1000 (covers the whole
    sf0.01 correctness corpus): recall 1.0 for jaccard-0.5 pairs needs
    8-bit slices whose random-collision candidate count grows n²/256 —
    a verification-primitive demo, like token_jaccard_pairs. This is
    the library's one SimHash near-dup path: every candidate is
    verified by exact Jaccard, so precision is exact and the oracle
    equality proves recall 1.0."""
    # parallelize=False: the query keeps only 1000 docs — the blanket
    # repartition would shuffle the whole table just to discard it;
    # the pushed-down doc_id filter on the raw scan is cheaper, and
    # the operator's own bucket exchanges spread the real work
    d = (_t(spark, sf_dir, "documents", parallelize=False)
         .filter(F.col("doc_id") < 1000))
    # restrict_to_candidates=False: this corpus is already capped at
    # 1000 docs, so the verify's candidate semi-join is pure overhead
    return (dedup.simhash_verified_near_duplicates(
        d, threshold=0.5, n_tables=8, restrict_to_candidates=False)
        .orderBy("id_a", "id_b"))


def q_neardup_clusters(spark, sf_dir):
    """Near-dup clustering: LSH-verified pairs → connected components
    (min-label propagation; the keeper-per-cluster step a dedup
    pipeline actually applies). Oracle: DuckDB recursive-CTE
    reachability over the exact all-pairs set."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.near_duplicates_minhash(d, threshold=0.5) \
        .select("id_a", "id_b")
    return dedup.connected_components(pairs).orderBy("id")


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dups over the embeddings table UNIONed
    with deterministic planted copies: vec_id<20 verbatim (+100000,
    cosine 1.0) and 20≤vec_id<40 with the last dimension zeroed
    (cosine = sqrt(1 − x₆₃²/|v|²) ≈ 0.97-0.9999). Threshold 0.95 keeps
    the planted pairs (real pairs max ≈0.51) with tight angles, so the
    sign-LSH stays selective (12 tables × 8 bits) instead of
    degenerating to brute force. Both engines compute the same exact
    cosines; the only disagreement surface is LSH recall, which the
    hash-equality proves to be 1.0. Round 1 returned 0 rows with no
    oracle."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    planted = (e.filter(F.col("vec_id") < 40)
               .select((F.col("vec_id") + 100000).alias("vec_id"),
                       F.when(F.col("vec_id") < 20, F.col("embedding"))
                       .otherwise(F.transform(
                           F.col("embedding"),
                           lambda x, i: F.when(i == 63, x * 0.0)
                           .otherwise(x)))
                       .alias("embedding")))
    un = e.unionByName(planted)
    return (similarity.embedding_near_duplicates(
        un, threshold=0.95, n_tables=16, n_bits=12)
        .orderBy("id_a", "id_b"))


def q_ann_cosine_lsh(spark, sf_dir):
    """LSH-bucketed ANN top-5 (cosine) for query ids < 50, oracle-
    checked against the exact brute-force top-5. The corpus is
    near-uniform random (max pairwise cosine ≈0.51), the adversarial
    case for sign-LSH, so reaching recall 1.0 needs a wide
    low-resolution config (32 tables × 1 bit) — on clustered real
    embeddings the same operator runs 8×8. Scores round to 6 dp in
    both engines (verified bit-equal); ranking ties break on nbr_id."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    qs = e.filter(F.col("vec_id") < 50)
    return similarity.ann_topk(e, k=5, n_tables=32, n_bits=1, queries=qs)


def q_media_metadata(spark, sf_dir):
    """Multimodal plumbing, oracle-checked on its engine-agnostic
    slice: binary payload column → Arrow mapInPandas → typed metadata
    with magic-byte media-type sniffing. Payloads are the document
    text encoded to bytes, with a planted PNG signature on every
    doc_id%10==0 row — the oracle states type and byte count in closed
    form (PNG magic is 8 bytes), so the sniffer is genuinely
    discriminating. Stub-decoded dims/checksum are pytest-covered
    (tests/test_multimodal.py)."""
    from log_ship_elastic_postfix_spark.operators import multimodal

    png_magic = F.lit(b"\x89PNG\r\n\x1a\n")
    text_bytes = F.encode("text", "utf-8")
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("url"),
        F.when(F.col("doc_id") % 10 == 0,
               F.concat(png_magic, text_bytes))
        .otherwise(text_bytes).alias("payload"))
    meta = multimodal.extract_media_metadata(d, payload_col="payload")
    return meta.select(F.col("url").cast("long").alias("doc_id"),
                       "media_type", "n_bytes")


def q_ann_topk_ivf(spark, sf_dir):
    """IVF ANN plumbing (centroid cells → probe → exact re-rank),
    oracle-checked against brute-force cosine top-5. This corpus is
    adversarially near-uniform (max pairwise cosine ≈0.51), so the
    recall-1.0 demo probes all 16 cells; on clustered real embeddings
    the same operator runs n_probe ≪ n_centroids
    (tests/test_dedup_similarity.py pins recall↑ with n_probe).
    ``n_docs=1024`` sizes the centroid sample (stride 1024 // 16 = 64)
    without the sizing ``count()`` job; any stride is recall-neutral
    here because n_probe == n_centroids probes every cell."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    qs = e.filter(F.col("vec_id") < 50)
    return similarity.ivf_topk(e, k=5, n_centroids=16, n_probe=16,
                               queries=qs, n_docs=1024)


def q_typed_sink_projection(spark, sf_dir):
    """S7 typed sink schema: all-string doc fields → index-map types
    (date→timestamp, delay/nrcpt→float, size→double,
    /root/reference/index-map-template.json:5-18) via
    operators.sink_schema.apply_sink_types. Inputs are deterministic
    doc-shaped strings built from the events table; outputs are the
    typed values re-projected hash-safely (epoch seconds / exact
    binary fractions)."""
    from log_ship_elastic_postfix_spark.operators import sink_schema

    e = _t(spark, sf_dir, "events")
    # tz-independent UTC rendering under ANY spark.sql.session.timeZone
    # (the external driver session is not guaranteed UTC). The driver
    # parquet ts is TIMESTAMP_NTZ: date_format renders its naive fields
    # directly, so the string is already session-tz-independent and
    # "+00:00" pins the instant the DuckDB oracle computes (epoch of
    # naive-as-UTC). If the column were LTZ instead, date_format would
    # render in session tz, so shift with to_utc_timestamp first —
    # tests/test_round3.py proves end-to-end tz-independence.
    ts = F.col("ts")
    if dict(e.dtypes).get("ts") == "timestamp":  # LTZ flavor
        ts = F.to_utc_timestamp(ts, F.current_timezone())
    docs = e.select(
        "event_id",
        F.concat(F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss"),
                 F.lit("+00:00")).alias("date"),
        F.concat(F.floor(F.col("value") * 1000).cast("long").cast("string"),
                 F.lit("e-3")).alias("delay"),
        F.concat(F.floor(F.col("value") * 100).cast("long").cast("string"),
                 F.lit(".25")).alias("size"),
        (F.col("user_id") % 5 + 1).cast("string").alias("nrcpt"),
    )
    typed = sink_schema.apply_sink_types(docs)
    return typed.select(
        "event_id",
        F.col("date").cast("long").alias("date_epoch"),
        F.col("delay").cast("double").alias("delay_f"),
        F.col("size").alias("size_d"),
        F.col("nrcpt").cast("int").alias("nrcpt_i"),
    )


def _pages_docs(spark, n_urls=1000):
    pages = datagen.generate_pages(spark, n_urls, n_hot=2, hot_lines=64)
    lines = with_batch_seq(pages_to_lines(pages), 1)
    return run_batch(spark, lines, PipelineConfig()).routed


def q_pipeline_docs(spark, sf_dir):
    """Flagship parse→assemble→route over the deterministic synthetic
    pages table (rows-only: the session fold is not SQL-expressible)."""
    docs = _pages_docs(spark)
    return docs.select("qid", "host", "isFinal", "n_events", "sink",
                       "route_date").orderBy("qid")


def q_pipeline_sink_counts(spark, sf_dir):
    return route.sink_counts(_pages_docs(spark))


def q_url_canonical(spark, sf_dir):
    """URL canonicalization (functions/urls.py) over deterministic
    messy urls built from the documents table: case folding, default
    ports, www strip, duplicate/trailing slashes, tracking params,
    fragments. The DuckDB oracle states the expected canonical form in
    closed form — a true differential check of every rule at once."""
    from log_ship_elastic_postfix_spark.functions import urls

    d = _t(spark, sf_dir, "documents")
    messy = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.format_string(
                "HTTP://WWW.Site%d.COM:80//a//b%d/?utm_source=x&q=%d"
                "&fbclid=zz#frag",
                (F.col("doc_id") % 7).cast("int"),
                (F.col("doc_id") % 5).cast("int"),
                F.col("doc_id").cast("int")),
        ).otherwise(
            F.format_string(
                "https://Site%d.com:443/a/b%d/#x",
                (F.col("doc_id") % 7).cast("int"),
                (F.col("doc_id") % 5).cast("int")),
        ).alias("url"))
    # sort-before-project: see q_pii_redact — canonicalization regexes
    # evaluated once
    return (messy.orderBy("doc_id").select(
        "doc_id", urls.canonical_url(F.col("url")).alias("canonical_url")))


def q_url_dedup(spark, sf_dir):
    """Canonical-URL dedup: messy variants (www + tracking params)
    collapse onto doc_id%100 canonical groups; keeper = lexicographic
    min raw url (deterministic), plus the group size."""
    from log_ship_elastic_postfix_spark.functions import urls

    d = _t(spark, sf_dir, "documents")
    messy = d.select(
        "doc_id",
        F.format_string(
            "http://www.site%d.com/?utm_campaign=%d",
            (F.col("doc_id") % 100).cast("int"),
            F.col("doc_id").cast("int")).alias("url"))
    out = urls.dedup_by_canonical_url(messy, url_col="url")
    return (out.select("canonical_url", "doc_id", "n_dups")
            .orderBy("canonical_url"))


def q_line_dedup(spark, sf_dir):
    """Cross-document line dedup (CCNet boilerplate pass,
    operators.dedup.boilerplate_line_dedup): docs are given a shared
    nav line + their own (corpus-unique, proven by dedup_exact's
    emptiness) text + a per-(doc_id%3) footer; the shared lines are
    removed everywhere, the unique text survives."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("NAV | Home | About | Login\n"),
                 F.col("text"),
                 F.format_string("\nCopyright footer group %d",
                                 (F.col("doc_id") % 3).cast("int")))
        .alias("text"))
    out = dedup.boilerplate_line_dedup(d, min_docs=2)
    return (out.select("doc_id", F.col("text").alias("text_deduped"),
                       "n_lines_kept", "n_lines_dropped")
            .orderBy("doc_id"))


def q_vocabulary(spark, sf_dir):
    """Corpus vocabulary heavy hitters
    (operators.dedup.vocabulary_counts): top-40 whitespace tokens with
    total and document frequencies, (count desc, token) ordered."""
    d = _t(spark, sf_dir, "documents")
    return dedup.vocabulary_counts(d, top_k=40)


def q_gopher_quality(spark, sf_dir):
    """Gopher-rule composite quality filter
    (functions.textstats.gopher_quality_flags): per-doc named rule
    booleans + the pass conjunction, each independently
    SQL-reproducible. min_words lowered to 10 for this short-doc
    corpus so the word-count rule actually discriminates. The corpus
    is derived MULTI-LINE (every doc gains bullet lines: 19 on
    doc_id%9==0 → ratio 0.95 fails bullet_ok, 1 otherwise → 0.5
    passes) so the per-line bullet rule is genuinely evaluated over
    lines, not degenerate on a single-line corpus — every rule is
    recomputed generically from the derived text on both engines."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 9 == 0,
               F.concat(F.col("text"), F.lit("\n- item" * 19)))
        .otherwise(F.concat(F.col("text"), F.lit("\n- one bullet")))
        .alias("text"))
    flags = textstats.gopher_quality_flags(F.col("text"), min_words=10)
    # sort-before-project: see q_pii_redact — identical row order,
    # flag expressions evaluated once instead of twice
    return (d.orderBy("doc_id")
            .select("doc_id", flags.alias("g"))
            .select("doc_id", "g.word_count_ok", "g.word_len_ok",
                    "g.symbol_ok", "g.bullet_ok", "g.stopword_ok",
                    "g.passes"))


def q_repetition_stats(spark, sf_dir):
    """Gopher repetition half (textstats.repetition_stats) over a
    derived MULTI-LINE corpus: doc_id%3==0 docs append the same line
    twice (dup_line_frac 2/3, char frac 10/len — the planted closed
    form), others append one unique tail line (fractions 0) — so the
    duplicate-line halves are discriminating under the hash gate, not
    hardcoded zeros. Top-2/3-gram fractions recompute generically from
    the derived text; tie-break (count desc, gram desc) mirrored
    exactly in the DuckDB oracle."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.col("text"), F.lit("\nDup A\nDup A")))
        .otherwise(F.concat(F.col("text"), F.lit("\nTail "),
                            F.col("doc_id").cast("string")))
        .alias("text"))
    r = textstats.repetition_stats(F.col("text"))
    # sort-before-project: see q_pii_redact — the range sampler was
    # re-running the whole repetition pandas UDF
    return (d.orderBy("doc_id")
            .select("doc_id", r.alias("r"))
            .select("doc_id", "r.dup_line_frac", "r.dup_line_char_frac",
                    "r.top_bigram_char_frac", "r.top_trigram_char_frac"))


def q_clean_corpus(spark, sf_dir):
    """End-to-end corpus-cleaning composition (plans.corpus.clean_corpus):
    planted exact duplicates (doc_id<30 at +10000) removed by the exact
    stage, near-dup cluster non-keepers (jaccard>=0.5, CC minimum wins)
    removed next, then the Gopher quality gate (min_words=10). Oracle:
    the same survivor set derived in SQL — exact keepers are the
    originals by id order, the CC labels come from the recursive-CTE
    reachability over the exact all-pairs jaccard set, quality mirrors
    the gopher_quality oracle."""
    from log_ship_elastic_postfix_spark.plans.corpus import (
        CorpusCleanConfig, clean_corpus)

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = (d.filter(F.col("doc_id") < 30)
               .select((F.col("doc_id") + 10000).alias("doc_id"), "text"))
    un = d.unionByName(planted)
    res = clean_corpus(un, CorpusCleanConfig(
        neardup_threshold=0.5, quality_min_words=10))
    return res.docs.select("doc_id").orderBy("doc_id")


def q_pipeline_reject_counts(spark, sf_dir):
    """Reject dead-letter sink parity, end-to-end THROUGH the sink:
    run the batch with the rejects sink enabled, read the
    reason-partitioned parquet back, count per reason. Closed form
    over datagen's 10 lifecycle scenarios × 100 urls each: scenario 6
    plants one prog-filtered spamd line and one envelope-miss garbage
    line per url; scenario 9 plants one qid-less scache statistics
    line (the reference's silent-drop path, lib/logship.js:107-111)."""
    pages = datagen.generate_pages(spark, 1000, n_hot=2, hot_lines=64)
    lines = with_batch_seq(pages_to_lines(pages), 1)
    # per-run-unique dir: concurrent driver/verify runs must not
    # share a rejects sink (same race class as the stream_metrics
    # temp-path finding)
    rej_path = os.path.join(_mkdtemp("entry_rejects_"), "sink")
    run_batch(spark, lines, PipelineConfig(), rejects_path=rej_path)
    return (spark.read.parquet(rej_path)
            .groupBy("reject_reason")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("reject_reason"))


def q_pii_redact(spark, sf_dir):
    """PII redaction (functions.redact.redact_pii): emails → <EMAIL>,
    IPv4 → <IP>, 13-19-digit runs → <NUM>, with per-rule hit counts.
    The corpus is derived with planted PII (one of each per doc) so
    every rule fires; the oracle applies the identical published
    regexes in the same order — a true differential check of pattern,
    order, and counting semantics across engines."""
    from log_ship_elastic_postfix_spark.functions import redact

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.format_string(
                " contact u%d@ex%d.com or 10.0.%d.7 card 4111111111111111",
                F.col("doc_id").cast("int"),
                (F.col("doc_id") % 5).cast("int"),
                (F.col("doc_id") % 200).cast("int"))).alias("text"))
    r = redact.redact_pii(F.col("text"))
    # sort BEFORE the redaction projection: the global sort's range-
    # sampling pass re-executes its child, so sorting last ran every
    # regex twice (measured 2×); the projection above the sort keeps
    # the identical doc_id row order (guide §1/§2 — same rows, half
    # the work)
    return (d.orderBy("doc_id")
            .select("doc_id", r.alias("r"))
            .select("doc_id", "r.text_redacted", "r.n_emails",
                    "r.n_ips", "r.n_longnums"))


def q_sample_split(spark, sf_dir):
    """Deterministic train/heldout split (functions.redact.split_assign):
    a pure function of the doc id (md5-prefix threshold, 256 buckets),
    so re-runs and growing corpora never reshuffle assignments. The
    oracle restates the rule as the same md5-substring inequality."""
    from log_ship_elastic_postfix_spark.functions import redact

    d = _t(spark, sf_dir, "documents", parallelize=False)
    return (d.select(
        "doc_id",
        redact.split_bucket(F.col("doc_id")).alias("bucket"),
        redact.split_assign(F.col("doc_id"), 0.8).alias("split"),
        # grid of thresholds so the published rule is pinned across
        # its whole domain, including both endpoints (frac 1.0 once
        # hid a 3-char-threshold lexicographic bug, VERDICT r4 #1)
        redact.split_assign(F.col("doc_id"), 1 / 256).alias("split_lo"),
        redact.split_assign(F.col("doc_id"), 255 / 256).alias("split_hi"),
        redact.split_assign(F.col("doc_id"), 1.0).alias("split_full"),
        redact.split_assign(F.col("doc_id"), 0.0).alias("split_none"))
        .orderBy("doc_id"))


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (operators.dedup.benchmark_
    contamination): every doc sharing a distinct word 5-gram with the
    'benchmark' slice (doc_id%50==0) is flagged with its shared-gram
    count — the drop-before-training audit. Both sides reduce to
    distinct gram identities before the join; the oracle restates the
    rule on raw grams (the Spark side joins 64-bit gram hashes —
    equality of results also certifies collision-freedom on this
    corpus)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = d.filter(F.col("doc_id") % 50 == 0).select("text")
    return (dedup.benchmark_contamination(d, bench, n=5)
            .orderBy("doc_id"))


def q_decontaminate_spans(spark, sf_dir):
    """Span-level decontamination (operators.dedup.scrub_contaminated_
    spans): the Lee-et-al-style upgrade of `decontaminate` — instead
    of dropping any doc sharing an n-gram with the benchmark, locate
    the contaminated SPANS (normalized newline-split) and rebuild the
    doc without them. The corpus is derived multi-line with a planted
    eval sentence (case- and whitespace-VARIANT, so normalization is
    what matches) in every 7th doc; the benchmark is two literal
    sentences (one planted, one decoy that must match nothing). The
    oracle restates the whole operation generically on raw normalized
    spans — equality also certifies the span-hash join collision-free
    on this corpus."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0,
                   F.lit("\nEval Answer: THE quick  probe sentence"))
            .otherwise(F.concat(F.lit("\nclean tail "),
                                F.col("doc_id").cast("string"))))
        .alias("text"))
    bench = spark.createDataFrame(
        [("eval answer: the quick probe sentence",),
         ("an unseen decoy sentence",)], "text string")
    return (dedup.scrub_contaminated_spans(d, bench)
            .orderBy("doc_id"))


def q_weighted_mix(spark, sf_dir):
    """Deterministic weighted corpus mixing (operators.mixing.
    weighted_sample): per-language keep fractions as a pure function
    of (lang, id) — an 8-hex md5-prefix threshold (16⁸ levels). The
    weight grid covers both endpoints (1.0 and 0.0) plus a sub-percent
    weight the 256-bucket split machinery couldn't represent; the
    oracle restates every threshold as the same string inequality."""
    from log_ship_elastic_postfix_spark.operators import mixing

    d = _t(spark, sf_dir, "documents", parallelize=False)
    out = mixing.weighted_sample(
        d, {"en": 1.0, "de": 0.5, "fr": 0.004, "es": 0.0},
        stratum_col="lang", default_frac=0.1)
    return out.select("doc_id", "lang").orderBy("doc_id")


def q_train_order(spark, sf_dir):
    """Deterministic training-order shuffle (operators.mixing.
    training_order): order by md5(seed:id), sharded by the key's
    first byte — one exchange on shard, per-shard rank, no global
    sort. The oracle restates the hex-byte arithmetic with strpos
    so no engine-specific base conversion is involved."""
    from log_ship_elastic_postfix_spark.operators import mixing

    d = _t(spark, sf_dir, "documents", parallelize=False)
    return (mixing.training_order(d, seed="42", n_shards=16)
            .orderBy("doc_id"))


def q_perplexity_bucket(spark, sf_dir):
    """CCNet-style LM-perplexity quality buckets (operators.
    perplexity): a unigram add-one model is built FROM the corpus
    (token log-probs frozen to integer micro-nats — the one ln per
    vocab entry is the only float step), every doc scores an exact
    integer sum ÷ n·1e6, and docs bucket head/middle/tail at the
    documented injected thresholds (3.4 / 3.404 ≈ the sf0.01
    terciles). The oracle rebuilds the same model and restates the
    same arithmetic — micro-nat freezing is what makes the comparison
    exact across engines."""
    from log_ship_elastic_postfix_spark.operators import perplexity

    d = _t(spark, sf_dir, "documents")
    return (perplexity.perplexity_buckets(
        d, head_max=3.4, middle_max=3.404)
        .orderBy("doc_id"))


def q_pack_sequences(spark, sf_dir):
    """Sequence packing (operators.packing.pack_documents): documents
    → fixed-1024-token training sequences, sharded (id % 8) with a
    per-shard ordered cumsum — no global window anywhere. Oracle: the
    identical rule as a SQL window sum."""
    from log_ship_elastic_postfix_spark.operators import packing

    d = _t(spark, sf_dir, "documents")
    return (packing.pack_documents(d, budget=1024, n_shards=8)
            .orderBy("doc_id"))


def q_pack_sequences_bpe(spark, sf_dir):
    """Sequence packing under a TOKENIZER budget: the same sharded
    cumsum rule, but budgets counted by the sub-word proxy
    (textstats.bpe_ish_token_count) via the pluggable token_counter —
    real trainers pack by tokenizer tokens, not words (VERDICT r4 #2).
    Oracle: the same window sum over DuckDB's regexp_extract_all
    restatement of the BPE-ish rule."""
    from log_ship_elastic_postfix_spark.functions import textstats
    from log_ship_elastic_postfix_spark.operators import packing

    d = _t(spark, sf_dir, "documents")
    return (packing.pack_documents(
        d, budget=512, n_shards=8,
        token_counter=textstats.bpe_ish_token_count)
        .orderBy("doc_id"))


def q_stream_metrics(spark, sf_dir):
    """Streaming windowed ingest metrics END-TO-END through Structured
    Streaming (streaming.metrics.start_ingest_metrics_stream): a
    deterministic pages-shaped frame derived from the events table is
    drained with availableNow into an append-mode parquet sink, then
    the query restarts once from its checkpoint — the restart's
    no-data micro-batch applies the final watermark (max event time −
    2 h), so the emitted set is exactly the finalized windows in
    closed form, independent of micro-batch splits.

    The input is MULTI-file with ``maxFilesPerTrigger=1`` — the
    realistic incremental-source drive — kept deterministic by
    construction: the corpus is split into three TIME-ORDERED slices
    (every row of slice i+1 ≥ the max event time of slice i) with
    strictly increasing file mtimes AND lexicographic names, so
    Spark's file source processes them in order and the per-batch
    watermark (max seen − 2 h) can never pass a window that still
    has rows in a later file — zero late drops, and the emitted set
    stays the same closed form the batch oracle states. All paths
    are per-run-unique (mkdtemp): concurrent driver/verify runs on
    one host share nothing. Oracle: the same windowed aggregate over
    events with the watermark cutoff as a WHERE clause."""
    import glob as _gl
    import shutil as _sh

    from log_ship_elastic_postfix_spark.streaming.metrics import (
        start_ingest_metrics_stream)

    base = _mkdtemp("entry_stream_metrics_")
    pages_path = os.path.join(base, "pages")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(pages_path)

    e = _t(spark, sf_dir, "events")
    # watermarks need TIMESTAMP (LTZ); pin the instant to the naive
    # fields via an explicit +00:00 offset so the query is
    # session-tz-independent (same pattern as typed_sink_projection)
    warc_ts = F.to_timestamp(F.concat(
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"),
        F.lit("+00:00")))
    pages = e.select(F.col("event_id").cast("string").alias("url"),
                     warc_ts.alias("warc_ts"),
                     F.encode("props", "utf-8").alias("html"),
                     F.col("event_type").alias("lang"))
    # three time-ordered slices: boundaries cut the event-time range
    # into thirds, so slice i+1's min ≥ slice i's max and the ordered
    # drain drops nothing
    mn, mx = pages.select(F.min("warc_ts"), F.max("warc_ts")).first()
    span = mx - mn
    lo, hi = mn + span / 3, mn + 2 * span / 3
    slices = [pages.filter(F.col("warc_ts") < F.lit(lo)),
              pages.filter((F.col("warc_ts") >= F.lit(lo))
                           & (F.col("warc_ts") < F.lit(hi))),
              pages.filter(F.col("warc_ts") >= F.lit(hi))]
    for i, sl in enumerate(slices):
        stage = os.path.join(base, f"stage{i}")
        sl.repartition(1).write.parquet(stage)
        part = _gl.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = os.path.join(pages_path, f"slice-{i:04d}.parquet")
        _sh.move(part, dst)
        # strictly increasing mtimes — Spark's file source orders by
        # modification time; ties would make batch order (and thus
        # which rows are late) nondeterministic
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        _sh.rmtree(stage)

    for _ in range(2):  # drain, then restart → final-watermark batch
        q = start_ingest_metrics_stream(
            spark, pages_path, checkpoint_dir=ckpt, out_path=out,
            output_mode="append", available_now=True,
            max_files_per_trigger=1)
        q.awaitTermination(240)

    m = spark.read.parquet(out)

    def _utc(c):  # render the UTC fields under ANY session timezone
        return F.date_format(
            F.to_utc_timestamp(F.col(c), F.current_timezone()),
            "yyyy-MM-dd HH:mm:ss").alias(c)

    return (m.select(_utc("window_start"), _utc("window_end"),
                     "lang", "n_rows", "n_bytes")
            .orderBy("window_start", "lang"))


def q_quality_classifier(spark, sf_dir):
    """Feature-hashed linear quality classifier (functions/
    classifier.py) over documents: md5-bucket weights in integer
    micro-units, keep ⇔ mean token weight ≥ 0. The oracle rebuilds the
    hash→weight rule with strpos hex arithmetic — exact BIGINT both
    engines."""
    from log_ship_elastic_postfix_spark.functions import classifier

    d = _t(spark, sf_dir, "documents")
    # sort-before-project: see q_pii_redact — the per-token md5
    # scoring projection evaluated once
    return (classifier.classifier_score(d.orderBy("doc_id"))
            .select("doc_id", "n_tokens", "score_micro", "keep"))


def q_domain_cap(spark, sf_dir):
    """Per-registered-domain document cap (operators/domains.py) over
    deterministic skewed urls: domain index least(doc_id % 10, 3)
    gives three light domains (~10 % each) and one heavy (~70 %);
    cap 60 exercises both the bypass and the two-phase ranked path at
    sf0.01. Keepers ranked by (n_chars desc, doc_id) — the keep-the-
    longest-docs policy."""
    from log_ship_elastic_postfix_spark.operators import domains

    d = _t(spark, sf_dir, "documents")
    pages = d.select(
        "doc_id", "n_chars",
        F.format_string(
            "https://www.site%d.com/p/%d",
            F.least(F.col("doc_id") % 10, F.lit(3)).cast("int"),
            F.col("doc_id").cast("int")).alias("url"))
    # rank by length desc via a negated pre-computed order column
    pages = pages.withColumn("neg_chars", -F.col("n_chars"))
    capped = domains.domain_cap(
        pages, cap=60, order_col="neg_chars", id_col="doc_id",
        url_col="url", n_salts=4)
    return (capped.select("doc_id", "domain", "capped")
            .orderBy("doc_id"))


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (operators/similarity.semantic_dedup): cluster-scoped
    cosine dedup over the embeddings table + the embedding_neardup
    planted copies (verbatim at +100000 → cosine 1.0, last-dim-zeroed
    at +100000 for 20≤id<40 → ≈0.97-0.9999; real-pair max ≈0.51, so
    threshold 0.95 has wide FP margins). Centroids are the first 8
    corpus vectors — deterministic, restated verbatim by the oracle;
    both engines round cosines to 6 decimals and break argmax ties to
    the lowest centroid id."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    planted = (e.filter(F.col("vec_id") < 40)
               .select((F.col("vec_id") + 100000).alias("vec_id"),
                       F.when(F.col("vec_id") < 20, F.col("embedding"))
                       .otherwise(F.transform(
                           F.col("embedding"),
                           lambda x, i: F.when(i == 63, x * 0.0)
                           .otherwise(x)))
                       .alias("embedding")))
    un = e.unionByName(planted)
    cents = [(r["vec_id"], r["embedding"])
             for r in e.filter(F.col("vec_id") < 8)
             .orderBy("vec_id").collect()]
    return (similarity.semantic_dedup(un, centroids=cents, threshold=0.95)
            .orderBy("vec_id"))


def q_chunk_documents(spark, sf_dir):
    """Fixed-context-window chunking with overlap (operators/
    packing.chunk_documents): window 32, stride 16 over documents —
    long docs fan out into overlapping token windows, pure Catalyst.
    The oracle restates the slice rule with range/list_slice."""
    from log_ship_elastic_postfix_spark.operators import packing

    d = _t(spark, sf_dir, "documents")
    # the sort keys only exist after the chunk fan-out, so the
    # sort-before-project trick does not apply; eagerly checkpoint
    # the chunk projection instead so the global sort's range-sampling
    # pass reads materialized rows rather than re-running the whole
    # explode+slice pipeline (measured 2× otherwise)
    return (packing.chunk_documents(d, window=32, stride=16)
            .localCheckpoint(eager=True)
            .orderBy("doc_id", "chunk_id"))


def q_cross_source_dups(spark, sf_dir):
    """Cross-source duplication audit (operators/dedup.
    cross_source_duplication) over documents + 50 planted copies
    under a 'planted' source: per source pair, exact-dup pairs
    spanning it (the pre-mixing overlap matrix)."""
    d = (_t(spark, sf_dir, "documents", parallelize=False)
         .select("doc_id", "text", "source"))
    planted = (d.filter(F.col("doc_id") < 50)
               .select((F.col("doc_id") + 100000).alias("doc_id"),
                       "text", F.lit("planted").alias("source")))
    un = d.unionByName(planted)
    return (dedup.cross_source_duplication(un)
            .orderBy("source_a", "source_b"))


def q_incremental_dedup(spark, sf_dir):
    """Incremental exact dedup against committed state (operators/
    dedup.incremental_exact_dedup): the batch (doc_id%7 != 0) is
    deduped within itself (first-id-wins per content hash) AND
    against the committed slice (doc_id%7 == 0) — the reference's
    per-batch external-store id probe (lib/logship.js:259-312)
    applied to webtext ingest. Hash is md5 of normalized text here so
    the oracle restates it; production default is xxhash64 (8-byte
    exchange). Exchanges carry only (hash, id); text never shuffles."""
    d = (_t(spark, sf_dir, "documents", parallelize=False)
         .select("doc_id", "text"))
    h = F.md5(dedup.normalize_text(F.col("text")))
    committed = (d.filter(F.col("doc_id") % 7 == 0)
                 .select(h.alias("content_hash")))
    batch = d.filter(F.col("doc_id") % 7 != 0)
    return (dedup.incremental_exact_dedup(batch, committed, hash_expr=h)
            .orderBy("doc_id"))


def q_corpus_report(spark, sf_dir):
    """Corpus composition report (operators/report.corpus_report):
    one ROLLUP over (source, lang) — per-cell, per-source, and grand
    totals with exact integer measures only, group columns coalesced
    to '(all)' plus the standard grouping_id bitmask so the report is
    engine-identical (rollup NULL sort order never enters). The
    dataset-card numbers, and the reference's per-index count parity
    (lib/logship.js:330-335) as a composition matrix."""
    from log_ship_elastic_postfix_spark.operators import report

    d = _t(spark, sf_dir, "documents", parallelize=False)
    return (report.corpus_report(d)
            .orderBy("grouping_id", "source", "lang"))


def q_shard_manifest(spark, sf_dir):
    """Training-shard writer end-to-end THROUGH the sink (operators/
    shards.write_training_shards): write the documents table as a
    16-shard training drop into a per-run temp dir, read the written
    `_manifest` back, and return its md5-derived measures (the
    xxhash64 fingerprint column is engine-specific and excluded; its
    integrity contract is pytest-pinned by the tamper test). The
    oracle restates shard assignment with the train_order strpos-hex
    arithmetic and re-aggregates token/byte counts from the raw
    table — equality proves the written layout partitions exactly
    like the published rule."""
    from log_ship_elastic_postfix_spark.operators import shards

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = _mkdtemp("entry_shards_")
    shards.write_training_shards(d, out, seed="42", n_shards=16)
    man = spark.read.parquet(os.path.join(out, "_manifest"))
    return (man.select(F.col("shard").cast("long").alias("shard"),
                       "n_docs", "n_tokens", "n_bytes")
            .orderBy("shard"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full parse→assemble→enrich→route pipeline over the
    deterministic synthetic pages corpus (oracle-checked end-to-end via
    the pipeline_docs closed form)."""
    return q_pipeline_docs(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "scan_filter_project": q_scan_filter_project,
        "parse_grok": q_parse_grok,
        "props_extract": q_props_extract,
        "date_route_counts": q_date_route_counts,
        "sessionize": q_sessionize,
        "sessionize_events_list": q_sessionize_events_list,
        "dedup_first_wins": q_dedup_first_wins,
        "multi_join_enrich": q_multi_join_enrich,
        "rollup_counts": q_rollup_counts,
        "text_quality_full": q_text_quality_full,
        "first_event_wins": q_first_event_wins,
        "lookup_join": q_lookup_join,
        "broadcast_enrich": q_broadcast_enrich,
        "distinct_keys": q_distinct_keys,
        "agg_lineitem": q_agg_lineitem,
        "dedup_exact": q_dedup_exact,
        "dedup_assignments": q_dedup_assignments,
        "token_stats": q_token_stats,
        "quality": q_quality,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "token_jaccard_pairs": q_token_jaccard_pairs,
        "ann_topk_dot": q_ann_topk_dot,
        "minhash_neardup": q_minhash_neardup,
        "neardup_clusters": q_neardup_clusters,
        "simhash_neardup": q_simhash_neardup,
        "embedding_neardup": q_embedding_neardup,
        "ann_cosine_lsh": q_ann_cosine_lsh,
        "ann_topk_ivf": q_ann_topk_ivf,
        "typed_sink_projection": q_typed_sink_projection,
        "media_metadata": q_media_metadata,
        "pipeline_docs": q_pipeline_docs,
        "pipeline_sink_counts": q_pipeline_sink_counts,
        "pipeline_reject_counts": q_pipeline_reject_counts,
        "url_canonical": q_url_canonical,
        "url_dedup": q_url_dedup,
        "line_dedup": q_line_dedup,
        "vocabulary": q_vocabulary,
        "gopher_quality": q_gopher_quality,
        "repetition_stats": q_repetition_stats,
        "clean_corpus": q_clean_corpus,
        # the driver contract keeps its keys; oracle_sql() aliases this
        # one to the clean_corpus oracle
        "clean_corpus_scale": q_clean_corpus,
        "pii_redact": q_pii_redact,
        "sample_split": q_sample_split,
        "pack_sequences": q_pack_sequences,
        "pack_sequences_bpe": q_pack_sequences_bpe,
        "decontaminate": q_decontaminate,
        "decontaminate_spans": q_decontaminate_spans,
        "perplexity_bucket": q_perplexity_bucket,
        "weighted_mix": q_weighted_mix,
        "train_order": q_train_order,
        "quality_classifier": q_quality_classifier,
        "domain_cap": q_domain_cap,
        "semantic_dedup": q_semantic_dedup,
        "chunk_documents": q_chunk_documents,
        "cross_source_dups": q_cross_source_dups,
        "incremental_dedup": q_incremental_dedup,
        "corpus_report": q_corpus_report,
        "shard_manifest": q_shard_manifest,
        "stream_metrics": q_stream_metrics,
    }


def oracle_sql() -> dict[str, str]:
    line_expr = (
        "'Jul 26 04:18:34 mx' || (user_id % 8 + 1) || ' postfix/qmgr[' || "
        "event_id || ']: Q' || event_id || 'X: from=<u' || user_id || "
        "'@x.com>, size=' || cast(floor(value * 100) as bigint) || "
        "', nrcpt=1 (queue active)'"
    )
    out = {
        "scan_filter_project": (
            "select event_id, user_id, value from events "
            "where event_type = 'purchase' and value > 30"
        ),
        "parse_grok": (
            f"with lines as (select event_id, {line_expr} as line from events), "
            "env as (select event_id, "
            " regexp_extract(line, '^\\w+\\s+\\d+ \\d\\d:\\d\\d:\\d\\d (\\S+) ([A-Za-z0-9._/-]+)\\[\\d+\\]: (.*)$', 1) as host, "
            " regexp_extract(line, '^\\w+\\s+\\d+ \\d\\d:\\d\\d:\\d\\d (\\S+) ([A-Za-z0-9._/-]+)\\[\\d+\\]: (.*)$', 2) as prog, "
            " regexp_extract(line, '^\\w+\\s+\\d+ \\d\\d:\\d\\d:\\d\\d (\\S+) ([A-Za-z0-9._/-]+)\\[\\d+\\]: (.*)$', 3) as msg "
            " from lines) "
            "select event_id, regexp_extract(msg, '^([0-9A-Za-z]+): ', 1) as qid, "
            " host, prog, regexp_extract(msg, 'from=<([^>]*)>', 1) as sender, "
            " regexp_extract(msg, 'size=(\\d+)', 1) as size_str, "
            " regexp_extract(msg, 'nrcpt=(\\d+)', 1) as nrcpt_str, "
            " '2024-07-26T04:18:34-07:00' as date_iso from env"
        ),
        "props_extract": (
            "select event_id, regexp_extract(props, '\"k\": (\\d+)', 1) as k_str "
            "from events"
        ),
        "date_route_counts": (
            "select strftime(ts, '%Y-%m-%d') as route_date, count(*) as n "
            "from events group by 1 order by 1"
        ),
        "sessionize": (
            "select user_id, count(*) as n_events, "
            "strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') as first_ts, "
            "strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') as last_ts, "
            "cast(sum(cast(floor(value * 100) as bigint)) as bigint) as total_value_cents, "
            "cast(sum(case when event_type = 'purchase' then 1 else 0 end) as bigint) as n_purchases, "
            "string_agg(distinct event_type, ',' order by event_type) as event_types "
            "from events group by user_id"
        ),
        "sessionize_events_list": (
            "select user_id, "
            "string_agg(event_type, ',' order by ts, event_id) as event_seq, "
            "count(*) as n_events from events group by user_id"
        ),
        "dedup_first_wins": (
            "select user_id, "
            "count(distinct event_type || '|' || "
            "cast(cast(floor(value * 100) as bigint) as varchar)) "
            "as n_distinct_events, "
            "min(case when event_type = 'purchase' then event_id end) "
            "as first_purchase_id "
            "from events group by user_id"
        ),
        "multi_join_enrich": (
            "select r_name as region, count(*) as n_orders, "
            "cast(sum(cast(floor(o_totalprice * 100) as bigint)) as bigint) "
            "as revenue_c "
            "from orders o join customer c on o.o_custkey = c.c_custkey "
            "join nation n on c.c_nationkey = n.n_nationkey "
            "join region r on n.n_regionkey = r.r_regionkey "
            "group by 1 order by 1"
        ),
        "rollup_counts": (
            "select coalesce(d, 'ALL') as d, "
            "coalesce(event_type, 'ALL') as event_type, count(*) as n "
            "from (select strftime(ts, '%Y-%m-%d') as d, event_type "
            "from events) group by rollup(d, event_type)"
        ),
        "text_quality_full": (
            "select doc_id, "
            "case when length(text) > 0 then "
            "cast(length(regexp_replace(text, "
            "'[^!-/:-@\\[-`{-~]', '', 'g')) as double) / length(text) "
            "else 0.0 end as punct_ratio, "
            "cast(len(regexp_extract_all(lower(text), "
            "'[a-z]{1,4}|\\d|[^\\sa-z\\d]')) as bigint) as n_bpe_tokens "
            "from documents"
        ),
        "first_event_wins": (
            "select user_id, event_id as first_event_id, "
            "event_type as first_event_type from ("
            " select *, row_number() over (partition by user_id "
            "  order by ts asc, event_id asc) as rn from events) "
            "where rn = 1"
        ),
        "lookup_join": (
            "select coalesce(c_mktsegment, '__none__') as segment, "
            "count(*) as n from events e left join customer c "
            "on e.user_id = c.c_custkey group by 1 order by 1"
        ),
        "broadcast_enrich": (
            "with dim(lang, lang_name, family) as (values "
            "('en','English','germanic'),('de','German','germanic'),"
            "('fr','French','romance'),('es','Spanish','romance'),"
            "('zh','Chinese','sinitic')) "
            "select d.lang, dim.lang_name, dim.family, count(*) as n_docs "
            "from documents d left join dim using (lang) "
            "group by 1, 2, 3 order by 1"
        ),
        "distinct_keys": "select distinct user_id from events",
        "agg_lineitem": (
            "select l_returnflag, l_linestatus, count(*) as count_order, "
            "cast(sum(cast(floor(l_quantity * 100) as bigint)) as bigint) as sum_qty_c, "
            "cast(sum(cast(floor(l_extendedprice * 100) as bigint)) as bigint) as sum_price_c "
            "from lineitem where l_shipdate <= timestamp '2001-09-02' "
            "group by 1, 2 order by 1, 2"
        ),
        "dedup_exact": (
            "with u as (select doc_id, text from documents "
            " union all select doc_id + 10000, text from documents "
            " where doc_id < 30), "
            "n as (select doc_id, trim(regexp_replace(lower(text), "
            "'\\s+', ' ', 'g')) as norm from u) "
            "select min(doc_id) as keeper_id, count(*) as group_size, "
            "string_agg(cast(doc_id as varchar), ',' order by doc_id) as member_ids "
            "from n group by norm having count(*) > 1"
        ),
        "dedup_assignments": (
            "with u as (select doc_id, text from documents "
            " union all select doc_id + 10000, text from documents "
            " where doc_id < 30), "
            "n as (select doc_id, trim(regexp_replace(lower(text), "
            "'\\s+', ' ', 'g')) as norm from u), "
            "k as (select norm, min(doc_id) as keeper_id from n "
            " group by norm having count(*) > 1) "
            "select n.doc_id, k.keeper_id from n join k using (norm) "
            "where n.doc_id != k.keeper_id"
        ),
        "token_stats": (
            "select doc_id, cast(case when trim(text) = '' then 0 else "
            "len(string_split_regex(trim(text), '\\s+')) end as bigint) as n_tokens, "
            "cast(length(text) as bigint) as text_len from documents"
        ),
        "quality": (
            "with t as (select doc_id, "
            "string_split_regex(trim(lower(text)), '\\s+') as toks, "
            "string_split_regex(trim(text), '\\s+') as rtoks from documents) "
            "select doc_id, "
            f"case when len(toks) > 0 then cast(len(list_filter(toks, x -> x in ({_STOPS}))) as double) / len(toks) else 0.0 end as stopword_ratio, "
            "case when len(rtoks) > 0 then cast(list_sum(list_transform(rtoks, x -> length(x))) as double) / len(rtoks) else 0.0 end as mean_word_len "
            "from t"
        ),
        "lang_id": (
            "with t as (select doc_id, "
            "string_split_regex(trim(lower(text)), '\\s+') as toks from documents) "
            "select doc_id, case when len(toks) > 0 and "
            f"cast(len(list_filter(toks, x -> x in ({_STOPS}))) as double) / len(toks) > 0.02 "
            "then 'en' else 'unknown' end as lang_pred from t"
        ),
        "fingerprint": (
            "select doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) "
            "as fp_md5 from documents"
        ),
        "token_jaccard_pairs": (
            "with t as (select doc_id, list_distinct(string_split(trim("
            "regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) as toks "
            "from documents where doc_id < 200) "
            "select a.doc_id as id_a, b.doc_id as id_b, "
            "cast(len(list_intersect(a.toks, b.toks)) as double) / "
            "len(list_distinct(list_concat(a.toks, b.toks))) as jaccard "
            "from t a join t b on a.doc_id < b.doc_id "
            "where cast(len(list_intersect(a.toks, b.toks)) as double) / "
            "len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5"
        ),
        "ann_topk_dot": (
            "with q as (select vec_id, list_transform(embedding, "
            "x -> cast(round(cast(x as double) * 1000) as bigint)) as qv "
            "from embeddings), "
            "scored as (select a.vec_id as query_id, b.vec_id as nbr_id, "
            "cast(list_dot_product(a.qv, b.qv) as bigint) as dot "
            "from q a join q b on a.vec_id < 50 and a.vec_id != b.vec_id), "
            "ranked as (select *, row_number() over (partition by query_id "
            "order by dot desc, nbr_id asc) as rank from scored) "
            "select query_id, nbr_id, dot, cast(rank as int) as rank "
            "from ranked where rank <= 5"
        ),
        # exact all-pairs 3-gram Jaccard ≥ 0.5 — the ground truth both
        # LSH candidate generators (minhash bands, simhash slices) must
        # reproduce exactly: verified precision is exact by
        # construction, so hash-equality == recall 1.0
        "minhash_neardup": _JACCARD_PAIRS_SQL,
        "simhash_neardup": _JACCARD_PAIRS_SQL.replace(
            "from documents)", "from documents where doc_id < 1000)", 1),
        "neardup_clusters": (
            "with recursive "
            f"jp as ({_JACCARD_PAIRS_SQL}), "
            "edges as (select id_a as a, id_b as b from jp "
            " union select id_b, id_a from jp), "
            "reach(a, b) as (select a, b from edges "
            " union select r.a, e.b from reach r join edges e on r.b = e.a), "
            "labels as (select a as id, least(a, min(b)) as cluster_id "
            " from reach group by a) "
            "select id, cluster_id from labels"
        ),
        "embedding_neardup": (
            "with base as (select vec_id, embedding::double[] as v "
            "from embeddings), "
            "plant as (select vec_id + 100000 as vec_id, "
            " case when vec_id < 20 then v else list_transform(v, "
            " (x, i) -> case when i = 64 then x * 0.0 else x end) end as v "
            " from base where vec_id < 40), "
            "u as (select * from base union all select * from plant), "
            "pairs as (select a.vec_id as id_a, b.vec_id as id_b, "
            " round(list_dot_product(a.v, b.v) / "
            " (sqrt(list_dot_product(a.v, a.v)) * "
            "  sqrt(list_dot_product(b.v, b.v))), 6) as score "
            " from u a join u b on a.vec_id < b.vec_id) "
            "select id_a, id_b, score from pairs where score >= 0.95"
        ),
        "ann_cosine_lsh": _ANN_BRUTE_SQL,
        "ann_topk_ivf": _ANN_BRUTE_SQL,
        # sniffing rule restated in closed form: planted PNG rows
        # classify by the 8-byte magic; everything else is the text
        # heuristic (leading '<' after whitespace = html, else plain)
        "media_metadata": (
            "select doc_id, "
            "case when doc_id % 10 = 0 then 'image/png' "
            " when regexp_matches(text, '^[ \\t\\r\\n\\x0b\\x0c]*<') "
            " then 'text/html' else 'text/plain' end as media_type, "
            "(octet_length(encode(text)) + case when doc_id % 10 = 0 "
            "then 8 else 0 end)::bigint as n_bytes from documents"
        ),
        "typed_sink_projection": (
            "select event_id, "
            "epoch(date_trunc('second', ts))::bigint as date_epoch, "
            "((cast(floor(value * 1000) as bigint)::varchar || 'e-3')"
            "::real)::double as delay_f, "
            "(cast(floor(value * 100) as bigint)::varchar || '.25')"
            "::double as size_d, "
            "((user_id % 5 + 1)::varchar::real)::int as nrcpt_i "
            "from events"
        ),
        # closed-form oracle for the flagship pipeline: the synthetic
        # pages corpus is deterministic (datagen.py scenarios), so the
        # assembled per-url docs have a closed form both engines can
        # compute — n_events per lifecycle scenario, +64 hot smtp
        # events for the 2 planted hot urls, isFinal except the
        # still-open scenario, host/date derived from uidx
        "pipeline_docs": (
            "with u as (select range::bigint as uidx from range(1000)) "
            "select '3' || to_base(uidx, 36) || 'zXy' as qid, "
            "case when uidx < 2 then 'mx1' "
            " else 'mx' || (uidx % 8 + 1) end as host, "
            "(uidx % 10 != 8) as \"isFinal\", "
            "([3,3,3,4,3,4,2,3,2,2][(uidx % 10)::int + 1] "
            " + case when uidx < 2 then 64 else 0 end)::bigint as n_events, "
            "'postfix-orphan' as sink, "
            "'2024-07-' || (24 + uidx % 3) as route_date "
            "from u"
        ),
        "pipeline_sink_counts": (
            "with u as (select range::bigint as uidx from range(1000)), "
            "e as (select [3,3,3,4,3,4,2,3,2,2][(uidx % 10)::int + 1] "
            " + case when uidx < 2 then 64 else 0 end as ne, "
            " (uidx % 10 != 8) as fin from u) "
            "select 'postfix-orphan' as sink, "
            "count(*)::bigint as doc_count, sum(ne)::bigint as event_count, "
            "sum(case when fin then 1 else 0 end)::bigint as final_count "
            "from e"
        ),
        # closed form: 100 urls per scenario; scenario 6 plants one
        # prog-filtered spamd line + one envelope-miss garbage line,
        # scenario 9 one qid-less scache statistics line
        "pipeline_reject_counts": (
            "select * from (values "
            "('envelope_miss', 100::bigint), "
            "('no_qid', 100::bigint), "
            "('prog_filtered', 100::bigint)) t(reject_reason, n) "
            "order by reject_reason"
        ),
        # expected canonical form in closed form: every rule of
        # functions/urls.py stated independently of the implementation
        "url_canonical": (
            "select doc_id, case when doc_id % 2 = 0 then "
            "'http://site' || (doc_id % 7) || '.com/a/b' || (doc_id % 5) "
            " || '?q=' || doc_id "
            "else 'https://site' || (doc_id % 7) || '.com/a/b' || "
            "(doc_id % 5) end as canonical_url "
            "from documents order by doc_id"
        ),
        "url_dedup": (
            "with m as (select doc_id, doc_id % 100 as g, "
            "'http://www.site' || (doc_id % 100) || '.com/?utm_campaign=' "
            "|| doc_id as url from documents) "
            "select 'http://site' || g || '.com/' as canonical_url, "
            "(array_agg(doc_id order by url asc))[1] as doc_id, "
            "count(*)::bigint as n_dups "
            "from m group by g order by canonical_url"
        ),
        # closed form: the nav + footer lines are shared by >=2 docs
        # (500 docs, 3 footer groups) and removed; the doc's own text
        # is corpus-unique (dedup_exact proves zero exact dups) so it
        # survives as the only kept line
        "line_dedup": (
            "select doc_id, text as text_deduped, 1::int as n_lines_kept, "
            "2::int as n_lines_dropped from documents order by doc_id"
        ),
        "vocabulary": (
            "with toks as (select doc_id, unnest(string_split_regex("
            "lower(trim(text)), '\\s+')) as token from documents), "
            "t as (select * from toks where token != '') "
            "select token, count(*)::bigint as n_occurrences, "
            "count(distinct doc_id)::bigint as n_docs from t "
            "group by token order by n_occurrences desc, token asc limit 40"
        ),
        # derived multi-line corpus (bullet lines appended) so the
        # bullet rule is a REAL per-line ratio on both engines, not a
        # one-line regex degenerate
        "gopher_quality": (
            "with d as (select doc_id, case when doc_id % 9 = 0 "
            "then text || repeat(chr(10) || '- item', 19) "
            "else text || chr(10) || '- one bullet' end as text "
            "from documents), "
            "t as (select doc_id, text, "
            "case when trim(text) = '' then 0 else "
            "len(string_split_regex(trim(text), '\\s+')) end as n, "
            "string_split_regex(trim(lower(text)), '\\s+') as toks, "
            "string_split_regex(trim(text), '\\s+') as rawtoks, "
            "string_split(text, chr(10)) as lines from d), "
            "m as (select *, case when n > 0 then "
            "list_aggregate(list_transform(rawtoks, x -> length(x)), "
            "'sum')::double / n else 0.0 end as wl, "
            "case when n > 0 then length(regexp_replace(text, "
            "'[^#\u2026]', '', 'g'))::double / n else 0.0 end as symr, "
            "case when len(lines) > 0 then "
            "len(list_filter(lines, x -> regexp_matches(trim(x), "
            "'^[-*\u2022]')))::double / len(lines) else 0.0 end as bulr, "
            "len(list_intersect(list_distinct(toks), "
            f"[{_STOPS}])) as nstops from t) "
            "select doc_id, n between 10 and 100000 as word_count_ok, "
            "wl between 3.0 and 10.0 as word_len_ok, "
            "symr <= 0.1 as symbol_ok, bulr <= 0.9 as bullet_ok, "
            "nstops >= 2 as stopword_ok, "
            "(n between 10 and 100000) and (wl between 3.0 and 10.0) "
            "and symr <= 0.1 and bulr <= 0.9 and nstops >= 2 as passes "
            "from m order by doc_id"
        ),
        # derived multi-line corpus: doc_id%3==0 plants the same line
        # twice → dup fractions in closed form (the single-line base
        # corpus is dup-free, so the planted lines are the ONLY dups);
        # n-gram fractions recompute generically from the derived text
        "repetition_stats": (
            "with d as (select doc_id, case when doc_id % 3 = 0 "
            "then text || chr(10) || 'Dup A' || chr(10) || 'Dup A' "
            "else text || chr(10) || 'Tail ' || doc_id end as text "
            "from documents), "
            "t as (select doc_id, text, length(text) as total, "
            "list_filter(string_split_regex(lower(text), '\\s+'), "
            "x -> x != '') as toks from d), "
            "g as (select doc_id, total, n, unnest(list_transform("
            "range(greatest(len(toks) - n + 1, 0)), i -> case when n = 2 "
            "then toks[i+1] || ' ' || toks[i+2] else "
            "toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] end)) "
            "as gram from t, (values (2), (3)) v(n)), "
            "c as (select doc_id, total, n, gram, count(*) as cnt "
            "from g group by all), "
            "top as (select doc_id, n, "
            "(length(gram) * cnt * 1000000 // total) / 1000000.0 "
            "as frac, row_number() over (partition by doc_id, n "
            "order by cnt desc, gram desc) as rk from c) "
            "select t.doc_id, "
            "case when t.doc_id % 3 = 0 then 2.0/3.0 else 0.0 end "
            "as dup_line_frac, "
            "case when t.doc_id % 3 = 0 then 10.0/t.total else 0.0 end "
            "as dup_line_char_frac, "
            "coalesce(b.frac, 0.0) as top_bigram_char_frac, "
            "coalesce(tri.frac, 0.0) as top_trigram_char_frac "
            "from t left join (select * from top where n = 2 and rk = 1) b "
            "using (doc_id) "
            "left join (select * from top where n = 3 and rk = 1) tri "
            "using (doc_id) order by t.doc_id"
        ),
        # composed cleaning chain: planted exact dups (+10000) fall to
        # the exact stage (keeper = original, lower id), so the
        # survivor set reduces to documents minus CC non-keepers minus
        # quality failures — each piece reusing its stage's own oracle
        "clean_corpus": (
            "with recursive "
            f"jp as ({_JACCARD_PAIRS_SQL}), "
            "edges as (select id_a as a, id_b as b from jp "
            " union select id_b, id_a from jp), "
            "reach(a, b) as (select a, b from edges "
            " union select r.a, e.b from reach r join edges e on r.b = e.a), "
            "labels as (select a as id, least(a, min(b)) as cluster_id "
            " from reach group by a), "
            "losers as (select id from labels where id != cluster_id), "
            "t as (select doc_id, text, "
            "case when trim(text) = '' then 0 else "
            "len(string_split_regex(trim(text), '\\s+')) end as n, "
            "string_split_regex(trim(lower(text)), '\\s+') as toks, "
            "string_split_regex(trim(text), '\\s+') as rawtoks "
            "from documents), "
            "m as (select *, case when n > 0 then "
            "list_aggregate(list_transform(rawtoks, x -> length(x)), "
            "'sum')::double / n else 0.0 end as wl, "
            "case when n > 0 then length(regexp_replace(text, "
            "'[^#…]', '', 'g'))::double / n else 0.0 end as symr, "
            "case when regexp_matches(trim(text), '^[-*•]') "
            "then 1.0 else 0.0 end as bulr, "
            "len(list_intersect(list_distinct(toks), "
            f"[{_STOPS}])) as nstops from t) "
            "select doc_id from m "
            "where doc_id not in (select id from losers) "
            "and n between 10 and 100000 and wl between 3.0 and 10.0 "
            "and symr <= 0.1 and bulr <= 0.9 and nstops >= 2 "
            "order by doc_id"
        ),
        # append-mode watermark semantics as a WHERE clause: a window
        # is emitted iff its end precedes the final watermark
        # (max event time − 2 h); 1-hour tumbling windows align to the
        # epoch in both engines (time_bucket ≡ Spark window())
        "stream_metrics": (
            "with e as (select ts, event_type as lang, "
            "octet_length(encode(props))::bigint as nb from events), "
            "agg as (select time_bucket(interval '1 hour', ts) as ws, "
            "lang, count(*)::bigint as n_rows, sum(nb)::bigint as n_bytes "
            "from e group by all) "
            "select strftime(ws, '%Y-%m-%d %H:%M:%S') as window_start, "
            "strftime(ws + interval '1 hour', '%Y-%m-%d %H:%M:%S') "
            "as window_end, lang, n_rows, n_bytes from agg "
            "where ws + interval '1 hour' <= "
            "(select max(ts) - interval '2 hours' from e) "
            "order by window_start, lang"
        ),
    }
    out["clean_corpus_scale"] = out["clean_corpus"]
    # identical published regexes, same order, counts before each
    # replacement (functions/redact.py contract)
    email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    ipv4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    longnum = "\\b\\d{13,19}\\b"
    out["pii_redact"] = (
        "with d as (select doc_id, text || ' contact u' || doc_id "
        "|| '@ex' || (doc_id % 5) || '.com or 10.0.' || (doc_id % 200) "
        "|| '.7 card 4111111111111111' as t from documents), "
        f"r1 as (select doc_id, len(regexp_extract_all(t, '{email}')) "
        f"as n_emails, regexp_replace(t, '{email}', '<EMAIL>', 'g') "
        "as t from d), "
        f"r2 as (select doc_id, n_emails, len(regexp_extract_all(t, "
        f"'{ipv4}')) as n_ips, regexp_replace(t, '{ipv4}', '<IP>', 'g') "
        "as t from r1), "
        f"r3 as (select doc_id, n_emails, n_ips, "
        f"len(regexp_extract_all(t, '{longnum}')) as n_longnums, "
        f"regexp_replace(t, '{longnum}', '<NUM>', 'g') as t from r2) "
        "select doc_id, t as text_redacted, n_emails::int as n_emails, "
        "n_ips::int as n_ips, n_longnums::int as n_longnums "
        "from r3 order by doc_id"
    )
    out["sample_split"] = (
        "with b as (select doc_id, "
        "substr(md5(cast(doc_id as varchar)), 1, 2) as bucket "
        "from documents) "
        "select doc_id, bucket, "
        "case when bucket < 'cc' then 'train' else 'heldout' end as split, "
        "case when bucket < '01' then 'train' else 'heldout' end as split_lo, "
        "case when bucket < 'ff' then 'train' else 'heldout' end as split_hi, "
        "'train' as split_full, "
        "'heldout' as split_none "
        "from b order by doc_id"
    )
    # decontamination restated on RAW grams (Spark joins gram hashes):
    # distinct word 5-grams per doc, benchmark = union over the
    # doc_id%50==0 slice, count the per-doc intersection
    out["decontaminate"] = (
        "with t as (select doc_id, string_split(trim(regexp_replace("
        "lower(text), '\\s+', ' ', 'g')), ' ') as toks from documents), "
        "s as (select doc_id, list_distinct(list_transform("
        "range(greatest(len(toks) - 4, 0)), "
        "i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' "
        "|| toks[i+4] || ' ' || toks[i+5])) as sh from t), "
        "b as (select distinct unnest(sh) as g from s "
        "where doc_id % 50 = 0), "
        "ds as (select doc_id, unnest(sh) as g from s), "
        "hits as (select doc_id, count(*) as n from ds join b using (g) "
        "group by doc_id) "
        "select s.doc_id, coalesce(hits.n, 0)::bigint as n_shared_ngrams, "
        "coalesce(hits.n, 0) > 0 as contaminated "
        "from s left join hits using (doc_id) order by s.doc_id"
    )
    # span decontamination restated generically on RAW normalized
    # spans (Spark joins span hashes): newline-split, normalize,
    # probe membership against the literal benchmark's spans, rebuild
    # from the RAW kept spans in order
    out["decontaminate_spans"] = (
        "with d as (select doc_id, text || case when doc_id % 7 = 0 "
        "then chr(10) || 'Eval Answer: THE quick  probe sentence' "
        "else chr(10) || 'clean tail ' || doc_id end as text "
        "from documents), "
        "b as (select distinct trim(regexp_replace(lower(s), '\\s+', "
        "' ', 'g')) as norm from (select unnest(string_split(bt, "
        "chr(10))) as s from (values "
        "('eval answer: the quick probe sentence'), "
        "('an unseen decoy sentence')) v(bt)) "
        "where trim(regexp_replace(lower(s), '\\s+', ' ', 'g')) != ''), "
        "s as (select doc_id, unnest(list_transform(string_split(text, "
        "chr(10)), (x, i) -> struct_pack(idx := i - 1, raw := x))) "
        "as u from d), "
        "m as (select doc_id, u.idx as span_idx, u.raw as span, "
        "trim(regexp_replace(lower(u.raw), '\\s+', ' ', 'g')) as norm "
        "from s), "
        "f as (select doc_id, span_idx, span, (norm != '' and "
        "norm in (select norm from b)) as contam from m) "
        "select doc_id, "
        "sum(case when contam then 1 else 0 end)::bigint "
        "as n_spans_removed, "
        "sum(case when contam then 0 else 1 end)::bigint "
        "as n_spans_kept, "
        "coalesce(string_agg(case when not contam then span end, "
        "chr(10) order by span_idx), '') as text_clean "
        "from f group by doc_id order by doc_id"
    )
    # mixing thresholds precomputed to 8-hex literals (floor(w·16⁸)),
    # restated as the same lowercase-hex string inequality; endpoints
    # (1.0 / 0.0) never reach the comparison on either side
    t_de = format(int(0.5 * 16 ** 8), "08x")
    t_fr = format(int(0.004 * 16 ** 8), "08x")
    t_zh = format(int(0.1 * 16 ** 8), "08x")
    out["weighted_mix"] = (
        "with b as (select doc_id, lang, "
        "substr(md5(lang || ':' || doc_id), 1, 8) as bk from documents) "
        "select doc_id, lang from b where case "
        "when lang = 'en' then true "
        f"when lang = 'de' then bk < '{t_de}' "
        f"when lang = 'fr' then bk < '{t_fr}' "
        "when lang = 'es' then false "
        f"else bk < '{t_zh}' end "
        "order by doc_id"
    )
    # shard = first md5 byte mod 16, decoded with strpos arithmetic
    # (no engine-specific hex→int builtin); position = 0-based rank
    # within the shard by (key, id)
    hv = "(strpos('0123456789abcdef', substr(k, {i}, 1)) - 1)"
    out["train_order"] = (
        "with t as (select doc_id, md5('42:' || doc_id) as k "
        "from documents), "
        f"s as (select doc_id, k, (({hv.format(i=1)} * 16 + "
        f"{hv.format(i=2)}) % 16)::bigint as shard from t) "
        "select doc_id, shard, (row_number() over (partition by shard "
        "order by k, doc_id) - 1)::bigint as position from s "
        "order by doc_id"
    )
    # unigram add-one model rebuilt in SQL; lpsum is an exact integer
    # sum of micro-nat log-probs (sum(bigint) is hugeint in DuckDB —
    # the division normalizes to double identically)
    out["perplexity_bucket"] = (
        "with toks as (select doc_id, unnest(list_filter("
        "string_split_regex(lower(trim(text)), '\\s+'), x -> x != '')) "
        "as token from documents), "
        "cnt as (select token, count(*) as c from toks group by token), "
        "meta as (select sum(c)::double + count(*)::double as denom "
        "from cnt), "
        "model as (select token, round(ln((c + 1.0) / denom) "
        "* 1000000)::bigint as lp from cnt, meta), "
        "sc as (select t.doc_id, count(*)::bigint as n_tokens, "
        "sum(m.lp) as lpsum from toks t join model m using (token) "
        "group by t.doc_id), "
        "s as (select d.doc_id, coalesce(sc.n_tokens, 0)::bigint "
        "as n_tokens, case when coalesce(sc.n_tokens, 0) > 0 then "
        "round(-lpsum / (sc.n_tokens * 1000000.0), 6) else 0.0 end "
        "as nll from documents d left join sc using (doc_id)) "
        "select doc_id, n_tokens, nll, "
        "case when nll <= 3.4 then 'head' when nll <= 3.404 then "
        "'middle' else 'tail' end as ppl_bucket "
        "from s order by doc_id"
    )
    # packing rule restated: per-shard ordered window cumsum; a doc's
    # sequence is where its first token lands (start // budget)
    out["pack_sequences"] = (
        "with t as (select doc_id, doc_id % 8 as shard, "
        "cast(case when trim(text) = '' then 0 else "
        "len(string_split_regex(trim(text), '\\s+')) end as bigint) "
        "as n_tokens from documents), "
        "c as (select *, sum(n_tokens) over (partition by shard "
        "order by doc_id rows unbounded preceding) - n_tokens as s "
        "from t) "
        "select doc_id, shard::bigint as shard, n_tokens, "
        "(s // 1024)::bigint as seq_id, (s % 1024)::bigint "
        "as offset_in_seq from c order by doc_id"
    )
    # same packing rule under the BPE-ish sub-word budget (the
    # regexp restatement's engine parity is proven by
    # text_quality_full's n_bpe_tokens column)
    out["pack_sequences_bpe"] = (
        "with t as (select doc_id, doc_id % 8 as shard, "
        "cast(len(regexp_extract_all(lower(text), "
        "'[a-z]{1,4}|\\d|[^\\sa-z\\d]')) as bigint) as n_tokens "
        "from documents), "
        "c as (select *, sum(n_tokens) over (partition by shard "
        "order by doc_id rows unbounded preceding) - n_tokens as s "
        "from t) "
        "select doc_id, shard::bigint as shard, n_tokens, "
        "(s // 512)::bigint as seq_id, (s % 512)::bigint "
        "as offset_in_seq from c order by doc_id"
    )
    # hashed-linear-classifier rule rebuilt with strpos hex
    # arithmetic: weight = value of the first 4 md5 hex chars − 32768
    # micro-units; keep ⇔ integer score ≥ 0 (threshold 0, bias 0)
    hv4 = ("((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096 + "
           "(strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256 + "
           "(strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16 + "
           "(strpos('0123456789abcdef', substr(h, 4, 1)) - 1))")
    out["quality_classifier"] = (
        "with toks as (select doc_id, unnest(list_filter("
        "string_split_regex(lower(trim(text)), '\\s+'), x -> x != '')) "
        "as token from documents), "
        "w as (select doc_id, md5(token) as h from toks), "
        f"v as (select doc_id, ({hv4} - 32768)::bigint as wt from w), "
        "sc as (select doc_id, count(*)::bigint as n_tokens, "
        "sum(wt)::bigint as s from v group by doc_id) "
        "select d.doc_id, coalesce(sc.n_tokens, 0)::bigint as n_tokens, "
        "coalesce(sc.s, 0)::bigint as score_micro, "
        "coalesce(sc.s, 0) >= 0 as keep "
        "from documents d left join sc using (doc_id) order by doc_id"
    )
    # per-domain cap restated as a plain ranked window: keepers are
    # row_number ≤ 60 by (n_chars desc, doc_id); capped ⇔ the domain
    # held more than 60 docs
    out["domain_cap"] = (
        "with p as (select doc_id, n_chars, 'site' || "
        "least(doc_id % 10, 3) || '.com' as domain from documents), "
        "r as (select *, row_number() over (partition by domain "
        "order by n_chars desc, doc_id) as rn, "
        "count(*) over (partition by domain) as dn from p) "
        "select doc_id, domain, (dn > 60) as capped from r "
        "where rn <= 60 order by doc_id"
    )
    # SemDeDup restated: nearest-centroid assignment (cosine rounded
    # to 6, ties to lowest cid) over the first-8-vector centroids,
    # then min-id-wins within each cell at threshold 0.95
    out["semantic_dedup"] = (
        "with base as (select vec_id, embedding::double[] as v "
        "from embeddings), "
        "plant as (select vec_id + 100000 as vec_id, "
        "case when vec_id < 20 then v else list_transform(v, "
        "(x, i) -> case when i = 64 then x * 0.0 else x end) end as v "
        "from base where vec_id < 40), "
        "u as (select * from base union all select * from plant), "
        "cents as (select vec_id as cid, v as cvec from base "
        "where vec_id < 8), "
        "sims as (select u.vec_id, c.cid, "
        "round(list_dot_product(u.v, c.cvec) / "
        "(sqrt(list_dot_product(u.v, u.v)) * "
        "sqrt(list_dot_product(c.cvec, c.cvec))), 6) as s "
        "from u cross join cents c), "
        "cell as (select vec_id, cid as cell from (select *, "
        "row_number() over (partition by vec_id "
        "order by s desc, cid asc) as rn from sims) where rn = 1), "
        "j as (select a.vec_id as id_a, b.vec_id as id_b from "
        "(select u.vec_id, u.v, cell.cell from u join cell using "
        "(vec_id)) a join (select u.vec_id, u.v, cell.cell from u "
        "join cell using (vec_id)) b on a.cell = b.cell and "
        "a.vec_id < b.vec_id and "
        "round(list_dot_product(a.v, b.v) / "
        "(sqrt(list_dot_product(a.v, a.v)) * "
        "sqrt(list_dot_product(b.v, b.v))), 6) >= 0.95), "
        "dr as (select distinct id_b from j) "
        "select cell.vec_id, cell.cell, "
        "(dr.id_b is not null) as dropped from cell "
        "left join dr on cell.vec_id = dr.id_b order by cell.vec_id"
    )
    # sliding-window chunking restated: starts = range(0, n, stride);
    # DuckDB list_slice bounds are inclusive, Spark slice is
    # (start, length) — both clamp at the array end
    out["chunk_documents"] = (
        "with t as (select doc_id, list_filter(string_split_regex("
        "trim(text), '\\s+'), x -> x != '') as toks from documents), "
        "n as (select doc_id, toks, len(toks) as n from t "
        "where len(toks) > 0), "
        "s as (select doc_id, toks, n, unnest(range(0, n, 16)) "
        "as start from n) "
        "select doc_id, (start // 16)::bigint as chunk_id, "
        "start::bigint as start_token, "
        "least(32, n - start)::bigint as n_chunk_tokens, "
        "array_to_string(list_slice(toks, start + 1, "
        "least(start + 32, n)), ' ') as chunk_text "
        "from s order by doc_id, chunk_id"
    )
    # per-source-pair dup-pair counts from per-(content, source)
    # group sizes: C(n,2) on the diagonal, n_a*n_b across — counted
    # arithmetically, never enumerated
    out["cross_source_dups"] = (
        "with u as (select doc_id, text, source from documents "
        "union all select doc_id + 100000, text, 'planted' "
        "from documents where doc_id < 50), "
        "t as (select source, trim(regexp_replace(lower(text), "
        "'\\s+', ' ', 'g')) as norm from u), "
        "g as (select norm, source, count(*)::bigint as n from t "
        "group by norm, source), "
        "p as (select a.source as source_a, b.source as source_b, "
        "(case when a.source = b.source then a.n * (a.n - 1) // 2 "
        "else a.n * b.n end)::bigint as c "
        "from g a join g b on a.norm = b.norm and "
        "a.source <= b.source) "
        "select source_a, source_b, sum(c)::bigint as dup_pairs "
        "from p group by 1, 2 having sum(c) > 0 "
        "order by source_a, source_b"
    )
    # batch first-id-per-hash, anti-joined against the committed
    # slice's distinct hashes — the external-store dedup probe
    out["incremental_dedup"] = (
        "with b as (select doc_id, md5(trim(regexp_replace("
        "lower(text), '\\s+', ' ', 'g'))) as h from documents), "
        "committed as (select distinct h from b where doc_id % 7 = 0), "
        "firsts as (select h as content_hash, min(doc_id) as doc_id "
        "from b where doc_id % 7 <> 0 group by h) "
        "select doc_id, content_hash from firsts "
        "where content_hash not in (select h from committed) "
        "order by doc_id"
    )
    # ROLLUP composition matrix, group cols coalesced + grouping_id
    # bitmask (standard SQL GROUPING()) so no NULL ever reaches the
    # compare; integer measures only — no floating averages
    out["corpus_report"] = (
        "with base as (select source, lang, "
        "case when trim(text) = '' then 0 else "
        "len(regexp_split_to_array(trim(text), '\\s+')) end as tok, "
        "octet_length(encode(text)) as bytes from documents) "
        "select coalesce(source, '(all)') as source, "
        "coalesce(lang, '(all)') as lang, "
        "cast(grouping(source, lang) as bigint) as grouping_id, "
        "count(*) as n_docs, sum(tok)::bigint as n_tokens, "
        "sum(bytes)::bigint as n_bytes, max(tok) as max_doc_tokens, "
        "min(tok) as min_doc_tokens "
        "from base group by rollup (source, lang) "
        "order by grouping_id, source, lang"
    )
    # shard assignment restated with the train_order strpos-hex rule;
    # measures re-aggregated from the raw table — proves the WRITTEN
    # manifest partitions exactly like the published rule
    hv2 = "(strpos('0123456789abcdef', substr(k, {i}, 1)) - 1)"
    out["shard_manifest"] = (
        "with t as (select doc_id, text, md5('42:' || doc_id) as k "
        "from documents), "
        f"s as (select text, (({hv2.format(i=1)} * 16 + "
        f"{hv2.format(i=2)}) % 16)::bigint as shard from t), "
        "base as (select shard, "
        "case when trim(text) = '' then 0 else "
        "len(regexp_split_to_array(trim(text), '\\s+')) end as tok, "
        "octet_length(encode(text)) as bytes from s) "
        "select shard, count(*) as n_docs, sum(tok)::bigint as "
        "n_tokens, sum(bytes)::bigint as n_bytes "
        "from base group by shard order by shard"
    )
    return out
