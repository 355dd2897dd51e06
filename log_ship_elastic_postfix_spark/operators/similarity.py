"""Similarity search over embedding columns (``array<float>``).

Two paths, as a training-data pipeline needs both:

- brute-force cosine top-k — the correctness baseline. Dot products via
  ``F.zip_with`` + ``F.aggregate`` (JVM, codegen); top-k via window
  ``row_number`` over a partition-pruned candidate join.
- LSH-bucketed ANN (random-hyperplane signs) — the scale path: each
  vector lands in ``n_tables`` sign-buckets; candidate pairs only join
  within buckets, so the exchange is on bucket keys, never O(n²).
  Hyperplanes are deterministic (seeded arithmetic), not RNG state.

Shuffle discipline (the 100 TB rule): candidate generation and
dedup run over **ids only** — the (tbl, bucket) join and the
``distinct`` exchange carry two longs per row; embedding vectors
(dim × 8 bytes) are joined back exactly once per surviving pair side.
Round 1 carried both vectors through the dedup shuffle — at dim=1024
that is a 256× larger exchange for identical output.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def _null_safe(vecs: list, dim: int | None = None) -> list:
    """Replace NULL vectors with zero vectors of the batch's dim —
    reproducing the JVM expression's null semantics exactly: a null
    input drove `when(denom > 0, …)` to its 0.0 branch, and a zero
    vector lands in the same branch (denom 0). Without this the numpy
    batch constructor would raise where the expression returned 0.0.
    ``dim`` covers the all-null batch (a small partition can hold only
    null rows; the batch then has no vector to infer the width from)."""
    if all(v is not None for v in vecs):
        return vecs
    if dim is None:
        dim = next((len(v) for v in vecs if v is not None), 1)
    zero = [0.0] * dim
    return [zero if v is None else v for v in vecs]


def _cosine_batch(a: Column, b: Column) -> Column:
    """Arrow-vectorized cosine, BIT-IDENTICAL to :func:`cosine`: the
    per-dimension accumulation loops replay the JVM aggregate's
    left-to-right IEEE summation order for dot and both norms, and
    sqrt/multiply/divide are the same scalar double ops — so swapping
    this in for the interpreted expression (measured ~77 µs per
    64-dim cosine: higher-order lambdas never reach codegen) cannot
    move a rounded score by an ulp. Requires uniform vector length
    within a batch (the operator contract — one embedding space).
    Defined as a factory: ``pandas_udf`` needs an active session."""

    @pandas_udf("double")
    def cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd.Series([], dtype="float64")
        la, lb = va.tolist(), vb.tolist()
        dim = next((len(v) for v in la + lb if v is not None), 1)
        ma = np.array(_null_safe(la, dim), dtype=np.float64)
        mb = np.array(_null_safe(lb, dim), dtype=np.float64)
        dot = np.zeros(len(ma))
        na = np.zeros(len(ma))
        nb = np.zeros(len(ma))
        for d in range(ma.shape[1]):
            dot += ma[:, d] * mb[:, d]
            na += ma[:, d] * ma[:, d]
            nb += mb[:, d] * mb[:, d]
        denom = np.sqrt(na) * np.sqrt(nb)
        with np.errstate(divide="ignore", invalid="ignore"):
            return pd.Series(np.where(denom > 0, dot / denom, 0.0))

    # asNondeterministic: callers filter on the rounded score; the
    # pushed filter would otherwise evaluate the kernel twice (§4.4)
    return cos.asNondeterministic()(a, b)


def brute_force_topk(
    df: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding",
    k: int = 5, queries: DataFrame | None = None,
) -> DataFrame:
    """Exact cosine top-k neighbors for every query vector.

    ``queries`` defaults to the corpus itself (self-join, excluding
    self-matches). Ties break on neighbor id — deterministic output.
    At scale the corpus side would be bucketed/broadcast in chunks;
    this operator is the oracle the ANN path is verified against.
    """
    from pyspark.sql.window import Window

    corpus = df.select(F.col(id_col).alias("nbr_id"),
                       F.col(vec_col).alias("nbr_vec"))
    qs = (queries or df).select(F.col(id_col).alias("query_id"),
                                F.col(vec_col).alias("query_vec"))
    scored = (qs.crossJoin(corpus)
              .filter(F.col("query_id") != F.col("nbr_id"))
              .withColumn("score", F.round(
                  _cosine_batch(F.col("query_vec"), F.col("nbr_vec")), 6)))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("nbr_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "nbr_id", "score", "rank"))


_M64 = (1 << 64) - 1


def _splitmix64(x: int) -> int:
    """Public splitmix64 finalizer — full-avalanche integer mixing."""
    x = (x + 0x9E3779B97F4A7C15) & _M64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _M64
    return (x ^ (x >> 31)) & _M64


def _hyperplane(dim: int, table: int, bit: int) -> list[float]:
    """Deterministic ISOTROPIC unit hyperplane: per-component standard
    Gaussians via splitmix64 uniforms + Box–Muller (no RNG state,
    reproducible across runs/languages).

    Two round-2 bugs worth remembering — sign-LSH guarantees hold only
    for INDEPENDENT random planes, and both "obvious" deterministic
    constructions violated that: (a) ``sin(a·d + φ(table,bit))`` makes
    every plane the same sinusoid at a different phase — planes
    correlate as cos(Δφ) (adjacent bits ~0.68); (b) crc32-of-label
    uniforms — CRC is GF(2)-LINEAR, so labels differing in one
    character give hash values differing by a CONSTANT XOR across all
    components (measured plane correlation 0.89, a cosine-0.264 pair
    disagreed on all 32 'independent' tables). A full-avalanche
    nonlinear mixer is required."""
    vals = []
    base = (table * 1_000_003 + bit) * 1_000_003
    for d in range(dim):
        u1 = (_splitmix64(base + 2 * d) + 1) / 2.0**64
        u2 = _splitmix64(base + 2 * d + 1) / 2.0**64
        vals.append(math.sqrt(-2.0 * math.log(u1))
                    * math.cos(2.0 * math.pi * u2))
    n = math.sqrt(sum(v * v for v in vals)) or 1.0
    return [v / n for v in vals]


def lsh_sign_buckets(
    df: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int = 64, n_tables: int = 4, n_bits: int = 8,
) -> DataFrame:
    """vector → (id, table, bucket) sign-signature keys — **ids only**
    on the output so downstream bucket joins never shuffle vectors.

    One Arrow pandas UDF computing the full (batch × tables·bits) sign
    matrix as a single numpy matmul — the pure-expression form costs
    n_tables·n_bits interpreted array-aggregate passes per row.
    """
    planes = np.array([
        _hyperplane(dim, t, b) for t in range(n_tables)
        for b in range(n_bits)], dtype=np.float64).T  # (dim, T*B)
    weights = np.array([1 << (n_bits - 1 - b) for b in range(n_bits)],
                       dtype=np.int64)

    @pandas_udf("array<long>")
    def buckets(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.array(_null_safe(vecs.tolist(), dim),
                       dtype=np.float64)
        signs = (mat @ planes >= 0).astype(np.int64)     # (n, T*B)
        signs = signs.reshape(len(mat), n_tables, n_bits)
        vals = (signs * weights[None, None, :]).sum(axis=2)  # (n, T)
        return pd.Series(vals.tolist())

    # asNondeterministic: stop generator/filter pushdown from
    # duplicating the sign kernel (guide §4.4)
    return (df.select(F.col(id_col),
                      F.posexplode(
                          buckets.asNondeterministic()(F.col(vec_col)))
                      .alias("tbl", "bucket"))
            .select(id_col, "tbl", "bucket"))


def _candidate_id_pairs(
    df: DataFrame, *, id_col: str, vec_col: str, dim: int,
    n_tables: int, n_bits: int, symmetric: bool,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Distinct candidate id pairs sharing ≥1 sign-bucket.

    ``symmetric=True`` emits (id_a < id_b) undirected pairs (near-dup
    shape); otherwise directed (query_id, nbr_id) pairs with the left
    side restricted to ``queries`` when given (ANN shape). The distinct
    exchange carries ids only."""
    b = lsh_sign_buckets(df, id_col=id_col, vec_col=vec_col, dim=dim,
                         n_tables=n_tables, n_bits=n_bits)
    # the bucket frame feeds both join sides — persist it so the sign
    # UDF runs once, eagerly checkpoint the id pairs, release
    b = b.persist()
    try:
        left = b.select(F.col(id_col).alias("id_a"), "tbl", "bucket")
        if queries is not None:
            qids = queries.select(F.col(id_col).alias("id_a")).distinct()
            left = left.join(F.broadcast(qids), "id_a")
        right = b.select(F.col(id_col).alias("id_b"), "tbl", "bucket")
        cond = (F.col("id_a") < F.col("id_b") if symmetric
                else F.col("id_a") != F.col("id_b"))
        return (left.join(right, ["tbl", "bucket"])
                .filter(cond)
                .select("id_a", "id_b")
                .distinct()
                .localCheckpoint(eager=True))
    finally:
        b.unpersist()


def ann_topk(
    df: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int = 64, k: int = 5, n_tables: int = 8, n_bits: int = 8,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share ≥1 sign-bucket; exact cosine
    + window rank within the candidate set. Recall rises with
    ``n_tables``; the join key is (tbl, bucket) so the shuffle volume
    is corpus × n_tables ids, not corpus² vectors."""
    from pyspark.sql.window import Window

    pairs = _candidate_id_pairs(
        df, id_col=id_col, vec_col=vec_col, dim=dim,
        n_tables=n_tables, n_bits=n_bits, symmetric=False, queries=queries)
    qv = df.select(F.col(id_col).alias("id_a"),
                   F.col(vec_col).alias("query_vec"))
    nv = df.select(F.col(id_col).alias("id_b"),
                   F.col(vec_col).alias("nbr_vec"))
    scored = (pairs.join(qv, "id_a").join(nv, "id_b")
              .withColumn("score", F.round(
                  _cosine_batch(F.col("query_vec"), F.col("nbr_vec")), 6)))
    w = Window.partitionBy("id_a").orderBy(
        F.col("score").desc(), F.col("id_b").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col("id_a").alias("query_id"),
                    F.col("id_b").alias("nbr_id"), "score", "rank"))


def ivf_topk(
    df: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding",
    k: int = 5, n_centroids: int = 16, n_probe: int = 4,
    queries: DataFrame | None = None, centroid_stride: int | None = None,
    centroids=None, n_docs: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: corpus vectors are
    bucketed by nearest centroid; each query scans only its ``n_probe``
    nearest centroid cells, exact cosine re-rank inside.

    ``centroids`` injects TRAINED centroid vectors (any 2-D
    array-like) — the production path: a k-means job (or a prior run)
    owns centroid quality, this operator owns the distributed
    probe/re-rank; cell ids are then 0..C−1. Without it, centroids are
    deterministic corpus samples (hash-picked, L2-normalized) — no
    RNG, no k-means iterations. ``n_docs``/``centroid_stride`` let the
    caller size the sample without the extra df.count() job (a known
    table row count is catalog metadata at production scale).

    Scale shape: the corpus shuffles ONCE keyed by cell id; query
    fan-out is queries × n_probe ids; vectors join back by cell.
    Recall rises with n_probe (n_probe = n_centroids ⇒ exact)."""
    from pyspark.sql.window import Window

    if centroids is not None:
        cmat = np.asarray(centroids, dtype=np.float64)
        assert cmat.ndim == 2 and len(cmat), "centroids must be (C, dim)"
        cmat = cmat / np.maximum(
            np.linalg.norm(cmat, axis=1, keepdims=True), 1e-12)
        cids = np.arange(len(cmat), dtype=np.int64)
    else:
        stride = centroid_stride or max(
            1, (n_docs if n_docs is not None else df.count())
            // n_centroids if n_centroids else 1)
        # deterministic hash-based sample: `id % stride` assumes dense
        # 0-based ids and selects nothing on sparse/offset id spaces;
        # hashing is position- and density-independent, needs no global
        # sort/window, and stays a narrow filter at corpus scale. 2×
        # oversample then TakeOrdered(n_centroids) so short hash
        # streaks can't under-fill.
        cents = (df.filter(
                     F.pmod(F.xxhash64(F.col(id_col)),
                            max(1, stride // 2)) == 0)
                 .orderBy(id_col).limit(n_centroids)
                 .select(F.col(id_col).alias("cid"),
                         F.col(vec_col).alias("cvec")))
        cent_rows = cents.collect()
        if not cent_rows:  # tiny/adversarial corpus: fall back to head ids
            cent_rows = (df.orderBy(id_col).limit(n_centroids)
                         .select(F.col(id_col).alias("cid"),
                                 F.col(vec_col).alias("cvec")).collect())
        assert cent_rows, "ivf_topk: empty corpus — no centroids"
        cmat = np.array([r["cvec"] for r in cent_rows], dtype=np.float64)
        cmat = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
        cids = np.array([r["cid"] for r in cent_rows], dtype=np.int64)

    def _assign(n_best: int):
        @pandas_udf("array<long>")
        def assign(vecs: pd.Series) -> pd.Series:
            if len(vecs) == 0:
                return pd.Series([], dtype=object)
            mat = np.array(_null_safe(vecs.tolist(), cmat.shape[1]),
                           dtype=np.float64)
            mat = mat / np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            sims = mat @ cmat.T                      # (n, C)
            order = np.argsort(-sims, axis=1)[:, :n_best]
            return pd.Series([cids[o].tolist() for o in order])
        return assign

    corpus_cells = df.select(
        F.col(id_col).alias("nbr_id"),
        F.element_at(_assign(1)(F.col(vec_col)), 1).alias("cell"))
    q = (queries or df).select(
        F.col(id_col).alias("query_id"),
        F.explode(_assign(n_probe)(F.col(vec_col))).alias("cell"))
    cand = (q.join(corpus_cells, "cell")
            .filter(F.col("query_id") != F.col("nbr_id"))
            .select("query_id", "nbr_id")
            .distinct())
    qv = df.select(F.col(id_col).alias("query_id"),
                   F.col(vec_col).alias("query_vec"))
    nv = df.select(F.col(id_col).alias("nbr_id"),
                   F.col(vec_col).alias("nbr_vec"))
    scored = (cand.join(qv, "query_id").join(nv, "nbr_id")
              .withColumn("score", F.round(
                  _cosine_batch(F.col("query_vec"), F.col("nbr_vec")), 6)))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("nbr_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "nbr_id", "score", "rank"))


def embedding_near_duplicates(
    df: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int = 64, threshold: float = 0.95, n_tables: int = 8, n_bits: int = 6,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b) above threshold,
    via the LSH candidate path; vectors join in after the id dedup
    (the planner picks broadcast or shuffle joins by the vector
    table's size)."""
    pairs = _candidate_id_pairs(
        df, id_col=id_col, vec_col=vec_col, dim=dim,
        n_tables=n_tables, n_bits=n_bits, symmetric=True)
    va = df.select(F.col(id_col).alias("id_a"),
                   F.col(vec_col).alias("vec_a"))
    vb = df.select(F.col(id_col).alias("id_b"),
                   F.col(vec_col).alias("vec_b"))
    return (pairs.join(va, "id_a").join(vb, "id_b")
            .withColumn("score", F.round(
                _cosine_batch(F.col("vec_a"), F.col("vec_b")), 6))
            .filter(F.col("score") >= threshold)
            .select("id_a", "id_b", "score"))


def semantic_dedup(
    df: DataFrame, *, centroids: list, id_col: str = "vec_id",
    vec_col: str = "embedding", threshold: float = 0.95,
    n_blocks: int = 8,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster-scoped semantic dedup.

    Embedding-cosine near-dup removal made tractable by comparing only
    WITHIN k-means cells instead of across the corpus: assign every
    vector to its nearest centroid, then drop every document that has
    any >= ``threshold`` cosine neighbor with a smaller id in its
    cell (min-id-wins — deterministic, and the greedy one-survivor-
    per-tight-group rule the paper applies per cluster). Complements
    :func:`embedding_near_duplicates`: LSH candidates catch tight
    near-identical pairs; cluster scoping is the standard shape for
    semantic (paraphrase-level) thresholds where LSH bands lose
    selectivity.

    ``centroids`` is a list of ``(cid, vector)`` — a trained k-means
    job owns centroid quality (the :func:`ivf_topk` contract), the
    operator owns the distributed assign/compare. Here assignment is a
    pure Catalyst expression over centroid literals (zero-exchange,
    codegen; cosine rounded to 6 decimals, ties to the lowest cid, so
    an auditing SQL engine restates it bit-for-bit). Beyond a few
    hundred centroids swap in the :func:`ivf_topk` pandas-UDF assigner
    — the comparison stages are unchanged.

    Scale shape: each row lands in exactly ONE cell; the pairwise
    stage is O((n/C)^2) per cell — size C >= n / target_cell so cells
    stay executor-local (the same sizing duty as LSH bucket caps) —
    and runs BLOCKED: join keys are (cell, block) with the probe side
    fanned out n_blocks ways, so parallelism is C·n_blocks instead of
    C (the vector replication cost is n_blocks×; pair work, which
    dominates, is unchanged). The dropped-id reduction and final join
    are id-only exchanges.

    Returns ``(id_col, cell, dropped)`` for every input row.

    Arithmetic hoists (the naive expression recomputed ``norm(v)``
    per centroid and the constant centroid norms per ROW — 4× the
    work and 5× the wall clock at bench): the row norm is a projected
    column computed once, and centroid norms fold to Python-computed
    literals. Both stay exactly SQL-restatable: the literal equals
    ``sqrt`` of the same left-to-right float64 self-dot an engine's
    ``list_dot_product`` runs, and IEEE-754 makes the equality exact,
    not approximate.

    Two engines, deliberately: the ARGMAX assignment stays a JVM
    expression (bit-identical to the SQL restatement — a one-ulp dot
    difference could flip a rounded tie, and assignment margins are
    data-dependent), evaluated once (eager checkpoint) since Spark's
    higher-order array lambdas are interpreted, not codegen'd
    (measured ~77 µs per 64-dim cosine). The PAIR stage — the O(n²/C)
    hot loop — runs as one numpy matrix kernel per (cell, block-pair)
    group: only the boolean threshold crossing reaches the output,
    the per-dimension accumulation loop reproduces the JVM
    aggregate's left-to-right summation order bit-for-bit, and the
    caller owns a threshold with real margins (the SemDeDup ε is a
    tuned knob, never a value sitting on a data point), so the
    np.round half-mode difference cannot flip it. History: per-pair
    expression scoring ~20 s at 260k pairs → einsum-per-row ~5 s →
    this blocked-GEMM shape, which stops materializing a vector-
    carrying row per candidate pair entirely (the r5 driver measured
    70 s at 20k vectors; the join row count was ~25M × 1 KB).
    """
    import math

    base = df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
        _norm(F.col(vec_col).cast("array<double>")).alias("_nv"))
    cstructs = []
    for cid, cvec in centroids:
        cvec_lit = F.array(*[F.lit(float(x)) for x in cvec])
        cnorm = 0.0
        for x in cvec:  # sequential, matching list_dot_product order
            cnorm += float(x) * float(x)
        cnorm = math.sqrt(cnorm)
        assert cnorm > 0, f"zero-norm centroid {cid}"
        s = F.when(F.col("_nv") > 0,
                   _dot(F.col("_v"), cvec_lit)
                   / (F.col("_nv") * F.lit(cnorm))).otherwise(F.lit(0.0))
        cstructs.append(F.struct(
            F.round(s, 6).alias("s"),
            F.lit(-int(cid)).cast("long").alias("nc")))
    best = F.array_max(F.array(*cstructs))
    cells = base.select(F.col(id_col), F.col("_v"), F.col("_nv"),
                        (-best["nc"]).alias("cell"))
    # the assignment expression is interpreted (higher-order lambdas):
    # evaluate it ONCE — the a/b/result branches below would re-run
    # it three times otherwise
    cells = cells.localCheckpoint(eager=True)
    # blocked within-cell all-pairs as ONE matrix kernel per block
    # pair (optimization guide §4.2: hand whole batches to native
    # code). The r5 formulation joined full vectors onto every
    # candidate pair row — at 20k vectors / 8 cells that is ~25M
    # join rows × 1 KB of vector payload through a per-row scoring
    # UDF (the 70 s driver query). Here each row is replicated only
    # n_blocks+1 times (its block-pair memberships), the one
    # exchange is the applyInPandas regroup on (cell, bi, bj) —
    # C·B(B+1)/2 keys, so parallelism survives — and each group
    # scores its na×nb pair matrix with 64 vectorized outer-product
    # accumulations. The per-dimension accumulation loop reproduces
    # the JVM aggregate's left-to-right summation order exactly
    # (einsum/GEMM pairwise summation is what it replaces), so the
    # scores are bit-identical to the `_dot` expression; division
    # and np.round(…, 6) happen on IEEE doubles the same way, with
    # the documented threshold-margin contract absorbing the
    # round-half mode difference (HALF_UP vs half-even differs only
    # when score·10⁶ lands exactly on .5 — not a value a real
    # cosine threshold sits on).
    blk = F.pmod(F.xxhash64(F.col(id_col).cast("string")),
                 F.lit(n_blocks)).cast("int")
    a_side = F.transform(
        F.sequence(F.col("_t"), F.lit(n_blocks - 1)),
        lambda j: F.struct(F.col("_t").alias("bi"), j.alias("bj"),
                           F.lit(0).alias("side")))
    b_side = F.transform(
        F.sequence(F.lit(0), F.col("_t")),
        lambda i: F.struct(i.alias("bi"), F.col("_t").alias("bj"),
                           F.lit(1).alias("side")))
    memb = (cells.withColumn("_t", blk)
            .select(F.col(id_col).alias("_id"), "_v", "_nv", "cell",
                    F.explode(F.concat(a_side, b_side)).alias("_p"))
            .select("_id", "_v", "_nv", "cell",
                    F.col("_p.bi").alias("_bi"),
                    F.col("_p.bj").alias("_bj"),
                    F.col("_p.side").alias("_side")))
    thr = float(threshold)
    id_type = dict(df.dtypes)[id_col]

    def _score_block_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf[pdf["_side"] == 0]
        b = pdf[pdf["_side"] == 1]
        if a.empty or b.empty:
            return pd.DataFrame({"_d": pd.Series([], dtype="object")})
        la, lb = a["_v"].tolist(), b["_v"].tolist()
        d_ = next((len(v) for v in la + lb if v is not None), 1)
        ma = np.array(_null_safe(la, d_), dtype=np.float64)
        mb = np.array(_null_safe(lb, d_), dtype=np.float64)
        na = a["_nv"].to_numpy(dtype=np.float64)
        nb = b["_nv"].to_numpy(dtype=np.float64)
        ida = a["_id"].to_numpy()
        idb = b["_id"].to_numpy()
        acc = np.zeros((len(ida), len(idb)), dtype=np.float64)
        for d in range(ma.shape[1]):  # sequential-sum dot, JVM order
            acc += np.outer(ma[:, d], mb[:, d])
        denom = np.outer(na, nb)
        with np.errstate(divide="ignore", invalid="ignore"):
            s = np.where(denom > 0, acc / denom, 0.0)
        # each unordered pair meets ONCE here, in whichever block
        # orientation its two rows landed — the drop target is the
        # larger id of the pair, whichever side it sits on
        a_lt_b = ida[:, None] < idb[None, :]
        hit = (np.round(s, 6) >= thr) & (ida[:, None] != idb[None, :])
        drop_b = idb[(hit & a_lt_b).any(axis=0)]
        drop_a = ida[(hit & ~a_lt_b).any(axis=1)]
        return pd.DataFrame(
            {"_d": np.unique(np.concatenate([drop_a, drop_b]))})

    dropped = (memb.groupBy("cell", "_bi", "_bj")
               .applyInPandas(_score_block_pair, f"_d {id_type}")
               .select(F.col("_d").alias(id_col))
               .distinct()
               .withColumn("_dropped", F.lit(True)))
    return (cells.select(id_col, "cell")
            .join(dropped, id_col, "left")
            .select(F.col(id_col), F.col("cell"),
                    F.coalesce(F.col("_dropped"), F.lit(False))
                    .alias("dropped")))
