"""Deduplication operators for large-scale training-data pipelines.

The duplicate-url / hot-key story in the north_star generalizes to the
standard corpus-dedup toolbox; each operator here is expressible at
10¹²-row scale:

- exact: hash-groupBy on content (one exchange on a 64-bit hash, not
  the full text; keeper = min id — deterministic)
- MinHash + LSH: shingle → k minhashes → b bands → exchange on
  (band, band-hash) buckets only; candidate pairs come from a
  within-bucket self-join (never ``collect_set`` — a hot bucket must
  not materialize as one row) and are verified by exact Jaccard.
- SimHash: 64-bit weighted-projection fingerprint; near-dups collide
  on bit-slice keys (pigeonhole: hamming ≤ n_tables−1 pairs are
  guaranteed to share ≥1 slice), then exact-verified.
- n-gram Jaccard: exact verification primitive over distinct gram-id
  sets (used standalone for small candidate sets and as the LSH
  verifier).

Degenerate-input rule (the 100 TB killer): documents too short to
shingle produce a NULL signature and are **excluded from banding** —
otherwise every empty doc on the planet shares one signature and one
mega-bucket per band. Buckets above ``max_bucket_size`` are dropped
with a logged count (no silent caps): at web scale a bucket with 10⁹
members is boilerplate collision, not near-duplication, and pairing it
is O(bucket²).

Physical note: every per-document computation — MinHash bands, the
SimHash vote and the distinct gram-id sets that the Jaccard verify and
decontamination compare — runs in ONE Arrow-batched pandas UDF,
:func:`_shingle_kernel`. It owns the tokenizer (lowercase, whitespace
split), the fewer-than-n-tokens rule and a per-batch crc32 memo (one
crc32 per *unique token per batch* instead of one per shingle
occurrence — the measured hot spot of round 1); each operator passes
only a small numpy reducer over the token hashes. Shingle hashes are
universal-hash window mixes of consecutive token hashes mod 2³¹−1;
64-bit gram ids pack two independent lanes (:func:`_lanes`). A
pure-expression formulation (k × transform/array_min) re-evaluates
the shingle pipeline once per signature slot — Catalyst does not
share subexpressions across projection fields — and measured ~100×
slower at any scale. The banding/bucketing/joins around the kernel
stay JVM-side. Hash functions are deterministic (crc32 + universal-
hash mixing), never Python's salted ``hash``.
"""

from __future__ import annotations

import logging
import zlib

import numpy as np
import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .similarity import _splitmix64

log = logging.getLogger(__name__)

_MERSENNE31 = (1 << 31) - 1  # universal-hash field


def _is_missing_path(exc: Exception) -> bool:
    """True iff an AnalysisException is the legitimate first-batch
    missing-store case. Every other read failure (corruption,
    permissions, transient IO) must propagate — treating it as "no
    committed state" silently resets dedup to first-batch semantics
    (ADVICE r5)."""
    get_cls = (getattr(exc, "getCondition", None)
               or getattr(exc, "getErrorClass", lambda: None))
    cls = get_cls() or ""
    return "PATH_NOT_FOUND" in cls or "Path does not exist" in str(exc)

# default bucket-size cap: pairs-per-bucket stays ≤ ~500k (bounded
# task time); real near-dup clusters this large are resolved by the
# exact-dedup pass first, so dropping is safe — and always logged.
DEFAULT_MAX_BUCKET = 1024


def normalize_text(text: Column) -> Column:
    """Canonical form for content comparison: lowercase, collapsed
    whitespace, trimmed."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: groups of identical (normalized) content.

    Returns one row per duplicated content group: keeper id (min),
    group size, and the full member list. The exchange key is the
    content hash, so skewed giant texts never shuffle their bodies.
    """
    h = F.xxhash64(normalize_text(F.col(text_col))).alias("content_hash")
    return (df.select(F.col(id_col), h)
            .groupBy("content_hash")
            .agg(F.min(id_col).alias("keeper_id"),
                 F.count(F.lit(1)).alias("group_size"),
                 F.sort_array(F.collect_list(id_col)).alias("member_ids"))
            .filter(F.col("group_size") > 1))


def duplicate_assignments(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Exact dedup at scale shape: one (doc_id, keeper_id) row per
    NON-keeper duplicate — no per-group member arrays (a group with
    10⁹ identical docs must not materialize as one collect_list row;
    same mega-row hazard as LSH buckets). Plan: hash-only exchange,
    partial+final min/count agg, then an id+hash join back.
    :func:`exact_duplicates` (grouped members) remains the
    human-readable small-scale report."""
    h = F.xxhash64(normalize_text(F.col(text_col))).alias("content_hash")
    hashed = df.select(F.col(id_col), h)
    keepers = (hashed.groupBy("content_hash")
               .agg(F.min(id_col).alias("keeper_id"),
                    F.count(F.lit(1)).alias("n"))
               .filter(F.col("n") > 1)
               .select("content_hash", "keeper_id"))
    return (hashed.join(keepers, "content_hash")
            .filter(F.col(id_col) != F.col("keeper_id"))
            .select(id_col, "keeper_id"))


# ------------------------------------------------------------- signatures
def _token_hashes(toks: list[str], cache: dict) -> np.ndarray:
    """crc32 per token, memoized across the Arrow batch (unique tokens
    ≪ token occurrences in natural text)."""
    out = np.empty(len(toks), dtype=np.int64)
    for i, t in enumerate(toks):
        h = cache.get(t)
        if h is None:
            h = zlib.crc32(t.encode("utf-8"))
            cache[t] = h
        out[i] = h
    return out


def _shingle_hashes(th: np.ndarray, n: int, coef: np.ndarray) -> np.ndarray:
    """Window-mix n consecutive token hashes into one shingle hash
    (mod 2³¹−1) per coefficient row: ``coef`` of shape ``(n,)`` gives
    ``(m,)`` hashes, ``(lanes, n)`` gives ``(lanes, m)``. min/banding
    over the multiset equals over the set, so no dedup pass is needed
    (min is idempotent; band hashing uses the per-slot minima only)."""
    m = len(th) - n + 1
    acc = np.zeros(coef.shape[:-1] + (m,), dtype=np.int64)
    for j in range(n):
        acc = (acc + coef[..., j, None] * th[j:j + m]) % _MERSENNE31
    return acc


_SHINGLE_COEF = np.array([2654435761 % _MERSENNE31,
                          0x9E3779B1 % _MERSENNE31,
                          0x85EBCA77 % _MERSENNE31,
                          0xC2B2AE3D % _MERSENNE31,
                          0x27D4EB2F % _MERSENNE31], dtype=np.int64)


def _coef(n: int) -> np.ndarray:
    """First ``n`` window-mix coefficients of the low lane — the
    published five, then a deterministic (c·31 + 17) mod p extension
    for wider grams. The r6 gram-hash kernel first shipped with a bare
    ``_SHINGLE_COEF[:n]`` slice, which silently truncates to 5 and then
    INDEXES OUT OF BOUNDS for the operator's own n=8 default — caught
    by scripts/dedup_bench.py's 8-gram run (the driver query uses n=5,
    so the oracle never exercised it)."""
    base = list(_SHINGLE_COEF)
    while len(base) < n:
        base.append(int(base[-1] * 31 + 17) % _MERSENNE31)
    return np.array(base[:n], dtype=np.int64)


def _lanes(n: int) -> np.ndarray:
    """``(2, n)`` window-mix coefficients of the 64-bit gram hash: the
    :func:`_coef` low lane and a high lane of splitmix64 outputs
    reduced mod p. The lanes are independent — a high lane derived
    from the low one collides whenever the low lane does and the
    coefficient offsets cancel."""
    hi = [_splitmix64(0xD1B54A32D192ED03 + j) % _MERSENNE31 or 1
          for j in range(n)]
    return np.stack([_coef(n), np.array(hi, dtype=np.int64)])


def _hash64(th: np.ndarray, lanes: np.ndarray) -> np.ndarray:
    """64-bit gram hashes: the two 31-bit window mixes of
    :func:`_lanes` packed high/low."""
    lo, hi = _shingle_hashes(th, lanes.shape[1], lanes).astype(np.uint64)
    return lo | (hi << np.uint64(32))


def _shingle_kernel(n: int, out_type: str, short_value, per_doc):
    """The dedup family's one per-document kernel: lowercase
    whitespace tokenization, ``short_value`` for documents with fewer
    than ``n`` tokens (NULL text included), and ``per_doc(th)`` over
    the token crc32s otherwise, memoized per Arrow batch. Returns the
    UDF to apply to a text column."""

    @pandas_udf(out_type)
    def kernel(texts: pd.Series) -> pd.Series:
        cache: dict = {}
        out = []
        for t in texts:
            toks = (t or "").lower().split()
            out.append(short_value if len(toks) < n
                       else per_doc(_token_hashes(toks, cache)))
        return pd.Series(out, dtype=object)

    # non-deterministic marking stops the optimizer duplicating the
    # kernel below pushed filters/generators (guide §4.4 — measured
    # 4 ArrowEvalPython nodes for one call)
    return kernel.asNondeterministic()


def minhash_band_buckets(text_col: Column, k: int = 32,
                         n_shingle: int = 3, bands: int = 8) -> Column:
    """Per-document LSH band-bucket keys (``array<long>``, one 64-bit
    bucket per band) straight from the signature kernel — minhash
    values and band hashing in one Arrow pass.

    The r5 shape emitted the k-value signature array and built each
    band's bucket with JVM slice/element_at/concat/xxhash64
    expressions — measured ~3.5 s of the candidate stage at 50k docs
    (interpreted collection expressions over a UDF output column).
    Bucket values are internal JOIN KEYS, never results: any
    injective-enough hash of the band's minhash tuple yields the
    identical candidate semantics (equal tuples always collide; a
    64-bit accidental collision merges two buckets and can only ADD
    candidates, which exact verification then scores — the oracle's
    recall-1.0 gate is unaffected). NULL for documents with fewer
    than ``n_shingle`` tokens (degenerate-bucket rule in the module
    docstring). Raises ``ValueError`` at call time unless ``bands``
    divides ``k`` — the kernel reshapes the k minhash values into
    ``(bands, k // bands)``."""
    if k <= 0 or bands <= 0 or k % bands:
        raise ValueError(
            f"minhash banding needs positive k and bands, with bands "
            f"dividing k; got k={k}, bands={bands}")
    rows = k // bands
    a = np.array([((2 * i + 1) * 2654435761) % _MERSENNE31 or 1
                  for i in range(k)], dtype=np.int64)
    b = np.array([(i * 0x9E3779B1 + 0x5BD1E995) % _MERSENNE31
                  for i in range(k)], dtype=np.int64)
    coef = _coef(n_shingle)
    mix = np.uint64(0x9E3779B97F4A7C15)

    def bands_of(th):
        sh = _shingle_hashes(th, n_shingle, coef)
        vals = (a[:, None] * sh[None, :] + b[:, None]) % _MERSENNE31
        mins = vals.min(axis=1).astype(np.uint64).reshape(bands, rows)
        h = np.zeros(bands, dtype=np.uint64)
        for j in range(rows):  # xor-multiply avalanche per slot
            h = (h ^ mins[:, j]) * mix
        return h.astype(np.int64).tolist()

    return _shingle_kernel(n_shingle, "array<long>", None, bands_of)(text_col)


_BIT_POSITIONS = np.arange(64, dtype=np.uint64)
_BIT_WEIGHTS = (np.uint64(1) << _BIT_POSITIONS).astype(np.int64)


def simhash64(text_col: Column, n_shingle: int = 2) -> Column:
    """64-bit SimHash over word shingles: per-bit majority vote of the
    :func:`_hash64` gram hashes. Documents too short to shingle return
    NULL (see module docstring)."""
    lanes = _lanes(n_shingle)

    def vote(th):
        h = _hash64(th, lanes)
        bits = ((h[:, None] >> _BIT_POSITIONS[None, :]) & 1).astype(np.int64)
        votes = (bits * 2 - 1).sum(axis=0)
        return int(((votes > 0).astype(np.int64) * _BIT_WEIGHTS).sum())

    return _shingle_kernel(n_shingle, "long", None, vote)(text_col)


def _gram_hashes64(text_col: Column, n: int) -> Column:
    """DISTINCT 64-bit :func:`_hash64` ids of a document's word
    ``n``-grams as one sorted ``array<long>`` (empty for documents with
    fewer than ``n`` tokens). Operators that only compare gram
    IDENTITIES — the Jaccard verify and decontamination — join or
    intersect these instead of gram strings.

    Contract: the id-set sizes (and the intersection/union sizes of
    two docs' sets) equal the gram-string set sizes unless two
    distinct grams share an id. That needs either (a) two distinct
    tokens whose crc32s are congruent mod p = 2³¹−1 at the same gram
    position — a vocabulary of V tokens holds about V²·2⁻³² such token
    pairs (≈0.02 at V = 10⁴, ≈2 at 10⁵), each merging only grams that
    differ in such tokens alone; or (b) both independent 31-bit lanes
    colliding at once, ≈2⁻⁶² per gram pair — g_a·g_b·2⁻⁶² expected
    false matches between sets of g_a and g_b grams (≈0.2 for 10¹²
    corpus grams against a 10⁶-gram benchmark)."""
    lanes = _lanes(n)

    def gram_set(th):
        return np.unique(_hash64(th, lanes).astype(np.int64)).tolist()

    return _shingle_kernel(n, "array<long>", [], gram_set)(text_col)


# ----------------------------------------------------------------- LSH
def bucket_join_pairs(
    exploded: DataFrame,
    key_cols: list[str],
    id_col: str = "doc_id",
    *,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
    label: str = "lsh",
) -> DataFrame:
    """(id, bucket-key…) rows → distinct candidate pairs (id_a < id_b)
    via a within-bucket self-join.

    Scale shape: one persist of the (id, keys) frame (ints only — the
    signature UDF runs exactly once), one count-per-bucket aggregation,
    and a self-join keyed on the bucket — a hot bucket distributes over
    its join tasks instead of materializing as a single ``collect_set``
    row. Buckets larger than ``max_bucket_size`` are dropped and the
    drop is **logged** (no silent caps); at production scale the same
    frame would land in a temp table instead of a persist.

    The returned pairs frame is eagerly ``localCheckpoint``-ed so the
    persist can be released before returning (bounded executor
    memory; pairs are two longs per row).
    """
    exploded = exploded.persist()
    try:
        # sizes persisted too: the drop-count action AND the eligible
        # join both read it — without the persist the groupBy runs
        # twice over the exploded frame
        sizes = (exploded.groupBy(*key_cols)
                 .agg(F.count(F.lit(1)).alias("_bsz"))).persist()
        dropped = sizes.filter(F.col("_bsz") > max_bucket_size)
        n_dropped = dropped.count()
        if n_dropped:
            top = dropped.orderBy(F.col("_bsz").desc()).limit(3).collect()
            log.warning(
                "%s: dropped %d over-cap buckets (cap=%d, largest=%s) — "
                "pairs inside them are NOT examined",
                label, n_dropped, max_bucket_size,
                [r["_bsz"] for r in top])
        eligible = exploded.join(
            sizes.filter((F.col("_bsz") > 1)
                         & (F.col("_bsz") <= max_bucket_size))
            .select(*key_cols),
            key_cols)
        a = eligible.select(*key_cols, F.col(id_col).alias("id_a"))
        b = eligible.select(*key_cols, F.col(id_col).alias("id_b"))
        pairs = (a.join(b, key_cols)
                 .filter(F.col("id_a") < F.col("id_b"))
                 .select("id_a", "id_b")
                 .distinct())
        return pairs.localCheckpoint(eager=True)
    finally:
        exploded.unpersist()
        try:
            sizes.unpersist()
        except NameError:
            pass


def minhash_lsh_candidates(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id",
    n_shingle: int = 3, k: int = 32, bands: int = 8,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """LSH candidate pairs: equal band-slice → same bucket → pair.

    Scale path: the only exchanges are the groupBy/join on
    (band, band_hash); NULL signatures (un-shingle-able docs) never
    enter banding, so there is no universal empty-doc bucket. Raises
    ``ValueError`` at call time unless ``bands`` divides ``k``.
    """
    sigb = minhash_band_buckets(F.col(text_col), k, n_shingle, bands)
    exploded = (df.select(F.col(id_col), sigb.alias("bb"))
                .filter(F.col("bb").isNotNull())
                .select(id_col, F.posexplode(F.col("bb"))
                        .alias("band", "bucket")))
    return bucket_join_pairs(exploded, ["band", "bucket"], id_col,
                             max_bucket_size=max_bucket_size,
                             label="minhash-lsh")


def jaccard_pairs(
    df: DataFrame, pairs: DataFrame, *, text_col: str = "text",
    id_col: str = "doc_id", n_shingle: int = 3, threshold: float = 0.7,
    restrict_to_candidates: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard verification of candidate pairs, over each
    document's distinct gram-id set (:func:`_gram_hashes64` — set sizes
    equal the gram-string sizes under its collision contract).

    The gram-set frame joins both pair sides by id; the planner picks
    the join (a broadcast while the frame is under Spark's broadcast
    threshold, the id-keyed shuffle join above it — never an all-pairs
    stage). The frame is persisted so the kernel runs ONCE per verify,
    not once per join side (both join builds would otherwise recompute
    it — it is the verify stage's entire cost). The verified pairs are
    eagerly ``localCheckpoint``-ed so the persist is released before
    returning (pairs are two longs + a double per row; the cache must
    not outlive the verify — repeated calls in clean_corpus/bench/
    streaming would otherwise accumulate cached storage for the
    driver's lifetime).

    Only documents that actually APPEAR in a candidate pair are
    hashed: the verify set after LSH is a sliver of the corpus, and
    the r5 shape paid the (interpreted, per-gram) shingle expression
    over every document — the measured majority of the whole near-dup
    query. The id semi-join is exchange-cheap (candidate ids are a
    checkpointed two-long frame; AQE broadcasts it when small)."""
    base = df
    if restrict_to_candidates:
        cand_ids = (pairs.select(F.col("id_a").alias(id_col))
                    .unionByName(pairs.select(F.col("id_b").alias(id_col)))
                    .distinct())
        base = df.join(cand_ids, id_col, "left_semi")
    sh = (base.select(F.col(id_col),
                      _gram_hashes64(F.col(text_col), n_shingle)
                      .alias("sh"))).persist()
    try:
        a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
        b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
        joined = pairs.join(a, "id_a").join(b, "id_b")
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        # both sets are distinct by construction: |A∪B| = |A|+|B|−|A∩B|
        union = F.size("sh_a") + F.size("sh_b") - inter
        jac = F.when(union > 0,
                     inter.cast("double") / union).otherwise(F.lit(0.0))
        verified = (joined
                    .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
                    .filter(F.col("jaccard") >= threshold))
        return verified.localCheckpoint(eager=True)
    finally:
        sh.unpersist()


def near_duplicates_minhash(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id",
    n_shingle: int = 3, k: int = 32, bands: int = 8, threshold: float = 0.7,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact Jaccard verify.

    Output precision is exact by construction (every pair is verified);
    recall is the LSH family's. With k=32/bands=8 (4-row bands) a
    jaccard-0.9 pair is missed with probability (1−0.9⁴)⁸ ≈ 2·10⁻⁴;
    tests/test_entry_oracle.py checks recall == 1.0 against the exact
    all-pairs oracle on the deterministic corpus."""
    cand = minhash_lsh_candidates(
        df, text_col=text_col, id_col=id_col, n_shingle=n_shingle,
        k=k, bands=bands, max_bucket_size=max_bucket_size)
    return jaccard_pairs(df, cand, text_col=text_col, id_col=id_col,
                         n_shingle=n_shingle, threshold=threshold)


def simhash_candidates(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id",
    n_shingle: int = 2, n_tables: int = 8,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """SimHash candidate pairs: bucket on 64/n_tables-bit key slices.

    Pigeonhole guarantee: any pair within hamming ≤ n_tables−1 shares
    at least one slice. NULL simhashes (un-shingle-able docs) are
    excluded — no universal zero bucket."""
    slice_bits = 64 // n_tables
    mask = (1 << slice_bits) - 1
    sh = (df.select(F.col(id_col),
                    simhash64(F.col(text_col), n_shingle).alias("simhash"))
          .filter(F.col("simhash").isNotNull()))
    # one explode, not a union of n_tables branches — a union re-runs
    # the signature UDF once per branch; this is a single pass
    slices = F.array(*[
        F.struct(F.lit(t).alias("tbl"),
                 F.shiftrightunsigned(F.col("simhash"), t * slice_bits)
                 .bitwiseAND(F.lit(mask)).alias("bkey"))
        for t in range(n_tables)])
    exploded = (sh.select(id_col, F.explode(slices).alias("s"))
                .select(id_col, F.col("s.tbl").alias("tbl"),
                        F.col("s.bkey").alias("bkey")))
    return bucket_join_pairs(exploded, ["tbl", "bkey"], id_col,
                             max_bucket_size=max_bucket_size,
                             label="simhash-lsh")


def simhash_near_duplicates(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id",
    max_hamming: int = 3, n_shingle: int = 2, n_tables: int = 8,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """SimHash near-dup pairs verified by exact hamming distance.

    Pairs with hamming ≤ n_tables−1 are found with recall 1.0
    (pigeonhole); beyond that, recall decays with distance."""
    cand = simhash_candidates(
        df, text_col=text_col, id_col=id_col, n_shingle=n_shingle,
        n_tables=n_tables, max_bucket_size=max_bucket_size)
    # persisted: both join sides below otherwise recompute the simhash
    # UDF (the verify stage's whole cost, twice); released via an eager
    # checkpoint of the verified pairs — same no-leak contract as
    # jaccard_pairs (hamming pairs are three longs per row)
    sh = df.select(F.col(id_col),
                   simhash64(F.col(text_col), n_shingle).alias("simhash")) \
        .persist()
    try:
        a = sh.select(F.col(id_col).alias("id_a"),
                      F.col("simhash").alias("sh_a"))
        b = sh.select(F.col(id_col).alias("id_b"),
                      F.col("simhash").alias("sh_b"))
        ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        verified = (cand.join(a, "id_a").join(b, "id_b")
                    .select("id_a", "id_b", ham.alias("hamming"))
                    .filter(F.col("hamming") <= max_hamming))
        return verified.localCheckpoint(eager=True)
    finally:
        sh.unpersist()


def _bidir(edges: DataFrame) -> DataFrame:
    return edges.unionByName(
        edges.select(F.col("dst").alias("src"),
                     F.col("src").alias("dst"))).distinct()


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star: every neighbor v > u re-links to m(u) = min of u's
    closed neighborhood. One groupBy + one join, ids only."""
    b = _bidir(edges)
    m = (b.groupBy("src").agg(F.min("dst").alias("mn"))
         .select("src", F.least(F.col("src"), F.col("mn")).alias("m")))
    return (b.filter(F.col("dst") > F.col("src"))
            .join(m, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct())


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star: every smaller-neighbor v < u (and u itself)
    re-links to m(u) = min of u's smaller closed neighborhood."""
    b = _bidir(edges).filter(F.col("dst") < F.col("src"))
    m = b.groupBy("src").agg(F.min("dst").alias("m"))
    relink = (b.join(m, "src")
              .select(F.col("dst").alias("src"), F.col("m").alias("dst")))
    self_link = m.select("src", F.col("m").alias("dst"))
    return (relink.unionByName(self_link)
            .filter(F.col("src") != F.col("dst"))
            .distinct())


def connected_components(
    pairs: DataFrame, *, id_a: str = "id_a", id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Undirected connected components over near-dup pairs → one
    ``(id, cluster_id)`` row per member, cluster_id = min id in the
    component (the keeper). The canonical post-LSH step: a training
    pipeline drops all non-keepers per cluster, not per pair.

    Spark has no built-in CC; this is the **alternating large-star /
    small-star algorithm** (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14): each round, large-star links every
    larger neighbor to the minimum of its neighborhood, small-star
    links every smaller neighbor to the minimum of the smaller
    neighborhood. Converges in O(log n) rounds regardless of component
    diameter — a 10⁴-node path graph finishes in ≲10 rounds where
    plain min-label propagation needs 10⁴ (the round-2 pathological
    case, pinned by tests/test_round3.py::test_cc_long_path_converges).
    Per-round shuffle volume: edges as id pairs only, eagerly
    checkpointed to truncate lineage; ``max_iter`` raises on
    non-convergence (no silent truncation). At convergence the edge
    set is a union of stars centered at each component's minimum, so
    the label assignment is the edge list itself plus the roots."""
    edges = (pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
             .filter(F.col("src") != F.col("dst"))
             .distinct()
             .localCheckpoint(eager=True))
    if edges.isEmpty():
        return edges.select(F.col("src").alias("id"),
                            F.col("dst").alias("cluster_id"))
    for _ in range(max_iter):
        after_large = _large_star(edges).localCheckpoint(eager=True)
        new_edges = _small_star(after_large).localCheckpoint(eager=True)
        # fixed point: identical directed edge sets (ids-only anti joins)
        changed = (not new_edges.join(edges, ["src", "dst"], "left_anti")
                   .isEmpty()) or \
                  (not edges.join(new_edges, ["src", "dst"], "left_anti")
                   .isEmpty())
        edges = new_edges
        if not changed:
            roots = (edges.select(F.col("dst").alias("id")).distinct()
                     .join(edges.select(F.col("src").alias("id")).distinct(),
                           "id", "left_anti"))
            return (edges.select(F.col("src").alias("id"),
                                 F.col("dst").alias("cluster_id"))
                    .unionByName(roots.select(
                        "id", F.col("id").alias("cluster_id"))))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations")


def simhash_verified_near_duplicates(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id",
    n_shingle_sim: int = 2, n_shingle_jac: int = 3, n_tables: int = 8,
    threshold: float = 0.5,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
    restrict_to_candidates: bool = True,
) -> DataFrame:
    """Production simhash path: simhash-slice candidates → exact
    n-gram Jaccard verification (same verifier as the minhash path,
    so the two candidate generators are directly comparable and both
    oracle-checkable against the exact all-pairs set).

    ``restrict_to_candidates=False`` skips the verify's candidate-id
    semi-join — the right call when the caller's corpus is already
    candidate-sized (a pre-capped demo slice), where the restriction
    machinery is pure overhead; at scale leave it on."""
    cand = simhash_candidates(
        df, text_col=text_col, id_col=id_col, n_shingle=n_shingle_sim,
        n_tables=n_tables, max_bucket_size=max_bucket_size)
    return jaccard_pairs(df, cand, text_col=text_col, id_col=id_col,
                         n_shingle=n_shingle_jac, threshold=threshold,
                         restrict_to_candidates=restrict_to_candidates)


# ------------------------------------------------ line-level dedup
def boilerplate_line_dedup(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id",
    min_docs: int = 2, line_sep: str = "\n",
) -> DataFrame:
    """Cross-document line dedup (the CCNet/RefinedWeb boilerplate
    pass): a line whose normalized form appears in ``min_docs`` or
    more distinct documents is removed from every document — nav bars,
    cookie banners, share footers. Returns one row per doc:
    ``(id, text, n_lines_kept, n_lines_dropped)`` with ``text``
    reassembled from the surviving lines in original order.

    Scale shape: lines explode narrowly; the frequency table exchanges
    **64-bit line hashes + ids only** (group on xxhash64(norm), count
    DISTINCT docs — within-doc repeats don't make a line boilerplate);
    the verdict joins back by hash so line text crosses the wire once,
    attached to its own doc's rows. Reassembly is the same single
    exchange on the doc id the pipeline's fold uses. Empty/whitespace
    lines are kept verbatim (they carry formatting, and counting them
    would make '' the ultimate mega-group — the same degenerate-input
    rule as the LSH banding above).

    Skew note (100 TB): a universal boilerplate line ("Home | About")
    is a hot join key — every occurrence routes to the same hash
    partition in the verdict join. The frequency side is one row per
    hash (already aggregated), so AQE's skew-join split handles it:
    the hot partition splits and the single freq row replicates to
    each split (`spark.sql.adaptive.enabled` is on everywhere in this
    repo). The groupBy side is safe independently: counting is
    partial+final, so the hot hash contributes one partial row per
    map task, never a mega-group."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), line_sep))
        .alias("pos", "ln"))
    norm = F.lower(F.trim(F.col("ln")))
    lines = lines.withColumn(
        "_h", F.when(norm != "", F.xxhash64(norm)))
    freq = (lines.filter(F.col("_h").isNotNull())
            .groupBy("_h")
            .agg(F.countDistinct(F.col(id_col)).alias("_ndocs")))
    verdict = (lines.join(freq, "_h", "left")
               .withColumn("_keep",
                           F.col("_h").isNull()
                           | (F.col("_ndocs") < F.lit(min_docs))))
    per_line = F.struct(F.col("pos"), F.col("ln"), F.col("_keep"))
    rebuilt = (verdict.groupBy(id_col)
               .agg(F.array_sort(F.collect_list(per_line)).alias("_ls")))
    kept = F.filter(F.col("_ls"), lambda s: s["_keep"])
    return rebuilt.select(
        F.col(id_col),
        F.array_join(F.transform(kept, lambda s: s["ln"]), line_sep)
        .alias(text_col),
        F.size(kept).alias("n_lines_kept"),
        (F.size(F.col("_ls")) - F.size(kept)).alias("n_lines_dropped"))


# ------------------------------------------ benchmark decontamination
def benchmark_contamination(
    df: DataFrame, benchmark: DataFrame, *, text_col: str = "text",
    id_col: str = "doc_id", bench_text_col: str = "text", n: int = 8,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Training-corpus decontamination: one row per document with the
    count of distinct word ``n``-grams it shares with a benchmark/eval
    set, plus the ``contaminated`` flag (≥1 shared n-gram — the GPT-3 /
    RefinedWeb-style decontamination rule). A pipeline drops or audits
    flagged docs before training so eval numbers aren't memorization.

    Scale shape: both sides reduce to DISTINCT 64-bit n-gram hashes
    before any join — doc text crosses the wire never, benchmark text
    once. The benchmark side (an eval suite: thousands of docs, ≪ the
    corpus) defaults to a broadcast build (`broadcast_benchmark=True`);
    at an unusually large benchmark, False gives the hash-keyed shuffle
    join. Exchanges carry (id, hash) pairs only. Docs too short to
    form an n-gram produce no rows and come back contaminated=false
    via the left join — the same degenerate-input rule as LSH banding.
    """
    # per-doc-unique hashes straight from the Arrow kernel: the
    # (id, hash) pairs are distinct by construction, so the global
    # DISTINCT exchange the string-shingle formulation needed is gone
    doc_grams = df.select(
        F.col(id_col),
        F.explode(_gram_hashes64(F.col(text_col), n)).alias("_h"))
    bench_grams = (benchmark.select(
        F.explode(_gram_hashes64(F.col(bench_text_col), n)).alias("_h"))
        .distinct())
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)
    hits = (doc_grams.join(bench_grams, "_h")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_shared_ngrams")))
    return (df.select(id_col).join(hits, id_col, "left")
            .select(
                id_col,
                F.coalesce("n_shared_ngrams", F.lit(0)).cast("long")
                .alias("n_shared_ngrams"),
                (F.coalesce("n_shared_ngrams", F.lit(0)) > 0)
                .alias("contaminated")))


def _bench_span_hashes(benchmark: DataFrame, *, bench_text_col: str,
                       broadcast_benchmark: bool) -> DataFrame:
    """Distinct 64-bit hashes of the benchmark's nonempty normalized
    spans (newline-split) — the probe set both span ops join against."""
    spans = (benchmark.select(
        F.explode(F.split(F.col(bench_text_col), "\n")).alias("_s"))
        .select(normalize_text(F.col("_s")).alias("_n"))
        .filter(F.col("_n") != "")
        .select(F.xxhash64("_n").alias("_h"))
        .distinct())
    return F.broadcast(spans) if broadcast_benchmark else spans


def contaminated_spans(
    df: DataFrame, benchmark: DataFrame, *, text_col: str = "text",
    id_col: str = "doc_id", bench_text_col: str = "text",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Span-level decontamination, the finding half (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", §4 —
    exact-substring removal at sentence/paragraph granularity): one
    row per (doc, span) whose normalized newline-split span appears
    verbatim in the benchmark/eval set. Where
    :func:`benchmark_contamination` flags WHOLE documents (drop), this
    locates the contaminated spans so the pipeline can REDACT them and
    keep the rest of the document — the stronger standard.

    Scale shape: the doc side reduces to (id, span_idx, span_hash)
    before the join — span text never shuffles; the benchmark reduces
    to distinct span hashes, broadcast by default (an eval suite ≪
    the corpus) with a hash-keyed shuffle fallback. Returns
    (id_col, span_idx) ordered rows; blank spans can never match."""
    bench = _bench_span_hashes(benchmark, bench_text_col=bench_text_col,
                               broadcast_benchmark=broadcast_benchmark)
    spans = (df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n"))
        .alias("span_idx", "_s"))
        .select(id_col, "span_idx", normalize_text(F.col("_s")).alias("_n"))
        .filter(F.col("_n") != "")
        .select(id_col, "span_idx", F.xxhash64("_n").alias("_h")))
    return spans.join(bench, "_h").select(id_col, "span_idx")


def scrub_contaminated_spans(
    df: DataFrame, benchmark: DataFrame, *, text_col: str = "text",
    id_col: str = "doc_id", bench_text_col: str = "text",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Span-level decontamination, the rewrite half: rebuild each
    document WITHOUT the spans :func:`contaminated_spans` flags.
    Returns (id, text_clean, n_spans_kept, n_spans_removed) — one row
    per input doc; a fully-contaminated doc survives with
    ``text_clean = ''`` (dropping it is the caller's policy call).

    Matching is on normalized span content (lowercase, collapsed
    whitespace) so formatting differences can't hide a leaked eval
    answer, but the rebuilt text keeps the RAW surviving spans in
    original order — redaction never rewrites what it keeps. Scale
    shape: the one exchange is the per-doc regroup keyed on id; span
    text crosses the wire exactly once (unavoidable — the output IS
    text), the benchmark side is hash-only and broadcast by default."""
    bench = _bench_span_hashes(benchmark, bench_text_col=bench_text_col,
                               broadcast_benchmark=broadcast_benchmark)
    norm = normalize_text(F.col("_s"))
    spans = (df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n"))
        .alias("span_idx", "_s"))
        .select(id_col, "span_idx", "_s",
                F.when(norm == "", F.lit(None))
                .otherwise(F.xxhash64(norm)).alias("_h")))
    marked = (spans.join(bench.withColumn("_hit", F.lit(True)),
                         "_h", "left")
              .select(id_col, "span_idx", "_s",
                      F.coalesce("_hit", F.lit(False)).alias("_contam")))
    kept_struct = F.when(~F.col("_contam"),
                         F.struct("span_idx", "_s"))
    return (marked.groupBy(id_col)
            .agg(F.sum(F.col("_contam").cast("long"))
                 .alias("n_spans_removed"),
                 F.sum((~F.col("_contam")).cast("long"))
                 .alias("n_spans_kept"),
                 F.array_sort(F.collect_list(kept_struct)).alias("_k"))
            .select(id_col, "n_spans_removed", "n_spans_kept",
                    F.coalesce(
                        F.array_join(
                            F.transform("_k", lambda x: x["_s"]), "\n"),
                        F.lit("")).alias("text_clean")))


# ------------------------------------------- corpus vocabulary stats
def vocabulary_counts(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id",
    top_k: int = 1000,
) -> DataFrame:
    """Corpus token-frequency table (vocabulary building / heavy-hitter
    analysis): top-``top_k`` whitespace tokens by total occurrences,
    with document frequency. Partial+final aggregation on the token;
    the limit plans as TakeOrdered (no global sort materialization).
    Ties broken by token for determinism."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
        .alias("token")).filter(F.col("token") != "")
    counts = (toks.groupBy("token")
              .agg(F.count(F.lit(1)).alias("n_occurrences"),
                   F.countDistinct(F.col(id_col)).alias("n_docs")))
    return (counts.orderBy(F.col("n_occurrences").desc(),
                           F.col("token").asc())
            .limit(top_k))


def cross_source_duplication(df: DataFrame, *, text_col: str = "text",
                             id_col: str = "doc_id",
                             source_col: str = "source") -> DataFrame:
    """Duplication audit across corpus sources: for every unordered
    source pair, the number of exact-duplicate document pairs that
    span it (diagonal rows = within-source pairs). The standard
    pre-mixing report — "how much of source B is already in source A"
    decides mixing weights and dedup order before any cross-source
    union ships to training (and mirrors the reference's per-index
    count parity checks, /root/reference/lib/logship.js:330-335, as a
    per-source-pair matrix).

    Content identity is :func:`normalize_text` + xxhash64 — the
    :func:`exact_duplicates` rule. Scale shape: texts hash in a
    narrow projection; the exchanges are (hash, source)-keyed partial
    aggregation, a hash-keyed self-join of per-source COUNTS (not
    rows), and the final tiny source-pair aggregation. Document
    bodies never shuffle, and group size enters only as arithmetic —
    a 10⁹-copy group is one count row, never a materialized pair
    list (C(n,2) is computed, not enumerated).
    """
    h = F.xxhash64(normalize_text(F.col(text_col))).alias("content_hash")
    per = (df.select(h, F.col(source_col).alias("source"))
           .groupBy("content_hash", "source")
           .agg(F.count(F.lit(1)).alias("n")))
    a = per.select("content_hash", F.col("source").alias("source_a"),
                   F.col("n").alias("n_a"))
    b = per.select("content_hash", F.col("source").alias("source_b"),
                   F.col("n").alias("n_b"))
    pairs = (a.join(b, "content_hash")
             .filter(F.col("source_a") <= F.col("source_b"))
             .select(
                 "source_a", "source_b",
                 F.when(F.col("source_a") == F.col("source_b"),
                        (F.col("n_a") * (F.col("n_a") - 1) / 2))
                 .otherwise(F.col("n_a") * F.col("n_b"))
                 .cast("long").alias("c")))
    return (pairs.groupBy("source_a", "source_b")
            .agg(F.sum("c").cast("long").alias("dup_pairs"))
            .filter(F.col("dup_pairs") > 0))


def incremental_exact_dedup(
    batch: DataFrame, committed: "DataFrame | None", *,
    text_col: str = "text", id_col: str = "doc_id",
    hash_expr: "Column | None" = None,
) -> DataFrame:
    """Exact dedup of a NEW batch against previously-committed corpus
    state — the ingest-time analog of :func:`exact_duplicates`.

    The reference never dedups against in-process history: every batch
    probes the external store for already-committed ids and only the
    novel remainder proceeds (/root/reference/lib/logship.js:259-312,
    the ES ``terms _id`` lookup). Applied to webtext ingest the same
    shape answers "which of today's crawl is already in the corpus?"
    without ever rereading the corpus text: the committed side is a
    hash-only table (:class:`HashState`), so a 10¹²-doc history costs
    one 8-byte column.

    Rule: content identity is ``hash_expr`` over the text column
    (default ``xxhash64(normalize_text(text))`` — the
    :func:`exact_duplicates` rule; pass ``F.md5(...)`` when an
    external engine must restate the hash). A batch doc survives iff
    it is the FIRST holder of its hash within the batch (min id —
    deterministic) AND the hash is absent from ``committed``.

    Scale shape: the batch reduces to (hash, min id) via partial+final
    aggregation; the committed side joins hash-to-hash (left anti) —
    text never shuffles on either side, and the exchanges carry only
    the hash and one id. Broadcast is NOT forced: at web scale the
    committed side is the big one, and a shuffled anti-join on the
    8-byte key with AQE is the right default.

    Returns (id_col, content_hash) — survivors; feed the same frame to
    :meth:`HashState.append` to commit them.
    """
    h = (hash_expr if hash_expr is not None
         else F.xxhash64(normalize_text(F.col(text_col))))
    firsts = (batch.select(h.alias("content_hash"), F.col(id_col))
              .groupBy("content_hash")
              .agg(F.min(id_col).alias(id_col)))
    if committed is not None:
        firsts = firsts.join(
            committed.select("content_hash").distinct(),
            "content_hash", "left_anti")
    return firsts.select(id_col, "content_hash")


class HashState:
    """Append-only parquet table of committed content hashes — the
    dedup counterpart of ``operators.state.StateStore`` (docs) and
    ``sources.bookmark.BookmarkStore`` (offsets).

    One column, ``content_hash``; duplicate appends are harmless
    (``read`` is consumed through DISTINCT in
    :func:`incremental_exact_dedup`), so a replayed batch is
    idempotent exactly like the reference's ``create``-on-conflict
    bulk path (/root/reference/lib/logship.js:337-393). At production
    scale the same layout is an Iceberg table bucketed by
    ``pmod(content_hash, n_buckets)`` so the anti-join co-partitions
    with a bucketed batch side; plain parquet append keeps the sandbox
    path simple and the API identical.
    """

    def __init__(self, path: str):
        self.path = path

    def read(self, spark) -> "DataFrame | None":
        """Committed hashes, or None when nothing has been appended
        (first batch)."""
        try:
            return spark.read.parquet(self.path).select("content_hash")
        except AnalysisException as exc:
            if _is_missing_path(exc):
                return None
            raise

    def append(self, survivors: DataFrame) -> None:
        """Commit a batch's surviving hashes (any frame with a
        ``content_hash`` column)."""
        (survivors.select("content_hash")
         .write.mode("append").parquet(self.path))
