"""Composed corpus-cleaning plan: the end-to-end pass a training-data
pipeline actually runs, chaining this repo's operators in the standard
order:

    url dedup → per-domain cap → boilerplate line dedup → exact dedup
      → MinHash near-dup clustering (keep cluster minimum)
      → benchmark decontamination → Gopher quality filter
      → repetition gate → hashed-linear classifier gate
      → perplexity gate

Each stage is optional via config; the result carries the surviving
docs plus per-stage row counts (the drop-accounting every corpus paper
reports). Scale notes: every stage reuses the operator's documented
100 TB shape (hash-keyed exchanges, id-only candidate flows, no
collect of doc bodies); the per-stage counts are bounded driver
metadata (one long per stage). Every stage, the input included, is
one eager localCheckpoint that observes its own row count, so a later
stage never re-runs an earlier stage's shuffle and the counts cost no
job of their own.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions import textstats
from ..functions.urls import dedup_by_canonical_url
from ..operators import dedup


@dataclass
class CorpusCleanConfig:
    text_col: str = "text"
    id_col: str = "doc_id"
    url_col: Optional[str] = None            # enables url dedup
    line_dedup_min_docs: Optional[int] = None  # enables boilerplate pass
    exact_dedup: bool = True
    neardup_threshold: Optional[float] = 0.7  # None disables
    minhash_k: int = 32
    minhash_bands: int = 8
    quality_min_words: Optional[int] = 50     # None disables
    # Gopher repetition gate (None disables): drop docs whose most
    # frequent word 2-gram covers more than this character fraction,
    # or whose duplicate-line char fraction exceeds it
    repetition_max_frac: Optional[float] = None
    # CCNet-style perplexity gate (None disables): drop docs whose
    # unigram nll (nats/token, operators.perplexity) exceeds this —
    # i.e. cut the 'tail' bucket. The model builds from
    # perplexity_ref when given (a curated corpus, CCNet's Wikipedia
    # role), else self-scores on the surviving corpus
    perplexity_tail_max: Optional[float] = None
    perplexity_ref: Optional[DataFrame] = None
    perplexity_max_vocab: Optional[int] = None
    # benchmark decontamination (None disables). mode='scrub' removes
    # contaminated SPANS and keeps the doc (Lee et al.; the default);
    # mode='drop' removes any doc sharing a distinct word n-gram with
    # the benchmark (GPT-3/RefinedWeb rule)
    decontaminate_benchmark: Optional[DataFrame] = None
    decontaminate_mode: str = "scrub"
    decontaminate_ngram: int = 8
    # per-registered-domain document cap (None disables; needs
    # url_col): one mega-site must not dominate the mix — runs right
    # after url dedup, ranked by (id) unless domain_cap_order names a
    # column (e.g. a quality score to keep the best docs per domain)
    domain_cap_n: Optional[int] = None
    domain_cap_order: Optional[str] = None
    # model-based quality gate (None disables): hashed-linear
    # classifier keep rule, score >= threshold·n_tokens in integer
    # micro-units (functions.classifier). Default weights are the
    # md5-derived stand-in; classifier_weights injects a trained
    # (bucket, weight) table
    classifier_threshold_micro: Optional[int] = None
    classifier_weights: Optional[DataFrame] = None
    classifier_bias_micro: int = 0


@dataclass
class CleanResult:
    docs: DataFrame
    stage_counts: dict = field(default_factory=dict)


def clean_corpus(df: DataFrame, cfg: CorpusCleanConfig) -> CleanResult:
    id_c, text_c = cfg.id_col, cfg.text_col
    counts: dict = {}

    def _ckpt(frame: DataFrame, stage: str) -> DataFrame:
        # the checkpoint job counts the stage's rows as it builds it.
        # The observed frame must sit at the top of the checkpointed
        # plan only: observed under both sides of a self-join, its
        # Observation.get fails
        seen = Observation(stage)
        frame = (frame.observe(seen, F.count(F.lit(1)).alias("n"))
                 .localCheckpoint(eager=True))
        counts[stage] = seen.get["n"]
        return frame

    cur = _ckpt(df, "input")

    if cfg.url_col:
        kept = dedup_by_canonical_url(cur, url_col=cfg.url_col)
        cur = _ckpt(kept.drop("canonical_url", "n_dups"), "url_dedup")

    if cfg.domain_cap_n is not None:
        assert cfg.url_col, "domain_cap_n needs url_col"
        from ..operators.domains import domain_cap
        capped = domain_cap(cur, cap=cfg.domain_cap_n,
                            url_col=cfg.url_col, id_col=id_c,
                            order_col=cfg.domain_cap_order)
        cur = _ckpt(capped.drop("domain", "capped"), "domain_cap")

    if cfg.line_dedup_min_docs:
        rebuilt = dedup.boilerplate_line_dedup(
            cur, text_col=text_c, id_col=id_c,
            min_docs=cfg.line_dedup_min_docs)
        # re-attach any passenger columns by id; text is replaced
        passengers = [c for c in cur.columns if c not in (id_c, text_c)]
        if passengers:
            rebuilt = rebuilt.join(cur.select(id_c, *passengers), id_c)
        cur = _ckpt(rebuilt.drop("n_lines_kept", "n_lines_dropped"),
                    "line_dedup")

    if cfg.exact_dedup:
        dups = dedup.duplicate_assignments(cur, text_col=text_c,
                                           id_col=id_c)
        cur = _ckpt(cur.join(dups.select(id_c), id_c, "left_anti"),
                    "exact_dedup")

    if cfg.neardup_threshold is not None:
        pairs = dedup.near_duplicates_minhash(
            cur, text_col=text_c, id_col=id_c, k=cfg.minhash_k,
            bands=cfg.minhash_bands, threshold=cfg.neardup_threshold)
        labels = dedup.connected_components(pairs.select("id_a", "id_b"))
        losers = (labels.filter(F.col("id") != F.col("cluster_id"))
                  .select(F.col("id").alias(id_c)))
        cur = _ckpt(cur.join(losers, id_c, "left_anti"), "neardup")

    if cfg.decontaminate_benchmark is not None:
        # before the quality gates: a scrubbed doc must pass or fail
        # quality on the text a trainer would actually see
        if cfg.decontaminate_mode == "drop":
            flags = dedup.benchmark_contamination(
                cur, cfg.decontaminate_benchmark, text_col=text_c,
                id_col=id_c, n=cfg.decontaminate_ngram)
            keep = (flags.filter(~F.col("contaminated"))
                    .select(id_c))
            cur = _ckpt(cur.join(keep, id_c), "decontaminate")
        else:
            scrubbed = dedup.scrub_contaminated_spans(
                cur, cfg.decontaminate_benchmark,
                text_col=text_c, id_col=id_c)
            passengers = [c for c in cur.columns
                          if c not in (id_c, text_c)]
            rebuilt = scrubbed.select(
                id_c, F.col("text_clean").alias(text_c))
            if passengers:
                rebuilt = rebuilt.join(
                    cur.select(id_c, *passengers), id_c)
            cur = _ckpt(rebuilt, "decontaminate")

    if cfg.quality_min_words is not None:
        flags = textstats.gopher_quality_flags(
            F.col(text_c), min_words=cfg.quality_min_words)
        cur = _ckpt(cur.filter(flags["passes"]), "quality")

    if cfg.repetition_max_frac is not None:
        rep = textstats.repetition_stats(F.col(text_c))
        keep = ((rep["top_bigram_char_frac"] <= cfg.repetition_max_frac)
                & (rep["dup_line_char_frac"] <= cfg.repetition_max_frac))
        cur = _ckpt(cur.filter(keep), "repetition")

    if cfg.classifier_threshold_micro is not None:
        from ..functions import classifier as clf
        if cfg.classifier_weights is None:
            # default weights: a pure narrow filter expression
            toks = clf.tokens(F.col(text_c))
            score = (F.aggregate(
                F.transform(toks, clf.default_weight),
                F.lit(0).cast("long"), lambda acc, x: acc + x)
                + F.lit(int(cfg.classifier_bias_micro)).cast("long"))
            keep = (score >= F.lit(int(cfg.classifier_threshold_micro))
                    .cast("long") * F.size(toks).cast("long"))
            cur = _ckpt(cur.filter(keep), "classifier")
        else:
            scored = clf.classifier_score(
                cur, text_col=text_c, id_col=id_c,
                weights=cfg.classifier_weights,
                bias_micro=cfg.classifier_bias_micro,
                threshold_micro=cfg.classifier_threshold_micro)
            keep_ids = scored.filter(F.col("keep")).select(id_c)
            cur = _ckpt(cur.join(keep_ids, id_c), "classifier")

    if cfg.perplexity_tail_max is not None:
        from ..operators import perplexity as ppl
        model, unk = ppl.build_unigram_model(
            cfg.perplexity_ref if cfg.perplexity_ref is not None
            else cur,
            text_col=text_c, max_vocab=cfg.perplexity_max_vocab)
        scored = ppl.perplexity_scores(
            cur, model, unk, text_col=text_c, id_col=id_c)
        keep_ids = (scored
                    .filter(F.col("nll") <= cfg.perplexity_tail_max)
                    .select(id_c))
        cur = _ckpt(cur.join(keep_ids, id_c), "perplexity")

    return CleanResult(docs=cur, stage_counts=counts)
