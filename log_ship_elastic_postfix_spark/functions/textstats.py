"""Text analysis functions for training-data pipelines: language ID,
quality signals, token counting, document fingerprinting.

Pure Catalyst expressions except :func:`repetition_stats`, an Arrow
kernel — defined once here so the Spark query and any external SQL
oracle implement the *same* documented rule.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from .kernel import arrow_kernel

# the one whitespace class every tokenizer splits on: RE2's ``\s``, the
# class the DuckDB oracles split on. Java's ``\s`` adds \x0b, and
# Python's ``str.split()`` adds NBSP, U+0085, U+2028 and \x1c-\x1f;
# here all of those stay inside a token. WS_RUN is one separator run
# as a JVM regex, TOKEN one token as a Python regex
WS = " \t\n\f\r"
WS_RUN = f"[{WS}]+"
TOKEN = re.compile(f"[^{WS}]+")

# deliberately small, documented stopword list — the lang-ID heuristic
# is "fraction of tokens that are English stopwords"
EN_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is",
                "it", "that", "for", "on", "with", "as", "at", "by"]


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for empty/blank)."""
    t = F.trim(text)
    return F.when(t == "", F.lit(0)).otherwise(
        F.size(F.split(t, WS_RUN))).cast("long")


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: word-piece + digit + punctuation
    splits via one regexp pass (a cheap BPE proxy for budget
    estimation: every ≤4-char alnum chunk and every punctuation mark
    counts as one token)."""
    pieces = F.regexp_extract_all(
        F.lower(text), F.lit(f"[a-z]{{1,4}}|\\d|[^{WS}a-z\\d]"), 0)
    return F.size(pieces).cast("long")


def stopword_ratio(text: Column) -> Column:
    toks = F.split(F.trim(F.lower(text)), WS_RUN)
    n = F.size(toks)
    sw = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    return F.when(n > 0, sw.cast("double") / n).otherwise(F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    total = F.length(text)
    punct = F.length(F.regexp_replace(text, r"[^!-/:-@\[-`{-~]", ""))
    return F.when(total > 0, punct.cast("double") / total).otherwise(F.lit(0.0))


def mean_word_length(text: Column) -> Column:
    # sum of token lengths == length of the tokens' concatenation —
    # one native array_join instead of an interpreted per-element
    # aggregate lambda (same integers, same double division)
    toks = F.split(F.trim(text), WS_RUN)
    n = F.size(toks)
    total = F.length(F.array_join(toks, ""))
    return F.when(n > 0, total.cast("double") / n).otherwise(F.lit(0.0))


def lang_id(text: Column) -> Column:
    """Heuristic language ID: 'en' when the stopword ratio clears 2%,
    else 'unknown'. (Real n-gram models plug in the same shape: a
    broadcast table of n-gram→lang weights + a groupBy argmax.)"""
    return F.when(stopword_ratio(text) > 0.02, F.lit("en")).otherwise(
        F.lit("unknown"))


def fingerprint_md5(text: Column) -> Column:
    """Stable content fingerprint (hex md5 of normalized text)."""
    return F.md5(F.trim(F.regexp_replace(F.lower(text), WS_RUN, " ")))


def rolling_hash(text: Column, *, base: int = 31, mod: int = (1 << 31) - 1) -> Column:
    """Polynomial rolling hash over bytes: h = Σ b_i · base^i mod p,
    computed with F.aggregate — the order-sensitive fingerprint the
    md5 variant can't give (supports incremental windows at scale).
    Mersenne-31 modulus keeps ANSI-mode long arithmetic overflow-free
    (intermediates < 2^39)."""
    bytes_arr = F.transform(
        F.split(text, ""), lambda c: F.ascii(c).cast("long"))
    state = F.aggregate(
        bytes_arr,
        F.struct(F.lit(0).cast("long").alias("h"),
                 F.lit(1).cast("long").alias("p")),
        lambda acc, b: F.struct(
            F.pmod(acc["h"] + b * acc["p"], F.lit(mod)).alias("h"),
            F.pmod(acc["p"] * base, F.lit(mod)).alias("p")),
        lambda acc: acc["h"])
    return state


# ----------------------------------------------- Gopher-style filter
def symbol_to_word_ratio(text: Column) -> Column:
    """Symbols (#, …, ellipsis runs) per whitespace token — Gopher
    rule: docs with ratio > 0.1 are usually scraped debris."""
    n = token_count(text)
    # count the symbols directly — the regexp_replace form built a
    # stripped copy of every document just to measure it
    syms = F.regexp_count(text, F.lit(r"[#…]"))
    return F.when(n > 0, syms.cast("double") / n).otherwise(F.lit(0.0))


def bullet_line_ratio(text: Column) -> Column:
    """Fraction of lines starting with a bullet marker (-, *, •)."""
    lines = F.split(text, "\n")
    n = F.size(lines)
    # one regex pass over the whole document instead of an interpreted
    # per-line filter lambda (each lambda invocation paid its own
    # rlike): a line "starts with a bullet after F.trim" iff
    # (?:^|\n) *[-*•] matches — F.trim strips exactly the space char.
    # Lines start only after "\n", as in the split above: (?m)^ would
    # also start one after "\r", U+0085 and U+2028
    bullets = F.regexp_count(text, F.lit(r"(?:^|\n) *[-*•]"))
    return F.when(n > 0, bullets.cast("double") / n).otherwise(F.lit(0.0))


def gopher_quality_flags(text: Column, *, min_words: int = 50,
                         max_words: int = 100_000) -> Column:
    """The Gopher (Rae et al. 2021, §A1.1) repetition-free quality
    rules as one struct of named booleans plus the conjunction
    ``passes`` — each rule is independently inspectable so a pipeline
    can report per-rule drop counts (the reject-reason analog of the
    parse stage):

      word_count_ok   min_words ≤ tokens ≤ max_words
      word_len_ok     3 ≤ mean word length ≤ 10
      symbol_ok       symbol-to-word ratio ≤ 0.1
      bullet_ok       ≤ 90 % of lines start with a bullet
      stopword_ok     ≥ 2 distinct English stopwords present

    Pure Catalyst — at 100 TB this is a narrow projection feeding the
    keep-filter; no shuffle, no Python."""
    toks = F.split(F.trim(F.lower(text)), WS_RUN)
    n = token_count(text)
    wl = mean_word_length(text)
    # literal stopword array on the LEFT: set-intersection size is
    # symmetric, and this skips the array_distinct pass over the
    # (much longer) token array
    distinct_stops = F.size(F.array_intersect(
        F.array(*[F.lit(w) for w in EN_STOPWORDS]), toks))
    flags = {
        "word_count_ok": (n >= min_words) & (n <= max_words),
        "word_len_ok": (wl >= 3.0) & (wl <= 10.0),
        "symbol_ok": symbol_to_word_ratio(text) <= 0.1,
        "bullet_ok": bullet_line_ratio(text) <= 0.9,
        "stopword_ok": distinct_stops >= 2,
    }
    passes = F.lit(True)
    for c in flags.values():
        passes = passes & c
    return F.struct(*[c.alias(k) for k, c in flags.items()],
                    passes.alias("passes"))


# ------------------------------------------ Gopher repetition rules
REPETITION_SCHEMA = ("struct<dup_line_frac:double, dup_line_char_frac:double,"
                     " top_bigram_char_frac:double,"
                     " top_trigram_char_frac:double>")


def repetition_stats(text: Column) -> Column:
    """Within-document repetition measurements (Gopher §A1.1, the
    repetition half): duplicate-line fraction, characters-in-duplicate-
    lines fraction, and the character fraction covered by the most
    frequent word 2-/3-gram (count × gram length / total chars).

    This is the one textstats op that is a **pandas UDF**, not pure
    Catalyst: per-doc n-gram counting is O(tokens) with a hash counter
    but O(tokens²) as higher-order array expressions — at web scale
    the Arrow-batched counter is the honest formulation. Narrow (no
    shuffle); one batch in, one struct column out. NULL text counts as
    empty: every fraction 0.0."""
    import pandas as pd
    from collections import Counter

    # no type hints: under `from __future__ import annotations` the
    # hints are strings and pyspark's signature inference rejects them;
    # hintless scalar pandas_udf with a struct returnType takes the
    # Series → DataFrame path by returnType alone
    @arrow_kernel(REPETITION_SCHEMA)
    def rep(texts):
        out = {k: [] for k in ("dup_line_frac", "dup_line_char_frac",
                               "top_bigram_char_frac",
                               "top_trigram_char_frac")}
        for t in texts:
            t = t or ""
            lines = t.split("\n")
            lc: Counter = Counter()
            raw_len: dict = {}
            for ln in lines:
                k = ln.strip(WS).lower()
                lc[k] += 1
                raw_len[k] = raw_len.get(k, 0) + len(ln)
            n_lines = len(lines)
            dup_lines = sum(c for c in lc.values() if c > 1)
            # raw (pre-normalization) characters of duplicated lines —
            # the fraction is of the document as written
            dup_chars = sum(raw_len[k] for k, c in lc.items() if c > 1)
            total_chars = len(t)
            out["dup_line_frac"].append(
                dup_lines / n_lines if n_lines else 0.0)
            out["dup_line_char_frac"].append(
                dup_chars / total_chars if total_chars else 0.0)
            toks = TOKEN.findall(t.lower())
            for n, key in ((2, "top_bigram_char_frac"),
                           (3, "top_trigram_char_frac")):
                grams = Counter(
                    " ".join(toks[i:i + n])
                    for i in range(len(toks) - n + 1))
                if grams and total_chars:
                    g, c = max(grams.items(),
                               key=lambda kv: (kv[1], kv[0]))
                    # exact integer micro-division, not round(): python
                    # banker's rounding vs SQL half-away disagrees on
                    # half-way values and breaks engine parity
                    out[key].append(
                        (len(g) * c * 1_000_000 // total_chars) / 1e6)
                else:
                    out[key].append(0.0)
        return pd.DataFrame(out)

    return rep(text)
