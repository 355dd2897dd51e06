"""Differential tests: the production Arrow-vectorized grok
(operators/parse.py) must agree with the reference forms in
``grok_reference`` — the pandas grok and the pure-Catalyst grammar with
its JVM date rule — on every line class and on the date rule."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

import grok_reference
from log_ship_elastic_postfix_spark import datagen
from log_ship_elastic_postfix_spark.operators.parse import (PARSED_FIELDS,
                                                            parse_lines)
from log_ship_elastic_postfix_spark.sources.pages import pages_to_lines

NOW = dt.datetime(2024, 8, 1)


def test_arrow_and_pandas_grok_agree(spark):
    """The production RE2/mapInArrow grok must agree with the pandas
    reference implementation row-for-row, including rejects."""
    from log_ship_elastic_postfix_spark.operators.parse import parse_all

    from grok_reference import parse_all_reference

    lines = pages_to_lines(
        datagen.generate_pages(spark, 80, n_hot=1, hot_lines=5,
                               n_partitions=2))
    cols = ["line_no", "host", "prog", "date", "reject_reason"] \
        + PARSED_FIELDS
    a = {r["line_no"]: r.asDict() for r in
         parse_all(lines, now=NOW).select(*cols).collect()}
    b = {r["line_no"]: r.asDict() for r in
         parse_all_reference(lines, now=NOW).select(*cols).collect()}
    assert set(a) == set(b)
    for ln in a:
        assert a[ln] == b[ln], (ln, a[ln], b[ln])


def test_catalyst_and_pandas_grok_agree(spark):
    lines = pages_to_lines(
        datagen.generate_pages(spark, 60, n_hot=1, hot_lines=5,
                               n_partitions=2))

    pandas_side = parse_lines(lines, now=NOW).parsed

    env = grok_reference.apply_grammar(lines, line_col="line")
    envelope_ok = F.col("prog").isNotNull() & (F.col("prog") != "")
    prog_ok = F.col("prog").rlike(grok_reference.PROG_FILTER_RE)
    date = grok_reference.normalize_syslog_date(
        F.col("_mon"), F.col("_day"), F.col("_hh"), F.col("_mi"),
        F.col("_ss"), tz="America/Phoenix", now=NOW)
    catalyst_side = (
        env.filter(envelope_ok & prog_ok)
        .select("line_no", "host", "prog", date.alias("date"),
                *[F.col(f"parsed.`{f}`").alias(f) for f in PARSED_FIELDS])
        .withColumn("qid", F.coalesce(F.col("qid"), F.col("queue_id")))
        .filter(F.col("qid").isNotNull() & (F.col("qid") != "")))

    cols = ["line_no", "host", "prog", "date"] + PARSED_FIELDS
    a = {r["line_no"]: r.asDict() for r in
         pandas_side.select(*cols).collect()}
    b = {r["line_no"]: r.asDict() for r in
         catalyst_side.select(*cols).collect()}
    assert set(a) == set(b)
    for ln in a:
        # raw_msg differs by design (catalyst keeps it for all
        # non-postfix lines incl. filtered ones) — compare the rest
        da = {k: v for k, v in a[ln].items() if k != "raw_msg"}
        db = {k: v for k, v in b[ln].items() if k != "raw_msg"}
        assert da == db, (ln, da, db)
