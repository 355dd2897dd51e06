"""The grok reference forms, the differential oracles for the
production RE2/``mapInArrow`` grok in ``operators/parse.py``.

Two independent restatements of the same envelope → pre-filter →
grammar → dates rules, each keeping its own regex copies:

- the pandas grok, written with ``str.extract`` (C-regex) over one
  batch. The differential tests run it and the production grok on the
  same lines and compare them cell for cell: ``_grok_batch`` against
  ``parse._grok_arrow`` on single batches, and
  :func:`parse_all_reference` against ``parse.parse_all`` on a
  DataFrame.
- the Catalyst grammar (:func:`apply_grammar`) and the JVM date rule
  (:func:`normalize_syslog_date`), pure ``pyspark.sql.functions``
  expressions: the first formulation of the parse stage, retired from
  the library because CollapseProject inlines the envelope regex into
  every field expression (~20× slower), kept as the JVM-side oracle.
"""

from __future__ import annotations

import datetime as dt
import re
import sys
from typing import Optional

import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from log_ship_elastic_postfix_spark.operators.parse import (
    _ANGLE_KEYS, _PLAIN_KEYS, _RMILTER_KEYS, PARSED_FIELDS,
    _normalize_dates, parse_all)

# Spark's Python workers cannot import this tests-only module, so its
# functions (and the constants below) travel inside the pickled UDF
# instead of by module name
cloudpickle.register_pickle_by_value(sys.modules[__name__])

# --- stage 1: envelope -------------------------------------------------
# "Jul 26 04:18:34 mx12 postfix/qmgr[28761]: 3mfHGL1r9gzyQP: ..."
# Lines without `prog[pid]:` fail the envelope parse and are dropped
# (reference: test/mail.log line "madeup: Gobbely Gook" → parse error).
ENVELOPE_RE = (
    r"^([A-Z][a-z]{2})\s+(\d{1,2})\s+(\d{2}):(\d{2}):(\d{2})\s+"
    r"(\S+)\s+([A-Za-z0-9._/-]+)\[(\d+)\]:\s+(.*)$"
)

# stage-2 pre-filter before the grammar extraction (reference:
# lib/postfix-doc.js:20)
PROG_FILTER_RE = r"^(postfix|rspamd|rmilter)"

# postfix queue-id at the head of msg: "3mPVKl0Mhjz7sXv: rest".
# Accepted shapes: any alnum token containing a digit (long base-52
# ids always do), OR an uppercase-HEX token of >=6 chars (short-format
# ids like DEADBEEF are legitimately digit-less but always hex). The
# hex restriction matters: a bare `[0-9A-Z]+` also matches NOQUEUE —
# "postfix/smtpd ... NOQUEUE: reject: ..." is ubiquitous in real logs,
# and treating NOQUEUE as a qid folds every reject line on every host
# into one unbounded mega-doc (wrong doc semantics AND the exact
# hot-key detonation the fold elsewhere defends against). Free-form
# prefixes ("statistics:", "warning:") are lowercase words with no
# digit, so neither alternative matches.
QID_RE = r"^((?:(?=[0-9A-Za-z]*\d)[0-9A-Za-z]+)|(?:[0-9A-F]{6,})):\s"
MSG_REST_RE = r"^[0-9A-Za-z]+:\s(.*)$"

# ============================================================ pandas grok
# one combined key=value grammar: a single C-regex extractall pass
# replaces the 15 per-key full-line scans of round 1 (measured ~2.7×
# on the kv section; parse is 94% of pipeline wall time). Angle
# values keep their <> here and are unwrapped per-key afterwards so
# angle keys still REQUIRE the <> form (reference grammar contract).
_KV_RE = re.compile(r"(?:^|[,\s])([A-Za-z-]+)=(<[^>]*>|[^,\s]+)")


def _kv_wide(series: pd.Series, keys: list[str]) -> pd.DataFrame:
    """Vectorized key=value table: extractall → first-per-(row,key) →
    pivot to one column per wanted key (NaN where absent)."""
    m = series.str.extractall(_KV_RE)
    m.columns = ["k", "v"]
    m = m[m["k"].isin(keys)]
    if m.empty:
        return pd.DataFrame(None, index=series.index, columns=keys,
                            dtype=object)
    mm = m.reset_index()
    row_col = mm.columns[0]  # original row index
    mm = mm.drop_duplicates(subset=[row_col, "k"], keep="first")
    wide = mm.pivot(index=row_col, columns="k", values="v")
    wide = wide.reindex(index=series.index, columns=keys)
    # object dtype + None fill: an absent key otherwise reindexes to an
    # all-NaN float64 column and pandas .str refuses non-string dtypes
    return wide.astype(object).where(wide.notna(), None)


def _grok_batch(pdf: pd.DataFrame, line_col: str, tz: str,
                now: dt.datetime,
                fields: Optional[list[str]] = None) -> pd.DataFrame:
    """One vectorized pass: envelope → pre-filter → grammar → dates.
    Adds host/prog/date, the requested PARSED_FIELDS columns
    (``fields=None`` = all of them), and ``reject_reason`` (null for
    kept rows). ``qid``/``queue_id`` are always derived internally —
    the qid-presence rule depends on them — but only requested fields
    appear in the output."""
    want = set(PARSED_FIELDS if fields is None else fields) | {"qid"}
    line = pdf[line_col].fillna("")
    env = line.str.extract(ENVELOPE_RE)
    mon, day, hh, mi, ss = (env[i] for i in range(5))
    host, prog, msg = env[5], env[6], env[8]

    envelope_ok = prog.notna()
    prog_ok = envelope_ok & prog.str.match(PROG_FILTER_RE, na=False)
    is_postfix = prog.str.startswith("postfix/", na=False)

    qid = msg.str.extract(QID_RE)[0].where(is_postfix)
    rest = msg.str.extract(MSG_REST_RE)[0].where(is_postfix)

    out = pdf.copy()
    out["host"] = host
    out["prog"] = prog
    out["date"] = _normalize_dates(mon, day, hh, mi, ss, tz, now) \
        .where(envelope_ok)

    angle_keys = [k for k in _ANGLE_KEYS if k in want]
    plain_keys = [k for k in _PLAIN_KEYS if k in want]
    wide = _kv_wide(rest, angle_keys + plain_keys)
    for k in angle_keys:
        v = wide[k]
        angled = v.str.startswith("<", na=False) & v.str.endswith(">", na=False)
        out[k] = v.str[1:-1].where(angled)
    non_pf_msg = msg.where(~is_postfix)
    rmilter_keys = [k for k in _RMILTER_KEYS if k in want]
    if rmilter_keys and non_pf_msg.notna().any():
        # rmilter/rspamd keys live in the free-form msg (small subset)
        rwide = _kv_wide(non_pf_msg, rmilter_keys)
    else:
        rwide = None
    for k in plain_keys:
        ser = wide[k]
        # a plain key never takes the angle form; drop accidental <..>
        ser = ser.where(~ser.str.startswith("<", na=False))
        if rwide is not None and k in _RMILTER_KEYS:
            ser = ser.where(ser.notna(), rwide[k])
        out[k] = ser
    if "status" in want:
        out["status"] = rest.str.extract(r"(?:^|[,\s])status=(.*)$",
                                         expand=True)[0]

    if "message" in want:
        is_bounce = prog.eq("postfix/bounce")
        out["message"] = rest.where(is_bounce)
    if "msg" in want:
        is_bounce = prog.eq("postfix/bounce")
        has_kv = rest.str.contains(r"(?:^|[,\s])[A-Za-z-]+=", na=False)
        out["msg"] = rest.where(is_postfix & ~is_bounce & ~has_kv
                                & rest.notna() & (rest != ""))

    queue_id = msg.str.extract(r"queue.?id:\s*<([^>]+)>",
                               expand=True)[0].where(~is_postfix)
    if "queue_id" in want:
        out["queue_id"] = queue_id
    if "raw_msg" in want:
        out["raw_msg"] = msg.where(~is_postfix & prog_ok)

    out["qid"] = qid.where(qid.notna(), queue_id)

    reason = pd.Series(pd.NA, index=pdf.index, dtype="object")
    reason = reason.mask(~envelope_ok, "envelope_miss")
    reason = reason.mask(envelope_ok & ~prog_ok, "prog_filtered")
    out["reject_reason"] = reason
    # NaN → None on the generated string columns so Arrow emits proper
    # nulls (passenger columns keep their native dtypes untouched)
    emitted = [f for f in PARSED_FIELDS if f in want]
    for c in ["host", "prog", "date", *emitted, "reject_reason"]:
        col = out[c]
        out[c] = col.astype(object).where(col.notna(), None)
    return out


def parse_all_reference(
    lines: DataFrame,
    *,
    line_col: str = "line",
    tz: str = "America/Phoenix",
    now: Optional[dt.datetime] = None,
    passengers: Optional[list[str]] = None,
    fields: Optional[list[str]] = None,
) -> DataFrame:
    """:func:`parse.parse_all` over the pandas grok: the same input
    columns and the same output schema, which is taken from the
    production plan (built, never run)."""
    if now is None:
        now = dt.datetime.now()
    prod = parse_all(lines, line_col=line_col, tz=tz, now=now,
                     passengers=passengers, fields=fields)
    if passengers is None:
        passengers = [c for c in lines.columns if c != line_col]
    in_cols = [line_col] + [c for c in passengers if c != line_col]
    out_names = prod.columns
    emit = [f for f in PARSED_FIELDS if f in out_names]

    def grok(batches):
        for pdf in batches:
            yield _grok_batch(pdf, line_col, tz, now, fields=emit)[out_names]

    return (lines.select(*[F.col(f"`{c}`") for c in in_cols])
            .mapInPandas(grok, prod.schema))


# parse_all by engine name, for tests parametrized over both groks
GROK_ENGINES = {"arrow": parse_all, "pandas": parse_all_reference}


# ======================================================= Catalyst grammar
# Stage 1 splits the syslog envelope ``MMM dd HH:mm:ss host prog[pid]:
# msg``; stage 2 applies the program-specific grammar to ``msg``
# (reference lib/postfix-doc.js:12-37). The field inventory is pinned
# by the reference's tests (test/logship.js:24-30,
# test/postfix-doc.js:100-261), since the grammar package itself
# (postfix-parser) is external.
def parse_envelope(line: Column) -> Column:
    """line → struct(mon, day, hh, mi, ss, host, prog, pid, msg).

    Empty-string struct fields when the envelope regex does not match;
    :func:`apply_grammar` nulls the whole struct then.
    """
    return F.struct(
        F.regexp_extract(line, ENVELOPE_RE, 1).alias("mon"),
        F.regexp_extract(line, ENVELOPE_RE, 2).alias("day"),
        F.regexp_extract(line, ENVELOPE_RE, 3).alias("hh"),
        F.regexp_extract(line, ENVELOPE_RE, 4).alias("mi"),
        F.regexp_extract(line, ENVELOPE_RE, 5).alias("ss"),
        F.regexp_extract(line, ENVELOPE_RE, 6).alias("host"),
        F.regexp_extract(line, ENVELOPE_RE, 7).alias("prog"),
        F.regexp_extract(line, ENVELOPE_RE, 8).alias("pid"),
        F.regexp_extract(line, ENVELOPE_RE, 9).alias("msg"),
    )


def _kv(msg: Column, key: str, *, angle: bool = False) -> Column:
    """Extract ``key=value`` from a postfix message tail.

    ``angle=True`` unwraps ``key=<value>`` (sender/recipient style —
    null sender ``from=<>`` yields the empty string, matching the
    reference's null-sender rule lib/postfix-doc.js:216).
    Returns NULL (not '') when the key is absent so merge rules can
    distinguish "absent" from "empty".
    """
    if angle:
        pat = rf"(?:^|[,\s]){key}=<([^>]*)>"
    else:
        pat = rf"(?:^|[,\s]){key}=([^,\s]+)"
    hit = F.regexp_extract(msg, pat, 1)
    present = msg.rlike(rf"(?:^|[,\s]){key}=")
    return F.when(present, hit)


def _status(msg: Column) -> Column:
    """status=... runs to end of line (includes the '(...)' detail)."""
    pat = r"(?:^|[,\s])status=(.*)$"
    return F.when(msg.rlike(r"(?:^|[,\s])status="),
                  F.regexp_extract(msg, pat, 1))


def parse_program_fields(prog: Column, msg: Column) -> Column:
    """Stage-2 grammar: (prog, msg) → wide nullable struct.

    One sparse struct covering every program's fields (the union of
    the reference's parsed-line keys, FIXTURES.md §2).
    """
    qid = F.when(msg.rlike(QID_RE), F.regexp_extract(msg, QID_RE, 1))
    rest = F.regexp_extract(msg, MSG_REST_RE, 1)
    is_postfix = prog.startswith("postfix/")

    # rmilter/rspamd carry the queue id inside the free-form message:
    # "msg done: queue_id: <795941FED7>" (lib/postfix-doc.js:236-239)
    queue_id_in_msg = F.when(
        msg.rlike(r"queue.?id:\s*<[^>]+>"),
        F.regexp_extract(msg, r"queue.?id:\s*<([^>]+)>", 1),
    )

    return F.struct(
        F.when(is_postfix, qid).alias("qid"),
        _kv(rest, "from", angle=True).alias("from"),
        _kv(rest, "size").alias("size"),
        _kv(rest, "nrcpt").alias("nrcpt"),
        _kv(rest, "to", angle=True).alias("to"),
        _kv(rest, "relay").alias("relay"),
        _kv(rest, "delay").alias("delay"),
        _kv(rest, "delays").alias("delays"),
        _kv(rest, "dsn").alias("dsn"),
        _status(rest).alias("status"),
        _kv(rest, "message-id", angle=True).alias("message-id"),
        _kv(rest, "resent-message-id", angle=True).alias("resent-message-id"),
        _kv(rest, "uid").alias("uid"),
        # bounce: the whole tail is the human message
        F.when(prog == "postfix/bounce", rest).alias("message"),
        # free-form tail only — 'removed', 'released from hold',
        # 'statistics: …'. Structured key=value tails produce no msg
        # (the reference's parsed qmgr/smtp objects carry no msg key).
        F.when(
            is_postfix & (prog != "postfix/bounce") & (rest != "")
            & ~rest.rlike(r"(?:^|[,\s])[A-Za-z-]+="),
            rest,
        ).alias("msg"),
        F.when(~is_postfix, queue_id_in_msg).alias("queue_id"),
        _kv(msg, "spam_scan").alias("spam_scan"),
        _kv(msg, "virus_scan").alias("virus_scan"),
        _kv(msg, "dkim").alias("dkim"),
        _kv(msg, "score").alias("score"),
        F.when(~is_postfix, msg).alias("raw_msg"),
    )


def apply_grammar(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Full two-stage parse plan over a DataFrame with a raw-line column.

    Emits the flat parsed-line schema (all strings, FIXTURES.md §2)
    plus ``host``/``prog`` and the envelope date parts. Rows that fail
    the envelope or lack a prog are *kept* with null prog so callers
    can split a parse-reject side output (reference logs these,
    lib/postfix-doc.js:294-296).
    """
    env = parse_envelope(F.col(line_col))
    df = df.withColumn("_env", env)
    df = df.withColumn(
        "_env", F.when(F.col("_env.prog") != "", F.col("_env"))
    )  # whole-struct null on envelope miss
    fields = parse_program_fields(F.col("_env.prog"), F.col("_env.msg"))
    return df.select(
        "*",
        F.col("_env.host").alias("host"),
        F.col("_env.prog").alias("prog"),
        F.col("_env.mon").alias("_mon"),
        F.col("_env.day").alias("_day"),
        F.col("_env.hh").alias("_hh"),
        F.col("_env.mi").alias("_mi"),
        F.col("_env.ss").alias("_ss"),
        fields.alias("parsed"),
    ).drop("_env")


# ========================================================= JVM date rule
# Syslog dates carry no year and no zone (reference
# lib/postfix-doc.js:39-145): assume the current year, stepping back
# one year when that lands >6×30 days in the future, and format the
# *literal* time components with the IANA zone's UTC offset at that
# wall time, e.g. ``2015-07-26T04:18:34-07:00`` (test/logship.js:30).
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]

# >6 "months" where a month is exactly 30 days
# (lib/postfix-doc.js:50: 6 * 30 * 24 * 60 * 60 * 1000 ms)
_FUTURE_SLACK_SECONDS = 6 * 30 * 24 * 60 * 60


def month_number(mon: Column) -> Column:
    """'Jul' → 7 (int); null for unknown month names."""
    pairs: list[Column] = []
    for i, m in enumerate(MONTHS, start=1):
        pairs.extend([F.lit(m), F.lit(i)])
    return F.element_at(F.create_map(*pairs), mon)


def _wall_string(year: Column, mon_no: Column, day: Column,
                 hh: Column, mi: Column, ss: Column) -> Column:
    """Zero-padded 'yyyy-MM-dd HH:mm:ss' built from string components."""
    return F.concat_ws(
        " ",
        F.concat_ws("-", year.cast("string"),
                    F.lpad(mon_no.cast("string"), 2, "0"),
                    F.lpad(day, 2, "0")),
        F.concat_ws(":", F.lpad(hh, 2, "0"), F.lpad(mi, 2, "0"),
                    F.lpad(ss, 2, "0")),
    )


def tz_offset_seconds(wall: Column, tz: str) -> Column:
    """UTC offset (seconds) of IANA zone ``tz`` at local wall time ``wall``.

    ``to_utc_timestamp`` interprets its input as wall time in ``tz``;
    the difference vs interpreting the same wall time as UTC *is* the
    zone offset — DST-correct, no Python, no Intl API.
    """
    as_utc = F.to_timestamp(wall)
    real = F.to_utc_timestamp(as_utc, tz)
    return (F.unix_timestamp(as_utc) - F.unix_timestamp(real)).cast("long")


def _offset_string(offset_secs: Column) -> Column:
    sign = F.when(offset_secs < 0, F.lit("-")).otherwise(F.lit("+"))
    abs_s = F.abs(offset_secs)
    hh = F.lpad(F.floor(abs_s / 3600).cast("string"), 2, "0")
    mm = F.lpad(F.floor((abs_s % 3600) / 60).cast("string"), 2, "0")
    return F.concat(sign, hh, F.lit(":"), mm)


def normalize_syslog_date(
    mon: Column, day: Column, hh: Column, mi: Column, ss: Column,
    *, tz: str = "America/Phoenix", now: dt.datetime,
) -> Column:
    """(envelope date parts) → ISO-8601 string with explicit zone offset,
    ``YYYY-MM-DDTHH:mm:ss±HH:MM``. Applies the current-year /
    minus-one-year inference against the supplied ``now`` (never the
    wall clock, so every comparison is deterministic)."""
    now_lit = F.lit(now.strftime("%Y-%m-%d %H:%M:%S"))
    year_now = F.lit(now.year)

    mon_no = month_number(mon)
    wall_this = _wall_string(year_now, mon_no, day, hh, mi, ss)
    too_far = (
        F.unix_timestamp(F.to_timestamp(wall_this))
        - F.unix_timestamp(F.to_timestamp(now_lit))
    ) > F.lit(_FUTURE_SLACK_SECONDS)
    year = F.when(too_far, year_now - 1).otherwise(year_now)

    wall = _wall_string(year, mon_no, day, hh, mi, ss)
    offset = _offset_string(tz_offset_seconds(wall, tz))
    return F.when(
        mon_no.isNotNull(),
        F.concat(F.regexp_replace(wall, " ", "T"), offset),
    )
