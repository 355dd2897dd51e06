"""Pandas reference grok: the differential oracle for the production
RE2/``mapInArrow`` grok in ``operators/parse.py``.

The same envelope → pre-filter → grammar → dates rules, written with
pandas ``str.extract`` (C-regex) over one batch. The differential
tests run both on the same lines and compare them cell for cell:
``_grok_batch`` against ``parse._grok_arrow`` on single batches, and
:func:`parse_all_reference` against ``parse.parse_all`` on a
DataFrame.
"""

from __future__ import annotations

import datetime as dt
import re
import sys
from typing import Optional

import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from log_ship_elastic_postfix_spark.functions.grammar import (
    ENVELOPE_RE, MSG_REST_RE, PROG_FILTER_RE, QID_RE)
from log_ship_elastic_postfix_spark.operators.parse import (
    _ANGLE_KEYS, _PLAIN_KEYS, _RMILTER_KEYS, PARSED_FIELDS,
    _normalize_dates, parse_all)

# Spark's Python workers cannot import this tests-only module, so its
# functions travel inside the pickled UDF instead of by module name
cloudpickle.register_pickle_by_value(sys.modules[__name__])

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
    is_postfix = prog.str.startswith("postfix/").fillna(False)

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
            ser = ser.fillna(rwide[k])
        out[k] = ser
    if "status" in want:
        out["status"] = rest.str.extract(r"(?:^|[,\s])status=(.*)$",
                                         expand=True)[0]

    if "message" in want:
        is_bounce = (prog == "postfix/bounce").fillna(False)
        out["message"] = rest.where(is_bounce)
    if "msg" in want:
        is_bounce = (prog == "postfix/bounce").fillna(False)
        has_kv = rest.str.contains(r"(?:^|[,\s])[A-Za-z-]+=", na=False)
        out["msg"] = rest.where(is_postfix & ~is_bounce & ~has_kv
                                & rest.notna() & (rest != ""))

    queue_id = msg.str.extract(r"queue.?id:\s*<([^>]+)>",
                               expand=True)[0].where(~is_postfix)
    if "queue_id" in want:
        out["queue_id"] = queue_id
    if "raw_msg" in want:
        out["raw_msg"] = msg.where(~is_postfix & prog_ok)

    out["qid"] = qid.fillna(queue_id)

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
