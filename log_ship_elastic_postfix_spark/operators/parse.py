"""Parse stage: raw lines → typed parsed-line DataFrame (+ reject side
output).

Mirrors the reference's read→parse path
(/root/reference/lib/logship.js:95-120 + lib/postfix-doc.js:12-37):

1. envelope grok (drop-to-rejects on miss)            [P1]
2. program pre-filter ^(postfix|rspamd|rmilter)       [P2]
3. per-program grammar extraction                      [P3]
4. qid-presence filter (production read path drops     [P4]
   qid-less lines, lib/logship.js:107-111)
5. date normalization → ISO string with tz offset      [P5]

Physical design: **one Arrow-vectorized mapInArrow pass** (RE2
kernels from ``pyarrow.compute``, each pattern applied once per
batch). The pure-Catalyst formulation was measured ~20× slower
because CollapseProject inlines the envelope regex into every
downstream field expression — ~30 executions of the same pattern per
line; Catalyst has no common-subexpression reuse across projection
fields. The stage stays narrow (no shuffle), and column pruning still
reaches the scan (only the line column and passengers are read). The
Catalyst and pandas ``str.extract`` forms of the same grammar live in
``tests/grok_reference.py`` as the differential oracles.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

# stage-2 pre-filter before the grammar extraction (reference:
# lib/postfix-doc.js:20)
PROG_FILTER_RE = r"^(postfix|rspamd|rmilter)"

# flat parsed-line columns, FIXTURES.md §2 (all strings in flight —
# the reference keeps size/nrcpt as strings, test/logship.js:26-27;
# numeric typing happens at the sink schema)
PARSED_FIELDS = [
    "qid", "from", "size", "nrcpt", "to", "relay", "delay", "delays",
    "dsn", "status", "message-id", "resent-message-id", "uid",
    "message", "msg", "queue_id", "spam_scan", "virus_scan", "dkim",
    "score", "raw_msg",
]

_ANGLE_KEYS = ["from", "to", "message-id", "resent-message-id"]
_PLAIN_KEYS = ["size", "nrcpt", "relay", "delay", "delays", "dsn", "uid",
               "spam_scan", "virus_scan", "dkim", "score"]
_RMILTER_KEYS = ("spam_scan", "virus_scan", "dkim", "score")


_FUTURE_SLACK = pd.Timedelta(seconds=6 * 30 * 24 * 60 * 60)  # ref: 6×30 d


@dataclass
class ParseResult:
    parsed: DataFrame   # lines that produced a keyed record
    rejects: DataFrame  # envelope misses / filtered progs / qid-less
    all_rows: Optional[DataFrame] = None  # full grok output (parsed ∪
    # rejects share its lineage) — callers persist THIS frame so the
    # scan+parse runs once per batch, then derive counts/dates from it


_MONTH_NUM = {m: f"{i + 1:02d}" for i, m in enumerate(
    ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
     "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"])}


def _offset_strings(offset_sec: pd.Series) -> pd.Series:
    """int seconds → '±HH:MM' via a tiny dict over the unique values
    (one IANA zone has at most a handful of distinct offsets)."""
    def fmt(v) -> str:
        v = int(v)
        sign = "-" if v < 0 else "+"
        v = abs(v)
        return f"{sign}{v // 3600:02d}:{v % 3600 // 60:02d}"

    return offset_sec.map({v: fmt(v) for v in offset_sec.unique()})


def _normalize_dates(mon: pd.Series, day: pd.Series, hh: pd.Series,
                     mi: pd.Series, ss: pd.Series, tz: str,
                     now: dt.datetime) -> pd.Series:
    """Memoizing front of :func:`_normalize_dates_impl`: log timestamps
    have second granularity, so a batch of N lines holds far fewer
    distinct (mon, day, hh, mi, ss) tuples than rows — factorize the
    composite key, normalize each unique tuple once, scatter back.
    Per-key results are computed by the identical impl, so outputs are
    row-for-row identical; the r6 profile had the date normalizer at
    >50 % of the whole grok batch (2.6 s of 4.8 s per 400k lines)."""
    n = len(mon)
    if n == 0:
        return _normalize_dates_impl(mon, day, hh, mi, ss, tz, now)
    # "|" can never appear in the regex-captured components (month is
    # [A-Z][a-z]{2}, the rest digits); key is NaN if any component is
    key = mon.str.cat([day, hh, mi, ss], sep="|")
    codes, uniq = pd.factorize(key)
    if len(uniq) == 0:  # every envelope missed — all-null dates
        return pd.Series([None] * n, index=mon.index, dtype=object)
    if len(uniq) > n // 2:  # low repetition — skip the indirection
        return _normalize_dates_impl(mon, day, hh, mi, ss, tz, now)
    parts = pd.Series(uniq, dtype=object).str.split("|", expand=True)
    du = _normalize_dates_impl(parts[0], parts[1], parts[2], parts[3],
                               parts[4], tz, now)
    arr = du.to_numpy(dtype=object)
    out = np.empty(n, dtype=object)
    mask = codes >= 0
    out[mask] = arr[codes[mask]]
    out[~mask] = None  # rows whose envelope components were NaN
    return pd.Series(out, index=mon.index)


def _normalize_dates_impl(mon: pd.Series, day: pd.Series, hh: pd.Series,
                          mi: pd.Series, ss: pd.Series, tz: str,
                          now: dt.datetime) -> pd.Series:
    """Vectorized reference date rule (lib/postfix-doc.js:39-145):
    current-year assumption, minus-one-year when >6×30 d in the future,
    ISO-8601 with the IANA zone's offset at that wall time.

    The output string is assembled by component concat (C string ops)
    instead of strftime — strftime was the single hottest call in the
    round-1 profile (~16% of the grok batch); the timestamp itself is
    still parsed once for year inference and DST offset resolution.
    """
    datestr = (str(now.year) + "-" + mon + "-" + day.str.zfill(2)
               + " " + hh + ":" + mi + ":" + ss)
    ts = pd.to_datetime(datestr, format="%Y-%b-%d %H:%M:%S",
                        errors="coerce")
    now_ts = pd.Timestamp(now)
    too_far = ts > (now_ts + _FUTURE_SLACK)
    year = pd.Series(str(now.year), index=ts.index).where(
        ts.notna(), other=pd.NA)
    if too_far.any():
        ts = ts.where(~too_far, ts - pd.DateOffset(years=1))
        year = year.mask(too_far, str(now.year - 1))
    loc = ts.dt.tz_localize(tz, ambiguous=True, nonexistent="shift_forward")
    # wall time minus its UTC instant = the zone offset, as vector math
    wall = loc.dt.tz_localize(None)
    utc_wall = loc.dt.tz_convert("UTC").dt.tz_localize(None)
    offset_sec = (wall - utc_wall).dt.total_seconds()
    off = _offset_strings(offset_sec.dropna()).reindex(ts.index)
    out = (year + "-" + mon.map(_MONTH_NUM) + "-" + day.str.zfill(2)
           + "T" + hh + ":" + mi + ":" + ss + off).where(ts.notna())
    # DST-gap wall times get shifted forward by tz_localize; only those
    # rare rows pay strftime so the printed time matches the shift
    shifted = wall.ne(ts) & wall.notna()
    if shifted.any():
        s = loc[shifted].dt.strftime("%Y-%m-%dT%H:%M:%S%z")
        out[shifted] = s.str[:-2] + ":" + s.str[-2:]
    return out


# ------------------------------------------------------- arrow grok
# RE2 (pyarrow.compute) implementation of the identical grammar —
# measured 2-4.5× the pandas object-loop regex machinery; RE2 has no
# lookahead, so the strict queue-id rule is a loose prefix capture
# plus a full-match validity check.
_ENV_ARROW = (
    r"^(?P<mon>[A-Z][a-z]{2})\s+(?P<day>\d{1,2})\s+"
    r"(?P<hh>\d{2}):(?P<mi>\d{2}):(?P<ss>\d{2})\s+"
    r"(?P<host>\S+)\s+(?P<prog>[A-Za-z0-9._/-]+)\[(?P<pid>\d+)\]:\s+"
    r"(?P<msg>.*)$")
_QID_REST_ARROW = r"^(?P<qid0>[0-9A-Za-z]+):\s(?P<rest>.*)$"
# mirrors the reference QID_RE: digit-bearing alnum OR uppercase-hex
# >=6 (NOQUEUE / warning-style all-caps words must NOT validate — see
# tests/grok_reference.py)
_QID_VALID_ARROW = r"^(?:[0-9A-Za-z]*\d[0-9A-Za-z]*|[0-9A-F]{6,})$"


def _grok_arrow(batch, line_col: str, tz: str, now: dt.datetime,
                out_names: list[str],
                fields: Optional[list[str]] = None):
    """One RecordBatch through the grok grammar, all-Arrow kernels
    (plus the pandas date normalizer over the five tiny component
    columns). Semantically identical to the pandas reference grok in
    tests/grok_reference.py — pinned by the differential tests. ``fields`` limits which
    PARSED_FIELDS are extracted (each key is its own RE2 pass over
    ``rest``, so pruning is a direct per-key saving — guide §4.1)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    want = set(PARSED_FIELDS if fields is None else fields) | {"qid"}
    null_s = pa.scalar(None, pa.string())
    line = pc.coalesce(batch.column(line_col), "")
    env = pc.extract_regex(line, _ENV_ARROW)
    envelope_ok = pc.is_valid(env)

    def _f(name):
        return pc.struct_field(env, name)

    host, prog, msg = _f("host"), _f("prog"), _f("msg")
    prog_ok = pc.coalesce(
        pc.match_substring_regex(prog, PROG_FILTER_RE), False)
    is_postfix = pc.coalesce(pc.starts_with(prog, "postfix/"), False)
    not_postfix = pc.and_(pc.invert(is_postfix), envelope_ok)

    qr = pc.extract_regex(msg, _QID_REST_ARROW)
    qid0 = pc.struct_field(qr, "qid0")
    # rest is masked by is_postfix exactly like the pandas engine
    # (`rest = ....where(is_postfix)`): a non-postfix rspamd/rmilter
    # msg matching `^\w+:\s` must NOT feed the postfix kv/status
    # grammar, or the two engines diverge on relay/status fields
    rest = pc.if_else(is_postfix, pc.struct_field(qr, "rest"), null_s)
    qid_valid = pc.coalesce(
        pc.match_substring_regex(qid0, _QID_VALID_ARROW), False)
    qid = pc.if_else(pc.and_(is_postfix, qid_valid), qid0, null_s)

    cols: dict = {}
    for k in _ANGLE_KEYS:
        if k not in want:
            continue
        hit = pc.extract_regex(rest, rf"(?:^|[,\s]){k}=<(?P<v>[^>]*)>")
        cols[k] = pc.struct_field(hit, "v")
    msg_non_pf = pc.if_else(not_postfix, msg, null_s)
    for k in _PLAIN_KEYS:
        if k not in want:
            continue
        pat = rf"(?:^|[,\s]){k}=(?P<v>[^,\s]+)"
        v = pc.struct_field(pc.extract_regex(rest, pat), "v")
        if k in _RMILTER_KEYS:
            v = pc.coalesce(
                v, pc.struct_field(pc.extract_regex(msg_non_pf, pat), "v"))
        cols[k] = v
    if "status" in want:
        cols["status"] = pc.struct_field(
            pc.extract_regex(rest, r"(?:^|[,\s])status=(?P<v>.*)$"), "v")

    is_bounce = pc.coalesce(pc.equal(prog, "postfix/bounce"), False)
    if "message" in want:
        cols["message"] = pc.if_else(is_bounce, rest, null_s)
    if "msg" in want:
        has_kv = pc.coalesce(
            pc.match_substring_regex(rest, r"(?:^|[,\s])[A-Za-z-]+="), False)
        msg_keep = pc.and_(
            pc.and_(is_postfix, pc.invert(is_bounce)),
            pc.and_(pc.invert(has_kv),
                    pc.coalesce(pc.not_equal(rest, ""), False)))
        cols["msg"] = pc.if_else(msg_keep, rest, null_s)

    queue_id = pc.struct_field(
        pc.extract_regex(msg_non_pf, r"queue.?id:\s*<(?P<v>[^>]+)>"), "v")
    if "queue_id" in want:
        cols["queue_id"] = queue_id
    if "raw_msg" in want:
        cols["raw_msg"] = pc.if_else(
            pc.and_(not_postfix, prog_ok), msg, null_s)
    cols["qid"] = pc.coalesce(qid, queue_id)

    dates = _normalize_dates(
        _f("mon").to_pandas(), _f("day").to_pandas(), _f("hh").to_pandas(),
        _f("mi").to_pandas(), _f("ss").to_pandas(), tz, now)
    date_arr = pa.Array.from_pandas(dates.astype(object).where(
        dates.notna(), None), type=pa.string())

    reject = pc.if_else(
        pc.invert(envelope_ok), "envelope_miss",
        pc.if_else(pc.invert(prog_ok), pa.scalar("prog_filtered"), null_s))

    out = {n: batch.column(n) for n in out_names
           if n in batch.schema.names and n != line_col}
    out["host"] = host
    out["prog"] = prog
    out["date"] = pc.if_else(envelope_ok, date_arr, null_s)
    out.update({k: cols[k] for k in PARSED_FIELDS if k in want})
    out["reject_reason"] = reject
    return pa.RecordBatch.from_arrays(
        [out[n] for n in out_names], names=out_names)


def parse_all(
    lines: DataFrame,
    *,
    line_col: str = "line",
    tz: str = "America/Phoenix",
    now: Optional[dt.datetime] = None,
    passengers: Optional[list[str]] = None,
    fields: Optional[list[str]] = None,
) -> DataFrame:
    """Full grok over a raw-line DataFrame: selected passengers
    preserved, parsed columns + ``reject_reason`` added. Narrow; one
    Arrow pass (RE2 kernels via mapInArrow).

    ``passengers`` limits which input columns cross the Python
    boundary and return — every byte of an unused passenger column is
    serialized twice, so callers should name only what downstream
    stages read (default: all input columns, test-friendly).

    ``fields`` limits which PARSED_FIELDS are extracted and returned
    (default: all — the pipeline's fold reads every field). Each kv
    key costs its own regex pass over the message and its own column
    across the Arrow boundary, so a caller that consumes a handful of
    fields (the parse_grok driver query reads 5) should name them.
    ``qid`` is always derived — the qid-presence rule needs it.
    """
    if now is None:
        now = dt.datetime.now()
    if passengers is None:
        passengers = [c for c in lines.columns if c != line_col]
    in_cols = [line_col] + [c for c in passengers if c != line_col]
    lines = lines.select(*[F.col(f"`{c}`") for c in in_cols])

    emit = [f for f in PARSED_FIELDS
            if fields is None or f in set(fields) | {"qid"}]
    keep_fields = [f for f in lines.schema.fields if f.name in passengers]
    schema = StructType(
        keep_fields
        + [StructField("host", StringType()),
           StructField("prog", StringType()),
           StructField("date", StringType())]
        + [StructField(f, StringType()) for f in emit]
        + [StructField("reject_reason", StringType())]
    )
    out_names = [f.name for f in schema.fields]

    def grok_arrow(batches):
        for b in batches:
            yield _grok_arrow(b, line_col, tz, now, out_names, fields=emit)

    return lines.mapInArrow(grok_arrow, schema)


def parse_lines(
    lines: DataFrame,
    *,
    line_col: str = "line",
    tz: str = "America/Phoenix",
    now: Optional[dt.datetime] = None,
    passengers: Optional[list[str]] = None,
    fields: Optional[list[str]] = None,
) -> ParseResult:
    """Raw-line DataFrame → (parsed, rejects).

    ``lines`` must carry ``line_col`` plus any passenger columns
    (``line_no``, ``batch_seq``, ``url`` …); ``passengers`` selects
    which of them survive the parse (see :func:`parse_all`).
    """
    all_rows = parse_all(lines, line_col=line_col, tz=tz, now=now,
                         passengers=passengers, fields=fields)
    out_passengers = [c for c in all_rows.columns
                      if c in lines.columns and c != line_col]

    reject = is_reject()
    parsed = all_rows.filter(~reject).drop("reject_reason")
    # a grok reject keeps its reason; the only other reject is qid-less
    rejects = all_rows.filter(reject).select(
        *out_passengers,
        F.coalesce(F.col("reject_reason"), F.lit("no_qid"))
        .alias("reject_reason"))

    return ParseResult(parsed=parsed, rejects=rejects, all_rows=all_rows)


def is_reject() -> Column:
    """The reject rule over :func:`parse_all` output: a grok reject
    (``reject_reason`` set) or a line with no queue id. :func:`parse_lines`
    splits parsed/rejects on it and the pipeline counts rejects with
    it, so the rule lives here once. Never NULL, so ``~is_reject()`` is
    exactly the kept rows."""
    grok_reject = F.col("reject_reason").isNotNull()
    qid_ok = F.col("qid").isNotNull() & (F.col("qid") != "")
    return grok_reject | ~qid_ok
