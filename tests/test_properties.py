"""Property-based tests (hypothesis) for the fold's algebraic
invariants — the guarantees the distributed and replayed folds rely
on."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from log_ship_elastic_postfix_spark.operators.assemble import fold_lines

_PROGS = ["postfix/qmgr", "postfix/smtp", "postfix/cleanup",
          "postfix/pickup", "postfix/bounce", "postfix/error",
          "postfix/local", "postfix/postsuper", "postfix/scache"]


@st.composite
def parsed_line(draw, qid="Q1"):
    prog = draw(st.sampled_from(_PROGS))
    lo = {"qid": qid, "host": draw(st.sampled_from(["mx1", "mx2"])),
          "prog": prog, "date": f"D{draw(st.integers(0, 5))}"}
    if prog == "postfix/qmgr":
        kind = draw(st.sampled_from(["queued", "removed", "expired"]))
        if kind == "removed":
            lo["msg"] = "removed"
        elif kind == "expired":
            lo["from"] = "a@b"
            lo["status"] = "expired, returned to sender"
        else:
            lo["from"] = draw(st.sampled_from([None, "", "a@b", "c@d"]))
            lo["size"] = str(draw(st.integers(1, 9999)))
            lo["nrcpt"] = str(draw(st.integers(1, 9)))
    elif prog == "postfix/smtp":
        lo.update({"to": "t@x", "relay": "r[1]:25",
                   "delay": str(draw(st.integers(0, 99))),
                   "delays": "0.1/0/0.2/0.3", "dsn": "2.0.0",
                   "status": draw(st.sampled_from(["sent (ok)",
                                                   "deferred (x)"]))})
    elif prog == "postfix/cleanup":
        lo["message-id"] = f"m{draw(st.integers(0, 3))}@x"
    elif prog == "postfix/pickup":
        lo["uid"] = str(draw(st.integers(1, 9999)))
    elif prog == "postfix/bounce":
        lo["message"] = f"notice {draw(st.integers(0, 3))}"
    elif prog in ("postfix/error", "postfix/local"):
        lo.update({"to": "t@x", "relay": "none", "dsn": "4.4.1",
                   "status": "deferred (y)"})
    elif prog == "postfix/postsuper":
        lo["msg"] = draw(st.sampled_from(["removed", "released from hold"]))
    elif prog == "postfix/scache":
        lo["msg"] = "statistics: x"
    return lo


lines_strategy = st.lists(parsed_line(), min_size=1, max_size=30)


@given(lines_strategy)
@settings(max_examples=200, deadline=None)
def test_fold_replay_idempotent(rows):
    """Folding the same lines again on top of the committed doc must be
    a no-op — the reference's replay guarantee (create-fails +
    detect_noop, lib/logship.js:361-379)."""
    doc = fold_lines(rows)
    replayed = fold_lines(rows, seed=doc)
    assert replayed == doc


@given(lines_strategy)
@settings(max_examples=200, deadline=None)
def test_fold_invariants(rows):
    doc = fold_lines(rows)
    events = doc["events"]
    # at most one queued event, and events are pairwise distinct
    assert sum(1 for e in events if e.get("action") == "queued") <= 1
    keyed = [tuple(sorted((k, v) for k, v in e.items() if v is not None))
             for e in events]
    assert len(keyed) == len(set(keyed))
    # no event leaks the stripped fields
    assert all("qid" not in e and "host" not in e and "prog" not in e
               for e in events)
    # isFinal ⟺ some removal was seen
    removed = any(
        (r["prog"] in ("postfix/qmgr", "postfix/postsuper")
         and r.get("msg") == "removed") for r in rows)
    assert doc["isFinal"] == removed
    # host/date always from the first line
    assert doc["host"] == rows[0]["host"]
    assert doc["date"] == rows[0]["date"]
    assert doc["n_events"] == len(events)


# ------------------------------------------------ grok differential
_MSG_CHARS = st.characters(
    blacklist_categories=("Cs",), blacklist_characters="\n\r")
_TOKEN = st.text(
    st.characters(whitelist_categories=("Lu", "Ll", "Nd")), min_size=1,
    max_size=10)


@st.composite
def raw_line(draw) -> str:
    kind = draw(st.sampled_from(
        ["qmgr", "smtp", "removed", "cleanup", "scache", "rspamd",
         "garbage", "empty", "weird_msg", "hexqid", "lowerqid",
         "capsword"]))
    host = draw(st.sampled_from(["mx1", "mx2.example.com"]))
    stamp = (f"Jul {draw(st.integers(1, 28)):2d} "
             f"{draw(st.integers(0, 23)):02d}:"
             f"{draw(st.integers(0, 59)):02d}:"
             f"{draw(st.integers(0, 59)):02d}")
    pid = draw(st.integers(1, 99999))
    qid = draw(st.sampled_from(["3mfHGL1r9gzyQP", "A1B2C3", "9XYZ"]))
    if kind == "empty":
        return ""
    if kind == "garbage":
        return draw(st.text(_MSG_CHARS, max_size=60))
    if kind == "qmgr":
        frm = draw(st.sampled_from(["<>", "<a@b.c>", "<weird,name@x>"]))
        return (f"{stamp} {host} postfix/qmgr[{pid}]: {qid}: "
                f"from={frm}, size={draw(st.integers(0, 10**9))}, "
                f"nrcpt={draw(st.integers(1, 99))} (queue active)")
    if kind == "smtp":
        status = draw(st.sampled_from(
            ["sent (250 ok: queued as X)", "deferred (lost connection)",
             "bounced (host said: 550 no, from=<trap@x>)"]))
        return (f"{stamp} {host} postfix/smtp[{pid}]: {qid}: "
                f"to=<{draw(_TOKEN)}@x.net>, relay=r[10.0.0.1]:25, "
                f"delay={draw(st.integers(0, 9999))}, "
                f"delays=0.1/0/0.2/0.3, dsn=2.0.0, status={status}")
    if kind == "removed":
        return f"{stamp} {host} postfix/qmgr[{pid}]: {qid}: removed"
    if kind == "cleanup":
        return (f"{stamp} {host} postfix/cleanup[{pid}]: {qid}: "
                f"message-id=<{draw(_TOKEN)}@y>")
    if kind == "scache":
        return (f"{stamp} {host} postfix/scache[{pid}]: "
                f"statistics: start interval Jul 26 04:00:00")
    if kind == "rspamd":
        return (f"{stamp} {host} rspamd[{pid}]: rspamd_message_parse: "
                f"loaded; queue-id: <{qid}>; score={draw(st.integers(0, 99))}.50")
    if kind == "hexqid":
        return (f"{stamp} {host} postfix/qmgr[{pid}]: DEADBEEF: "
                f"from=<a@b>, size=5, nrcpt=1 (queue active)")
    if kind == "lowerqid":
        return f"{stamp} {host} postfix/qmgr[{pid}]: warning: odd message"
    if kind == "capsword":
        # digit-less all-caps words: NOQUEUE-style rejects and short
        # caps tokens must NOT become qids (uppercase-hex>=6 rule);
        # engines must agree on every one
        word = draw(st.sampled_from(
            ["NOQUEUE", "TLS", "ABCDEF", "FEEDFACE", "REJECT", "CAFE"]))
        return (f"{stamp} {host} postfix/smtpd[{pid}]: {word}: "
                f"reject: RCPT from unknown[1.2.3.4]: 554 blocked, "
                f"to=<u@x.net>")
    # weird_msg: arbitrary payload after a valid envelope
    payload = draw(st.text(_MSG_CHARS, min_size=1, max_size=80))
    return f"{stamp} {host} postfix/smtp[{pid}]: {payload}"


@given(st.lists(raw_line(), min_size=1, max_size=40))
@settings(max_examples=150, deadline=None)
def test_arrow_and_pandas_grok_differential_fuzz(lines):
    """The RE2 (production) and pandas (reference) grok batch
    implementations must agree cell-for-cell on arbitrary — including
    malformed and unicode — input lines. No Spark session: this drives
    the batch kernels directly."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa

    from log_ship_elastic_postfix_spark.operators.parse import (
        PARSED_FIELDS, _grok_arrow)

    from grok_reference import _grok_batch

    now = dt.datetime(2024, 8, 1)
    out_names = (["line_no", "host", "prog", "date"] + PARSED_FIELDS
                 + ["reject_reason"])
    pdf = pd.DataFrame({"line_no": range(len(lines)), "line": lines})

    a = _grok_arrow(pa.RecordBatch.from_pandas(pdf), "line",
                    "America/Phoenix", now, out_names).to_pandas()
    b = _grok_batch(pdf.copy(), "line", "America/Phoenix", now)[out_names]

    for col in out_names:
        av = [None if pd.isna(x) else x for x in a[col]]
        bv = [None if pd.isna(x) else x for x in b[col]]
        assert av == bv, (col, lines)


@given(lines_strategy, st.integers(2, 5))
@settings(max_examples=100, deadline=None)
def test_fold_batch_split_consistency(rows, k):
    """Splitting the line stream into consecutive batches and folding
    with state continuation gives the same doc as one fold — the
    cross-batch merge contract (state.merge_with_state)."""
    whole = fold_lines(rows)
    doc = None
    step = max(1, len(rows) // k)
    for i in range(0, len(rows), step):
        doc = fold_lines(rows[i:i + step], seed=doc)
    assert doc == whole
