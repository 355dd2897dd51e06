"""Golden-doc sessionizer tests — 1:1 mirrors of the reference's
merge-rule assertions (/root/reference/test/postfix-doc.js:50-261 and
test/logship.js:44-68), run both through the pure-Python fold oracle
and the distributed mapInPandas plan, plus a hot-key golden doc."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from log_ship_elastic_postfix_spark.operators.assemble import (
    assemble, fold_lines)
from log_ship_elastic_postfix_spark.operators.parse import parse_lines

NOW = dt.datetime(2015, 8, 1)


def _lines_df(spark, lines):
    return spark.createDataFrame(
        [(i + 1, l) for i, l in enumerate(lines)], "line_no long, line string")


def _docs(spark, lines):
    parsed = parse_lines(_lines_df(spark, lines), now=NOW).parsed
    parsed = parsed.withColumn("batch_seq", F.lit(0))
    return {r["qid"]: r.asDict(recursive=True)
            for r in assemble(parsed).collect()}


THREE_LINES = [
    "Jul 26 04:18:34 mx12 postfix/qmgr[28761]: 3mfHGL1r9gzyQP: from=<system>, size=813, nrcpt=1 (queue active)",
    "Jul 26 04:18:34 mx12 postfix/smtp[20662]: 3mfHGL1r9gzyQP: to=<system>, relay=127.0.0.2[127.0.0.2]:25, delay=0.53, delays=0.13/0/0.23/0.16, dsn=2.0.0, status=sent (250 Queued! (#2.0.0))",
    "Jul 26 04:18:34 mx12 postfix/qmgr[28761]: 3mfHGL1r9gzyQP: removed",
]


def _ev(e):
    """Sparse view of an event row (drop nulls)."""
    return {k: v for k, v in e.items() if v is not None}


def test_three_line_assembly(spark):
    """The reference's updatePfDocs end-to-end golden
    (test/logship.js:44-68): qmgr + smtp + removed → one final doc,
    3 events, hoisted from/size/nrcpt/delay/delays."""
    doc = _docs(spark, THREE_LINES)["3mfHGL1r9gzyQP"]
    assert doc["host"] == "mx12"
    assert doc["from"] == "system"
    assert doc["size"] == "813"
    assert doc["nrcpt"] == "1"
    assert doc["delay"] == "0.53"
    assert doc["delays"] == "0.13/0/0.23/0.16"
    assert doc["isFinal"] is True
    assert doc["n_events"] == 3
    evs = [_ev(e) for e in doc["events"]]
    assert evs[0]["action"] == "queued"
    assert evs[1]["to"] == "system"
    assert "delay" not in evs[1]          # hoisted off the event
    assert evs[2]["action"] == "removed"
    assert all("qid" not in e and "host" not in e and "prog" not in e
               for e in evs)


def test_first_queued_wins_and_dedup():
    """addEvent invariants (test/postfix-doc.js:50-70) via the fold
    oracle: duplicate events suppressed, subsequent queued skipped."""
    rows = [
        {"qid": "Q1", "host": "mx12", "prog": "postfix/qmgr",
         "date": "D1", "from": "system", "size": "813", "nrcpt": "1"},
        {"qid": "Q1", "host": "mx12", "prog": "postfix/qmgr",
         "date": "D1", "from": "system", "size": "813", "nrcpt": "1"},
        {"qid": "Q1", "host": "mx12", "prog": "postfix/qmgr",
         "date": "D2", "from": "system", "size": "813", "nrcpt": "1"},
    ]
    doc = fold_lines(rows)
    # line 2 is an exact duplicate (dedup), line 3 is a later queued
    # (first-queued-wins) → exactly one event
    assert doc["n_events"] == 1
    assert doc["events"][0]["action"] == "queued"
    assert doc["events"][0]["date"] == "D1"


def test_qmgr_golden_doc():
    """test/postfix-doc.js:100-129 — qmgr line hoists from/size/nrcpt,
    event keeps only {date, action}."""
    doc = fold_lines([{
        "qid": "3mfHGL1r9gzyQP", "host": "mx12", "prog": "postfix/qmgr",
        "date": "Jul  5 20:21:22", "from": "system", "size": "813",
        "nrcpt": "1",
    }])
    assert doc["from"] == "system"
    assert doc["size"] == "813"
    assert doc["nrcpt"] == "1"
    assert doc["isFinal"] is False
    assert doc["events"] == [{"date": "Jul  5 20:21:22", "action": "queued"}]


def test_pickup_sets_uid_no_event():
    """test/postfix-doc.js:131-154 — pickup sets uid, host/date keep
    the first line's values, no event appended."""
    doc = fold_lines([
        {"qid": "Q", "host": "mx12", "prog": "postfix/qmgr",
         "date": "D1", "from": "system", "size": "813", "nrcpt": "1"},
        {"qid": "Q", "host": "mx5", "prog": "postfix/pickup",
         "date": "D2", "uid": "1206", "from": "system"},
    ])
    assert doc["uid"] == "1206"
    assert doc["host"] == "mx12"       # first line wins
    assert doc["date"] == "D1"
    assert doc["n_events"] == 1


def test_bounce_and_error_events():
    """test/postfix-doc.js:156-225 — bounce → action 'bounced' with
    message; error keeps delay/delays inside the event."""
    doc = fold_lines([
        {"qid": "Q", "host": "mx12", "prog": "postfix/qmgr",
         "date": "D1", "from": "system", "size": "813", "nrcpt": "1"},
        {"qid": "Q", "host": "mx5", "prog": "postfix/bounce",
         "date": "D2", "message": "sender non-delivery notification: X"},
        {"qid": "Q", "host": "mx5", "prog": "postfix/error",
         "date": "D3", "to": "t@x.com", "relay": "none", "delay": "34093",
         "delays": "34093/0.07/0/0.19", "dsn": "4.4.1",
         "status": "deferred (timeout)"},
    ])
    evs = doc["events"]
    assert evs[1] == {"date": "D2",
                      "message": "sender non-delivery notification: X",
                      "action": "bounced"}
    assert evs[2]["action"] == "error"
    assert evs[2]["delay"] == "34093"   # error events keep delay
    assert doc.get("delay") is None     # ...and do not hoist it


def test_postsuper_golden_doc():
    """test/postfix-doc.js:227-261 — released-from-hold then removed."""
    doc = fold_lines([
        {"qid": "P", "host": "mailq2", "prog": "postfix/postsuper",
         "date": "N1", "msg": "released from hold"},
        {"qid": "P", "host": "mailq2", "prog": "postfix/postsuper",
         "date": "N2", "msg": "removed"},
    ])
    assert doc["isFinal"] is True
    assert doc["events"] == [
        {"date": "N1", "action": "released from hold"},
        {"date": "N2", "action": "removed"},
    ]


def test_qmgr_expired_status():
    """lib/postfix-doc.js:203-207 — 'expired, returned' → expired
    event keeping from; other statuses dropped as parse errors."""
    doc = fold_lines([
        {"qid": "Q", "host": "h", "prog": "postfix/qmgr", "date": "D1",
         "from": "a@b", "status": "expired, returned to sender"},
        {"qid": "Q", "host": "h", "prog": "postfix/qmgr", "date": "D2",
         "from": "a@b", "status": "weird"},
    ])
    assert doc["n_events"] == 1
    assert doc["events"][0] == {"date": "D1", "from": "a@b",
                                "action": "expired"}


def test_scache_and_cleanup_no_events():
    doc = fold_lines([
        {"qid": "Q", "host": "h", "prog": "postfix/cleanup", "date": "D1",
         "message-id": "mid@x"},
        {"qid": "Q", "host": "h", "prog": "postfix/scache", "date": "D2",
         "msg": "statistics: start interval"},
    ])
    assert doc["message-id"] == "mid@x"
    assert doc["n_events"] == 0


def test_hot_key_golden_doc(spark):
    """A hot key folds in one ordered pass: first-queued-wins, the
    exact-duplicate line suppressed, the last smtp hoist kept, and a
    neighbouring ordinary qid untouched."""
    lines = list(THREE_LINES)
    # plant a hot key: many smtp deliveries + an exact duplicate; the
    # last delivery carries its own delay/delays, so the hoisted pair
    # tells last-wins from first-wins
    hot = [
        f"Jul 26 04:19:{s:02d} mx1 postfix/smtp[99]: 3hotKEYzzz: "
        f"to=<u{s}@x.net>, relay=r[1]:25, "
        + ("delay=1.7, delays=0.8/0.3/0.3/0.3, " if s == 29
           else "delay=0.9, delays=0.4/0.1/0.2/0.2, ")
        + f"dsn=2.0.0, status=sent (250 ok {s})"
        for s in range(30)
    ]
    hot.insert(0, "Jul 26 04:18:00 mx1 postfix/qmgr[99]: 3hotKEYzzz: from=<h@x>, size=5, nrcpt=30 (queue active)")
    # exact duplicate of an early line, placed before the last delivery
    # (a duplicate still hoists, so it must not be the last smtp line)
    hot.insert(30, hot[5])
    hot.append("Jul 26 04:20:00 mx1 postfix/qmgr[99]: 3hotKEYzzz: removed")
    all_lines = lines + hot

    docs = _docs(spark, all_lines)
    assert set(docs) == {"3mfHGL1r9gzyQP", "3hotKEYzzz"}
    assert docs["3mfHGL1r9gzyQP"] == _docs(spark, THREE_LINES)["3mfHGL1r9gzyQP"]
    doc = docs["3hotKEYzzz"]
    # 1 queued + 30 smtp (the duplicate suppressed) + removed
    assert doc["n_events"] == 32
    assert doc["isFinal"] is True
    assert (doc["host"], doc["date"]) == ("mx1", "2015-07-26T04:18:00-07:00")
    assert (doc["from"], doc["size"], doc["nrcpt"]) == ("h@x", "5", "30")
    assert (doc["delay"], doc["delays"]) == ("1.7", "0.8/0.3/0.3/0.3")
    evs = [_ev(e) for e in doc["events"]]
    assert evs[0]["action"] == "queued"
    assert [e["to"] for e in evs[1:31]] == [f"u{s}@x.net" for s in range(30)]
    assert evs[31] == {"date": "2015-07-26T04:20:00-07:00",
                       "action": "removed"}
