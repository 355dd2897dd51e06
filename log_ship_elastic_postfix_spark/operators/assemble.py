"""Per-queue-id document assembly (sessionization).

The reference folds each batch's parsed lines into one nested document
per queue id via an in-memory hash map + per-program merge rules
(/root/reference/lib/logship.js:314-335, lib/postfix-doc.js:147-292).
Here the same ordered, non-commutative fold runs distributed, one
Python call per shuffle partition:

    parsed.repartition("qid").mapInPandas(fold_partition, DOC_SCHEMA)

A hot qid is folded by one task: its doc is one ordered pass over all
of its lines, so splitting the key across tasks cannot divide the work.

Merge-rule semantics (each cites the reference):
- qmgr `removed` → isFinal + {date, action:'removed'} event
  (postfix-doc.js:196-199); `expired, returned` status → action
  'expired' (:203-207); other status → parse-error drop (:209);
  else action 'queued', hoist from/size/nrcpt, null sender → ''
  (:214-222)
- smtp: hoist delay/delays to root, event keeps the rest (:184-193)
- cleanup: copy message-id/resent-message-id, **no event** (:153-157)
- scache: silently ignore `statistics` lines, else drop (:159-162)
- pickup: doc.uid, no event (:163-165)
- error → action 'error'; bounce → 'bounced'; local passes (:166-173)
- postsuper: `removed` → isFinal; event {date, action: msg} (:225-231)
- rmilter/rspamd: queue-id hoisted at parse; synthesized actions
  (:233-269)
- addEvent: first-`queued`-wins, strip qid/host/prog, exact-duplicate
  suppression, ordered append (:271-292). The reference's duplicate
  check is JSON.stringify equality (key-insertion-order sensitive); we
  canonicalize to sorted-key tuples — equal for identically-shaped
  events, deterministic always.
"""

from __future__ import annotations

from typing import Iterable, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (ArrayType, BooleanType, LongType, StringType,
                               StructField, StructType)

EVENT_FIELDS = [
    "date", "action", "from", "to", "relay", "delay", "delays", "dsn",
    "status", "message", "msg", "score", "spam_scan", "virus_scan", "dkim",
    # the reference strips ONLY qid/host/prog from events
    # (lib/postfix-doc.js:280-282); queue_id (rmilter/rspamd) and uid
    # (pickup replay path) stay visible inside event bodies
    "queue_id", "uid",
]

EVENT_TYPE = StructType([StructField(f, StringType()) for f in EVENT_FIELDS])

DOC_FIELDS = [
    StructField("qid", StringType(), False),
    StructField("host", StringType()),
    StructField("date", StringType()),
    StructField("isFinal", BooleanType()),
    StructField("from", StringType()),
    StructField("size", StringType()),
    StructField("nrcpt", StringType()),
    StructField("uid", StringType()),
    StructField("delay", StringType()),
    StructField("delays", StringType()),
    StructField("message-id", StringType()),
    StructField("resent-message-id", StringType()),
    StructField("events", ArrayType(EVENT_TYPE)),
    StructField("n_events", LongType()),
]
DOC_SCHEMA = StructType(DOC_FIELDS)

# the fold's line order within a qid. A state seed row carries -1 in
# both (operators.state.merge_with_state), so it sorts first
ORDER_COLS = ("batch_seq", "line_no")

_HOIST_SMTP = ("delay", "delays")
_HOIST_QMGR = ("from", "size", "nrcpt")
_COPY_CLEANUP = ("message-id", "resent-message-id")
_EVENT_FIELD_SET = frozenset(EVENT_FIELDS)


def _event_key(e: dict) -> frozenset:
    """Canonical event identity for duplicate suppression: the SET of
    (field, value) items — equality matches the reference's
    JSON.stringify comparison for identically-shaped events without its
    key-insertion-order sensitivity. Callers guarantee events are
    null-free before keying (every append path filters first), so no
    per-item None check is needed here."""
    return frozenset(e.items())


class _EventAcc:
    """Ordered event list with bounded-cost duplicate suppression.

    The reference's addEvent scans the whole list per append
    (lib/postfix-doc.js:271-292) — O(n²) per doc, which detonates on
    hot keys (a 100k-event relay doc needs 5×10⁹ comparisons). Same
    semantics, two regimes: typical docs (≤8 events) dedup by direct
    dict equality (C-speed, equals the canonical frozenset identity
    because events are null-free); beyond that a key set makes
    membership O(1) so hot keys stay linear."""

    _SMALL = 8

    __slots__ = ("events", "seen", "has_queued")

    def __init__(self, events: Optional[list[dict]] = None):
        self.events: list[dict] = []
        self.seen: Optional[set] = None
        self.has_queued = False
        for e in events or []:
            self.append(e)

    def append(self, e: dict, clean: bool = False) -> None:
        """``clean=True``: caller guarantees e is already null-free and
        carries no qid/host/prog (the _dispatch fast path — events are
        built field-filtered from the start)."""
        if not clean:
            e = {k: v for k, v in e.items()
                 if v is not None and k not in ("qid", "host", "prog")}
        if e.get("action") == "queued":
            if self.has_queued:
                return
            self.has_queued = True
        if self.seen is None:
            if e in self.events:
                return
            self.events.append(e)
            if len(self.events) > self._SMALL:
                self.seen = {_event_key(ev) for ev in self.events}
            return
        key = _event_key(e)
        if key in self.seen:
            return
        self.seen.add(key)
        self.events.append(e)


def _event_from(lo: dict, action: str | None = None,
                drop: tuple = (), msg: str | None = None) -> dict:
    """Build a clean event straight from the (sparse) line dict: one
    pass, no intermediate copies. Equivalent to the reference's mutate
    lo → addEvent(strip) sequence: non-null EVENT_FIELDS minus the
    hoisted ``drop`` keys, plus a synthesized action / overridden msg."""
    e = {k: v for k, v in lo.items()
         if v is not None and k in _EVENT_FIELD_SET and k not in drop}
    if action is not None:
        e["action"] = action
    if msg is not None:
        e["msg"] = msg
    return e


def _dispatch(doc: dict, lo: dict, events: _EventAcc) -> None:
    """Apply one parsed line to a doc (reference update(),
    lib/postfix-doc.js:147-182)."""
    prog = lo.get("prog") or ""
    if prog == "postfix/qmgr":
        if lo.get("msg") == "removed":
            doc["isFinal"] = True
            events.append({"date": lo.get("date"), "action": "removed"})
            return
        if lo.get("status"):
            if "expired, returned" in lo["status"]:
                events.append(_event_from(lo, "expired", drop=("status",)),
                              clean=True)
            return  # other statuses: parse-error drop
        for f in _HOIST_QMGR:
            doc[f] = lo.get(f)
        if doc.get("from") is None:
            doc["from"] = ""  # null sender
        events.append(_event_from(lo, "queued", drop=_HOIST_QMGR),
                      clean=True)
        return
    if prog == "postfix/smtp":
        for f in _HOIST_SMTP:
            if lo.get(f) is not None:
                doc[f] = lo[f]
        events.append(_event_from(lo, drop=_HOIST_SMTP), clean=True)
        return
    if prog == "postfix/cleanup":
        for f in _COPY_CLEANUP:
            if lo.get(f) is not None:
                doc[f] = lo[f]
        return
    if prog == "postfix/scache":
        return  # statistics lines ignored; others are parse errors
    if prog == "postfix/pickup":
        doc["uid"] = lo.get("uid")
        return
    if prog == "postfix/postsuper":
        if lo.get("msg") == "removed":
            doc["isFinal"] = True
        events.append({"date": lo.get("date"), "action": lo.get("msg")})
        return
    if prog == "postfix/error":
        events.append(_event_from(lo, "error"), clean=True)
        return
    if prog == "postfix/bounce":
        events.append(_event_from(lo, "bounced"), clean=True)
        return
    if prog == "postfix/local":
        events.append(_event_from(lo), clean=True)
        return
    if prog.startswith("rmilter"):
        # rmilter-only action synthesis (lib/postfix-doc.js:233-255) —
        # the reference never applies these to rspamd lines
        action = None
        if lo.get("spam_scan") is not None:
            action = f"rmilter_spam_{lo['spam_scan']}"
        if lo.get("virus_scan") is not None:
            action = f"rmilter_virus_{lo['virus_scan']}"
        if lo.get("dkim") is not None:
            action = f"rmilter_dkim_{lo['dkim']}"
        events.append(_event_from(lo, action, msg=lo.get("raw_msg")),
                      clean=True)
        return
    if prog.startswith("rspamd"):
        # rspamd rule (lib/postfix-doc.js:257-269): default action only
        # when a scan result (score) is present and no action was parsed
        action = ("rspamd_scan_result"
                  if lo.get("action") is None and lo.get("score") is not None
                  else lo.get("action"))
        events.append(_event_from(lo, action, msg=lo.get("raw_msg")),
                      clean=True)
        return
    # unknown postfix subprogram: generic event append (reference
    # default switch fall-through, lib/postfix-doc.js:181)
    events.append(_event_from(lo), clean=True)


def fold_lines(rows: Iterable[dict], seed: Optional[dict] = None) -> Optional[dict]:
    """Pure-Python ordered fold: parsed lines (already sorted) → doc.

    ``seed`` is a previously-committed doc (the state-continuation path,
    reference lib/logship.js:295-306); its events come first.
    Also serves as the test oracle.
    """
    rows = list(rows)
    root_keys = ("qid", "host", "date", "isFinal", "from", "size", "nrcpt",
                 "uid", "delay", "delays", "message-id", "resent-message-id")
    doc: Optional[dict] = None
    acc = _EventAcc()
    if seed is not None:
        doc = {k: seed.get(k) for k in root_keys}
        acc = _EventAcc([dict(e) for e in (seed.get("events") or [])])
    for lo in rows:
        if doc is None:
            doc = {"qid": lo["qid"], "host": lo.get("host"),
                   "date": lo.get("date"), "isFinal": False}
        _dispatch(doc, lo, acc)
    if doc is None:
        return None
    for k in root_keys:  # canonical shape: every root key present
        doc.setdefault(k, None)
    doc["events"] = acc.events
    doc["n_events"] = len(acc.events)
    return doc


_EVENT_TEMPLATE = {f: None for f in EVENT_FIELDS}


def _doc_to_row(doc: dict) -> dict:
    row = {f.name: doc.get(f.name) for f in DOC_FIELDS if f.name != "events"}
    # dense (all-field) event dicts for Arrow, via C-speed dict merge
    row["events"] = [_EVENT_TEMPLATE | e for e in doc["events"]]
    return row


def _fold_partition_factory(chunk: int = 2048):
    """mapInPandas fold: sort the whole shuffle partition once, then a
    single itertools.groupby pass over record dicts.

    Physical rationale: ``groupBy().applyInPandas`` invokes Python and
    builds a pandas frame once **per group**; with ~1 doc per 4 lines
    that is one call per emitted row — measured ~10× slower than one
    call per partition. ``repartition(keys) + mapInPandas`` keeps the
    identical exchange but amortizes the Python boundary over the whole
    partition. Partition must fit in memory — true by construction:
    shuffle partitions are sized by spark.sql.shuffle.partitions /
    AQE target size, not by corpus size.

    State continuation rides the same fold: a committed doc enters as a
    seed row (``_seed_json`` column, batch_seq/line_no = −1 so it sorts
    before every real line of its qid) — the MERGE-style alternative to
    a per-key cogroup.
    """
    import json
    from itertools import groupby as igroupby

    def fold_partition(batches):
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        sort_cols = [c for c in ("qid", *ORDER_COLS) if c in pdf.columns]
        pdf = pdf.sort_values(sort_cols, kind="mergesort")
        # sparse row dicts (skip nulls): most parsed fields are null on
        # any given line, and fold_lines reads via .get(). Null
        # detection runs column-wise in C (notna + nonzero); Python
        # touches only the ~8 non-null cells per row instead of
        # zip/checking all ~29 columns
        import numpy as np

        cols = pdf.columns.tolist()
        n = len(pdf)
        all_rows: list[dict] = [{} for _ in range(n)]
        for c in cols:
            arr = pdf[c].to_numpy(dtype=object, copy=False)
            for i in np.nonzero(pd.notna(arr))[0]:
                all_rows[i][c] = arr[i]
        out: list[dict] = []
        for _, grp in igroupby(all_rows, key=lambda r: r["qid"]):
            rows = list(grp)
            seed = None
            if rows and rows[0].get("_seed_json"):
                seed = json.loads(rows[0]["_seed_json"])
                rows = rows[1:]
            doc = fold_lines(rows, seed=seed)
            if doc is not None:
                out.append(_doc_to_row(doc))
            if len(out) >= chunk:
                yield pd.DataFrame(out)
                out = []
        if out:
            yield pd.DataFrame(out)

    return fold_partition


def assemble(parsed: DataFrame) -> DataFrame:
    """parsed lines → one doc per qid, folded in :data:`ORDER_COLS`
    order.

    The repartition on qid is the pipeline's only wide dependency —
    the same single hash exchange a groupBy would plan; the fold runs
    once per shuffle partition (see _fold_partition_factory).
    """
    return parsed.repartition("qid").mapInPandas(
        _fold_partition_factory(), DOC_SCHEMA)
