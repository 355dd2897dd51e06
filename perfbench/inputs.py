"""Seeded benchmark inputs, built without Spark.

The pages table is the shape ``bench.py`` stages through the library's
generator: one row per syslog line, ten Postfix message-lifecycle
scenarios (``uidx % 10``) and ``n_hot`` hot urls with ``hot_lines``
extra smtp lines each. The line content is a fixed function of
``uidx``; the seed only moves what the expected counts do not depend
on: the row order and file layout of every staged table, which qids
get a parent, and where each url's lines are cut across the
incremental batches.

The scenario templates are kept here, not imported, so that the
benchmark's inputs stay fixed while the program changes.
"""

from __future__ import annotations

import datetime as dt
import os
import re
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# (prog, message template); %1$s=qid %2$s=sender %3$s=rcpt %4$s=relay
# %5$s=msgid %6$d=line index
SCENARIOS: list[list[tuple[str, str]]] = [
    [  # 0: full delivery
        ("postfix/cleanup", "%1$s: message-id=<%5$s>"),
        ("postfix/qmgr", "%1$s: from=<%2$s>, size=2666, nrcpt=2 (queue active)"),
        ("postfix/smtp", "%1$s: to=<%3$s>, relay=%4$s, delay=0.51, delays=0.44/0.01/0.05/0.01, dsn=2.0.0, status=sent (250 2.0.0 Ok: queued as Abc123)"),
        ("postfix/qmgr", "%1$s: removed"),
    ],
    [  # 1: null sender + exact duplicate smtp line
        ("postfix/qmgr", "%1$s: from=<>, size=813, nrcpt=1 (queue active)"),
        ("postfix/smtp", "%1$s: to=<%3$s>, relay=%4$s, delay=0.53, delays=0.13/0/0.23/0.16, dsn=2.0.0, status=sent (250 Queued!)"),
        ("postfix/smtp", "%1$s: to=<%3$s>, relay=%4$s, delay=0.53, delays=0.13/0/0.23/0.16, dsn=2.0.0, status=sent (250 Queued!)"),
        ("postfix/qmgr", "%1$s: removed"),
    ],
    [  # 2: pickup + local
        ("postfix/pickup", "%1$s: uid=1206 from=<%2$s>"),
        ("postfix/qmgr", "%1$s: from=<%2$s>, size=451, nrcpt=1 (queue active)"),
        ("postfix/local", "%1$s: to=<%3$s>, relay=local, dsn=2.0.0, status=sent (delivered to maildir)"),
        ("postfix/qmgr", "%1$s: removed"),
    ],
    [  # 3: bounce + error
        ("postfix/qmgr", "%1$s: from=<%2$s>, size=1999, nrcpt=1 (queue active)"),
        ("postfix/bounce", "%1$s: sender non-delivery notification: Bn40tx2Qz"),
        ("postfix/error", "%1$s: to=<%3$s>, relay=none, delay=34093, delays=34093/0.07/0/0.19, dsn=4.4.1, status=deferred (connection timed out)"),
        ("postfix/qmgr", "%1$s: removed"),
    ],
    [  # 4: postsuper hold/release
        ("postfix/qmgr", "%1$s: from=<%2$s>, size=720, nrcpt=1 (queue active)"),
        ("postfix/postsuper", "%1$s: released from hold"),
        ("postfix/postsuper", "%1$s: removed"),
    ],
    [  # 5: rspamd scan then delivery
        ("rspamd", "rspamd_message_parse: loaded message; queue-id: <%1$s>; score=4.50"),
        ("postfix/qmgr", "%1$s: from=<%2$s>, size=3120, nrcpt=1 (queue active)"),
        ("postfix/smtp", "%1$s: to=<%3$s>, relay=%4$s, delay=1.02, delays=0.5/0.1/0.3/0.12, dsn=2.0.0, status=sent (250 ok)"),
        ("postfix/qmgr", "%1$s: removed"),
    ],
    [  # 6: reject lines interleaved (prog filter + envelope miss)
        ("spamd", "spamd: identified spam (9.3/5.0) for nagios:1209 in 0.8 seconds, 5 bytes."),
        ("__garbage__", "Gobbely Gook"),
        ("postfix/qmgr", "%1$s: from=<%2$s>, size=100, nrcpt=1 (queue active)"),
        ("postfix/qmgr", "%1$s: removed"),
    ],
    [  # 7: expired, returned to sender
        ("postfix/qmgr", "%1$s: from=<%2$s>, size=222, nrcpt=1 (queue active)"),
        ("postfix/qmgr", "%1$s: from=<%2$s>, status=expired, returned to sender"),
        ("postfix/qmgr", "%1$s: removed"),
    ],
    [  # 8: still open (no removal: isFinal=false)
        ("postfix/cleanup", "%1$s: message-id=<%5$s>"),
        ("postfix/qmgr", "%1$s: from=<%2$s>, size=5500, nrcpt=3 (queue active)"),
        ("postfix/smtp", "%1$s: to=<%3$s>, relay=%4$s, delay=300, delays=299/0.5/0.2/0.3, dsn=4.0.0, status=deferred (lost connection)"),
    ],
    [  # 9: scache statistics (qid-less line) + delivery
        ("postfix/scache", "statistics: start interval Jul 26 04:00:00"),
        ("postfix/qmgr", "%1$s: from=<%2$s>, size=640, nrcpt=1 (queue active)"),
        ("postfix/qmgr", "%1$s: removed"),
    ],
]
HOT_SMTP = ("postfix/smtp", "%1$s: to=<bulk%6$d@list.example.net>, relay=%4$s, delay=0.9, delays=0.4/0.1/0.2/0.2, dsn=2.0.0, status=sent (250 ok %6$d)")

# per scenario, independent of the fold implementation:
# (n_events, isFinal, {reject_reason: lines})
EXPECT: dict[int, tuple[int, bool, dict[str, int]]] = {
    0: (3, True, {}),
    1: (3, True, {}),   # the duplicate smtp line is suppressed
    2: (3, True, {}),   # pickup adds no event
    3: (4, True, {}),
    4: (3, True, {}),
    5: (4, True, {}),
    6: (2, True, {"prog_filtered": 1, "envelope_miss": 1}),
    7: (3, True, {}),
    8: (2, False, {}),
    9: (2, True, {"no_qid": 1}),
}
# lines that carry the url's qid (the scenario-6 reject lines and the
# scenario-9 scache line do not)
QID_LESS = {(6, 0), (6, 1), (9, 0)}

_VOCAB = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
    "oscar", "papa", "quebec", "romeo", "sierra", "tango", "uniform",
    "victor", "whiskey", "xray", "yankee", "zulu",
]
_LANGS = ["en", "de", "fr", "es", "zh"]
_B36 = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_POS = re.compile(r"%(\d)\$[sd]")


def _fmt(template: str, args: tuple) -> str:
    return _POS.sub(lambda m: str(args[int(m.group(1)) - 1]), template)


def qid_of(uidx: int) -> str:
    digits, n = "", uidx
    while True:
        n, r = divmod(n, 36)
        digits = _B36[r] + digits
        if n == 0:
            break
    return "3" + digits + "zXy"


@dataclass(frozen=True)
class PagesSpec:
    n_urls: int
    n_hot: int
    hot_lines: int

    def n_lines(self, uidx: int) -> int:
        return (len(SCENARIOS[uidx % 10])
                + (self.hot_lines if uidx < self.n_hot else 0))

    def expected_events(self, uidx: int) -> int:
        return (EXPECT[uidx % 10][0]
                + (self.hot_lines if uidx < self.n_hot else 0))

    def total_lines(self) -> int:
        return sum(self.n_lines(u) for u in range(self.n_urls))

    def expected_rejects(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for uidx in range(self.n_urls):
            for reason, n in EXPECT[uidx % 10][2].items():
                out[reason] = out.get(reason, 0) + n
        return out


def page_rows(spec: PagesSpec) -> dict[str, list]:
    """Every (url, line) row in generation order, plus the bookkeeping
    columns ``uidx`` and ``li`` the batch cutter needs."""
    cols: dict[str, list] = {k: [] for k in
                             ("uidx", "li", "url", "warc_ts", "html",
                              "text", "lang")}
    for uidx in range(spec.n_urls):
        scen = uidx % 10
        hot = uidx < spec.n_hot
        args = (qid_of(uidx), f"sender{uidx % 97}@origin.example.com",
                f"rcpt{uidx % 53}@dest.example.net",
                f"10.2.2.{uidx % 7 + 1}[10.2.2.{uidx % 7 + 1}]:2527",
                f"M{uidx}@anc-dev-web1.example.net")
        host = "mx1" if hot else f"mx{uidx % 8 + 1}"
        tkey = uidx - 1 if (uidx % 17 == 1 and uidx > 0) else uidx
        text = " ".join(_VOCAB[(tkey * 31 + i * 7) % 26]
                        for i in range(tkey % 20 + 10))
        url = f"https://crawl.example.org/{uidx % 1000}/page-{uidx}.html"
        day = 24 + uidx % 3
        base = SCENARIOS[scen]
        for li in range(spec.n_lines(uidx)):
            prog, tmpl = base[li] if li < len(base) else HOT_SMTP
            eff_li = 1 if (scen == 1 and li == 2) else li
            tot = uidx * 7 + eff_li
            hh, mi, ss = 4 + (tot % 43200) // 3600, (tot % 3600) // 60, tot % 60
            msg = _fmt(tmpl, args + (li,))
            stamp = f"Jul {day:2d} {hh:02d}:{mi:02d}:{ss:02d}"
            if prog == "__garbage__":
                line = f"{stamp} {host} madeup: {msg}"
            else:
                line = f"{stamp} {host} {prog}[{uidx % 30000 + 100}]: {msg}"
            cols["uidx"].append(uidx)
            cols["li"].append(li)
            cols["url"].append(url)
            cols["warc_ts"].append(dt.datetime(2024, 7, day, hh, mi, ss))
            cols["html"].append(
                f"<!--LOG[{line}]GOL--><html><body><p>{text}</p>"
                f"</body></html>".encode())
            cols["text"].append(text)
            cols["lang"].append(_LANGS[uidx % 5])
    return cols


PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])


# files per staged table: one scan task per slot of local[2]
N_FILES = 2


def write_layout(table: pa.Table, path: str,
                 rng: np.random.Generator) -> None:
    """Write ``table`` in a seeded row order as ``N_FILES`` parquet
    files cut at seeded offsets, each within a tenth of an equal split.
    The file count is fixed, so the seed moves the layout but not the
    number of scan tasks, nor, for the corpus tables, the
    single-row-group test at which the queries add a repartition."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    table = table.take(pa.array(rng.permutation(n)))
    share = n / N_FILES
    jitter = int(share / 10)
    cuts = [min(max(round(share * i) + int(rng.integers(-jitter, jitter + 1)),
                    1), n - 1) for i in range(1, N_FILES)]
    bounds = [0, *sorted(cuts), n]
    for i in range(N_FILES):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def stage_pages(spec: PagesSpec, path: str, rng: np.random.Generator,
                rows: dict[str, list] | None = None) -> None:
    rows = rows if rows is not None else page_rows(spec)
    table = pa.table({k: rows[k] for k in PAGES_SCHEMA.names},
                     schema=PAGES_SCHEMA)
    write_layout(table, path, rng)


def parent_qids(spec: PagesSpec, rng: np.random.Generator,
                n_parents: int) -> list[int]:
    """Which urls get a parent: a seeded choice of a fixed count."""
    return sorted(rng.choice(spec.n_urls, size=n_parents,
                             replace=False).tolist())


def stage_parents(uidxs: list[int], path: str,
                  rng: np.random.Generator) -> None:
    table = pa.table({"qid": [qid_of(u) for u in uidxs],
                      "parent": [f"parent-{u}" for u in uidxs]})
    write_layout(table, path, rng)


def cut_batches(spec: PagesSpec, rows: dict[str, list], n_batches: int,
                rng: np.random.Generator) -> list[int]:
    """Batch of every row: each url's lines are cut in line order into
    ``n_batches`` contiguous runs at seeded cut points (a run may be
    empty), the way a log tail cuts message lifecycles."""
    cuts = {}
    for uidx in range(spec.n_urls):
        n = spec.n_lines(uidx)
        cuts[uidx] = np.sort(rng.integers(0, n + 1, size=n_batches - 1))
    return [int(np.searchsorted(cuts[u], li, side="right"))
            for u, li in zip(rows["uidx"], rows["li"])]


def stage_incremental(spec: PagesSpec, root: str, n_batches: int,
                      rng: np.random.Generator
                      ) -> tuple[list[str], list[int]]:
    """One pages table per batch. Returns their paths in batch order
    and the batch of every row of ``page_rows(spec)``."""
    rows = page_rows(spec)
    batch_of = np.array(cut_batches(spec, rows, n_batches, rng))
    table = pa.table({k: rows[k] for k in PAGES_SCHEMA.names},
                     schema=PAGES_SCHEMA)
    paths = []
    for b in range(n_batches):
        p = os.path.join(root, f"batch_{b}")
        write_layout(table.filter(pa.array(batch_of == b)), p, rng)
        paths.append(p)
    return paths, batch_of.tolist()


def docs_per_batch(spec: PagesSpec, batch_of: list[int],
                   n_batches: int) -> list[int]:
    """Docs each batch routes: urls with a qid-bearing line in it."""
    urls: list[set[int]] = [set() for _ in range(n_batches)]
    i = 0
    for uidx in range(spec.n_urls):
        for li in range(spec.n_lines(uidx)):
            if (uidx % 10, li) not in QID_LESS:
                urls[batch_of[i]].add(uidx)
            i += 1
    return [len(u) for u in urls]


CORPUS_TABLES = ("documents", "embeddings")


def stage_corpus(data_dir: str, out_dir: str,
                 rng: np.random.Generator) -> None:
    """Re-stage the committed corpus tables in a seeded row order and
    file layout (``<out_dir>/<name>.parquet/part-*.parquet``)."""
    for name in CORPUS_TABLES:
        table = pq.read_table(os.path.join(data_dir, f"{name}.parquet"))
        write_layout(table, os.path.join(out_dir, f"{name}.parquet"), rng)
