"""Seeded inputs: the seed moves order, layout, parents and batch cuts,
never the closed-form expected counts."""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

from perfbench import inputs

SPEC = inputs.PagesSpec(n_urls=40, n_hot=2, hot_lines=6)


def test_closed_form_counts():
    rows = inputs.page_rows(SPEC)
    assert len(rows["uidx"]) == SPEC.total_lines()
    # 4 urls per scenario: two scenario-6 reject lines and one
    # scenario-9 qid-less line each
    assert SPEC.expected_rejects() == {"prog_filtered": 4,
                                       "envelope_miss": 4, "no_qid": 4}
    assert SPEC.expected_events(0) == inputs.EXPECT[0][0] + 6
    assert inputs.qid_of(0) == "30zXy" and inputs.qid_of(36) == "310zXy"


def test_lines_are_syslog_shaped():
    rows = inputs.page_rows(inputs.PagesSpec(n_urls=10, n_hot=0,
                                             hot_lines=0))
    html = rows["html"][0].decode()
    assert html.startswith("<!--LOG[Jul 24 04:00:00 mx1 postfix/cleanup[100]:"
                           " 30zXy: message-id=<M0@anc-dev-web1.example.net>]")
    garbage = [h.decode() for u, li, h in
               zip(rows["uidx"], rows["li"], rows["html"]) if (u, li) == (6, 1)]
    assert "mx7 madeup: Gobbely Gook" in garbage[0]


def test_seed_moves_layout_not_content(tmp_path):
    tables = []
    for seed in (1, 2):
        path = str(tmp_path / f"pages_{seed}")
        inputs.stage_pages(SPEC, path, np.random.default_rng(seed))
        files = sorted(os.listdir(path))
        assert len(files) == 2
        tables.append(pq.read_table(path).to_pandas())
    a, b = tables
    assert list(a["url"]) != list(b["url"])          # order differs
    key = ["url", "warc_ts"]
    assert a.sort_values(key).reset_index(drop=True).equals(
        b.sort_values(key).reset_index(drop=True))   # content does not


def test_parents_are_a_fixed_count():
    one = inputs.parent_qids(SPEC, np.random.default_rng(1), 10)
    two = inputs.parent_qids(SPEC, np.random.default_rng(2), 10)
    assert len(set(one)) == len(set(two)) == 10
    assert one != two


def test_batch_cuts_keep_line_order():
    rows = inputs.page_rows(SPEC)
    batch_of = inputs.cut_batches(SPEC, rows, 3, np.random.default_rng(5))
    per_url: dict[int, list[int]] = {}
    for u, b in zip(rows["uidx"], batch_of):
        per_url.setdefault(u, []).append(b)
    for bs in per_url.values():
        assert bs == sorted(bs)                       # cut in line order
        assert set(bs) <= {0, 1, 2}


def test_docs_per_batch():
    rows = inputs.page_rows(SPEC)
    one = inputs.docs_per_batch(SPEC, [0] * len(rows["uidx"]), 1)
    assert one == [SPEC.n_urls]             # every url has a qid line
    batch_of = inputs.cut_batches(SPEC, rows, 3, np.random.default_rng(5))
    three = inputs.docs_per_batch(SPEC, batch_of, 3)
    assert SPEC.n_urls <= sum(three) <= 3 * SPEC.n_urls
