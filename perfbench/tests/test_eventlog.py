"""The event-log layer mapper over a small recorded event log
(``data/eventlog_small.json.gz``, written by ``make_fixture.py``).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import gzip
import json
import os

import pytest

from perfbench import eventlog

HERE = os.path.dirname(os.path.abspath(__file__))


@pytest.fixture(scope="module")
def fixture():
    with gzip.open(os.path.join(HERE, "data", "eventlog_small.json.gz"),
                   "rt") as fh:
        return json.load(fh)


@pytest.fixture(scope="module")
def log(fixture):
    return eventlog.EventLog(fixture["events"], fixture["roots"], slots=2)


def _window(log, fixture, name):
    t0, t1 = fixture["windows"][name]
    return log.window(t0, t1)


ROOTS = {"pages": ["/data/bench/pages"], "state": ["/data/bench/state_1"]}


@pytest.mark.parametrize("name,desc,module", [
    ("MapInArrow", "MapInArrow grok_arrow(line#6)#11, [qid#17]",
     "operators.parse"),
    ("MapInPandas", "MapInPandas fold_partition(qid#17)", "operators.assemble"),
    ("Exchange", "Exchange hashpartitioning(qid#17, 8), REPARTITION_BY_COL",
     "plans.pipeline"),
    ("Exchange", "Exchange hashpartitioning(reject_reason#38, 8)", None),
    ("Scan parquet ", "FileScan parquet [url#0] Location: "
     "InMemoryFileIndex(1 paths)[file:/data/bench/pages]", "sources.pages"),
    ("Scan parquet ", "FileScan parquet [qid#0] Location: "
     "InMemoryFileIndex(1 paths)[file:/data/bench/state_1]",
     "operators.state"),
    # a whole-path match: state_10 is not state_1
    ("Scan parquet ", "FileScan parquet [qid#0] Location: "
     "InMemoryFileIndex(1 paths)[file:/data/bench/state_10]", None),
    ("Execute InsertIntoHadoopFsRelationCommand",
     "Execute InsertIntoHadoopFsRelationCommand file:/data/bench/state_1, "
     "false, [sink#9]", "operators.state"),
    ("Execute InsertIntoHadoopFsRelationCommand",
     "Execute InsertIntoHadoopFsRelationCommand file:/data/bench/sink_0, "
     "false, [sink#9]", "operators.route"),
    ("BroadcastHashJoin", "BroadcastHashJoin [qid#77], [_pq#91], LeftOuter",
     None),
])
def test_classify(name, desc, module):
    assert eventlog.classify(name, desc, ROOTS) == module


def test_batch_layers(log, fixture):
    v = _window(log, fixture, "batch").values
    want = fixture["expect"]
    # the stateless batch runs the grok once over every line and folds
    # one doc per url, written by the routed sink write
    assert v["operators.parse.rows_out"] == want["batch_lines"]
    assert v["operators.assemble.rows_out"] == want["batch_docs"]
    assert v["operators.route.rows_written"] == want["batch_docs"]
    assert v["operators.route.files"] >= 1
    assert v["operators.parse.python_s"] > 0
    assert v["operators.assemble.python_s"] > 0
    assert v["plans.pipeline.shuffle_bytes"] > 0
    assert v["sources.pages.bytes_read"] > 0
    # the largest fold partition holds at most every parsed line
    assert 0 < v["operators.assemble.max_partition_rows"] <= want["batch_lines"]
    assert "operators.state.bytes" not in v
    assert v["jobs"] >= 1
    assert 0 <= v["slot_idle_frac"] <= 1


def test_state_layers(log, fixture):
    first = _window(log, fixture, "state_batch_0").values
    second = _window(log, fixture, "state_batch_1").values
    # the first batch finds no committed state; the second matches the
    # qids whose lines were cut across both batches
    assert first.get("operators.state.matched_docs", 0) == 0
    assert second["operators.state.matched_docs"] == \
        fixture["expect"]["matched_docs"]
    for v in (first, second):
        assert v["operators.state.bytes"] > 0
        assert v["operators.state.files"] >= 1
        assert "operators.route.bytes" not in v
    assert second["operators.state.scan_s"] >= 0
    assert second["operators.state.bytes_read"] > 0


def test_dedup_verify(log, fixture):
    v = _window(log, fixture, "neardup_clusters").values
    assert v["operators.dedup.verified_rows"] == \
        fixture["expect"]["verified_pairs"]
    assert v["operators.dedup.candidate_rows"] >= \
        v["operators.dedup.verified_rows"]


def test_unmapped_nodes_are_listed(log, fixture):
    w = _window(log, fixture, "batch")
    # the sort before the partitioned write and the reject filter map
    # to no module: they are listed, and the task time the mapped nodes
    # do not report stays in the remainder
    assert w.unmapped["Sort"] >= 1
    assert w.unmapped["Filter"] >= 1
    assert "MapInArrow" not in w.unmapped
    assert 0 < w.values["unattributed.task_s"] < w.values["task_s"]


def test_window_outside_run_is_empty(log, fixture):
    t0 = min(t for t, _ in fixture["windows"].values())
    w = log.window(t0 - 3600, t0 - 1800)
    assert w.values["jobs"] == 0
    assert not w.unmapped
