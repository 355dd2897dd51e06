"""Layer split of one traced run from Spark's own event log.

The traced run sets ``spark.eventLog.enabled`` (uncompressed). This
module reads that log, maps SQL plan nodes onto the program's module
names and sums each node's SQL metrics (task accumulator updates plus
driver-side updates) over the executions that started inside a time
window, which the benchmark takes from its own spans. So the split
comes from the same run as the end-to-end time, never from
subtracting separate runs.

Node → module rules (``classify``):

- ``MapInArrow`` → ``operators.parse`` (the RE2 grok)
- ``MapInPandas`` → ``operators.assemble`` (the per-qid fold)
- ``Exchange hashpartitioning(qid…)`` → ``plans.pipeline``
- a parquet scan of a pages table → ``sources.pages``
- a parquet scan of the state path → ``operators.state``
- a write → ``operators.state`` when it targets the state path, else
  ``operators.route``

Every other node is unmapped. ``Window.unmapped`` lists them by name
and ``unattributed.task_s`` reports the task time no mapped node
accounts for, so the split always shows its remainder. Two counts are
read off unmapped nodes: the state lookup's matched docs (the cached
inner join over a state scan) and the near-dup verify's candidate and
verified pairs (the join or filter testing the Jaccard threshold).
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import Counter
from dataclasses import dataclass, field
from typing import Iterable, Optional

PARSE = "operators.parse"
ASSEMBLE = "operators.assemble"
PIPELINE = "plans.pipeline"
PAGES = "sources.pages"
STATE = "operators.state"
ROUTE = "operators.route"

_WRITE = "Execute InsertIntoHadoopFsRelationCommand"
_CODEGEN_ID = re.compile(r" \(\d+\)$")
_QID_EXCHANGE = re.compile(r"^Exchange hashpartitioning\(qid#")
# the near-dup verify: jaccard = |A ∩ B| / |A ∪ B| compared against the
# threshold, in a Filter or pushed into the join condition
_VERIFY = re.compile(r"array_intersect\(.* >= ")


def load_events(path: str) -> list[dict]:
    """All events of one application: ``path`` is an event-log file or
    a rolling event-log directory (``eventlog_v2_*``)."""
    files = ([path] if os.path.isfile(path)
             else sorted(glob.glob(os.path.join(path, "events_*")),
                         key=lambda p: int(os.path.basename(p)
                                           .split("_")[1])))
    events = []
    for f in files:
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def find_app_log(log_dir: str) -> str:
    """The single application log written under ``log_dir``."""
    found = sorted(glob.glob(os.path.join(log_dir, "*")))
    found = [f for f in found if not os.path.basename(f).startswith(".")]
    if len(found) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {found}")
    return found[0]


def classify(name: str, desc: str, roots: dict[str, list[str]]) -> Optional[str]:
    """Module of one plan node, or None when no rule maps it.

    ``roots`` names the paths that identify scans and writes:
    ``roots["pages"]`` (pages tables) and ``roots["state"]`` (the state
    table)."""
    if name == "MapInArrow":
        return PARSE
    if name == "MapInPandas":
        return ASSEMBLE
    if name == "Exchange" and _QID_EXCHANGE.match(desc):
        return PIPELINE
    if name.startswith("Scan parquet"):
        if _mentions(desc, roots.get("state", [])):
            return STATE
        if _mentions(desc, roots.get("pages", [])):
            return PAGES
        return None
    if name == _WRITE:
        return STATE if _mentions(desc, roots.get("state", [])) else ROUTE
    return None


def _mentions(desc: str, paths: Iterable[str]) -> bool:
    """Whether ``desc`` names one of ``paths`` (as a whole path, so
    ``state_1`` does not match ``state_10``)."""
    return any(re.search(re.escape(p.rstrip("/")) + r"(?![\w.-])", desc)
               for p in paths if p)


@dataclass
class Node:
    name: str
    desc: str
    metrics: dict[str, tuple[int, str]]       # metric name → (id, type)
    children: list["Node"]


def _node(info: dict) -> Node:
    return Node(info["nodeName"], info.get("simpleString", ""),
                {m["name"]: (m["accumulatorId"], m["metricType"])
                 for m in info.get("metrics", [])},
                [_node(c) for c in info.get("children", [])])


@dataclass
class Window:
    """Layer metrics summed over one time window of the run."""
    values: dict[str, float] = field(default_factory=dict)
    unmapped: Counter = field(default_factory=Counter)
    _listed: set = field(default_factory=set)

    def add(self, key: str, v: float) -> None:
        self.values[key] = self.values.get(key, 0.0) + v

    def put_max(self, key: str, v: float) -> None:
        self.values[key] = max(self.values.get(key, 0.0), v)


def _scale(v: float, mtype: str) -> float:
    """SQL metric value → seconds for timings, raw otherwise."""
    if mtype == "timing":
        return v / 1e3
    if mtype == "nsTiming":
        return v / 1e9
    return v


class EventLog:
    def __init__(self, events: list[dict], roots: dict[str, list[str]],
                 slots: int):
        self.roots = roots
        self.slots = slots
        self.exec_start: dict[int, int] = {}
        self.plans: dict[int, list[Node]] = {}
        # accumulator id → value; SQL metric values reach the log as
        # running totals on each completed stage (and on driver-side
        # updates), so the final value is the largest one seen
        self.total: dict[int, float] = {}
        self.stage_accums: dict[int, set[int]] = {}
        self.jobs: dict[int, dict] = {}
        self.stage_run_ms: Counter = Counter()
        self.stage_max_records: dict[int, int] = {}
        for e in events:
            self._ingest(e)

    def _set(self, acc_id: int, value) -> None:
        try:
            v = float(value)
        except (TypeError, ValueError):
            return
        self.total[acc_id] = max(self.total.get(acc_id, 0.0), v)

    def _ingest(self, e: dict) -> None:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerSQLExecutionStart":
            self.exec_start[e["executionId"]] = e["time"]
            self.plans.setdefault(e["executionId"], []).append(
                _node(e["sparkPlanInfo"]))
        elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
            self.plans.setdefault(e["executionId"], []).append(
                _node(e["sparkPlanInfo"]))
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc_id, v in e["accumUpdates"]:
                self._set(acc_id, v)
        elif kind == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = {"submit": e["Submission Time"],
                                      "stages": e["Stage IDs"]}
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            ids = self.stage_accums.setdefault(info["Stage ID"], set())
            for acc in info.get("Accumulables", []):
                ids.add(acc["ID"])
                self._set(acc["ID"], acc.get("Value"))
        elif kind == "SparkListenerTaskEnd":
            metrics = e.get("Task Metrics") or {}
            stage = e["Stage ID"]
            self.stage_run_ms[stage] += metrics.get("Executor Run Time", 0)
            read = (metrics.get("Shuffle Read Metrics") or {}).get(
                "Total Records Read", 0)
            self.stage_max_records[stage] = max(
                self.stage_max_records.get(stage, 0), read)

    def window(self, t0: float, t1: float) -> Window:
        """Layer metrics of the executions and jobs that started in
        ``[t0, t1]`` (wall-clock seconds)."""
        lo, hi = t0 * 1e3, t1 * 1e3
        w = Window()
        seen: set[int] = set()
        for exec_id, start in self.exec_start.items():
            if lo <= start <= hi:
                for root in self.plans[exec_id]:
                    self._walk(root, w, seen, None, False)
        jobs = [j for j in self.jobs.values() if lo <= j["submit"] <= hi]
        w.values["jobs"] = len(jobs)
        task_s = sum(self.stage_run_ms[s] for j in jobs
                     for s in j["stages"]) / 1e3
        w.values["task_s"] = task_s
        span = max(t1 - t0, 1e-9)
        w.values["slot_idle_frac"] = max(0.0, 1.0 - task_s
                                         / (self.slots * span))
        v = w.values
        # worker start/init times are summed per task and overlap the
        # task time, so they are reported but not subtracted
        attributed = sum(v.get(k, 0.0) for k in (
            f"{PARSE}.python_s", f"{ASSEMBLE}.python_s",
            f"{PIPELINE}.fetch_wait_s", f"{PIPELINE}.write_s",
            f"{PAGES}.scan_s", f"{STATE}.scan_s",
            f"{ROUTE}.write_s", f"{STATE}.write_s"))
        v["unattributed.task_s"] = max(0.0, task_s - attributed)
        return w

    def _metric(self, node: Node, name: str,
                seen: set[int]) -> Optional[float]:
        """Value of one SQL metric of ``node``, or None when the node
        has no such metric or it was already counted (AQE re-plans
        repeat a node with the same accumulator ids)."""
        if name not in node.metrics:
            return None
        acc_id, mtype = node.metrics[name]
        if acc_id in seen:
            return None
        seen.add(acc_id)
        return _scale(self.total.get(acc_id, 0.0), mtype)

    def _largest_read(self, node: Node) -> float:
        """Most shuffle records one task read in the stages that read
        ``node``'s exchange: the biggest partition after the shuffle."""
        if "records read" not in node.metrics:
            return 0.0
        acc_id = node.metrics["records read"][0]
        return float(max([self.stage_max_records.get(s, 0)
                          for s, ids in self.stage_accums.items()
                          if acc_id in ids] or [0]))

    def _walk(self, node: Node, w: Window, seen: set[int],
              inherited: Optional[str], in_cache: bool) -> bool:
        """Accumulate ``node``'s subtree into ``w``; returns whether the
        subtree scans the state table."""
        module = classify(node.name, node.desc, self.roots)
        if module is None and node.name == "WriteFiles":
            module = inherited
        cached = in_cache or node.name == "InMemoryTableScan"
        state_below = False
        for child in node.children:
            state_below |= self._walk(child, w, seen,
                                      module if node.name == _WRITE
                                      else None, cached)
        if module is None:
            self._unmapped(node, w, seen, state_below, in_cache)
        else:
            self._mapped(module, node, w, seen)
        return state_below or (module == STATE
                               and node.name.startswith("Scan parquet"))

    def _mapped(self, module: str, node: Node, w: Window,
                seen: set[int]) -> None:
        m = lambda name: self._metric(node, name, seen)  # noqa: E731
        if module in (PARSE, ASSEMBLE):
            run, start, init = (m("time to run Python workers"),
                                m("time to start Python workers"),
                                m("time to initialize Python workers"))
            rows = m("number of output rows")
            w.add(f"{module}.python_s", run or 0.0)
            w.add(f"{module}.init_s", (start or 0.0) + (init or 0.0))
            w.add(f"{module}.rows_out", rows or 0.0)
        elif module == PIPELINE:
            w.add(f"{PIPELINE}.shuffle_bytes",
                  m("shuffle bytes written") or 0.0)
            w.add(f"{PIPELINE}.fetch_wait_s", m("fetch wait time") or 0.0)
            w.add(f"{PIPELINE}.write_s", m("shuffle write time") or 0.0)
            w.put_max(f"{ASSEMBLE}.max_partition_rows",
                      self._largest_read(node))
        elif node.name.startswith("Scan parquet"):
            w.add(f"{module}.scan_s", m("scan time") or 0.0)
            w.add(f"{module}.bytes_read", m("size of files read") or 0.0)
            w.add(f"{module}.rows_read", m("number of output rows") or 0.0)
        elif node.name == _WRITE:
            w.add(f"{module}.write_s", m("task commit time") or 0.0)
            w.add(f"{module}.commit_s", m("job commit time") or 0.0)
            w.add(f"{module}.files", m("number of written files") or 0.0)
            w.add(f"{module}.bytes", m("written output") or 0.0)
            w.add(f"{module}.rows_written",
                  m("number of output rows") or 0.0)
            w.add(f"{module}.partitions",
                  m("number of dynamic part") or 0.0)

    def _unmapped(self, node: Node, w: Window, seen: set[int],
                  state_below: bool, in_cache: bool) -> None:
        # counts read off unmapped nodes: the cached state lookup join
        # (matched docs) and the near-dup verify (candidate pairs in,
        # verified pairs out)
        if (node.name == "BroadcastHashJoin" and in_cache and state_below
                and ", Inner," in node.desc):
            w.add(f"{STATE}.matched_docs",
                  self._metric(node, "number of output rows", seen) or 0.0)
        if ((node.name == "Filter" or node.name.endswith("Join"))
                and _VERIFY.search(node.desc)):
            verified = self._metric(node, "number of output rows", seen)
            if verified is not None:
                w.add("operators.dedup.verified_rows", verified)
                w.add("operators.dedup.candidate_rows",
                      self._candidates(node, seen))
        if (node.name, node.desc) not in w._listed:
            w._listed.add((node.name, node.desc))
            # "WholeStageCodegen (7)" and "(8)" are one kind of node
            w.unmapped[_CODEGEN_ID.sub("", node.name)] += 1

    def _candidates(self, filt: Node, seen: set[int]) -> float:
        """Rows entering the verify filter: output of the nearest join
        under it."""
        todo = list(filt.children)
        while todo:
            n = todo.pop(0)
            if n.name.endswith("Join"):
                return self._metric(n, "number of output rows", seen) or 0.0
            todo.extend(n.children)
        return 0.0
