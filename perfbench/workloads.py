"""The three workloads: seeded set-up, the warm-up that ends set-up,
the timed operations and the output checks (always outside the timed
region).

An operation is one pipeline batch sequence (``batch_ingest``: one
batch; ``incremental_state``: B batches into a fresh state table) or
one corpus query. A failed output check marks its operation failed.
"""

from __future__ import annotations

import math
import os
import shutil
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable, Optional

import numpy as np

from . import inputs
from .trace import Spans, timed_stores

HERE = os.path.dirname(os.path.abspath(__file__))

# pipeline sizing: bench.py's python_heavy shape (hot keys planted),
# scaled so that a whole run fits the benchmark's time budget
PAGES = inputs.PagesSpec(n_urls=2000, n_hot=4, hot_lines=256)
PARENT_SHARE = 4          # one url in four gets a parent
N_BATCHES = 2             # incremental_state batch count
SLOTS = 2                 # local[2]: bench.py's python_heavy on 4 cores

# corpus_queries: the near-dup and ANN paths plus one textstats query,
# each with its DuckDB oracle; module tags live in layers.json
CORPUS_QUERIES = ("neardup_clusters", "ann_cosine_lsh", "ann_topk_ivf",
                  "token_stats")


@dataclass
class Op:
    name: str
    dur: float
    start: float = 0.0        # wall clock, s
    end: float = 0.0
    ok: bool = True
    error: str = ""
    docs: int = 0
    batch_durs: list[float] = field(default_factory=list)
    counts: dict = field(default_factory=dict)   # output-check counts


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    trace: bool
    spans: Spans
    rng: np.random.Generator = field(init=False)
    roots: dict = field(default_factory=lambda: {"pages": [], "state": []})
    n_ops: int = 0            # operations run so far (names their outputs)

    def __post_init__(self) -> None:
        self.rng = np.random.default_rng(self.seed)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _pipeline_cfg():
    from log_ship_elastic_postfix_spark.plans.pipeline import PipelineConfig
    return PipelineConfig()


def _timed(name: str, fn: Callable[[], object]) -> tuple[Op, object]:
    """Run one operation; the returned Op is its span."""
    w0, m0 = time.time(), time.perf_counter()
    try:
        out, err = fn(), ""
    except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
        out, err = None, traceback.format_exc(limit=3)
    dur = time.perf_counter() - m0
    return Op(name, dur, w0, time.time(), ok=not err, error=err), out


def passes(ops: list[Op]) -> list[list[Op]]:
    """The corpus operations cut into whole passes over the queries;
    only the passes in which every query succeeded, unless none did."""
    n = len(CORPUS_QUERIES)
    cut = [ops[i:i + n] for i in range(0, len(ops) - n + 1, n)]
    return [p for p in cut if all(o.ok for o in p)] or cut


class _WarmsUpOnOneOperation:
    """The pipeline workloads stand for a process that runs batch after
    batch, as ``bench.py`` times its pipeline and a long-running ingest
    loop runs: set-up ends with one whole operation, checked like the
    timed ones, which pays the code generation, JIT and Python worker
    imports, so the timed operations run warm."""

    def warm_up(self, ctx: Ctx) -> Op:
        op = self.run_op(ctx, ctx.n_ops)
        ctx.n_ops += 1
        return op


def _fail(op: Op, msg: str) -> None:
    op.ok = False
    op.error = (op.error + "\n" if op.error else "") + msg


# --------------------------------------------------------- batch_ingest
class BatchIngest(_WarmsUpOnOneOperation):
    name = "batch_ingest"

    def setup(self, ctx: Ctx) -> None:
        self.pages = ctx.path("pages")
        self.parents = ctx.path("parents")
        inputs.stage_pages(PAGES, self.pages, ctx.rng)
        self.parent_ids = set(inputs.parent_qids(
            PAGES, ctx.rng, PAGES.n_urls // PARENT_SHARE))
        inputs.stage_parents(sorted(self.parent_ids), self.parents, ctx.rng)
        ctx.roots["pages"].append(self.pages)

    def _batch(self, ctx: Ctx, sink: str):
        from log_ship_elastic_postfix_spark.plans.pipeline import run_batch
        from log_ship_elastic_postfix_spark.sources.pages import (
            pages_to_lines, with_batch_seq)
        spark = ctx.spark
        lines = with_batch_seq(
            pages_to_lines(spark.read.parquet(self.pages)), 1)
        return run_batch(spark, lines, _pipeline_cfg(),
                         parent_map=spark.read.parquet(self.parents),
                         sink_path=sink)

    def run_op(self, ctx: Ctx, i: int) -> Op:
        sink = ctx.path(f"sink_{i}")
        op, res = _timed("batch", lambda: self._batch(ctx, sink))
        op.batch_durs = [op.dur]
        if op.ok:
            self._check(ctx, op, sink, res)
        shutil.rmtree(sink, ignore_errors=True)
        return op

    def _check(self, ctx: Ctx, op: Op, sink: str, res) -> None:
        from pyspark.sql import functions as F
        docs = {r["qid"]: r for r in ctx.spark.read.parquet(sink)
                .select("qid", "n_events", "isFinal", "sink").collect()}
        op.docs = len(docs)
        errs = _check_docs(docs, self.parent_ids)
        got = {r[0]: r[1] for r in res.rejects.groupBy("reject_reason")
               .agg(F.count(F.lit(1))).collect()}
        op.counts = {"rejects": sum(got.values()),
                     "parent_hits": _parent_hits(docs)}
        if got != PAGES.expected_rejects():
            errs.append(f"rejects by reason {got} != "
                        f"{PAGES.expected_rejects()}")
        for e in errs:
            _fail(op, e)


def _parent_hits(docs: dict) -> int:
    from log_ship_elastic_postfix_spark.operators import route
    return sum(1 for d in docs.values() if d["sink"] == route.PARENT_SINK)


def _check_docs(docs: dict, parent_ids: set[int]) -> list[str]:
    """Per-qid n_events / isFinal / sink against the closed form."""
    from log_ship_elastic_postfix_spark.operators import route
    errs = []
    if len(docs) != PAGES.n_urls:
        errs.append(f"{len(docs)} docs, expected {PAGES.n_urls}")
    bad = 0
    for uidx in range(PAGES.n_urls):
        d = docs.get(inputs.qid_of(uidx))
        sink = (route.PARENT_SINK if uidx in parent_ids
                else route.ORPHAN_SINK)
        if (d is None or d["n_events"] != PAGES.expected_events(uidx)
                or d["isFinal"] is not inputs.EXPECT[uidx % 10][1]
                or d["sink"] != sink):
            bad += 1
    if bad:
        errs.append(f"{bad} docs differ from the closed form")
    return errs


# ---------------------------------------------------- incremental_state
class IncrementalState(_WarmsUpOnOneOperation):
    name = "incremental_state"

    def setup(self, ctx: Ctx) -> None:
        self.batches, batch_of = inputs.stage_incremental(
            PAGES, ctx.path("pages"), N_BATCHES, ctx.rng)
        self.docs_per_batch = inputs.docs_per_batch(PAGES, batch_of,
                                                    N_BATCHES)
        self._ref = None
        self.parents = ctx.path("parents")
        self.parent_ids = set(inputs.parent_qids(
            PAGES, ctx.rng, PAGES.n_urls // PARENT_SHARE))
        inputs.stage_parents(sorted(self.parent_ids), self.parents, ctx.rng)
        ctx.roots["pages"].extend(self.batches)

    def run_op(self, ctx: Ctx, i: int) -> Op:
        from log_ship_elastic_postfix_spark.operators.state import StateStore
        from log_ship_elastic_postfix_spark.plans.pipeline import run_batch
        from log_ship_elastic_postfix_spark.sources.bookmark import (
            BookmarkStore)
        from log_ship_elastic_postfix_spark.sources.pages import pages_to_lines
        spark = ctx.spark
        state_cls, bm_cls = ((timed_stores(ctx.spans)) if ctx.trace
                             else (StateStore, BookmarkStore))
        state_path = ctx.path(f"state_{i}")
        ctx.roots["state"].append(state_path)
        state = state_cls(state_path)
        bookmark = bm_cls(ctx.path(f"bookmark_{i}"))
        cfg = _pipeline_cfg()
        batch_durs: list[float] = []

        def sequence():
            state.preflight(spark)
            parent_map = spark.read.parquet(self.parents)
            for b, path in enumerate(self.batches):
                m0 = time.perf_counter()
                with ctx.spans.span("run_batch"):
                    run_batch(spark,
                              pages_to_lines(spark.read.parquet(path)), cfg,
                              batch_seq=b, state=state,
                              parent_map=parent_map, bookmark=bookmark)
                batch_durs.append(time.perf_counter() - m0)

        op, _ = _timed("sequence", sequence)
        op.batch_durs = batch_durs
        op.counts["routed_docs"] = sum(self.docs_per_batch)
        if op.ok:
            self._check(ctx, op, state, bookmark)
        return op

    def _oneshot(self, spark, cols) -> dict:
        """One-shot fold of all the batches' lines, computed once per
        run: the cross-batch merge must reach the same doc."""
        if self._ref is None:
            from log_ship_elastic_postfix_spark.plans.pipeline import (
                run_batch)
            from log_ship_elastic_postfix_spark.sources.pages import (
                pages_to_lines, with_batch_seq)
            allp = spark.read.parquet(*self.batches)
            oneshot = run_batch(
                spark, with_batch_seq(pages_to_lines(allp), 1),
                _pipeline_cfg(), parent_map=spark.read.parquet(self.parents))
            self._ref = {r["qid"]: r for r in
                         oneshot.routed.select(*cols).collect()}
        return self._ref

    def _check(self, ctx: Ctx, op: Op, state, bookmark) -> None:
        spark = ctx.spark
        cols = ("qid", "n_events", "events", "isFinal", "sink")
        final = {r["qid"]: r for r in
                 state.read(spark).select(*cols).collect()}
        op.docs = len(final)
        op.counts["parent_hits"] = _parent_hits(final)
        errs = _check_docs(final, self.parent_ids)
        ref = self._oneshot(spark, cols)
        # events compared as a multiset
        diff = [q for q in ref if q not in final
                or final[q]["n_events"] != ref[q]["n_events"]
                or final[q]["isFinal"] != ref[q]["isFinal"]
                or final[q]["sink"] != ref[q]["sink"]
                or sorted(map(str, final[q]["events"]))
                != sorted(map(str, ref[q]["events"]))]
        if diff or len(ref) != len(final):
            errs.append(f"{len(diff)} qids differ from the one-shot fold "
                        f"({len(final)} in state, {len(ref)} one-shot)")
        if bookmark.processed_batches() != list(range(N_BATCHES)):
            errs.append(f"bookmark manifests {bookmark.processed_batches()}"
                        f" != {list(range(N_BATCHES))}")
        else:
            manifests = [bookmark.read_manifest(b) for b in range(N_BATCHES)]
            op.counts["rejects"] = sum(m["n_rejects"] for m in manifests)
            n_lines = sum(m["n_lines"] for m in manifests)
            want = sum(PAGES.expected_rejects().values())
            if op.counts["rejects"] != want or n_lines != PAGES.total_lines():
                errs.append(f"manifests count {n_lines} lines and "
                            f"{op.counts['rejects']} rejects, expected "
                            f"{PAGES.total_lines()} and {want}")
        for e in errs:
            _fail(op, e)


# ------------------------------------------------------- corpus_queries
class CorpusQueries:
    name = "corpus_queries"

    def setup(self, ctx: Ctx) -> None:
        self.sf_dir = ctx.path("corpus")
        inputs.stage_corpus(os.path.join(HERE, "data"), self.sf_dir, ctx.rng)
        import pyarrow.parquet as pq
        self.table_rows = {
            t: pq.read_table(os.path.join(self.sf_dir, f"{t}.parquet"),
                             columns=[]).num_rows
            for t in inputs.CORPUS_TABLES}

    def warm_up(self, ctx: Ctx) -> None:
        """Corpus queries run as one-shot jobs: one trivial Arrow UDF
        job on every slot pays the session's first job and the Python
        worker start, which any job pays once per process, and the
        timed pass pays the code generation and JIT users pay."""
        (ctx.spark.range(0, 64, 1, SLOTS)
         .mapInArrow(lambda batches: batches, "id long")
         .write.format("noop").mode("overwrite").save())

    def run_op(self, ctx: Ctx, i: int) -> Op:
        """One query, forced by collecting its answer (the answers are
        small); the collected answer is the one the oracle checks."""
        import __spark_entry__ as entry
        name = CORPUS_QUERIES[i % len(CORPUS_QUERIES)]
        build = entry.queries()[name]
        op, answer = _timed(
            name, lambda: build(ctx.spark, self.sf_dir).toPandas())
        op.docs = self.table_rows[self.table_of(name)]
        if op.ok:
            msg = self._oracle(name, answer)
            if msg:
                _fail(op, f"{name}: {msg}")
        return op

    @staticmethod
    def table_of(name: str) -> str:
        return "embeddings" if name.startswith("ann_") else "documents"

    def _oracle(self, name: str, answer) -> Optional[str]:
        """Compare one answer with its DuckDB ``oracle_sql()`` answer
        over the same tables."""
        import __spark_entry__ as entry
        from . import oracle
        globs = {t: os.path.join(self.sf_dir, f"{t}.parquet", "*.parquet")
                 for t in inputs.CORPUS_TABLES}
        want = oracle.answer(name, entry.oracle_sql()[name], globs)
        return compare_answers(answer, want)


def compare_answers(a, b) -> Optional[str]:
    """Order-insensitive exact comparison of two pandas answers (the
    rule ``tests/test_entry_oracle.py`` applies); None when equal."""
    if sorted(a.columns) != sorted(b.columns):
        return f"columns {sorted(a.columns)} != {sorted(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    if len(a) == 0:
        return None

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(list(df.columns),
                              kind="mergesort").reset_index(drop=True)

    a, b = canon(a), canon(b)
    for col in a.columns:
        for i, (x, y) in enumerate(zip(a[col].tolist(), b[col].tolist())):
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                if x != y:
                    return f"{col}[{i}]: {x!r} != {y!r}"
            elif str(x) != str(y):
                return f"{col}[{i}]: {x!r} != {y!r}"
    return None


WORKLOADS = {w.name: w for w in (BatchIngest, IncrementalState,
                                 CorpusQueries)}
