#!/usr/bin/env python3
"""The repository benchmark: one workload per run, in one process on
``local[2]``.

    python3 perfbench/run.py --workload batch_ingest --seed 1 \\
        --seconds 8 --trace 0

Run from the repository root. The run starts a Spark session, stages
seeded inputs and warms up (together ``setup_s``), runs the workload's
operations until ``--seconds`` have passed (at least one; corpus
queries in whole passes), checks every output outside the timed
region, and prints a metric table and, as the last line, one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.

The warm-up depends on what the workload stands for. The pipeline
workloads stand for a process that runs batch after batch: they warm
up on one whole operation and time the operations after it.
``corpus_queries`` stands for one-shot query jobs: it warms up only on
one trivial Arrow UDF job (the session's first job and the Python
worker start, which any job pays once per process), and its timed pass
pays the code generation, JIT and worker imports users pay on every
run. An ``incremental_state`` sequence or a corpus pass takes longer
than the eight seconds ``BENCHMARK.json`` gives, so those runs time
exactly one; ``batch_ingest`` times about three batches.

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``.
``--trace 1`` turns on Spark's event log, records spans around the
calls into the program, and reports the per-layer metrics instead;
``perfbench/record.py`` runs both and reports the gap in ``run_s`` as
the tracing overhead.

Every file the run writes lives under ``.perfbench_work/`` in the
checkout and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["batch_ingest", "incremental_state",
                            "corpus_queries"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--detail", help="also write the full run record "
                   "(ops, set-up split, layer values, unmapped plan nodes) "
                   "to this JSON file")
    return p.parse_args(argv)


def build_session(work: str, trace: bool, slots: int):
    from pyspark.sql import SparkSession
    b = (SparkSession.builder.master(f"local[{slots}]")
         .appName("perfbench")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         # Spark's default heap: with more room, how far the heap grows
         # before a collection varies from run to run, and peak_rss_mb
         # with it
         .config("spark.driver.memory", "1g")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                 f"-Dderby.system.home={os.path.join(work, 'derby')} "
                 # no hsperfdata file under the system /tmp
                 "-XX:-UsePerfData")
         # plan strings carry whole table paths, which the layer mapper
         # matches on (display only)
         .config("spark.sql.maxMetadataStringLength", "1000"))
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", log_dir)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def e2e_metrics(ops, setup_s: float, peak_rss: int, workload) -> dict:
    from perfbench.workloads import CORPUS_QUERIES, passes
    # a failed check does not void the timing; a crashed operation's
    # time is used only when nothing succeeded
    ok = [o for o in ops if o.ok] or ops
    if workload.name == "corpus_queries":
        # a pass is one run of every corpus query; docs_per_s and
        # batch_s restate run_s here (fixed input rows, fixed query count)
        done = passes(ops)
        run_s = _median([sum(o.dur for o in p) for p in done])
        rows = _median([sum(o.docs for o in p) for p in done])
        batch_s = run_s / len(CORPUS_QUERIES)    # mean time per query
        docs_per_s = rows / run_s if run_s else 0.0
    else:
        run_s = _median([o.dur for o in ok])
        docs_per_s = _median([o.docs / o.dur for o in ok if o.dur])
        later = [d for o in ok for d in o.batch_durs[1:]] or \
            [d for o in ok for d in o.batch_durs]
        batch_s = _median(later)
    return {"run_s": run_s, "docs_per_s": docs_per_s, "batch_s": batch_s,
            "setup_s": setup_s, "peak_rss_mb": peak_rss / 2**20}


def main(argv=None) -> int:
    args = parse_args(argv)
    try:  # the program under test; a bare benchmark directory fails here
        import log_ship_elastic_postfix_spark  # noqa: F401
        sys.path.insert(0, ROOT)
        import __spark_entry__  # noqa: F401
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except (ImportError, OSError) as exc:
        print(f"perfbench: program not found under {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    from perfbench import layers, workloads
    from perfbench.trace import PeakRss, Spans, stop_session

    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # spark-submit's launcher JVM: no hsperfdata file under /tmp either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    import tempfile
    tempfile.tempdir = None   # re-read TMPDIR

    workload = workloads.WORKLOADS[args.workload]()
    spans = Spans()
    spark = None
    try:
        with PeakRss() as rss:
            m0 = time.perf_counter()
            spark = build_session(work, bool(args.trace), workloads.SLOTS)
            session_s = time.perf_counter() - m0
            ctx = workloads.Ctx(spark, os.path.join(work, "run"),
                                args.seed, bool(args.trace), spans)
            m0 = time.perf_counter()
            workload.setup(ctx)
            stage_s = time.perf_counter() - m0
            m0 = time.perf_counter()
            warm = workload.warm_up(ctx)
            warm_s = time.perf_counter() - m0
            setup_s = session_s + stage_s + warm_s

            ops = run_ops(ctx, workload, args.seconds)
            if warm is not None and not warm.ok:
                ops.insert(0, warm)   # counted as a failed operation
            record = layers.collect(ctx, workload, ops, work,
                                    workloads.SLOTS) \
                if args.trace else None
            if args.trace and args.detail:
                shutil.copytree(os.path.join(work, "eventlog"),
                                args.detail + ".eventlog")
        metrics = e2e_metrics(ops, setup_s, rss.peak, workload)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for o in ops if not o.ok)
    attempted = len(ops)
    for o in ops:
        if not o.ok:
            print(f"FAILED {o.name}: {o.error}", file=sys.stderr)
    if args.trace:
        record["values"]["trace.run_s"] = metrics["run_s"]
        wanted = spec["per_layer"]
        values = record["values"]
    else:
        wanted = spec["end_to_end"]
        values = metrics
    out = {m["name"]: {"value": float(values[m["name"]]),
                       "unit": m["unit"]} for m in wanted}
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"ops={attempted} failed={failed} "
          f"failed_ops_frac={failed / attempted:.4f} (frac)")
    for name, m in out.items():
        print(f"  {name:44s} {m['value']:>16.6f} {m['unit']}")
    if args.detail:
        with open(args.detail, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "trace": args.trace, "e2e": metrics,
                       "setup": {"session_s": session_s,
                                 "stage_s": stage_s, "warm_s": warm_s},
                       "ops": [o.__dict__ for o in ops],
                       "layers": record}, fh, indent=1, default=str)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0


def run_ops(ctx, workload, seconds: float) -> list:
    """Operations until ``seconds`` have passed, at least one; corpus
    queries run in whole passes, so every query is measured equally
    often."""
    from perfbench.workloads import CORPUS_QUERIES
    unit = len(CORPUS_QUERIES) if workload.name == "corpus_queries" else 1
    ops, m0 = [], time.perf_counter()
    while not ops or time.perf_counter() - m0 < seconds:
        for _ in range(unit):
            ops.append(workload.run_op(ctx, ctx.n_ops))
            ctx.n_ops += 1
    return ops


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
