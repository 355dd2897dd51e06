#!/usr/bin/env python3
"""Round-6 optimization harness (bench.py is FROZEN — this file is the
per-query isolation bench the optimization guide §1.4 prescribes).

Times individual declared queries with the noop sink against
$SPARK_GRAFT_SF_DIR (default sf0.1, as in bench.py), optionally
repeats, and can dump .explain("formatted") plans to plans/r06/. Uses
the same session shape as bench.py.

Usage:
  python bench_extra.py q1 q2 ...          # time queries (noop sink)
  python bench_extra.py --repeat 3 q1      # best/median of N
  python bench_extra.py --plan q1 q2       # write plans/r06/<q>_<tag>.txt
  python bench_extra.py --tag after ...    # plan filename suffix
  python bench_extra.py --all              # every query in bench order
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# same session config and query list as the frozen bench
from bench import BENCH_QUERIES, build_spark


def main() -> None:
    args = sys.argv[1:]
    repeat = 1
    plan = False
    tag = "before"
    names: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--repeat":
            repeat = int(args[i + 1]); i += 2
        elif a == "--plan":
            plan = True; i += 1
        elif a == "--tag":
            tag = args[i + 1]; i += 2
        elif a == "--all":
            names = list(BENCH_QUERIES); i += 1
        else:
            names.append(a); i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_spark(cpus, shuffle_partitions=max(cpus, 8),
                        python_heavy=True)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry
    qs = entry.queries()

    # same warmups the frozen bench performs before per-query timing
    from pyspark.sql import functions as F
    _dim = spark.createDataFrame([("w", 1)], "k string, v int")
    (spark.range(100).withColumn("k", F.lit("w"))
     .join(F.broadcast(_dim), "k")
     .write.format("noop").mode("overwrite").save())

    out: dict[str, object] = {}
    for name in names:
        if plan:
            df = qs[name](spark, sf_dir)
            os.makedirs("plans/r06", exist_ok=True)
            p = os.path.join("plans/r06", f"{name}_{tag}.txt")
            with open(p, "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
            print(f"wrote {p}", file=sys.stderr)
        samples = []
        for _ in range(max(repeat, 0)):
            spark.sparkContext.setJobDescription(f"r06:{name}")
            t0 = time.monotonic()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.monotonic() - t0, 3))
        out[name] = samples if repeat != 1 else samples[0]
        print(f"{name}: {samples}", file=sys.stderr)
    print(json.dumps({"sf_dir": sf_dir, "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
