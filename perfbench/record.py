#!/usr/bin/env python3
"""Write a results record: every workload run once with tracing off
(end-to-end metrics) and once with tracing on (per-layer split), and
the gap in ``run_s`` between the two as the tracing overhead.

    python3 perfbench/record.py --seed 1 --out perfbench/results/HEAD.json
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch_ingest", "incremental_state", "corpus_queries")


def run(workload: str, seed: int, seconds: int, trace: int,
        detail: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--detail", detail]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    with open(detail) as fh:
        return {"result": result, "detail": json.load(fh)}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, help="default: run_seconds "
                   "of BENCHMARK.json")
    p.add_argument("--out", required=True)
    args = p.parse_args()
    if args.seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            args.seconds = json.load(fh)["run_seconds"]

    tmp = os.path.join(ROOT, ".perfbench_record")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    record = {"seed": args.seed, "seconds": args.seconds,
              "machine": {"cpus": os.cpu_count(),
                          "python": platform.python_version(),
                          "platform": platform.platform()},
              "workloads": {}}
    try:
        for w in WORKLOADS:
            plain = run(w, args.seed, args.seconds, 0,
                        os.path.join(tmp, f"{w}_0.json"))
            traced = run(w, args.seed, args.seconds, 1,
                         os.path.join(tmp, f"{w}_1.json"))
            e2e = plain["detail"]["e2e"]
            layers = traced["detail"]["layers"]
            traced_run_s = traced["detail"]["e2e"]["run_s"]
            record["workloads"][w] = {
                "correct": plain["result"]["correct"]
                and traced["result"]["correct"],
                "attempted": plain["result"]["attempted"],
                "failed": plain["result"]["failed"],
                "end_to_end": e2e,
                "setup": plain["detail"]["setup"],
                "layers": dict(sorted(layers["values"].items())),
                "unmapped_nodes": layers["unmapped"],
                "tracing_overhead_s": traced_run_s - e2e["run_s"],
                "tracing_overhead_frac": (traced_run_s - e2e["run_s"])
                / e2e["run_s"],
            }
            print(f"{w}: run_s {e2e['run_s']:.3f} traced {traced_run_s:.3f}",
                  file=sys.stderr)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    with open(args.out, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
