"""Extraction benchmark: run one workload from a seed, print every metric.

    python3 extractbench/run.py --workload cc_mix --seed 1 --seconds 6 --trace 0

Run from the root of a checkout.  ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` the per-layer ones (and writes the spans file).
Every metric is printed on its own line with its unit; the last line of
standard output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``.  The full record (input digest, doc-type histogram, every
sample, quartiles, Spark confs, nproc, loadavg) goes to
``.bench_work/results/``.

Exit codes: 0 correct; 1 a correctness check failed (the result line
still prints, with ``"correct": false``); 2 the run could not be made
(bad arguments, no ``ragflow_spark`` next to this directory, an input
that no longer matches its pinned digest).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=6.0, help="timed budget of the run")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _stop_gateway() -> None:
    """Shut the Py4J gateway and wait for the JVM it launched."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launched JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ragflow_spark")):
        print(f"extractbench: no ragflow_spark/ package in {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Spark's Python workers import the package from the same root
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from extractbench import bench

    try:
        run = bench.Run(args.workload, args.seed, args.seconds, bool(args.trace), ROOT)
        t0 = time.perf_counter()
        try:
            metrics = run.execute()
        finally:
            _stop_gateway()
            shutil.rmtree(run.work, ignore_errors=True)
    except bench.BenchError as e:
        print(f"extractbench: {e}", file=sys.stderr)
        return 2
    wall = time.perf_counter() - t0

    attempted = len(run.docs)
    failed = len(run.failed) + len(run.run_failures)
    correct = failed == 0
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in spec}
    if set(units) != set(metrics):
        print(f"extractbench: metrics {sorted(set(metrics) ^ set(units))} are not both "
              "measured and declared in BENCHMARK.json", file=sys.stderr)
        return 2
    os.makedirs(run.results, exist_ok=True)
    record_path = os.path.join(run.results, f"{run.tag}.json")
    spans_path = os.path.join(run.results, f"{run.tag}.spans.jsonl")
    record = {
        "workload": run.workload, "seed": run.seed, "seconds": args.seconds, "trace": args.trace,
        "wall_s": wall, "correct": correct, "attempted": attempted, "failed": failed,
        "error_rate": failed / attempted, "run_failures": run.run_failures,
        "failed_urls": sorted(run.failed)[:50], "metrics": metrics, **run.facts,
    }
    with open(record_path, "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1, sort_keys=True, default=str)
    if args.trace:
        run.tracer.dump(spans_path)

    f = run.facts
    print(f"workload {run.workload}  seed {run.seed}  docs {attempted}  nproc {f['nproc']}  "
          f"loadavg_1m {f['loadavg_1m_start']:.2f}->{f['loadavg_1m_end']:.2f}")
    print(f"input_digest {f['input_digest']}  doc_types {json.dumps(f['doc_types'])}")
    for name, s in f.get("summaries", {}).items():
        print(f"  {name:<24} median {s['median']:.4g}  q1 {s['q1']:.4g}  q3 {s['q3']:.4g}  n {s['n']}")
    for name, value in metrics.items():
        print(f"{name:<40} {value:>14.6g} {units[name]}")
    print(f"{'error_rate':<40} {failed / attempted:>14.6g} ratio")
    for msg in run.run_failures[:10]:
        print(f"FAIL {msg}")
    for url in sorted(run.failed)[:10]:
        print(f"FAIL {url}")
    if args.trace:
        print(f"spans {os.path.relpath(spans_path, ROOT)}")
    print(f"record {os.path.relpath(record_path, ROOT)}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
