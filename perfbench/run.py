"""Benchmark entry point: one workload, one seed, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0

Workloads: ``crawl_crossover`` (perfbench/crawl.py) and ``queries``
(perfbench/queries.py). One op is a fixed, complete unit of
work: a whole crawl, or one pass over the timed queries. Inputs are made
from ``--seed`` before any timer starts. Every op's output is checked;
a mismatch counts as a failed op.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (spans around the program's public calls, Spark
job counts, py4j round trips, the engine's own ``metrics`` table) and
writes the spans to ``.perfbench/``.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``. Everything the run
reads or writes stays under the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ("crawl_crossover", "queries")


def summarize(res: dict, trace: bool,
              per_layer_names: list[tuple[str, str]]) -> dict:
    """End-to-end metrics from the untraced ops, per-layer metrics from the
    traced ones. Layers of the other workload report 0."""
    plain = [o for o in res["ops"] if not o["traced"]]
    op_time = statistics.median(o["wall_s"] for o in plain)
    if not trace:
        items = statistics.median(o["items"] for o in plain)
        metrics = {
            "items_per_s": (items / op_time, "1/s"),
            "op_time_s": (op_time, "s"),
            "setup_s": (res["setup_s"], "s"),
            "peak_rss_mb": (res["memory_mb"]["peak_rss_mb"], "MB"),
        }
    else:
        traced = [o for o in res["ops"] if o["traced"]]
        layers = dict(res["layers"])
        layers["trace.overhead_s"] = (
            statistics.median(o["wall_s"] for o in traced) - op_time)
        metrics = {}
        for name, unit in per_layer_names:
            metrics[name] = (float(layers.get(name, 0.0)), unit)
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "crusty_core_spark")):
        print(f"perfbench: no crusty_core_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        per_layer_names = [(m["name"], m["unit"])
                           for m in json.load(f)["per_layer"]]

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}-{os.getpid()}")
    sys.path.insert(0, ROOT)
    from perfbench.harness import (configure_env, host_settings, log,
                                   reap_descendants)
    from perfbench.trace import Tracer

    settings = host_settings(work)
    configure_env(settings, ROOT)

    tracer = Tracer(bool(args.trace))
    try:
        if args.workload == "queries":
            from perfbench import queries as mod
        else:
            from perfbench import crawl as mod
        res = mod.run(args.workload, args.seed, args.seconds, tracer,
                      settings, work)
    finally:
        log("stopped")
        reap_descendants()
        shutil.rmtree(work, ignore_errors=True)
        log("reaped")

    missing = [n for n in mod.LAYERS if n not in res["layers"]]
    if args.trace and missing:
        print("perfbench: no value for layer metrics " + ", ".join(missing),
              file=sys.stderr)
        return 1
    settings.update(res["settings"])
    print("perfbench settings " + json.dumps(settings, sort_keys=True))
    print("perfbench memory_mb " + json.dumps(res["memory_mb"]))
    print("perfbench ops " + json.dumps(res["ops"]))
    if args.trace:
        tracer.dump(
            os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
            {"settings": settings, "layers": res["layers"], "ops": res["ops"]})
    metrics = summarize(res, bool(args.trace), per_layer_names)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
