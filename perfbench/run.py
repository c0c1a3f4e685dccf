#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload meta-lookup --seed 1 --seconds 10 --trace 0

Run from the repository root.  The program under test is the
``palletjack_spark`` package next to this directory; inputs are generated
from ``--seed`` and cached under ``.perfbench/`` in the same checkout.
One client runs a closed loop: each call waits for the previous answer.

``--trace 0`` measures the end-to-end metrics with tracing off;
``--trace 1`` records spans and reports the per-layer metrics.  The last
line of stdout is one JSON object ``{"correct", "attempted", "failed",
"metrics"}`` holding exactly the metrics ``BENCHMARK.json`` declares for
that mode.  The line before it records the run's context (workload, seed,
CPU count, host-speed control, host-independent counts)."""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = {
    "meta-lookup": "perfbench.meta_lookup",
    "indexed-scan": "perfbench.indexed_scan",
    "pipeline-mix": "perfbench.pipeline_mix",
}
#: per-layer metrics every workload reports
COMMON_PER_LAYER = (
    "raw.setup_s", "raw.op_geomean_ms", "op_p50_ms", "op_p90_ms", "ops_per_s",
    "control.full_footer_ms", "fixture.gen_s", "error_rate", "trace.overhead_pct",
)


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="smoke: tiny inputs for the benchmark's own tests")
    return ap.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def owned_per_layer(workload: str) -> set[str]:
    """Per-layer metrics a workload must produce when traced."""
    from perfbench.harness import SELF_TIME_LAYERS

    mod = importlib.import_module(WORKLOADS[workload])
    return set(mod.PER_LAYER) | set(COMMON_PER_LAYER) | {
        f"self.{layer}_ms" for layer in SELF_TIME_LAYERS
    }


def select_metrics(spec: dict, workload: str, trace: bool, produced: dict) -> dict:
    """Exactly the declared metrics of this mode, with units.  A per-layer
    metric of a layer this workload never calls reads 0; a metric the
    workload owns but did not produce is a benchmark bug."""
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    owned = owned_per_layer(workload) if trace else {m["name"] for m in declared}
    out = {}
    for m in declared:
        name = m["name"]
        if name in produced:
            value = produced[name]
        elif name in owned:
            raise RuntimeError(f"{workload} did not produce metric {name}")
        else:
            value = 0.0
        out[name] = {"value": float(value), "unit": m["unit"]}
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "palletjack_spark", "__init__.py")):
        print("perfbench: no palletjack_spark package next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    spec = load_spec()

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # every scratch file, the JVM's and the Python workers' included, stays
    # inside the checkout; workers import the package from it
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    import palletjack_spark

    if not os.path.abspath(palletjack_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: imported {palletjack_spark.__file__}, not the "
              "checkout's package", file=sys.stderr)
        return 2

    from perfbench.harness import Context, Tracer, peak_rss_mb

    ctx = Context(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), size=args.size, root=ROOT, work=work,
        nproc=nproc, tracer=Tracer(),
    )
    result = importlib.import_module(WORKLOADS[args.workload]).run(ctx)
    produced = dict(result.metrics)
    produced.setdefault("peak_rss_mb", peak_rss_mb())
    produced["error_rate"] = result.failed / max(1, result.attempted)
    metrics = select_metrics(spec, args.workload, ctx.trace, produced)

    out_dir = ctx.dir("out")
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{args.size}")
    context = {
        "workload": args.workload, "seed": args.seed, "nproc": nproc,
        "trace": args.trace, "size": args.size, "seconds": args.seconds,
        "control.full_footer_ms": produced["control.full_footer_ms"],
        "host.speed": produced["host.speed"],
        "raw.setup_s": produced["raw.setup_s"],
        "raw.op_geomean_ms": produced["raw.op_geomean_ms"],
        "fixture.gen_s": produced["fixture.gen_s"],
        "counts": result.counts,
    }
    with open(stem + ".json", "w") as f:
        json.dump({"context": context, "produced": produced, "notes": result.notes,
                   "control": result.control}, f, indent=1)
    if ctx.trace:
        ctx.tracer.dump(stem + ".spans.json")
    print(json.dumps(context), flush=True)
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": int(result.attempted),
        "failed": int(result.failed),
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
