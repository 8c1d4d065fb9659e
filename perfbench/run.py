"""Benchmark entry point.

    python3 perfbench/run.py --workload query_unique --seed 1 --seconds 20 --trace 0

Run from the repository root. Prints one JSON object as the last line of
standard output: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end metrics BENCHMARK.json
lists; with ``--trace 1`` they are its per-layer metrics, and the spans
are written to ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def result_line(run, spec: dict) -> dict:
    """The final JSON object. Every end-to-end metric, and every per-layer
    metric of a layer the workload runs, must have been measured; the
    per-layer metrics of layers it never runs read 0."""
    if run.trace:
        from perfbench.workloads import WORKLOAD_LAYERS

        specs, measured = spec["per_layer"], run.layer
        wanted = [m["name"] for m in specs if m["name"].startswith(WORKLOAD_LAYERS[run.workload])]
    else:
        specs, measured = spec["end_to_end"], run.metrics
        wanted = [m["name"] for m in specs]
    missing = [n for n in wanted if n not in measured]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    metrics = {m["name"]: (measured.get(m["name"], 0.0), m["unit"]) for m in specs}
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    if not os.path.isdir(os.path.join(ROOT, "solr_spark")):
        print(f"no solr_spark package under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import Run

    run = Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    run.execute()
    print(json.dumps({"detail": run.detail}, default=float), flush=True)
    print(json.dumps(result_line(run, spec)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
