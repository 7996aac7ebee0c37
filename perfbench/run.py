"""Reserves benchmark: one run of one workload, one JSON line.

    python3 perfbench/run.py --workload reserves_mesh --seed 1 --seconds 2 --trace 0

Run it from the root of a checkout.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs the same workload with spans and the Spark
event log on and prints the per-layer metrics.  The metric names and
units are the ones ``BENCHMARK.json`` declares.  The run's spans, plan
fingerprints, failures and oracle results go to
``perfbench/out/<workload>-<seed>-<trace>/record.json``; the workloads
and metrics are described in ``perfbench/BASIS.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("reserves_mesh", "reserves_box", "driver_mix")


def declared_metrics(traced: bool) -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}


def bench(workload: str, seed: int, seconds: float, traced: bool, **size) -> dict:
    """Run one workload and return the result object the CLI prints.
    ``size`` overrides the workload's input size (for smoke tests)."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    # the library must be importable before anything starts
    import vtk_reserves_spark  # noqa: F401

    from harness import Run

    wanted = declared_metrics(traced)
    run = Run(ROOT, workload, seed, traced)
    try:
        if workload == "driver_mix":
            import mix

            metrics = mix.run(run, seconds, **size)
        else:
            import reserves

            metrics = reserves.run(run, workload, seconds, **size)
    finally:
        run.close()
    if traced:
        # a layer this workload never enters did no work in it
        metrics = {name: metrics.get(name, (0, unit)) for name, unit in wanted.items()}
    else:
        metrics["ok_frac"] = (run.ok_frac(), "ratio")
        metrics["peak_rss_mb"] = (run.peak_rss_mb(), "MB")
    for name, (_, unit) in metrics.items():
        if wanted.get(name) != unit:
            raise RuntimeError(f"metric {name} [{unit}] is not declared in BENCHMARK.json")
    missing = set(wanted) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    run.write_record()
    return {
        "correct": not run.mismatches,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result = bench(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
