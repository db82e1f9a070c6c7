"""Outside-in benchmark of the CDC engine.

Usage (from the repository root)::

    python3 perfbench/run.py --workload cdc_live --seed 1 --seconds 12 --trace 0

Workloads: ``cdc_live``, ``cdc_backfill`` (``engine.run_pipeline`` into
an HTTP endpoint) and ``queries`` (the registry). The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Metric names and units come
from ``BENCHMARK.json``; ``perfbench/LAYERS.md`` says what each means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass
from pathlib import Path

from common import ROOT, RssSampler, engine_present, prepare_env
from tracing import Tracer

WORKLOADS = ("cdc_live", "cdc_backfill", "queries")


@dataclass
class Context:
    seed: int
    seconds: float
    work: Path
    tracer: Tracer
    cores: int


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end_to_end, per_layer) name -> unit, from BENCHMARK.json."""
    with open(ROOT / "BENCHMARK.json") as fh:
        spec = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def run_workload(name: str, ctx: Context) -> dict:
    if name == "queries":
        import batch

        return batch.run(ctx)
    import delivery

    return getattr(delivery, name)(ctx)


def result_line(out: dict, rss: RssSampler, trace: bool,
                e2e_units: dict[str, str], layer_units: dict[str, str],
                tracer: Tracer) -> dict:
    """The JSON result: every end-to-end metric, or with ``trace`` every
    per-layer metric (0 where the workload has no such layer)."""
    if trace:
        values = dict(out["layer"])
        values["session.python_rss_peak_mb"] = rss.peak_python_kb / 1024.0
        values["session.jvm_rss_peak_mb"] = rss.peak_jvm_kb / 1024.0
        values["trace.self_s"] = tracer.self_s
        values["trace.latency_p50_ms"] = out["e2e"]["latency_p50_ms"]
        values["trace.throughput_per_s"] = out["e2e"]["throughput_per_s"]
        units = layer_units
    else:
        values = dict(out["e2e"], peak_rss_mb=rss.peak_kb / 1024.0)
        units = e2e_units
    unknown = sorted(set(values) - set(units))
    if unknown:
        raise ValueError(f"metrics not declared in BENCHMARK.json: {unknown}")
    return {
        "correct": bool(out["correct"]),
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": {
            name: {"value": float(values.get(name, 0.0)), "unit": unit}
            for name, unit in units.items()
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not engine_present():
        print(f"engine package not found under {ROOT}; run from a full "
              "checkout of the repository", file=sys.stderr)
        return 2
    e2e_units, layer_units = declared_metrics()

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    tracer = Tracer(bool(args.trace))
    ctx = Context(args.seed, args.seconds, work, tracer, os.cpu_count() or 1)
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            out = run_workload(args.workload, ctx)
        print(f"{args.workload} seed={args.seed}: {time.perf_counter() - t0:.1f}s, "
              f"peak RSS python {rss.peak_python_kb / 1024:.0f} MB, "
              f"JVM {rss.peak_jvm_kb / 1024:.0f} MB", file=sys.stderr)
        tracer.write(ROOT / ".perfbench_traces" / f"{args.workload}-seed{args.seed}.json")
        line = result_line(out, rss, bool(args.trace), e2e_units,
                           layer_units, tracer)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
