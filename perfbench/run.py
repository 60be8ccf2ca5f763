"""Benchmark runner: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --self-check

Run from the root of a checkout. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
metrics are the ``end_to_end`` names of BENCHMARK.json, with
``--trace 1`` the ``per_layer`` names. Lines before it describe the run.
All scratch data lives under ``.perfbench/`` in the checkout; prepared
inputs and oracle digests there are reused by later runs.

``--self-check`` runs every workload once on the smallest inputs with a
short timed window, traced, and fails unless every verification passes
and every metric named in BENCHMARK.json is produced with a unit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _workloads():
    import stream
    import warehouse

    return {"warehouse": warehouse, "stream": stream}


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 small: bool = False):
    """Run one workload and return its ``harness.Result``."""
    import probe
    from harness import Context, configure_env

    module = _workloads()[name]
    ctx = Context(ROOT, name, seed, seconds, trace, small)
    configure_env(ctx.work)
    try:
        with probe.RssSampler() as rss:
            res = module.run(ctx)
        res.e2e["peak_rss_mb"] = rss.peak_mb
        if not trace and not small and res.failed == 0:
            ctx.record(res.e2e)
    finally:
        ctx.cleanup()
    for n in module.IDLE_LAYERS:
        res.layers.setdefault(n, 0)
    return res


def _metrics(names_units: list[tuple[str, str]], which: dict) -> dict:
    return {
        n: {"value": float(which[n]), "unit": unit}
        for n, unit in names_units
        if n in which
    }


def _section(spec: dict, key: str) -> list[tuple[str, str]]:
    return [(m["name"], m["unit"]) for m in spec[key]]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-check", action="store_true")
    args = ap.parse_args(argv)

    spec = _spec()
    sys.path.insert(0, ROOT)
    import dbt_project_spark  # noqa: F401 - the program under test must be present

    from harness import shutdown_jvm

    try:
        if args.self_check:
            return self_check(spec)
        if args.workload not in {w["name"] for w in spec["workloads"]}:
            ap.error(f"unknown workload {args.workload!r}")
        seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
        res = run_workload(args.workload, args.seed, seconds, bool(args.trace))
        section = "per_layer" if args.trace else "end_to_end"
        which = res.layers if args.trace else res.e2e
        metrics = _metrics(_section(spec, section), which)
        missing = [n for n, _ in _section(spec, section) if n not in metrics]
        bad = [n for n, m in metrics.items() if not math.isfinite(m["value"])]
        if missing or bad:
            raise RuntimeError(f"metrics missing {missing} or not finite {bad}")
        for note in res.notes:
            print(note)
        print(json.dumps({
            "correct": res.failed == 0,
            "attempted": max(1, res.attempted),
            "failed": res.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        shutdown_jvm()


def self_check(spec: dict) -> int:
    """Every workload once, small and traced; all names and checks must pass."""
    problems = []
    for key in ("end_to_end", "per_layer"):
        for m in spec[key]:
            if not m.get("unit"):
                problems.append(f"{key} metric {m.get('name')} has no unit")
    for w in spec["workloads"]:
        name = w["name"]
        try:
            res = run_workload(name, seed=1, seconds=3, trace=True, small=True)
        except Exception:  # noqa: BLE001 - report every workload
            problems.append(f"{name}: raised\n{traceback.format_exc()}")
            continue
        for note in res.notes:
            print(f"[{name}] {note}")
        if res.failed:
            problems.append(f"{name}: verification failed ({res.failed} failed)")
        for key, got in (("end_to_end", res.e2e), ("per_layer", res.layers)):
            for n, _ in _section(spec, key):
                if n not in got:
                    problems.append(f"{name}: {key} metric {n} not produced")
    for p in problems:
        print("SELF-CHECK:", p)
    print("self-check", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
