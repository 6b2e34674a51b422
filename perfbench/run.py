"""Benchmark of the bento_spark engine: YAML stream pipelines and a batch
operator suite, driven only through the engine's public entry points.

    python3 perfbench/run.py --workload stream_window --seed 1 --seconds 6 --trace 0

Run it from the root of a checkout. It generates its inputs from the
seed, sets up, measures for about ``--seconds`` seconds, checks the
outputs against DuckDB and prints JSON lines: first a record of the host
and of every named figure, last the result
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 1``
interleaves traced repetitions with untraced ones and reports the
per-layer metrics instead of the end-to-end ones. See README.md in this
directory for the workloads.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shutil
import statistics
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import common as C  # noqa: E402


def _units(section: str) -> dict[str, str]:
    """Metric name -> unit for one section of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(C.MODULES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "bento_spark", "__init__.py")):
        print("perfbench: no bento_spark package at the checkout root", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    C.setup_env(ROOT, work)
    trace = bool(args.trace)
    try:
        res = importlib.import_module(C.MODULES[args.workload]).run(
            work, args.seed, args.seconds, trace)
        C.stop_jvm()
        # more set-ups, each in a fresh process once this one's JVM has
        # ended: one more untraced; a traced run first makes a traced one
        more = [C.cold_setup(args.workload, os.path.join(work, f"setup{i}"),
                             res["data"], traced)
                for i, traced in enumerate((True, False) if trace else (False,))]
    except Exception:  # noqa: BLE001 - report and fail without a result
        traceback.print_exc()
        return 1
    finally:
        C.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still works there
            pass

    setups = [res["setup_s"]] + [m["setup_s"] for m in more]
    info = dict(res["info"], workload=args.workload, trace=args.trace,
                setup_runs_s=setups, failed_frac=res["failed"] / res["attempted"])
    if trace:
        units = _units("per_layer")
        layers = res["layers"]
        # fresh processes carry no warmth from one to the next, so the
        # traced set-up compares with the untraced fresh one
        untraced = dict(res["untraced"], setup_s=setups[2])
        traced = dict(res["traced"], setup_s=setups[1])
        for name in ("plans.build_ms", "bloblang.compile_ms"):
            layers.setdefault(name, more[0][name])
        layers.update(C.overhead(untraced, traced))
        info["traced_end_to_end"] = {m: traced[m] for m in C.END_TO_END}
        info["trace.run_le_wall_x_cores"] = (
            layers["exec.run_s"] <= layers["trace.wall_x_cores_s"])
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in units.items()}
        correct = res["failed"] == 0 and info["trace.run_le_wall_x_cores"]
    else:
        units = _units("end_to_end")
        figures = dict(res["untraced"], setup_s=statistics.median(setups))
        metrics = {n: {"value": float(figures[n]), "unit": units[n]} for n in C.END_TO_END}
        correct = res["failed"] == 0 and all(
            math.isfinite(m["value"]) and m["value"] > 0 for m in metrics.values())
    print(json.dumps(info, default=str))
    print(json.dumps({"correct": bool(correct), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
