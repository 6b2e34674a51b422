"""One cold set-up of a workload in a fresh process: session start, and
with it the JVM launch, plus the workload's build, timed the way
``setup_s`` counts it. run.py starts it after its own JVM has ended.

    python3 perfbench/cold_setup.py --workload stream_window --work DIR \\
        --data SPOOL --trace 0

Prints one JSON line: ``setup_s`` in seconds and, with ``--trace 1``,
the spans of ``build_pipeline`` and ``compile_mapping`` in ms.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--data", required=True, help="the inputs the build reads")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    sys.path.insert(0, HERE)
    import common as C

    os.makedirs(args.work, exist_ok=True)
    C.setup_env(ROOT, args.work)
    mod = importlib.import_module(C.MODULES[args.workload])
    tracer = C.Tracer()
    if args.trace:
        C.patch_engine(tracer)
    try:
        spark, _, secs = mod.setup(args.work, args.data)
        spark.stop()
    finally:
        tracer.close()
        C.stop_jvm()
    print(json.dumps({
        "setup_s": secs,
        "plans.build_ms": tracer.total_ms("plans.build_pipeline"),
        "bloblang.compile_ms": tracer.total_ms("bloblang.compile_mapping"),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
