"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,serve} --seed N \
        --seconds S --trace {0,1}

Runs one workload, checks the program's outputs against the independent
reference (perfbench/reference.py) and prints, as the last line of stdout,
one JSON object: correct, attempted, failed and the metrics — the
end-to-end ones with --trace 0, the per-layer ones with --trace 1 (which
also writes the spans to .perfbench_out/trace-<workload>-<seed>.json).
Every workload prints the same metrics, those BENCHMARK.json lists; the
figures only one workload has go to stderr and the trace file.
Everything the run creates lives under .perfbench_out/run-<workload>-<pid>
and is removed before the result is printed.
"""

import time

T0 = time.perf_counter()  # set-up time is measured from here

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402
from perfbench.trace import NullTracer, Tracer  # noqa: E402

WORKLOADS = ("ingest", "serve")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops Spark and the shard workers (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not common.program_importable():
        print("discogsography_spark is not in this checkout", file=sys.stderr)
        return 2
    tracer = Tracer() if args.trace else NullTracer()
    run_dir = common.make_run_dir(args.workload)
    try:
        wl = importlib.import_module(f"perfbench.wl_{args.workload}")
        res = wl.run(args.seed, args.seconds, tracer, run_dir, T0)
    finally:
        tracer.restore()
        shutil.rmtree(run_dir, ignore_errors=True)
    metrics = res["layers"] if args.trace else res["e2e"]
    print("unscaled query figures: " + json.dumps(res["unscaled"]), file=sys.stderr)
    print(
        f"{args.workload} figures: "
        + json.dumps({k: v for k, (v, _) in res["own_layers"].items()}),
        file=sys.stderr,
    )
    missing = common.manifest_mismatch(metrics, "per_layer" if args.trace else "end_to_end")
    if missing:
        print(f"not as BENCHMARK.json lists them: {missing}", file=sys.stderr)
        return 3
    if args.trace:
        tracer.dump(
            os.path.join(common.OUT_DIR, f"trace-{args.workload}-{args.seed}.json"),
            {
                "metrics": {k: v for k, (v, _) in metrics.items()},
                f"{args.workload}_figures": {k: v for k, (v, _) in res["own_layers"].items()},
                # against an untraced run of the same seed: the tracing overhead
                "end_to_end": {k: v for k, (v, _) in res["e2e"].items()},
                "end_to_end_unscaled": res["unscaled"],
            },
        )
    print(
        json.dumps(
            {
                "correct": res["correct"],
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
