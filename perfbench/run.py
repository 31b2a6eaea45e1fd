"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the workload's inputs from the seed,
measures for ``--seconds``, checks every output, and prints as its last
line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). Lines before it give the host facts, the
measured input properties and, when traced, a per-layer table. The
metric names and units are the ones BENCHMARK.json declares. Scratch
files live under ``.perfbench_work/`` and are removed on exit; a traced
run keeps its spans in ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

T_PROC = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if sys.path and os.path.abspath(sys.path[0]) == HERE:
    sys.path.pop(0)  # import the benchmark as a package, not its modules as top level
sys.path.insert(0, ROOT)

WORKLOADS = ("batch-payload", "stream-trickle", "spans-graph")


def _on_signal(signum, _frame):
    raise SystemExit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--baseline-child", metavar="INPUT_DIR", help=argparse.SUPPRESS)
    ap.add_argument("--work", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    # fails here, before any output, when the package is not beside us
    import hypertrace_ingester_spark  # noqa: F401

    from perfbench import batch, host, spans, stream
    from perfbench.common import Ctx

    signal.signal(signal.SIGTERM, _on_signal)
    if args.baseline_child:
        print(json.dumps(batch.baseline_child(args.baseline_child, args.work)))
        return 0
    if args.workload is None:
        ap.error("--workload is required")

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    ctx = Ctx(args.workload, args.seed, args.seconds, bool(args.trace), T_PROC, work)
    facts = host.host_facts() | {"heap_mb": ctx.heap_mb, "pre": host.probes()}
    run = {"batch-payload": batch.run, "stream-trickle": stream.run,
           "spans-graph": spans.run}[args.workload]
    try:
        run(ctx)
    finally:
        for sr in ctx.runs:
            sr.close()
        facts["post"] = host.probes()
        if ctx.trace:
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            ctx.tracer.dump(os.path.join(base, "traces", f"{args.workload}-s{args.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)

    print("host " + json.dumps(facts))
    ctx.mark("end")
    print("info " + json.dumps(ctx.info))
    for p in ctx.problems:
        print("problem " + p)
    ctx.e2e["ok_ratio"] = (ctx.attempted - ctx.failed) / ctx.attempted
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if ctx.trace else "end_to_end"]
    if ctx.trace:
        values = {m["name"]: ctx.layers.get(m["name"], 0) for m in spec}
        print(f"{'layer metric':40} {'value':>16}  unit")
        for m in spec:
            print(f"{m['name']:40} {values[m['name']]:16.6g}  {m['unit']}")
    else:
        values = ctx.e2e
    print(json.dumps({
        "correct": not ctx.problems,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
