"""Served-path benchmark entry point.

    python3 servebench/run.py --workload dashboard --seed 1 --seconds 15 --trace 0

Run from the repository root. Embeds ``HttpGateway(StoreEngine)`` the
way ``python -m gigapipe_spark`` does, drives it over loopback HTTP with
payloads generated from ``--seed``, measures for ``--seconds`` and
checks every answer. Standard output ends with an environment line
(environment, plus the figures only this workload exercises) and then
one JSON result line: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics and ``--trace 1`` the
per-layer metrics of a traced run (see README.md); every workload
reports every metric.
All scratch files live under ``.servebench_run/`` in the working
directory; the store of each run is removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOAD_NAMES = ("dashboard", "live")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def manifest_names(trace: int) -> set:
    """The metric names BENCHMARK.json lists for this mode: every
    workload prints exactly these."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {m["name"] for m in bench["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, REPO]
    try:
        import gigapipe_spark  # noqa: F401
    except ImportError as ex:
        print(f"servebench: the engine is not importable here: {ex}", file=sys.stderr)
        return 2
    from harness import configure_env

    base = os.path.join(os.getcwd(), ".servebench_run")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work)
    from workloads import WORKLOADS, log

    spans_path = (
        os.path.join(base, f"spans-{args.workload}-seed{args.seed}.jsonl")
        if args.trace else None
    )
    wl = WORKLOADS[args.workload](args.seed, work, spans_path)
    try:
        t = time.perf_counter()
        wl.setup()
        setup_s = time.perf_counter() - t
        out = wl.run(args.seconds)
        metrics = wl.layer_metrics(out) if args.trace else wl.metrics(out, setup_s)
        env = {**wl.served.env(args.seed), "workload": args.workload,
               "trace": args.trace, "seconds": args.seconds}
        details = wl.details(out)
    finally:
        t = time.perf_counter()
        wl.close()
        shutil.rmtree(work, ignore_errors=True)
        log(f"closed in {time.perf_counter() - t:.1f} s")
    for msg in out.errors:
        print(f"servebench: wrong answer: {msg}", file=sys.stderr)
    differ = manifest_names(args.trace) ^ set(metrics)
    if differ:
        print(f"servebench: metrics differ from BENCHMARK.json: {sorted(differ)}",
              file=sys.stderr)
        return 3
    print(json.dumps({"env": env, "details": details}))
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
