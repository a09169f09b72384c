"""Repeat-runner: run the benchmark N times and report each metric's
median, quartiles and quartile spread (as a share of the median), next
to the metric's bound in BENCHMARK.json.

    python3 servebench/repeat.py --workload live --seeds 1-10 --seconds 10

Runs one after another (never in parallel: they would share the cores),
from the repository root. Each run's environment line and result are
kept in ``.servebench_run/repeat-<workload>.jsonl``; the summary is
printed as one JSON object. A run that fails or reports wrong answers
is listed, not summarized.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import summary  # noqa: E402


def seeds(spec: str) -> list[int]:
    """"1-5" or "1,4,9" → seed list."""
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run_once(workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        return {"seed": seed, "error": f"exit {p.returncode}: {p.stderr[-2000:]}"}
    return {"seed": seed, **json.loads(lines[-2]), "result": json.loads(lines[-1])}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=None,
                    help="default: run_seconds from BENCHMARK.json")
    args = ap.parse_args(argv)
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    seconds = args.seconds or bench["run_seconds"]
    os.makedirs(".servebench_run", exist_ok=True)
    log = os.path.join(".servebench_run", f"repeat-{args.workload}.jsonl")
    runs = []
    with open(log, "a") as fh:
        for seed in seeds(args.seeds):
            r = run_once(args.workload, seed, seconds)
            fh.write(json.dumps(r) + "\n")
            fh.flush()
            runs.append(r)
            print(json.dumps(r)[:400], file=sys.stderr, flush=True)
    good = [r for r in runs if "result" in r and r["result"]["correct"]]
    values: dict = {}
    for r in good:
        for name, m in r["result"]["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    out = {
        "workload": args.workload,
        "seconds": seconds,
        "runs": len(runs),
        "bad_runs": [r["seed"] for r in runs if r not in good],
        "env": good[0]["env"] if good else None,
        "metrics": {
            name: {**summary(vs), "bound": bounds.get(name)}
            for name, vs in sorted(values.items())
        },
    }
    print(json.dumps(out, indent=1))
    return 0 if not out["bad_runs"] else 1


if __name__ == "__main__":
    sys.exit(main())
