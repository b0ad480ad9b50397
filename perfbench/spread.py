"""Run the benchmark on several seeds and report, per end-to-end metric,
the median and the interquartile spread as a share of the median
(``statistics.quantiles(values, n=4)``), next to the metric's bound.

    python3 perfbench/spread.py --workload clips --seeds 1-10 [--seconds 5]

Runs are sequential, one process at a time, from the repository root.
Each run's result and notes are appended to
``.perfbench/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 1-10")
    p.add_argument("--seconds", type=int, default=None)
    args = p.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    lo, _, hi = args.seeds.partition("-")
    seeds = range(int(lo), int(hi or lo) + 1)
    seconds = args.seconds or spec["run_seconds"]
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    log = ROOT / ".perfbench" / f"spread-{args.workload}.jsonl"
    log.parent.mkdir(exist_ok=True)
    for seed in seeds:
        t0 = time.time()
        out = subprocess.run(
            [*spec["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        lines = out.stdout.strip().splitlines()
        res, notes = json.loads(lines[-1]), json.loads(lines[-2])["notes"]
        with log.open("a") as f:
            f.write(json.dumps({"result": res, "notes": notes}) + "\n")
        if res["failed"]:
            print(notes.get("failures"), flush=True)
        print(f"seed {seed}: {time.time() - t0:.1f}s correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} "
              f"probe={notes['host_probe_items_per_s']:.0f}/"
              f"{notes['host_probe_end_items_per_s']:.0f} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values[k].append(v["value"])
    for m in spec["end_to_end"]:
        v = values[m["name"]]
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4)
        print(f"{m['name']:>12}: median {med:.4g}  spread {(q3 - q1) / med:.3f}  "
              f"bound {m['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
