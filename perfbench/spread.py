"""Rerun one workload and print each metric's median and quartile spread.

    python3 perfbench/spread.py --workload search_tail --runs 10 [--traced]

Runs ``run.py`` once per seed (``--first-seed``, +1, ...) one after
another, then prints, per end-to-end metric, the median of the runs and
the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median — the
evidence for the bounds in BENCHMARK.json. With ``--traced`` one traced
run follows, and its query throughput is compared with the untraced
median to give the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run failed: seed {seed} exit {proc.returncode}")
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    out["wall_s"] = time.time() - t
    return out


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (Q3 - Q1) / median)."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None,
                    help="defaults to run_seconds from BENCHMARK.json")
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    runs = []
    for k in range(args.runs):
        r = run_once(args.workload, args.first_seed + k, seconds, 0)
        runs.append(r)
        print(f"seed {args.first_seed + k}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']} wall={r['wall_s']:.1f}s "
              + " ".join(f"{n}={m['value']:.4g}" for n, m in r["metrics"].items()),
              flush=True)
    print(f"\n{args.workload}: {len(runs)} runs, {seconds}s each")
    print(f"{'metric':32s} {'median':>12s} {'unit':>6s} {'IQR/med':>8s} {'bound':>6s}")
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med, sp = spread(vals)
        unit = runs[0]["metrics"][name]["unit"]
        print(f"{name:32s} {med:12.4f} {unit:>6s} {sp:8.3f} {bounds.get(name, 0):6.2f}")
    print(f"max run wall: {max(r['wall_s'] for r in runs):.1f}s, "
          f"all correct: {all(r['correct'] for r in runs)}")

    if args.traced:
        t = run_once(args.workload, args.first_seed, seconds, 1)
        qps = statistics.median(r["metrics"]["query_per_s"]["value"] for r in runs)
        traced = t["metrics"]["trace.query_per_s"]["value"]
        print(f"\ntraced run (seed {args.first_seed}), correct={t['correct']}:")
        for n, m in t["metrics"].items():
            print(f"  {n:44s} {m['value']:12.4f} {m['unit']}")
        print(f"tracing overhead on query_per_s: {1 - traced / qps:+.1%} "
              f"(traced {traced:.3f} vs untraced median {qps:.3f})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
