"""Run the benchmark over several seeds and report, per workload and
end-to-end metric, the median and the spread the acceptance rule uses: the
distance between the first and third quartile as a share of the median.

    python3 perfbench/spread.py --seeds 1-10 [--workloads ingest,search] [--trace]

With ``--trace`` each seed also gets a traced run, and the tracing overhead is
printed: the traced ``bench.items_per_s`` against the untraced ``items_per_s``.
Runs are sequential, one Spark session at a time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in spec.split(",")]


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    *_, detail, result = out.stdout.strip().splitlines()
    return {**json.loads(result), **json.loads(detail)}


def spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for wl in args.workloads.split(","):
        rows = []
        for s in seeds(args.seeds):
            res = run_once(wl, s, args.seconds, 0)
            if args.trace:
                res["traced"] = run_once(wl, s, args.seconds, 1)
            rows.append(res)
            print(json.dumps({"workload": wl, "seed": s, **res}), flush=True)
        failed = sum(r["failed"] for r in rows)
        print(f"== {wl}: {len(rows)} runs, {failed} failed ops, all correct: "
              f"{all(r['correct'] for r in rows)}")
        for name, bound in bounds.items():
            med, sp = spread([r["metrics"][name]["value"] for r in rows])
            flag = "ok" if sp < bound / 3 or name == "setup_s" else "WIDE"
            print(f"   {name:30s} median {med:12.4f}  spread {sp:6.3f}  bound {bound}  {flag}")
        if args.trace:
            traced = statistics.median(r["traced"]["metrics"]["bench.items_per_s"]["value"] for r in rows)
            plain = statistics.median(r["metrics"]["items_per_s"]["value"] for r in rows)
            print(f"   tracing overhead on items_per_s: {traced:.4f}/s traced vs {plain:.4f}/s "
                  f"untraced ({plain / traced - 1:+.1%} time per item)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
