"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/sweep.py --workloads ingest search_batch \
        --seeds 1-10 [--trace 0] [--seconds N] --out sweep.json

Runs one process per (workload, seed), sequentially, from the repository
root, and writes every run's report plus, per workload and metric, the
median, quartiles and spread ((Q3 - Q1) / median, the steadiness measure
BENCHMARK.json's bounds are held to).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None,
            "min": min(values), "max": max(values), "n": len(values)}


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+",
                    default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    runs, table = [], {}
    for w in args.workloads:
        for s in seeds(args.seeds):
            cmd = [*bench["command"], "--workload", w, "--seed", str(s),
                   "--seconds", str(args.seconds), "--trace", str(args.trace)]
            p = subprocess.run(cmd, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                print(f"{w} seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}",
                      file=sys.stderr)
                runs.append({"workload": w, "seed": s, "exit": p.returncode})
                continue
            report, result = json.loads(lines[-2]), json.loads(lines[-1])
            runs.append({"workload": w, "seed": s, "report": report,
                         "result": result})
            vals = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
            print(f"{w} seed {s} wall {report['wall_s']:.1f}s "
                  f"correct {result['correct']} {vals}", file=sys.stderr)
    for w in args.workloads:
        ok = [r["result"] for r in runs if r["workload"] == w and "result" in r]
        if len(ok) < 2:
            continue
        table[w] = {m: summary([r["metrics"][m]["value"] for r in ok])
                    for m in ok[0]["metrics"]}
    with open(args.out, "w") as f:
        json.dump({"args": vars(args), "summary": table, "runs": runs}, f,
                  indent=1)
    for w, metrics in table.items():
        for m, s in metrics.items():
            print(f"{w:13s} {m:28s} median {s['median']:12.4f} "
                  f"spread {s['spread'] if s['spread'] is not None else float('nan'):.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
