#!/usr/bin/env python3
"""Runs workloads over several seeds and reports each metric's spread.

    python3 perfbench/tools/spread.py --seeds 1-10 [--workloads ask,ask_batch]
        [--trace 0] [--seconds N] [--out FILE]

For every workload and metric it prints the median, the quartiles and
the spread (third minus first quartile over the median, quartiles as
`statistics.quantiles(values, n=4)` gives them) against a third of the
metric's bound in BENCHMARK.json. Run from the root of a checkout. With
`--out` it writes every run's result and the summary as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    seconds = a.seconds or spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    runs, summary = [], {}
    for w in workloads:
        results = []
        for s in seeds(a.seeds):
            t0 = time.monotonic()
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(s),
                                "--seconds", str(seconds), "--trace", str(a.trace)],
                               cwd=ROOT, capture_output=True, text=True)
            wall = time.monotonic() - t0
            if p.returncode != 0:
                print(f"{w} seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                sys.exit(1)
            res = json.loads(p.stdout.strip().splitlines()[-1])
            detail = [l for l in p.stdout.splitlines() if not l.startswith("{")]
            runs.append({"workload": w, "seed": s, "wall_s": round(wall, 1), "result": res,
                         "record": detail})
            results.append(res)
            print(f"{w} seed {s}: wall {wall:.1f} s, correct {res['correct']}, "
                  f"failed {res['failed']}/{res['attempted']}", flush=True)
        summary[w] = {}
        for name in results[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in results]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else float("nan")
            b = bounds.get(name)
            summary[w][name] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "bound": b,
                                "unit": results[0]["metrics"][name]["unit"], "runs": len(vals)}
            flag = "" if b is None else ("ok" if name == "setup_s" or spread < b / 3 else
                                         "WIDE" if spread >= b else "above b/3")
            print(f"  {w:10s} {name:28s} median {med:12.4f}  spread {spread:7.4f}"
                  + ("" if b is None else f"  bound {b}  {flag}"))
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"seconds": seconds, "trace": a.trace, "summary": summary, "runs": runs},
                      fh, indent=1)


if __name__ == "__main__":
    main()
