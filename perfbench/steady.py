"""Steadiness check: run each workload repeatedly and print, per
end-to-end metric, the median, quartiles, spread (IQR / median) and
min / max, next to the bound in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 [--workloads serve_zipf,backfill] \
        [--seed0 100] [--traced 1] [--out steady.json]

Each run is a separate process with its own seed (seed0, seed0+1, ...).
``--traced N`` adds N traced runs per workload and reports the tracing
overhead (traced minus untraced medians of query and step time).
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


def one_run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    info = next((json.loads(x.split(" ", 1)[1]) for x in lines if x.startswith("perfbench-info ")), {})
    return json.loads(lines[-1]), info


def spread_row(vals: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return {"median": q2, "q1": q1, "q3": q3, "spread": (q3 - q1) / q2 if q2 else 0.0,
            "min": min(vals), "max": max(vals)}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in a.workloads.split(","):
        results = []
        for i in range(a.runs):
            res, info = one_run(w, a.seed0 + i, a.seconds, 0)
            results.append((res, info))
            m = res["metrics"]
            print(f"{w} seed {a.seed0 + i}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']} steal_s={info.get('steal_s')} run_s={info.get('run_s')} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in m.items()), flush=True)
        rows = {k: spread_row([r["metrics"][k]["value"] for r, _ in results]) for k in bounds}
        shares = sorted({r["failed"] / r["attempted"] for r, _ in results})
        entry = {"metrics": rows, "failed_shares": shares,
                 "correct": all(r["correct"] for r, _ in results),
                 "steal_s": [i.get("steal_s") for _, i in results],
                 "term_repeat_share": statistics.median(i.get("term_repeat_share", 0) for _, i in results)}
        traced = [one_run(w, a.seed0 + 1000 + i, a.seconds, 1)[0] for i in range(a.traced)]
        if traced:
            tq = statistics.median(t["metrics"]["trace.query_p50_s"]["value"] for t in traced)
            ts = statistics.median(t["metrics"]["trace.step_p50_s"]["value"] for t in traced)
            entry["trace_overhead"] = {
                "query_p50_s": tq - rows["query_p50_s"]["median"],
                "step_p50_s": ts - rows["step_p50_s"]["median"],
            }
        report[w] = entry
        print(f"\n{w}: correct={entry['correct']} failed shares={shares} "
              f"term repeat share={entry['term_repeat_share']}")
        print(f"  {'metric':28s} {'median':>11s} {'q1':>11s} {'q3':>11s} {'spread':>7s} "
              f"{'bound':>6s} {'min':>11s} {'max':>11s}")
        for k, r in rows.items():
            print(f"  {k:28s} {r['median']:11.5g} {r['q1']:11.5g} {r['q3']:11.5g} "
                  f"{r['spread']:7.3f} {bounds[k]:6.2f} {r['min']:11.5g} {r['max']:11.5g}")
        if traced:
            print("  tracing overhead:", {k: round(v, 4) for k, v in entry["trace_overhead"].items()})
        print(flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
