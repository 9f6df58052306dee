"""sparksearch benchmark: one workload per invocation.

    python3 perfbench/run.py --workload serve_zipf --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Prints an info line (``perfbench-info
{...}``: host steal seconds, corpus generation time, term-cache repeat
share, notes on failed operations) and then, as the last line, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Everything it writes stays under ``.bench_build/``
(or ``$CARGO_TARGET_DIR``) in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
UNITS = {
    "setup_s": "s", "query_p50_s": "s", "query_cpu_s": "s", "step_p50_s": "s",
    "step_cpu_s": "s", "index_bytes_per_text_byte": "B/B", "peak_rss_mb": "MB",
}


def end_to_end(run, out: dict, rss: float) -> dict:
    import harness as H

    qs = [o for o in run.ops if o["kind"] == "query" and o["main"]]
    v = {
        "setup_s": out["setup_s"],
        "query_p50_s": H.median([o["wall"] for o in qs]),
        "query_cpu_s": H.median([o["cpu"] for o in qs]),
        "step_p50_s": H.median([o["wall"] for o in out["steps"]]),
        "step_cpu_s": H.median([o["cpu"] for o in out["steps"]]),
        "index_bytes_per_text_byte": out["index_bytes"] / out["text_bytes"],
        "peak_rss_mb": rss,
    }
    return {k: {"value": float(v[k]), "unit": UNITS[k]} for k in UNITS}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["serve_zipf", "backfill"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--build-serve-cache", metavar="DIR", help=argparse.SUPPRESS)
    ap.add_argument("--make-plan", metavar="FILE", help=argparse.SUPPRESS)
    ap.add_argument("--data", metavar="DIR", help=argparse.SUPPRESS)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "aspublic_spark")):
        print(f"no aspublic_spark package under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import harness as H
    import workloads as W

    if a.build_serve_cache:
        W.build_serve_cache(ROOT, a.build_serve_cache)
        return 0
    if not a.workload:
        ap.error("--workload is required")
    if a.make_plan:
        W.write_plan(a.make_plan, W.make_plan(a.workload, a.seed, a.seconds, bool(a.trace), a.data))
        return 0
    run = W.Run(ROOT, a.workload, a.seed, a.seconds, bool(a.trace))
    H.prepare_env(ROOT, run.run_dir)
    steal0, t0 = H.steal_seconds(), time.perf_counter()
    try:
        out = W.WORKLOADS[a.workload](run)
        rss = H.peak_rss_mb()
        if run.trace:
            import layers

            H.stop_spark(run.spark)
            run.spark = None
            run.layer["host.steal_s"] = H.steal_seconds() - steal0
            metrics = layers.per_layer(run, out, H.read_event_log(run.run_dir))
        else:
            metrics = end_to_end(run, out, rss)
    finally:
        if run.spark is not None:
            H.stop_spark(run.spark)
        H.rmtree(run.run_dir)
    for e in run.errors:
        print("perfbench-error", e, file=sys.stderr)
    info = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "steal_s": round(H.steal_seconds() - steal0, 2),
        "run_s": round(time.perf_counter() - t0, 2),
        "term_repeat_share": round(run.term_repeats / max(run.term_draws, 1), 3),
        "errors": len(run.errors), "fail_notes": run.fail_notes, **run.info,
    }
    print("perfbench-info", json.dumps(info))
    print(json.dumps({"correct": not run.errors, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
