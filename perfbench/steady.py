"""Steadiness check: run the benchmark over several seeds and report, per
workload and end-to-end metric, the median and the quartile spread
(Q3 - Q1) / median, next to the metric's bound from BENCHMARK.json.

    python3 perfbench/steady.py --workloads etl_churn --seeds 1-5
    python3 perfbench/steady.py --seeds 1-10 --trace 1   # adds traced runs

With ``--trace 1`` each seed also gets a traced run right after its
untraced one, and the report adds the tracing overhead: traced minus
untraced median of ``cycle_p50_s`` and ``op_p50_s`` over those pairs.
Runs whose host stamps were degraded are listed and left out of
``median`` and ``spread``; ``median_all`` and ``spread_all`` pool every
run. The report is printed and written to
``.perfbench/steady-<time>.json``. ``--against <earlier report>`` adds
each metric's shift: this median over the earlier one, minus one.
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


def seeds_arg(s: str) -> list[int]:
    if "-" in s:
        lo, hi = s.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in s.split(",")]


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or len(lines) < 2:
        return {"error": f"exit {p.returncode}", "stderr": p.stderr[-2000:], "wall_s": wall}
    return {
        "result": json.loads(lines[-1]),
        "detail": json.loads(lines[-2])["detail"],
        "wall_s": wall,
    }


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--against", help="an earlier steady report to compare medians with")
    args = ap.parse_args(argv)
    before = {}
    if args.against:
        with open(args.against) as f:
            before = json.load(f)["workloads"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report: dict = {"seconds": args.seconds, "seeds": args.seeds, "workloads": {}}
    for wl in args.workloads.split(","):
        runs, traced = [], []
        for seed in args.seeds:
            r = one_run(wl, seed, args.seconds, 0)
            runs.append(r)
            print(wl, seed, json.dumps(r.get("result", r)), f"wall {r['wall_s']:.1f}s", flush=True)
            if args.trace:
                t = one_run(wl, seed, args.seconds, 1)
                traced.append(t)
                print(wl, seed, "traced", f"wall {t['wall_s']:.1f}s", flush=True)
        ok = [r for r in runs if "result" in r]
        healthy = [r for r in ok if not r["detail"]["degraded"]]
        out = {
            "runs": len(runs),
            "errors": [r for r in runs if "result" not in r],
            "degraded": [r["detail"]["seed"] for r in ok if r["detail"]["degraded"]],
            "incorrect": [r["detail"]["seed"] for r in ok if not r["result"]["correct"]],
            "wall_s_max": max(r["wall_s"] for r in runs),
            "wall_s_median": statistics.median(r["wall_s"] for r in runs),
            "metrics": {},
        }
        for name, bound in bounds.items():
            hv = [r["result"]["metrics"][name]["value"] for r in healthy]
            vals = [r["result"]["metrics"][name]["value"] for r in ok]
            if len(hv) >= 2:
                s = spread(hv)
                out["metrics"][name] = {
                    "median": statistics.median(hv), "spread": s, "bound": bound,
                    "within_third": s < bound / 3, "values": vals,
                    "median_all": statistics.median(vals), "spread_all": spread(vals),
                }
                old = before.get(wl, {}).get("metrics", {}).get(name)
                if old:
                    out["metrics"][name]["shift"] = statistics.median(hv) / old["median"] - 1
        # overhead pairs each traced run with the untraced run of its seed,
        # taken back to back, degraded window or not
        pairs = [(r, t) for r, t in zip(runs, traced) if "result" in r and "result" in t]
        tok = [t for _, t in pairs]
        if pairs:
            for key in ("cycle_p50_s", "op_p50_s"):
                tr = statistics.median(t["result"]["metrics"][f"trace.{key}"]["value"] for t in tok)
                un = statistics.median(r["result"]["metrics"][key]["value"] for r, _ in pairs)
                out[f"trace_overhead_{key}"] = {"traced": tr, "untraced": un, "diff": tr - un,
                                                "ratio": tr / un if un else None}
            out["traced_lost_jobs"] = [t["detail"]["seed"] for t in tok if t["detail"]["trace_extra"]["lost_jobs"]]
            gaps = [t["detail"]["trace_extra"].get("query_split_gap_max") for t in tok]
            if any(g is not None for g in gaps):
                out["query_split_gap_max"] = max(g for g in gaps if g is not None)
        report["workloads"][wl] = out
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    path = os.path.join(ROOT, ".perfbench", f"steady-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    for wl, out in report["workloads"].items():
        print(wl, {k: (round(v["median"], 4), round(v["spread"], 4), v["bound"], round(v.get("shift", 0), 4))
                   for k, v in out["metrics"].items()},
              "wall_max", round(out["wall_s_max"], 1), "degraded", out["degraded"])
    print("report:", path)
    return 0


if __name__ == "__main__":
    sys.exit(main())
