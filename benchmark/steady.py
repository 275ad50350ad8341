"""Steadiness check: run every workload with several seeds, one run at a
time and interleaved, and report the median and quartiles of each
end-to-end metric, its spread (interquartile range over median) against
the bound in BENCHMARK.json, and how much of the run budget a two-commit
comparison would use (4 + 22 runs per workload within 3,420 s).

    python3 benchmark/steady.py --runs 10 --out benchmark/STEADINESS.json

With --traced, one traced run per workload follows, and the tracing
overhead is reported per workload and operation class as the traced
wall over the untraced median.

With --compare, a second set of runs of the same code is checked against
an earlier report: per end-to-end metric, both medians and spreads, the
change of the median, and whether the spread and the change are within
the metric's bound.

    python3 benchmark/steady.py --runs 10 --out first.json
    python3 benchmark/steady.py --runs 10 --first-seed 11 --traced \
        --compare first.json --out benchmark/STEADINESS.json
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
sys.path.insert(0, HERE)

import gen  # noqa: E402

# traced operation class -> (untraced metric, factor to seconds)
OVERHEAD_OPS = {
    "cold": ("cold_op_s", 1.0),
    "update": ("update_p50_s", 1.0),
    "scan": ("scan_p50_s", 1.0),
    "lookup": ("lookup_p50_ms", 1e-3),
}
# items of one warm write, by workload: its wall is items over
# write_items_per_s
WRITE_ITEMS = {"ct_store": gen.BASE_ROWS, "llm_curate": gen.N_PAGES}


def run_once(workload: str, seed: int, seconds: int, traced: bool) -> dict:
    t0 = time.time()
    p = subprocess.run(
        [
            sys.executable,
            os.path.join(HERE, "run.py"),
            "--workload", workload,
            "--seed", str(seed),
            "--seconds", str(seconds),
            "--trace", "1" if traced else "0",
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
    )
    host = {
        when: json.loads(l.split(": ", 1)[1])
        for l in p.stderr.splitlines()
        for when in ("start", "end")
        if l.startswith(f"host at {when}: ")
    }
    lines = p.stdout.strip().splitlines()
    return {
        "workload": workload,
        "seed": seed,
        "traced": traced,
        "exit": p.returncode,
        "wall_s": time.time() - t0,
        "host": host,
        "result": json.loads(lines[-1]) if p.returncode == 0 and lines else None,
    }


def summarize(bench: dict, runs: list[dict]) -> dict:
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out = {}
    for w in sorted({r["workload"] for r in runs}):
        mine = [r for r in runs if r["workload"] == w and not r["traced"]]
        ok = [r for r in mine if r["result"]]
        metrics = {}
        for name in ok[0]["result"]["metrics"] if ok else []:
            vals = [r["result"]["metrics"][name]["value"] for r in ok]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            metrics[name] = {
                "median": med,
                "q1": q1,
                "q3": q3,
                "spread": (q3 - q1) / med,
                "bound": bounds.get(name),
                "values": vals,
            }
        out[w] = {
            "runs": len(mine),
            "failed_runs": len(mine) - len(ok),
            "failed_ops": sum(r["result"]["failed"] for r in ok),
            "attempted_ops": sum(r["result"]["attempted"] for r in ok),
            "run_wall_s_median": statistics.median(r["wall_s"] for r in mine),
            "metrics": metrics,
        }
    return out


def overhead(summary: dict, runs: list[dict]) -> dict:
    """Per workload and operation class, the traced run's mean wall over
    the untraced median, less one."""
    out = {}
    for r in runs:
        if not (r["traced"] and r["result"]):
            continue
        w = r["workload"]
        pl = {k: v["value"] for k, v in r["result"]["metrics"].items()}
        e2e = summary[w]["metrics"]
        mine = out.setdefault(w, {})
        for cls, (metric, scale) in OVERHEAD_OPS.items():
            wall = pl.get(f"spark.{cls}.wall_s")
            if wall is not None and metric in e2e:
                mine[cls] = wall / (e2e[metric]["median"] * scale) - 1
        wall = pl.get("spark.write.wall_s")
        if wall is not None and "write_items_per_s" in e2e:
            mine["write"] = wall / (WRITE_ITEMS[w] / e2e["write_items_per_s"]["median"]) - 1
    return out


def compare(bench: dict, summary: dict, other: dict) -> dict:
    """This set against an earlier set of the same code. A metric passes
    if this set's spread is within its bound (`setup_s` excepted: only its
    median is compared) and its median is not worse than the earlier
    median by more than the bound."""
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    out = {}
    for w, s in summary.items():
        theirs = other["summary"].get(w, {}).get("metrics", {})
        rows = {}
        for name, m in s["metrics"].items():
            if name not in theirs:
                continue
            o = theirs[name]
            change = m["median"] / o["median"] - 1
            worse = change if better[name] == "lower" else -change
            rows[name] = {
                "median": m["median"],
                "spread": m["spread"],
                "other_median": o["median"],
                "other_spread": o["spread"],
                "change": change,
                "ok": worse <= m["bound"] and (name == "setup_s" or m["spread"] <= m["bound"]),
            }
        out[w] = rows
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--compare", help="an earlier report of the same code")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = args.workloads or [w["name"] for w in bench["workloads"]]
    runs = []
    for i in range(args.runs):
        for w in names:
            r = run_once(w, args.first_seed + i, bench["run_seconds"], False)
            runs.append(r)
            print(json.dumps({k: r[k] for k in ("workload", "seed", "exit", "wall_s")}), flush=True)
    if args.traced:
        for w in names:
            runs.append(run_once(w, args.first_seed, bench["run_seconds"], True))
    summary = summarize(bench, runs)
    n_runs = 4 + 22 * len(bench["workloads"])
    per_run = statistics.mean(s["run_wall_s_median"] for s in summary.values())
    report = {
        "summary": summary,
        "run_budget": {
            "runs": n_runs,
            "estimated_s": n_runs * per_run,
            "limit_s": 3420,
        },
        "tracing_overhead": overhead(summary, runs),
        "runs": runs,
    }
    if args.compare:
        with open(args.compare) as f:
            other = json.load(f)
        report["compare"] = {
            "other_seeds": sorted({r["seed"] for r in other["runs"] if not r["traced"]}),
            "metrics": compare(bench, summary, other),
            "other_summary": other["summary"],
        }
    for w, s in summary.items():
        print(f"{w}: {s['runs']} runs, {s['failed_ops']}/{s['attempted_ops']} ops failed, "
              f"run wall {s['run_wall_s_median']:.1f} s")
        for name, m in s["metrics"].items():
            flag = "" if m["bound"] is None or m["spread"] < m["bound"] / 3 else "  <-- spread"
            print(f"  {name:22s} median {m['median']:12.4f}  q1 {m['q1']:12.4f}  q3 {m['q3']:12.4f}"
                  f"  spread {m['spread']:.3f}  bound {m['bound']}{flag}")
    for w, rows in report.get("compare", {}).get("metrics", {}).items():
        for name, c in rows.items():
            print(f"  compare {w} {name:22s} median {c['other_median']:.4f} -> {c['median']:.4f}"
                  f" ({c['change']:+.3f})  spread {c['other_spread']:.3f} / {c['spread']:.3f}"
                  f"{'' if c['ok'] else '  <-- out of bound'}")
    print(json.dumps({"run_budget": report["run_budget"], "tracing_overhead": report["tracing_overhead"]}))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
