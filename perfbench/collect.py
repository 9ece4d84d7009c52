"""Make a result set: two sets of untraced runs of every workload over
seeds 1-10, then one traced run per workload, and a summary of each
end-to-end metric per set (median, quartiles, spread = (Q3 - Q1) /
median) with the comparison of the two sets against BENCHMARK.json's
bounds:

    python3 perfbench/collect.py --out perfbench/baseline

Writes <out>/runs.jsonl (one line per run: set, workload, seed, trace,
wall seconds, exit code, the result object and the stamp) and
<out>/summary.json, both in this one invocation.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.common import iqr_share  # noqa: E402

SEEDS = range(1, 11)
SETS = (1, 2)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True,
    )
    row = {"workload": workload, "seed": seed, "trace": trace,
           "wall_s": time.time() - t0, "exit": p.returncode}
    lines = p.stdout.strip().splitlines()
    if p.returncode == 0 and lines:
        row["result"] = json.loads(lines[-1])
        row["stamp"] = next((json.loads(x[6:]) for x in lines if x.startswith("stamp ")), None)
    else:
        row["stderr"] = p.stderr[-4000:]
    return row


def _stats(xs: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return {"median": statistics.median(xs), "q1": q1, "q3": q3,
            "spread": iqr_share(xs), "values": xs}


def summarise(rows: list[dict], spec: dict) -> dict:
    """Per workload: each set's metric statistics, and per metric whether
    the spreads (setup_s excepted) stay within its bound and the second
    set's median is not worse than the first's by more than the bound."""
    values: dict = {}
    out: dict = {}
    for r in rows:
        if r["trace"] or "result" not in r:
            continue
        w = out.setdefault(r["workload"], {"sets": {}, "compare": {}})
        s = w["sets"].setdefault(str(r["set"]), {"runs": 0, "failed_ops": 0, "metrics": {}})
        s["runs"] += 1
        s["failed_ops"] += r["result"]["failed"]
        for name, m in r["result"]["metrics"].items():
            values.setdefault((r["workload"], str(r["set"]), name), []).append(m["value"])
    for (wl, st, name), xs in values.items():
        out[wl]["sets"][st]["metrics"][name] = _stats(xs)
    for wl, w in out.items():
        if len(w["sets"]) != len(SETS):
            continue
        first, second = (w["sets"][str(i)]["metrics"] for i in SETS)
        for m in spec["end_to_end"]:
            a, b = first[m["name"]], second[m["name"]]
            change = (b["median"] - a["median"]) / a["median"]
            worse = change if m["better"] == "lower" else -change
            spreads_ok = m["name"] == "setup_s" or max(a["spread"], b["spread"]) <= m["bound"]
            w["compare"][m["name"]] = {
                "bound": m["bound"], "median_change": change,
                "spreads": [a["spread"], b["spread"]],
                "ok": spreads_ok and worse <= m["bound"],
            }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    plan = [(st, name, seed, 0) for st in SETS for name in names for seed in SEEDS]
    plan += [(SETS[-1], name, SEEDS[0], 1) for name in names]
    os.makedirs(args.out, exist_ok=True)
    rows = []
    with open(os.path.join(args.out, "runs.jsonl"), "w") as log:
        for st, name, seed, trace in plan:
            row = {"set": st, **run_once(name, seed, spec["run_seconds"], trace)}
            rows.append(row)
            log.write(json.dumps(row, sort_keys=True) + "\n")
            log.flush()
            print(st, name, seed, trace, round(row["wall_s"], 1), row["exit"],
                  (row.get("result") or {}).get("failed"), flush=True)
    summary = summarise(rows, spec)
    with open(os.path.join(args.out, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    for name, w in summary.items():
        for m, c in w["compare"].items():
            print(f"{name:11s} {m:12s} spreads {c['spreads'][0]:.3f} {c['spreads'][1]:.3f}"
                  f" median change {c['median_change']:+.3f} bound {c['bound']}"
                  f" {'ok' if c['ok'] else 'OUT'}")
    return 0 if all(r["exit"] == 0 for r in rows) else 1


if __name__ == "__main__":
    sys.exit(main())
