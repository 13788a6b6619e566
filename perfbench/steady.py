"""Steadiness check: is the benchmark steady enough to judge a change?

Runs every workload of ``BENCHMARK.json`` ten times with tracing off, in two
sets (seeds 1-10, then 11-20). For each end-to-end metric it prints the
quartile spread of each set, (q3 - q1) / median, and how far the second
set's median moved from the first's in the metric's worse direction; both
must stay within the metric's ``bound`` (the spread of ``setup_s`` is not
judged). Writes ``perfbench/baseline.json``. Run from the repository root:

    python3 perfbench/steady.py
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

RUNS = 10
SETS = 2
OUT = os.path.join("perfbench", "baseline.json")


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    load = os.getloadavg()[0]
    t0 = time.time()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["wall_s"] = time.time() - t0
    res["load_1m"] = load
    return res


def judge(spec: dict, sets: list[dict[str, list[dict]]]) -> dict:
    out = {}
    for w in sets[0]:
        rows = {}
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            per_set = []
            for runs in sets:
                vals = [r["metrics"][name]["value"] for r in runs[w]]
                q1, med, q3 = statistics.quantiles(vals, n=4)
                per_set.append({"median": med, "q1": q1, "q3": q3,
                                "spread": (q3 - q1) / med, "values": vals})
            worse = -1.0 if m["better"] == "higher" else 1.0
            drifts = [worse * (s["median"] - per_set[0]["median"]) / per_set[0]["median"]
                      for s in per_set[1:]]
            ok = all(d <= bound for d in drifts) and (
                name == "setup_s" or all(s["spread"] <= bound for s in per_set)
            )
            rows[name] = {"bound": bound, "sets": per_set, "drift": drifts, "ok": ok}
        out[w] = rows
    return out


def main() -> int:
    with open("BENCHMARK.json", encoding="utf-8") as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    sets, walls, failed = [], [], 0
    for k in range(SETS):
        runs: dict[str, list[dict]] = {}
        for w in names:
            runs[w] = []
            for i in range(RUNS):
                seed = k * RUNS + i + 1
                r = one_run(w, seed, spec["run_seconds"])
                runs[w].append(r)
                walls.append(r["wall_s"])
                failed += r["failed"]
                print(f"set {k + 1} {w} seed {seed}: {r['wall_s']:.1f}s load {r['load_1m']:.1f} "
                      f"correct={r['correct']} "
                      + " ".join(f"{n}={v['value']:.5g}" for n, v in r["metrics"].items()),
                      flush=True)
        sets.append(runs)
    verdict = judge(spec, sets)
    all_ok = failed == 0
    for w, rows in verdict.items():
        print(f"\n{w}")
        for name, row in rows.items():
            spreads = " ".join(f"{s['spread']:.3f}" for s in row["sets"])
            drifts = " ".join(f"{d:+.3f}" for d in row["drift"])
            meds = " ".join(f"{s['median']:.5g}" for s in row["sets"])
            print(f"  {name:18s} bound {row['bound']:.2f}  median {meds}  spread {spreads}"
                  f"  drift {drifts}  {'ok' if row['ok'] else 'NOT STEADY'}")
            all_ok &= row["ok"]
    mean_wall = statistics.mean(walls)
    budget = (4 + 22 * len(spec["workloads"])) * mean_wall
    print(f"\nmean wall per run {mean_wall:.1f}s; 4 + 22 runs per workload take about {budget:.0f}s; "
          f"failed ops {failed}; {'STEADY' if all_ok else 'NOT STEADY'}")
    with open(OUT, "w", encoding="utf-8") as f:
        json.dump({"runs": RUNS, "sets": SETS, "mean_wall_s": mean_wall,
                   "failed_ops": failed, "steady": all_ok, "verdict": verdict}, f, indent=1)
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())
