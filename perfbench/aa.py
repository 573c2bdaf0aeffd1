"""A/A steadiness check: two sets of runs of the same code.

    python3 perfbench/aa.py [--seeds 10] [--sets 2] [--workloads a,b] [--out aa.json]

Each set runs every workload once per seed (set k uses seeds k*1000+1 ..),
with tracing off and ``run_seconds`` from BENCHMARK.json. For every
end-to-end number of every workload it reports the median, the quartiles
as ``statistics.quantiles(values, n=4)`` gives them, and the spread
(q3 - q1) / median. A gated metric is reported as unsteady if its spread
exceeds its bound in any set, or if a set's median is worse than the first
set's by more than the bound. Numbers the runs report but BENCHMARK.json
does not gate are listed with their spread only. It also prints the wall
of every run and what 4 + 22 runs per workload take at the mean run wall,
the schedule the run length is sized for (3420 s in all).
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


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, dict, float]:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} failed ({proc.returncode}):\n"
                           f"{proc.stdout[-2000:]}\n{proc.stderr[-4000:]}")
    return json.loads(lines[-1]), json.loads(lines[-2])["report"], wall


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--out", help="write the full result as JSON here")
    args = ap.parse_args()
    workloads = args.workloads.split(",")
    metrics = spec["end_to_end"]

    sets = []
    walls: list[float] = []
    for k in range(1, args.sets + 1):
        runs = {w: [] for w in workloads}
        for i in range(1, args.seeds + 1):
            for w in workloads:  # interleaved, so box drift hits every workload
                final, report, wall = run_once(w, k * 1000 + i, spec["run_seconds"])
                walls.append(wall)
                runs[w].append({"final": final, "report": report, "wall_s": wall})
                print(f"set {k} seed {k * 1000 + i} {w}: {wall:.1f}s "
                      f"correct={final['correct']} failed={final['failed']}", file=sys.stderr)
        sets.append(runs)

    # Every end-to-end number the runs report; the gated ones carry a bound.
    gated = {m["name"]: m for m in metrics}
    names = [n for n in sets[0][workloads[0]][0]["report"]["metrics"] if n != "fail_ratio"]
    result = {"sets": [], "verdicts": []}
    for k, runs in enumerate(sets, 1):
        summary = {}
        for w, rs in runs.items():
            summary[w] = {}
            for name in names:
                vals = [r["report"]["metrics"][name]["value"] for r in rs]
                med, q1, q3, sp = spread(vals)
                summary[w][name] = {"median": med, "q1": q1, "q3": q3, "spread": sp,
                                    "values": vals}
            summary[w]["failed"] = sum(r["final"]["failed"] for r in rs)
        result["sets"].append({"set": k, "summary": summary,
                               "reports": {w: [r["report"] for r in rs] for w, rs in runs.items()},
                               "walls_s": {w: [r["wall_s"] for r in rs] for w, rs in runs.items()}})

    ok = True
    print(f"{'workload':16} {'metric':13} {'bound':>5} " + " ".join(
        f"{'set' + str(k) + ' median':>14} {'spread':>7}" for k in range(1, args.sets + 1))
        + "  verdict")
    for w in workloads:
        for name in names:
            m = gated.get(name)
            cells, verdict = [], "steady" if m else "reported, not gated"
            base = result["sets"][0]["summary"][w][name]["median"]
            for s in result["sets"]:
                st = s["summary"][w][name]
                cells.append(f"{st['median']:14.4f} {st['spread']:7.3f}")
                if m is None:
                    continue
                if st["spread"] > m["bound"]:
                    verdict = "UNSTEADY (spread > bound)"
                worse = (base - st["median"]) / base if m["better"] == "higher" \
                    else (st["median"] - base) / base
                if worse > m["bound"]:
                    verdict = "UNSTEADY (set median moved > bound)"
            if m is not None and verdict != "steady":
                ok = False
            bound = f"{m['bound']:5.2f}" if m else "    -"
            result["verdicts"].append({"workload": w, "metric": name, "verdict": verdict})
            print(f"{w:16} {name:13} {bound} {' '.join(cells)}  {verdict}")
    n_runs = 4 + 22 * len(spec["workloads"])
    mean_wall = statistics.mean(walls)
    result["budget"] = {"mean_run_wall_s": mean_wall, "schedule_runs": n_runs,
                        "schedule_total_s": n_runs * mean_wall}
    print(f"mean run wall {mean_wall:.1f}s -> {n_runs} runs ~ {n_runs * mean_wall:.0f}s"
          " (at this script's workload mix)")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
