#!/usr/bin/env python3
"""Min-composite over committed bench run artifacts.

Every `graft.Bench` invocation writes one raw artifact under bench_runs/
(all passes, warmup included, with /proc/loadavg sampled around each pass).
This script derives the round's headline numbers FROM those artifacts so the
composite is reproducible from the repo alone:

  - per-query minimum across every timed pass of every run, leaving out a
    query's time in a pass that lists it as `failed` (artifacts written
    before Bench recorded failures list none),
  - the min-composite total (sum of per-query minima),
  - per-run context (timed totals, failed queries, load ranges) for
    host-noise adjudication.

Usage: scripts/bench_composite.py [bench_runs_dir] [--baseline BENCH_rN.json]
       scripts/bench_composite.py [bench_runs_dir] --scaling

With --baseline, also prints the shared-query composite restricted to the
queries present in the baseline's "queries" map (cross-round comparison on
the common set).

With --scaling, aggregates `scaling-*.json` artifacts written by
`graft.ScalingBench` instead: per mode, the minimum timed seconds at each
core count across every committed artifact, and the min-based north-rule
efficiency t8 / (4 * t32) — with per-artifact timed times and load ranges so
host-noise claims are checkable in-band rather than narrative.
"""
import glob
import json
import os
import sys


def scaling_main(runs_dir):
    arts = []
    for path in sorted(glob.glob(os.path.join(runs_dir, "scaling-*.json"))):
        with open(path) as f:
            art = json.load(f)
        art["_path"] = path
        arts.append(art)
    if not arts:
        print(json.dumps({"error": f"no scaling artifacts under {runs_dir}"}))
        return 1

    modes = {}
    per_art = []
    for art in arts:
        timed = [r for r in art["runs"] if r["kind"] == "timed"]
        loads = [x for r in art["runs"]
                 for x in (r.get("load_before"), r.get("load_after"))
                 if x is not None and x >= 0]
        by_cores = {}
        for r in timed:
            by_cores.setdefault(r["cores"], []).append(round(r["sec"], 2))
        per_art.append({
            "path": art["_path"], "mode": art.get("mode"), "rows": art.get("rows"),
            "timed_by_cores": by_cores,
            "load_min": min(loads) if loads else None,
            "load_max": max(loads) if loads else None,
        })
        m = modes.setdefault(art.get("mode"), {})
        for r in timed:
            m[r["cores"]] = min(m.get(r["cores"], float("inf")), r["sec"])

    summary = {}
    for mode, best in modes.items():
        entry = {f"t{c}_min_sec": round(s, 3) for c, s in sorted(best.items())}
        if 8 in best and 32 in best:
            entry["efficiency_min_based"] = round(best[8] / (4 * best[32]), 3)
        summary[mode] = entry
    print(json.dumps({"n_artifacts": len(arts), "modes": summary,
                      "artifacts": per_art}, indent=1))
    return 0


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs_dir = args[0] if args else "bench_runs"
    if "--scaling" in sys.argv:
        return scaling_main(runs_dir)
    baseline = None
    if "--baseline" in sys.argv:
        baseline_path = sys.argv[sys.argv.index("--baseline") + 1]
        with open(baseline_path) as f:
            baseline = json.load(f)

    runs = []
    for path in sorted(glob.glob(os.path.join(runs_dir, "run-*.json"))):
        with open(path) as f:
            run = json.load(f)
        run["_path"] = path
        runs.append(run)
    if not runs:
        print(json.dumps({"error": f"no run artifacts under {runs_dir}"}))
        return 1

    best = {}
    per_run = []
    n_timed = 0
    for run in runs:
        timed = [p for p in run["passes"] if p["kind"] == "timed"]
        n_timed += len(timed)
        loads = [x for p in run["passes"]
                 for x in (p.get("load_before"), p.get("load_after"))
                 if x is not None and x >= 0]
        per_run.append({
            "path": run["_path"],
            "sf": run.get("sf"),
            "timed_totals": [round(p["total"], 3) for p in timed],
            "failed": sorted({q for p in timed for q in p.get("failed", [])}),
            "load_min": min(loads) if loads else None,
            "load_max": max(loads) if loads else None,
        })
        for p in timed:
            failed = set(p.get("failed", []))
            for q, t in p["queries"].items():
                if q not in failed:  # a fast failure is not a minimum
                    best[q] = min(best.get(q, float("inf")), t)

    out = {
        "n_runs": len(runs),
        "n_timed_passes": n_timed,
        "n_queries": len(best),
        "min_composite_total": round(sum(best.values()), 3),
        "queries": {q: round(t, 4) for q, t in sorted(best.items())},
        "runs": per_run,
    }
    if baseline is not None:
        shared = sorted(set(best) & set(baseline.get("queries", {})))
        out["shared_queries"] = len(shared)
        out["shared_min_composite"] = round(sum(best[q] for q in shared), 3)
        out["shared_baseline_total"] = round(
            sum(baseline["queries"][q] for q in shared), 3)
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
