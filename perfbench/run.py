#!/usr/bin/env python3
"""The repo benchmark: one run of one workload.

    python3 perfbench/run.py --workload jobs_sf01 --seed 1 --seconds 20 --trace 0

Builds the program and the harness from source on first use (sbt, offline),
generates the workload's inputs from the seed, runs the workload in a fresh
JVM, checks every output, writes an artifact under perfbench/out/ and prints
one JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
Exits 1 when a check fails, 2 when the program cannot be built or run.
See perfbench/README.md for the workloads and the layer-to-metric map.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import numpy as np

import gen

NPROC = len(os.sched_getaffinity(0))  # what `nproc` prints
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / ".build"
WORK = HERE / ".work"
OUT = HERE / "out"
DEADLINE_S = 175  # a run, build excluded, must end within 180 s
XMX = "3g"  # also the initial heap: a heap that never resizes times steadier
DOCS = 5000                       # the sf0.1 documents table
ORDERS, LINES = 150_000 * 2, 600_000 * 2   # sf0.1 lineitem keys x2
WORKLOADS = ("jobs_sf01", "shelve_x2")
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
            + str(Path.home() / ".sbt" / "repositories")
            + " -Dsbt.offline=true -Xmx2g")
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

UNITS = {"_s": "s", "_jobs": "count", "compiles": "count", "tasks": "count",
         "_mb": "MB", "ratio": "ratio", "bytes_per_row": "B/row",
         "files_per_commit": "files", "ns_per_row": "ns/row"}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the program's main sources with the harness; returns the
    runtime classpath. Rebuilds only when a source changed."""
    if not (ROOT / "src" / "main" / "scala").is_dir() or not (HERE / "build.sbt").is_file():
        fail("program sources not found: expected src/main/scala next to perfbench/")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    digest = sources_digest()
    stamp, cp_file = BUILD / "stamp", BUILD / "classpath.txt"
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    with open(BUILD / "sbt.log", "w") as log:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           stdout=subprocess.PIPE, stderr=log, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if "scala-2.13/classes" in l]
    if p.returncode != 0 or not lines:
        (BUILD / "sbt.out").write_text(p.stdout)
        fail(f"build failed (exit {p.returncode}); see {BUILD}/sbt.out")
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(digest)
    return lines[-1].strip()


def loadavg():
    try:
        return float(Path("/proc/loadavg").read_text().split()[0])
    except OSError:
        return -1.0


def host():
    mem_kb = next((int(l.split()[1]) for l in Path("/proc/meminfo").read_text().splitlines()
                   if l.startswith("MemTotal:")), 0)
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True).stdout.strip() or "unknown"
        dirty = subprocess.run(["git", "status", "--porcelain", "--", "src"], cwd=ROOT,
                               capture_output=True, text=True).stdout.strip() != ""
    except OSError:
        sha, dirty = "unknown", None
    return {"head_sha": sha, "src_dirty": dirty, "nproc": NPROC,
            "mem_total_gb": round(mem_kb / 2**20, 1), "xmx": XMX}


def timed_median(fn, reps):
    """Run `fn()` `reps` times; median seconds and every time."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), times


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------------- checks

def check_jobs(res, seed, errors):
    keys = np.arange(DOCS, dtype=np.int64) + 10 * gen.key_shift(seed)
    per_tile, nomatch, multi = gen.shelve_expected(keys)
    shelved = sum(per_tile.values())
    tiles = gen.coverage_expected(keys)
    want = {"index": {"rows": DOCS, "check_diff": 0},
            "shelve": {"rows": shelved, "skip_nomatch": nomatch, "skip_multi": multi},
            "tile": {"tiles": tiles}, "knn": {"rows": 5 * DOCS}}
    for i, s in enumerate(res["sequences"]):
        for job, exp in want.items():
            got = {k: s[job].get(k) for k in exp}
            if got != exp:
                errors.append(f"sequence {i} job {job}: got {got}, expected {exp}")
        if s["readback"] != per_tile:
            errors.append(f"sequence {i}: shelved per-tile counts differ from the bbox test")


def check_shelve(res, keys, errors):
    per_tile, nomatch, multi = gen.shelve_expected(keys)
    exp = {"shelved": sum(per_tile.values()), "skip_nomatch": nomatch, "skip_multi": multi,
           "tiles": gen.coverage_expected(keys), "tile_rows": len(keys)}
    for i, r in enumerate(res["repetitions"]):
        got = {k: r.get(k) for k in exp}
        if got != exp:
            errors.append(f"repetition {i}: got {got}, expected {exp}")
    if res["repetitions"][-1].get("per_tile") != per_tile:
        errors.append("shelved per-tile counts differ from the bbox test")


def check_catalog(res, expected, errors):
    got = res.get("catalog", {})
    for q, fp in expected.items():
        if q not in got:
            continue  # a failed query is already counted by the harness
        if got[q][:3] != fp:
            errors.append(f"catalog {q}: fingerprint {got[q][:3]} != recorded {fp}")


# ------------------------------------------------------------------ metrics

def e2e_metrics(wl, res, gen_s):
    """End-to-end metrics from one run's raw figures. The cold pass (the
    first sequence or repetition in the fresh JVM) is the warm-up, so it
    counts in setup_s; everything else is a median over warm repetitions."""
    if wl == "jobs_sf01":
        seqs = res["sequences"]
        seq_s = lambda s: sum(s[f"{j}_s"] for j in ("index", "shelve", "tile", "knn"))
        warm = [s for s in seqs if s["kind"] == "warm"]
        rows, setup_s = DOCS, gen_s + seq_s(seqs[0])
        warm_s = median([seq_s(s) for s in warm])
    else:
        reps = res["repetitions"]
        warm = [r for r in reps if r["kind"] == "warm"]
        rep_s = lambda r: r["shelve_s"] + r["tile_s"] + r["scan_s"]
        rows, setup_s = res["rows"], gen_s + res["session_start_s"] + rep_s(reps[0])
        warm_s = median([rep_s(r) for r in warm])
    shelve_s, tile_s = median([r["shelve_s"] for r in warm]), median([r["tile_s"] for r in warm])
    return {"setup_s": (setup_s, "s"), "warm_s": (warm_s, "s"),
            "join_rows_per_s": (rows / shelve_s, "rows/s"),
            "tile_rows_per_s": (rows / tile_s, "rows/s"),
            "peak_rss_mb": (res["peak_rss_mb"], "MB")}


def unit_of(name):
    return next((u for suf, u in UNITS.items() if name.endswith(suf)), "count")


# --------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    t_start = time.monotonic()
    run_dir = WORK / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    load_before = loadavg()
    try:
        result, meta = run(a, cp, run_dir, t_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    meta.update(host(), load_before=load_before, load_after=loadavg(),
                wall_s=time.monotonic() - t_start)
    OUT.mkdir(exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = f"{stamp}-{a.workload}-s{a.seed}-t{a.trace}"
    spans = meta["raw"].pop("spans", None)
    if spans is not None:
        (OUT / f"{name}-trace.json").write_text(json.dumps({"spans": spans}))
    (OUT / f"{name}.json").write_text(json.dumps(dict(meta, result=result), indent=1))
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


def run(a, cp, run_dir, t_start):
    inp = run_dir / "input"
    if a.workload == "jobs_sf01":
        def make():
            shutil.rmtree(inp, ignore_errors=True)
            inp.mkdir()
            gen.documents(str(inp / "documents.parquet"), DOCS, a.seed, 10 * gen.key_shift(a.seed))
        gen_s, gen_all = timed_median(make, 9)
        keys = None
    else:
        box = {}
        def make():
            shutil.rmtree(inp, ignore_errors=True)
            box["keys"] = gen.lineitem_keys(str(inp / "lineitem.parquet"),
                                            ORDERS, LINES, a.seed, gen.key_shift(a.seed))
        gen_s, gen_all = timed_median(make, 3)
        keys = box["keys"]

    args = [f"workload={a.workload}", f"input={inp}", f"work={run_dir / 'tables'}",
            f"seconds={a.seconds}", f"trace={a.trace}", f"out={run_dir / 'result.json'}"]
    expected = {}
    if a.trace == 1 and a.workload == "jobs_sf01":
        expected = json.loads((HERE / "catalog_expected.json").read_text())["queries"]
        cat = run_dir / "catalog"
        cat.mkdir()
        gen.catalog_tables(str(cat))
        order = sorted(expected)
        random.Random(a.seed).shuffle(order)
        args += [f"catalog={cat}", "order=" + ",".join(order)]

    env = dict(os.environ, SPARK_GRAFT_CPUS=str(NPROC),
               SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))
    tmp = run_dir / "tmp"
    tmp.mkdir()
    cmd = (["java", f"-Xms{XMX}", f"-Xmx{XMX}", f"-Djava.io.tmpdir={tmp}"] + ADD_OPENS
           + ["-cp", cp, "perfbench.Harness"] + args)
    budget = DEADLINE_S - (time.monotonic() - t_start)
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not (run_dir / "result.json").is_file():
        tail = (run_dir / "jvm.log").read_text()[-3000:]
        print(tail, file=sys.stderr)
        fail(f"harness JVM failed ({rc})")
    res = json.loads((run_dir / "result.json").read_text())
    if keys is not None:
        res["rows"] = len(keys)

    errors = list(res["errors"])
    checks = []
    try:
        if a.workload == "jobs_sf01":
            check_jobs(res, a.seed, checks)
        else:
            check_shelve(res, keys, checks)
        check_catalog(res, expected, checks)
    except (KeyError, TypeError, IndexError) as e:  # an op failed: outputs are missing
        checks.append(f"outputs incomplete: {e!r}")
    errors += checks
    attempted = max(1, res["attempted"])
    failed = min(attempted, len(errors))
    if a.trace == 0:
        metrics = e2e_metrics(a.workload, res, gen_s) if not errors else {}
    else:
        metrics = {k: (v, unit_of(k)) for k, v in res["layers"].items()}
        metrics["ops_failed_ratio"] = (failed / attempted, "ratio")
    result = {"correct": not errors, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    meta = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "spark_graft_cpus": NPROC, "gen_s": gen_all, "errors": errors,
            "confs": res.get("confs"), "raw": res}
    return result, meta


if __name__ == "__main__":
    main()
