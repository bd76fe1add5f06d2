#!/usr/bin/env python3
"""Record the catalog fingerprints the traced catalog pass is checked against.

    python3 perfbench/record_catalog.py

Generates the catalog tables (gen.catalog_tables), dumps every query's result
with graft.Verify, requires the DuckDB oracle (scripts/parity.py) to pass on
all of them, and only then writes each result's fingerprint to
perfbench/catalog_expected.json. Run it again when a query is added or an
oracle-checked result changes on purpose.
"""
import json
import os
import shutil
import subprocess
import sys

import gen
import run

d = run.WORK / "record"
shutil.rmtree(d, ignore_errors=True)
(d / "tables").mkdir(parents=True)
try:
    gen.catalog_tables(str(d / "tables"))
    cp = run.build()
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(run.NPROC),
               SPARK_LOCAL_DIRS=str(d / "spark-local"))
    java = ["java", f"-Xmx{run.XMX}", f"-Djava.io.tmpdir={d}"] + run.ADD_OPENS + ["-cp", cp]
    subprocess.run(java + ["graft.Verify", str(d / "tables"), str(d / "verify")],
                   cwd=d, env=env, check=True)
    parity = subprocess.run([sys.executable, str(run.ROOT / "scripts" / "parity.py"),
                             str(d / "tables"), str(d / "verify")],
                            capture_output=True, text=True)
    print(parity.stdout)
    n = len(json.loads((d / "verify" / "oracle_sql.json").read_text()))
    if f"{n}/{n} queries match" not in parity.stdout:
        sys.exit("oracle parity failed: nothing recorded")
    subprocess.run(java + ["perfbench.RecordCatalog", str(d / "verify"), str(d / "fp.json")],
                   cwd=d, env=env, check=True)
    fps = json.loads((d / "fp.json").read_text())
    (run.HERE / "catalog_expected.json").write_text(json.dumps(
        {"scale": 0.01, "seed": 42, "queries": dict(sorted(fps.items()))}, indent=1) + "\n")
    print(f"recorded {len(fps)} fingerprints")
finally:
    shutil.rmtree(d, ignore_errors=True)
