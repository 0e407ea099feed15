#!/usr/bin/env python3
"""Regenerate perfbench/expected.json: the DuckDB oracle digest of every
frozen batch-suite query over perfbench/fixtures/sf0.1 (row count, Arrow
column types, canonical hash as run.py computes it). Needs a built harness
(run any batch-suite run first). Run from the checkout root:

    python3 perfbench/make_expected.py
"""
import json
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

import duckdb  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main():
    suite = json.loads((run.HERE / "suite.json").read_text())
    phases = suite["workloads"]["batch-suite"]["phases"]
    work = run.BUILD / "runs" / "oracle-sql"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss64m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in run.ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{run.CLASSES}:{run.spark_jars()}/*", "perfbench.Main", "--workload", "oracle-sql",
            "--seed", "0", "--seconds", "0", "--trace", "0", "--fixtures", str(run.HERE / "fixtures"),
            "--work", str(work), "--loops", ",".join(phases["loops"]),
            "--onepass", ",".join(phases["onepass"])]
    out = subprocess.run(cmd, cwd=run.ROOT, capture_output=True, text=True, check=True).stdout
    rep = json.loads(next(l for l in out.splitlines() if l.startswith("PERFBENCH_REPORT "))[17:])
    sf = run.HERE / "fixtures" / "sf0.1"
    con = duckdb.connect()
    for t in TABLES:
        if (sf / f"{t}.parquet").exists():
            con.execute(f"create view {t} as select * from read_parquet('{sf / t}.parquet')")
    expected = {}
    for name, sql in sorted(rep["notes"]["oracle_sql"].items()):
        if not sql:
            sys.exit(f"{name} has no oracle SQL")
        types = {f.name: str(f.type) for f in con.execute(sql).arrow().schema}
        n, h = run.canon_digest(con.execute(sql))
        expected[name] = {"rows": n, "types": types, "sha256": h}
        print(f"{name}: {n} rows")
    (run.HERE / "expected.json").write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
