#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload <log-pipeline|dlq-gate|batch-suite>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the harness (perfbench/build.sbt compiles the program's sources with
the harness's own) into .bench_build/ on first use, runs one workload in a
fresh JVM, checks the outputs, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer ones.
Frozen workload parameters (query lists, the feed and the probe) live in suite.json.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "perfbench" / "scala-2.13" / "classes"
RUN_TIMEOUT_S = 170

# the module options spark-submit would add on JDK 17 (see build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """The Spark jars directory the program's own build.sbt names."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        fail("build.sbt names no unmanagedBase (the Spark jars directory)")
    return m.group(1)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(str(ROOT / "src/main/scala/**/*.scala"), recursive=True))
    files += sorted(glob.glob(str(HERE / "src/**/*.scala"), recursive=True))
    files += [str(HERE / "build.sbt"), str(HERE / "project/build.properties")]
    for f in files:
        h.update(f.encode())
        h.update(Path(f).read_bytes())
    return h.hexdigest()


def build():
    stamp_file = BUILD / "perfbench.stamp"
    stamp = source_stamp()
    if CLASSES.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    # sbt keeps its server socket and temp files under java.io.tmpdir and
    # jna.tmpdir; point both into the checkout
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={Path.home() / '.sbt/repositories'}",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
        f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
        "-XX:-UsePerfData", "-Xmx3g", "-Xss64m",
    ])
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0 or not CLASSES.is_dir():
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    stamp_file.write_text(stamp)


def run_jvm(args, suite, work):
    w = suite["workloads"][args.workload]
    extra = []
    if args.workload == "log-pipeline":
        # the reference producer's rate with event time compressed
        nominal_eps = w["reference_eps"] * w["time_compression"]
        extra = ["--nominal-eps", str(nominal_eps), "--nominal-share", str(w["nominal_share"]),
                 "--tick-ms", str(w["tick_ms"]), "--burst-rows", str(w["burst_rows"]),
                 "--bursts", str(w["bursts"])]
    elif args.workload == "dlq-gate":
        extra = ["--shards", str(w["shards"])]
    elif args.workload == "batch-suite":
        extra = ["--loops", ",".join(w["phases"]["loops"]),
                 "--onepass", ",".join(w["phases"]["onepass"])]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = ["java"] + suite["jvm_options"] + ["-Xss64m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}:{spark_jars()}/*", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--fixtures", str(HERE / "fixtures"), "--work", str(work)]
    cmd += extra
    # every SPARK_GRAFT_* knob at its default
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{args.workload} did not finish within {RUN_TIMEOUT_S} s")
    (work / "jvm.log").write_text(err)
    print(f"perfbench: jvm {time.time() - t0:.1f} s", file=sys.stderr)
    report = next((l[len("PERFBENCH_REPORT "):] for l in out.splitlines()
                   if l.startswith("PERFBENCH_REPORT ")), None)
    if proc.returncode != 0 or report is None:
        print(err[-4000:], file=sys.stderr)
        fail(f"{args.workload} exited {proc.returncode} without a report")
    return json.loads(report)


# canonicalization of tools/local_verify.py: columns sorted by name, doubles
# rounded to 6 places, rows sorted
def canon(v):
    import math
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 6))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canon_digest(cursor):
    cols = [d[0] for d in cursor.description]
    rows = cursor.fetchall()
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted(tuple(canon(r[i]) for i in idx) for r in rows)
    h = hashlib.sha256(json.dumps([sorted(cols), canon_rows]).encode()).hexdigest()
    return len(rows), h


def verify_batch(out_dir, expected):
    """Each query's persisted output against the stored DuckDB oracle digest
    (row count, column types, canonical hash). Returns failing names."""
    import duckdb
    con = duckdb.connect()
    bad = []
    for name, exp in sorted(expected.items()):
        out = Path(out_dir) / name
        if not list(out.glob("*.parquet")):
            bad.append(name)
            continue
        src = f"read_parquet('{out}/*.parquet')"
        types = {f.name: str(f.type) for f in con.execute(f"select * from {src}").arrow().schema}
        n, h = canon_digest(con.execute(f"select * from {src}"))
        if n != exp["rows"] or h != exp["sha256"] or types != exp["types"]:
            bad.append(name)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()

    bench = ROOT / "BENCHMARK.json"
    suite_file = HERE / "suite.json"
    if not (ROOT / "src/main/scala/graft").is_dir() or not (ROOT / "build.sbt").exists():
        fail("no program sources (build.sbt, src/main/scala/graft) in this directory")
    if not bench.exists() or not suite_file.exists():
        fail("BENCHMARK.json or perfbench/suite.json missing")
    spec = json.loads(bench.read_text())
    suite = json.loads(suite_file.read_text())
    if args.workload not in suite["workloads"]:
        fail(f"unknown workload {args.workload}")

    build()
    work = BUILD / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        rep = run_jvm(args, suite, work)
        failed = int(rep["failed"])
        attempted = int(rep["attempted"])
        if args.workload == "batch-suite":
            expected = json.loads((HERE / "expected.json").read_text())
            names = {q["name"] for q in rep["notes"]["queries"]}
            bad = verify_batch(rep["notes"]["out_dir"], {k: v for k, v in expected.items() if k in names})
            missing = names - set(expected)
            failed += len(bad) + len(missing)
            rep["notes"]["oracle_failures"] = sorted(bad) + sorted(missing)
        if args.trace == 0:
            wanted = [m["name"] for m in spec["end_to_end"]]
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
            source = rep["e2e"]
        else:
            wanted = [m["name"] for m in spec["per_layer"]]
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            # a layer the workload does not exercise reads 0; a metric of a
            # layer it does exercise must be reported
            ran = tuple(suite["workloads"][args.workload]["layers"])
            source = {k: rep["layers"].get(k, None if k.startswith(ran) else 0.0) for k in wanted}
        metrics = {}
        for k in wanted:
            v = source.get(k)
            if v is None or v != v:
                failed += 1
                v = 0.0
            metrics[k] = {"value": v, "unit": units[k]}
        print(json.dumps({"run": rep["run"], "notes": rep["notes"]}))
        print(json.dumps({"correct": failed == 0, "attempted": max(1, attempted),
                          "failed": failed, "metrics": metrics}))
    finally:
        # checkpoints, shuffle files and outputs are per run; keep jvm.log
        # and a traced run's spans.jsonl
        for sub in ("spark-local", "tmp", "out", "warm", "warehouse"):
            shutil.rmtree(work / sub, ignore_errors=True)
        for cp in work.glob("cp_*"):
            shutil.rmtree(cp, ignore_errors=True)


if __name__ == "__main__":
    main()
