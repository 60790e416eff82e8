#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload graph_builder --seed 1 --seconds 10 --trace 0

Builds the project and the harness if needed (perfbench/build.py), runs
the harness JVM on local[nproc], checks every output, and prints one
line per metric followed by the result as one JSON object on the last
line. --trace 0 prints the end-to-end metrics, --trace 1 the per-layer
ones. Exits non-zero without a result if the build or the run fails.

Maintenance modes (no result line):
    --export-tables DIR   write the query workloads' tables to DIR
    --write-digests       rewrite perfbench/expected_digests.json
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import stats  # noqa: E402

ROOT = HERE.parent
DIGESTS = HERE / "expected_digests.json"
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def java_cmd(classpath, work, harness_args):
    """The harness JVM: Spark's module openings, and every temporary
    file kept inside the work directory."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=%s" % tmp,
           "-Dspark.local.dir=%s" % tmp, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-cp", os.pathsep.join(str(c) for c in classpath), "perfbench.Harness"]
    return cmd + harness_args


def run_jvm(cmd, work):
    log = work / "harness.log"
    with open(log, "w") as f:
        try:
            r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S,
                               env=dict(os.environ, SPARK_LOCAL_DIRS=str(work / "tmp")))
        except subprocess.TimeoutExpired:
            raise RuntimeError("harness did not finish within %d s" % JVM_TIMEOUT_S)
    if r.returncode != 0:
        tail = log.read_text(errors="replace").splitlines()[-30:]
        raise RuntimeError("harness exited with %d:\n%s" % (r.returncode, "\n".join(tail)))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--export-tables", metavar="DIR")
    ap.add_argument("--write-digests", action="store_true")
    a = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in bench["workloads"]]
    mode = "tables" if a.export_tables else "digests" if a.write_digests else "run"
    if mode == "run" and a.workload not in names:
        sys.exit("unknown workload %r; one of %s" % (a.workload, ", ".join(names)))

    try:
        cp = build.classpath()
    except build.BuildError as e:
        sys.exit("build failed: %s" % e)

    work = ROOT / ".bench_build" / "work" / ("%s-%d" % (a.workload or mode, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out = work / "record.json"
    cores = len(os.sched_getaffinity(0))
    tables = build.tables_dir()

    def harness_args(mode):
        return ["--mode", mode, "--workload", a.workload or "-", "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores),
                "--work", str(work / "data"), "--tables", str(tables),
                "--out", str(out), "--digests", str(DIGESTS)]
    try:
        if mode == "run" and a.workload == "graph_builder" and not (tables / "DONE").is_file():
            # written once per checkout, before the clock starts, so every
            # run's set-up does the same work
            for old in tables.parent.glob("tables-*"):
                shutil.rmtree(old, ignore_errors=True)
            run_jvm(java_cmd(cp, work, harness_args("tables")), work)
        launched = time.time()
        run_jvm(java_cmd(cp, work, harness_args(mode)), work)
        if mode == "tables":
            # one parquet file per table, the layout other readers expect
            dest = Path(a.export_tables)
            dest.mkdir(parents=True, exist_ok=True)
            for t in tables.glob("*.parquet"):
                part, = t.glob("part-*.parquet")
                shutil.copyfile(part, dest / t.name)
            print("tables written to %s" % dest)
            return
        if mode == "digests":
            print("digests written to %s" % DIGESTS)
            return
        rec = json.loads(out.read_text())
    except RuntimeError as e:
        sys.exit("run failed: %s" % e)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = stats.per_layer(rec) if a.trace else stats.end_to_end(rec, launched)
    for err in rec["errors"]:
        print("FAILED %s" % err)
    print("%-32s %16s  %s" % ("error_rate", "%.4f" % (rec["failed"] / max(1, rec["attempted"])),
                              "failed/attempted (%d/%d)" % (rec["failed"], rec["attempted"])))
    for k, (v, unit) in metrics.items():
        print("%-32s %16.4f  %s" % (k, v, unit))
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
