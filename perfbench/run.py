#!/usr/bin/env python3
"""thorspark benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--size full|tiny] [--corrupt none|table]

Run from the repository root. The first run in a checkout builds the engine
and the benchmark harness (perfbench/build.sbt, output under .bench_build/);
later runs reuse the build while the sources are unchanged. The first run
after a build also records the classes it loads into a class-data-sharing
archive, which cuts JVM and Spark start-up in every later run. Each run starts
one JVM at local[2], builds its inputs from the seed, measures for
`--seconds`, checks the outputs, and prints as its last line one JSON object:
`correct`, `attempted`, `failed` and `metrics` — the end-to-end metrics of
BENCHMARK.json with `--trace 0`, the per-layer metrics with `--trace 1`.
The full record (every metric, host health, spans, failures) is kept under
.bench_build/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
CLASSPATH = BUILD / "sbt-target" / "classpath.txt"
STAMP = BUILD / "build.stamp"
WORKLOADS = ("stream_upsert", "table_ops")
CDS = BUILD / "classes.jsa"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 170
# Processors the JVM sees, and so the width of its local[N] Spark session:
# half of a 4-vCPU host. The driver thread, GC and JIT keep the rest, so a
# run never has more busy threads than the host has vCPUs.
CORES = 2


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build."""
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def spark_jars():
    """The jars directory of the local Spark distribution."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        die("no Spark distribution found: set SPARK_HOME", 3)
    return str(Path(home) / "jars")


def build():
    stamp = source_stamp()
    if CLASSPATH.exists() and STAMP.exists() and STAMP.read_text() == stamp:
        return
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, SPARK_JARS=spark_jars())
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    tmp = BUILD / "tmp"
    tmp.mkdir(exist_ok=True)
    env["TMPDIR"] = str(tmp)
    env["SBT_OPTS"] = f"{env.get('SBT_OPTS', '')} -Djava.io.tmpdir={tmp}"
    log = BUILD / "build.log"
    with open(log, "w") as fh:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "compile", "exportClasspath"],
            cwd=BENCH, env=env, stdout=fh, stderr=subprocess.STDOUT,
            timeout=850).returncode
    if rc != 0 or not CLASSPATH.exists():
        sys.stderr.write(log.read_text()[-4000:])
        die(f"build failed (exit {rc}), see {log}", 3)
    CDS.unlink(missing_ok=True)
    STAMP.write_text(stamp)


def jvm(main_args, work, log, timeout, extra=()):
    """Run graft.perfbench.Main in a JVM; kills it on timeout."""
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [str(java)]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # C1 only: a run lives about a minute in a fresh JVM, too short for
    # tiered C2 compilation to settle
    # a fixed heap: the collector does not resize it while a run measures
    cmd += [f"-XX:ActiveProcessorCount={CORES}",
            "-XX:TieredStopAtLevel=1", "-XX:+UseParallelGC", "-Xms1536m",
            "-Xmx1536m", "-Xss4m",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.callstack.depth=80",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
            *extra, "-cp", CLASSPATH.read_text().strip(),
            "graft.perfbench.Main", *main_args]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=fh,
                                stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise


def run_workload(args, work, out_json, log):
    extra = ["-Xlog:disable", "-Xlog:all=error:stderr"]
    dump = BUILD / "classes.jsa.tmp"
    if CDS.exists():
        extra += ["-Xshare:auto", f"-XX:SharedArchiveFile={CDS}"]
    else:
        # the first run after a build records the classes it loads; later
        # runs map them from this class-data-sharing archive
        dump.unlink(missing_ok=True)
        extra += [f"-XX:ArchiveClassesAtExit={dump}"]
    main_args = [args.workload, str(args.seed), str(args.seconds),
                 str(args.trace), str(work), str(out_json), args.size,
                 args.corrupt]
    try:
        rc = jvm(main_args, work, log, JVM_TIMEOUT_S, extra)
        if rc != 0 and not CDS.exists():
            # a JVM that cannot record the archive runs without it
            CDS.touch()
            rc = jvm(main_args, work, log, JVM_TIMEOUT_S, extra[:2])
    except subprocess.TimeoutExpired:
        die(f"{args.workload} did not finish in {JVM_TIMEOUT_S} s, "
            f"see {log}", 4)
    if rc != 0 or not out_json.exists():
        sys.stderr.write(Path(log).read_text()[-4000:])
        die(f"JVM exited with {rc}, see {log}", 5)
    if dump.exists():
        dump.replace(CDS)
    return json.loads(out_json.read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt", choices=("none", "table"), default="none")
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die("engine sources (src/main/scala/graft) not found: run from a "
            "full checkout")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    build()

    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = BUILD / "work" / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    results = BUILD / "results"
    results.mkdir(exist_ok=True)
    try:
        rec = run_workload(args, work, work / "result.json",
                           results / f"{name}.log")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    got = rec["metrics"]
    metrics = {}
    if args.trace == 0:
        for m in spec["end_to_end"]:
            if m["name"] not in got:
                die(f"{args.workload} did not report {m['name']}", 6)
            metrics[m["name"]] = {"value": got[m["name"]]["value"],
                                  "unit": m["unit"]}
    else:
        # a layer the workload does not exercise reports 0
        for m in spec["per_layer"]:
            v = got.get(m["name"], {"value": 0})["value"]
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    (results / f"{name}.json").write_text(json.dumps(rec, indent=1))

    for k, v in metrics.items():
        print(f"{k:44s} {v['value']:>16.6g} {v['unit']}")
    for k, v in rec["host"].items():
        print(f"host.{k:39s} {v:>16.6g}")
    for f in rec["failures"]:
        print(f"FAILED CHECK: {f}")
    attempted = max(1, rec["attempted"])
    print(json.dumps({"correct": rec["failed"] == 0 and rec["attempted"] > 0,
                      "attempted": attempted, "failed": rec["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
