#!/usr/bin/env python3
"""The repository benchmark: one workload of the crawl engine and its query
surface, measured end to end (--trace 0) or layer by layer (--trace 1).

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: crawl, queries (see README.md).
The first run builds the engine and the harness with sbt (offline) and
generates the query tables; both are cached under .bench_build/perfbench/
and rebuilt when a source file changes. Every run then starts one JVM,
checks every output, and prints as its last line one JSON object with the
keys correct, attempted, failed and metrics. The run exits 1 when a
correctness check fails, 2 when it cannot run at all, and 3 when the
declared cores exceed the cores available.

Extra options: --cores N (default: min(4, cores available to the JVM);
refused when larger than that), --tiny (tiny inputs, for the smoke test),
--break-check (a deliberately wrong expected answer, to show the gates
trip), --pin-digests (rewrite digests.json from this run's outputs).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ["crawl", "queries"]
# the JVM's timeout is JVM_FIXED_S + 4 x --seconds: a traced crawl run takes
# about 95 s on 4 cores, and each of its two timed loops (untraced, traced)
# measures --seconds and overshoots by one operation
JVM_FIXED_S = 150
PREPARE_TIMEOUT_S = 300
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads: both build definitions and all sources."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def build():
    """Compile the engine and the harness; return the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die("the engine's sources (build.sbt, src/main/scala) are not in this checkout")
    h = hashlib.sha256(str(ROOT).encode())
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    cp_file = WORK / "classpath.txt"
    if cp_file.is_file():
        saved = cp_file.read_text().split("\n", 1)
        if saved[0] == stamp:
            return saved[1].strip()
    WORK.mkdir(parents=True, exist_ok=True)
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "export perfbench/Runtime/fullClasspath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    with open(WORK / "build.log", "w") as log:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                           text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    with open(WORK / "build.log", "a") as log:
        log.write(p.stdout)
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        die(f"build failed (see {WORK / 'build.log'})")
    cp = lines[-1].strip()
    cp_file.write_text(stamp + "\n" + cp + "\n")
    return cp


def cpu_steal():
    """(steal, total) jiffies of all CPUs, or None where /proc/stat is absent."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7], sum(fields[:8])
    except (OSError, ValueError, IndexError):
        return None


def metric_names(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    ap.add_argument("--cores", type=int, default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--break-check", action="store_true")
    ap.add_argument("--pin-digests", action="store_true")
    a = ap.parse_args()

    wanted = metric_names(a.trace)
    cp = build()

    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xmx{HEAP}", "-XX:+UseG1GC", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(a.cores),
            "--work", str(run_dir)]
    if a.tiny:
        cmd.append("--tiny")
    if a.break_check:
        cmd.append("--break-check")
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}

    def jvm(args, log_name, timeout):
        with open(WORK / log_name, "w") as log:
            try:
                p = subprocess.run(cmd + args, cwd=ROOT, env=env, stdout=log,
                                   stderr=subprocess.STDOUT, timeout=timeout)
            except subprocess.TimeoutExpired:
                die(f"the benchmark JVM ran past {timeout} s (see {WORK / log_name})")
        if p.returncode != 0:
            if p.returncode == 3:
                refusal = (WORK / log_name).read_text().strip().splitlines()[-1]
                die(refusal.removeprefix("perfbench: "), 3)
            die(f"the benchmark JVM exited with {p.returncode} (see {WORK / log_name})")

    # inputs are generated (once per checkout) in a JVM of their own, so the
    # measured JVM always starts cold
    jvm(["--prepare"], "prepare.log", PREPARE_TIMEOUT_S)
    t0 = time.time()
    steal0 = cpu_steal()
    jvm([], "jvm.log", JVM_FIXED_S + 4 * a.seconds)
    steal1 = cpu_steal()
    report = json.loads((run_dir / "report.json").read_text())
    info = report["info"]
    failures = list(report["failures"])
    attempted = report["attempted"]

    info["jvm_wall_s"] = time.time() - t0
    if steal0 and steal1 and steal1[1] > steal0[1]:
        # share of CPU time the hypervisor gave to other guests during the run
        info["cpu_steal_share"] = (steal1[0] - steal0[0]) / (steal1[1] - steal0[1])
    if a.workload == "queries":
        import check
        out = str(run_dir / "out")
        failures += check.sql_failures(info["data_dir"], out, info["sql_checked"], a.break_check)
        digest_file = HERE / "digests.json"
        pinned = json.loads(digest_file.read_text()) if digest_file.is_file() else {}
        scale = Path(info["data_dir"]).name
        names = info["digest_checked"]
        if a.pin_digests:
            res = {q: check.digest(check.read_result(out, q)) for q in names}
            pinned[scale] = dict(pinned.get(scale, {}), **res)
            digest_file.write_text(json.dumps(pinned, indent=2, sort_keys=True) + "\n")
        failures += check.digest_failures(out, names, pinned.get(scale, {}), a.break_check)

    metrics = report["metrics"]
    missing = [m for m in wanted if m not in metrics]
    if missing and not failures:
        die(f"metrics not measured: {missing}")
    info["wall_s"] = time.time() - t0
    print(json.dumps({"session": info, "failures": failures}))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {m: metrics[m] for m in wanted if m in metrics},
    }))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    sys.path.insert(0, str(HERE))
    main()
