#!/usr/bin/env python3
"""Run one workload of the skyline benchmark, or its smoke check.

    python3 skybench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 skybench/run.py --smoke

Run from the root of a checkout of the repository. The first run builds the
program and the benchmark from source with sbt (offline) and caches the
result under skybench/target, keyed by a hash of every source and build
file; later runs start the JVM directly. The last line of stdout is the
result object: {"correct", "attempted", "failed", "metrics"}.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TARGET = HERE / "target"
STAMP = TARGET / "skybench-build.json"
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these module openings when the session is started
# outside spark-submit (the same list as the program's own build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[skybench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def build_inputs():
    """Every file whose change must trigger a rebuild."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for proj in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in proj.glob("*") if p.is_file())
    for src in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in src.rglob("*") if p.is_file())
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Returns the runtime classpath, compiling first if any source changed."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program to build: {ROOT} lacks build.sbt or src/main/scala")
    fp = fingerprint()
    if STAMP.is_file():
        stamp = json.loads(STAMP.read_text())
        if stamp.get("fingerprint") == fp:
            return stamp["classpath"]
    log("building the program and the benchmark (sbt compile) ...")
    env = dict(os.environ, COURSIER_MODE="offline")
    sbt_opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in sbt_opts:
        env["SBT_OPTS"] = (sbt_opts + " -Dsbt.offline=true").strip()
    t0 = time.time()
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"build did not finish within {BUILD_TIMEOUT_S} s")
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-8000:] + out.stderr[-4000:])
        fail("build failed")
    cps = [l.strip() for l in out.stdout.splitlines()
           if l.strip() and not l.startswith("[") and os.pathsep in l]
    if not cps:
        sys.stderr.write(out.stdout[-4000:])
        fail("build printed no classpath")
    log(f"built in {time.time() - t0:.1f} s")
    TARGET.mkdir(parents=True, exist_ok=True)
    STAMP.write_text(json.dumps({"fingerprint": fp, "classpath": cps[-1]}))
    return cps[-1]


def run_jvm(classpath, spec, workload, seed, seconds, trace, params):
    """Runs one measurement in a fresh JVM; returns (returncode, stdout lines)."""
    work = HERE / "work" / f"{workload}-{seed}-{os.getpid()}"
    out_dir = HERE / "out"
    out_dir.mkdir(parents=True, exist_ok=True)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    report = out_dir / f"{workload}-seed{seed}-trace{trace}.json"
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    heap = spec["jvm_heap"]["value"]
    cmd = [str(java), f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "skybench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work-dir", str(work), "--report", str(report),
            "--launch-epoch-ns", str(time.time_ns())]
    for k, v in params.items():
        cmd += [f"--p.{k}", str(v)]
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
        return 1, []
    finally:
        # also on SIGTERM: the JVM never outlives the benchmark
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, stdout.splitlines()


def params_of(spec, workload, smoke=False):
    w = spec["workloads"][workload]
    params = {k: v["value"] for k, v in w["params"].items()}
    if smoke:
        params.update(w.get("smoke", {}))
    return params


def result_of(lines):
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        return None
    return res if set(res) == {"correct", "attempted", "failed", "metrics"} else None


def smoke(classpath, spec):
    """Every workload at tiny sizes: all end-to-end metrics present, no
    failures, and a planted wrong answer caught by the answer key."""
    ok = True
    e2e = {m["name"]: m["unit"] for m in json.loads((ROOT / "BENCHMARK.json").read_text())["end_to_end"]}
    for name in spec["workloads"]:
        rc, lines = run_jvm(classpath, spec, name, 1, spec["smoke_seconds"]["value"], 0,
                            params_of(spec, name, smoke=True))
        res = result_of(lines) if rc == 0 else None
        for l in lines[:-1]:
            print(f"{name}: {l}")
        if res is None:
            print(f"{name}: FAILED (exit {rc}, no result)")
            ok = False
            continue
        missing = [m for m, u in e2e.items()
                   if res["metrics"].get(m, {}).get("unit") != u]
        planted = [l for l in lines if l.startswith("planted wrong answer")]
        caught = bool(planted) and not planted[0].split(": ")[1].startswith("0 of")
        good = res["correct"] and res["failed"] == 0 and not missing and caught
        ok &= good
        print(f"{name}: {'ok' if good else 'FAILED'} attempted={res['attempted']} "
              f"failed={res['failed']} missing_metrics={missing} planted_caught={caught}")
    print(json.dumps({"smoke": "ok" if ok else "failed"}))
    return 0 if ok else 1


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    classpath = build()
    spec = json.loads((HERE / "workloads.json").read_text())
    if args.smoke:
        sys.exit(smoke(classpath, spec))
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload!r}; have {sorted(spec['workloads'])}")
    rc, lines = run_jvm(classpath, spec, args.workload, args.seed, args.seconds, args.trace,
                        params_of(spec, args.workload))
    if rc != 0 or result_of(lines) is None:
        sys.stderr.write("\n".join(lines) + "\n")
        fail(f"run failed (exit {rc})")
    print("\n".join(lines), flush=True)


if __name__ == "__main__":
    main()
