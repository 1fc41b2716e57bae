#!/usr/bin/env python3
"""Run one benchmark workload of this repository.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from anywhere inside a checkout. The first run builds the repo's main
sources together with the harness in perfbench/ (sbt, offline) into
$CARGO_TARGET_DIR (default .bench_build); later runs reuse that build
while the sources are unchanged. The last stdout line is the result JSON
printed by the harness. Exit code 0 means a result was printed.
"""
import argparse
import hashlib
import os
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RUN_TIMEOUT_S = 170

# Fixed per workload; never inherited from the environment. -UsePerfData
# keeps the JVM from writing its perf-data file outside the checkout.
JVM_FLAGS = {
    "conn": ["-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData"],
    "spark": ["-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", "-XX:ReservedCodeCacheSize=512m"],
}
WORKLOAD_KIND = {
    "conn-flat-flush1": "conn",
    "conn-nested-batch": "conn",
    "spark-relational": "spark",
}
# Spark on JDK 17 outside spark-submit needs these.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def source_stamp():
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", HERE / "src", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources under {ROOT / 'src' / 'main' / 'scala'}")
    out = build_dir()
    stamp_file, cp_file = out / "perfbench.stamp", out / "perfbench.classpath"
    stamp = source_stamp()
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    out.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env["PERFBENCH_BUILD_DIR"] = str(out / "sbt")
    if not (Path(env.get("SPARK_HOME", "")) / "jars").is_dir():
        fail("SPARK_HOME must name the Spark installation the program builds against")
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    env.setdefault("SBT_OPTS", " ".join(
        ["-Dsbt.offline=true", "-Xmx2g"] +
        ([f"-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] if repos.is_file() else [])))
    try:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=800)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = p.stdout.splitlines()
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-5000:])
        fail("build failed")
    cp_file.write_text(cps[-1].strip())
    stamp_file.write_text(stamp)
    return cps[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check that the output checks reject bad outputs")
    ap.add_argument("--record-expected", action="store_true",
                    help="store this run's Spark output checks as the expected ones")
    a = ap.parse_args()
    if not a.selftest and a.workload not in WORKLOAD_KIND:
        fail(f"--workload must be one of {', '.join(WORKLOAD_KIND)}")
    cp = build()
    kind = "spark" if a.selftest else WORKLOAD_KIND[a.workload]
    tmp = build_dir() / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + JVM_FLAGS[kind] + ADD_OPENS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
           "--root", str(ROOT)] +
           (["--selftest"] if a.selftest else
            ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace)]) +
           (["--record-expected"] if a.record_expected else []))
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    lines = out.rstrip("\n").splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out[-5000:])
        fail(f"harness exited with {proc.returncode} and no result", 1)
    sys.stdout.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
