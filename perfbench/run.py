#!/usr/bin/env python3
"""Run one workload of the engine benchmark and print its result line.

    python3 perfbench/run.py --workload graph_large --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The first run builds the engine's sources
together with the benchmark (sbt, offline) into .bench_build/perfbench and
reuses the build while no source changes. The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 1
the metrics are the per-layer ones and the spans are written under
.bench_build/perfbench/out.
"""
import argparse
import hashlib
import os
import pathlib
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
ENGINE_SRC = ROOT / "src" / "main"
WORKLOADS = ("graph_large", "corpus_dedup")
# A run must end well inside three minutes; the JVM is stopped past this.
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ENGINE_SRC, HERE / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def spark_home(env):
    """The Spark install to compile against: SPARK_HOME, else the first
    spark-submit on PATH that belongs to a full distribution (one with
    jars/spark-core_*.jar; a pip-installed pyspark has none)."""
    if env.get("SPARK_HOME"):
        return env["SPARK_HOME"]
    for d in env.get("PATH", "").split(os.pathsep):
        submit = pathlib.Path(d) / "spark-submit"
        if submit.is_file():
            home = submit.resolve().parents[1]
            if any((home / "jars").glob("spark-core_*.jar")):
                return str(home)
    fail("no Spark distribution found; set SPARK_HOME")


def build():
    """Compile once per source tree; return the runtime classpath."""
    stamp_file, cp_file = BUILD / "stamp", BUILD / "classpath.txt"
    stamp = source_stamp()
    if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SPARK_HOME"] = spark_home(env)
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = pathlib.Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building", file=sys.stderr)
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out.stdout)
        fail(f"build failed (exit {out.returncode})")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (ENGINE_SRC / "scala").is_dir():
        fail(f"no engine sources at {ENGINE_SRC.relative_to(ROOT)}; run from a checkout root")
    cp = build()
    out_dir = BUILD / "out"
    tmp = out_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", str(out_dir)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S}s")
    if code != 0:
        fail(f"benchmark exited with {code}")


if __name__ == "__main__":
    main()
