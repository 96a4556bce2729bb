#!/usr/bin/env python3
"""Build the program and the benchmark from source, then run one benchmark run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. Everything built or written goes under
`.bench_build/` there. The Scala sources of the program (`src/main/scala`)
and of the benchmark (`perfbench/src`) are compiled with the Scala compiler
that ships in Spark's jar directory ($SPARK_HOME/jars, else the one build.sbt
names); the build is skipped while no source has changed. The last line of stdout is
the run's result object; a build or run failure exits non-zero without one.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
BENCH = Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = BENCH / "src"
TEST_SRC = BENCH / "test"
RUN_TIMEOUT_S = 170
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """$SPARK_HOME/jars, else the `unmanagedBase` jar directory build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
        jars = Path(m.group(1)) if m else ROOT / "no-spark-jars"
    if not jars.is_dir():
        sys.exit("[perfbench] no Spark jar directory: set SPARK_HOME")
    return jars


def sources(*dirs):
    out = []
    for d in dirs:
        if not d.is_dir():
            sys.exit(f"[perfbench] missing source directory {d}")
        out += sorted(d.rglob("*.scala"))
    if not out:
        sys.exit("[perfbench] no Scala sources found")
    return out


def compile_to(dest, srcs, classpath):
    """Compile `srcs` into `dest` unless a build of the same sources is there."""
    digest = hashlib.sha256()
    for f in srcs + [Path(p) for p in classpath if p.endswith("classes")]:
        digest.update(str(f).encode())
        if f.is_file():
            digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    stamp_file = dest.with_suffix(".stamp")
    if dest.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return
    tmp = dest.with_suffix(".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jars = spark_jars()
    cp = os.pathsep.join(classpath + [str(j) for j in sorted(jars.glob("*.jar"))])
    args_file = BUILD / "scalac.args"
    args_file.write_text("\n".join(["-nowarn", "-d", str(tmp), "-classpath", cp] + [str(s) for s in srcs]))
    log(f"compiling {len(srcs)} files into {dest.name}")
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
           "-cp", str(jars / "*"), "scala.tools.nsc.Main", f"@{args_file}"]
    if subprocess.run(cmd, stdin=subprocess.DEVNULL).returncode != 0:
        sys.exit("[perfbench] compilation failed")
    log(f"compiled in {time.time() - t0:.1f} s")
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)
    stamp_file.write_text(stamp)


def build():
    BUILD.mkdir(exist_ok=True)
    classes = BUILD / "classes"
    compile_to(classes, sources(PROGRAM_SRC, BENCH_SRC), [])
    return [str(classes)]


def java_cmd(classpath, main, args, tmp):
    cp = os.pathsep.join(classpath + [str(spark_jars() / "*")])
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", cp, main] + args)


def run_java(cmd, log_path, timeout_s):
    """Run `cmd`, keep its stderr in `log_path`, return its stdout lines."""
    log_path.parent.mkdir(parents=True, exist_ok=True)
    with open(log_path, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"[perfbench] run exceeded {timeout_s} s; log: {log_path}")
    for line in log_path.read_text(errors="replace").splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    if proc.returncode != 0:
        tail = log_path.read_text(errors="replace").splitlines()[-30:]
        print("\n".join(tail + out.splitlines()), file=sys.stderr)
        sys.exit(f"[perfbench] run failed with exit code {proc.returncode}; log: {log_path}")
    return out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--selftest", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    classpath = build()
    cores = len(os.sched_getaffinity(0))
    if a.selftest:
        tests = BUILD / "test-classes"
        compile_to(tests, sources(TEST_SRC), classpath)
        tmp = BUILD / "work" / "selftest"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        lines = run_java(java_cmd(classpath + [str(tests)], "perfbench.SelfTest", [str(tmp)], tmp),
                         BUILD / "logs" / "selftest.log", RUN_TIMEOUT_S)
        shutil.rmtree(tmp, ignore_errors=True)
        print("\n".join(lines))
        return

    work = BUILD / "work" / a.workload
    tmp = BUILD / "work" / f"{a.workload}-tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", str(work), "--out", str(BUILD), "--cores", str(cores)]
    try:
        lines = run_java(java_cmd(classpath, "perfbench.Main", args, tmp),
                         BUILD / "logs" / f"{a.workload}-seed{a.seed}-trace{a.trace}.log", RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if not lines:
        sys.exit("[perfbench] run printed nothing")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("[perfbench] malformed result line")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
