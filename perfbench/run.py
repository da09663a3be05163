#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

Usage (from the root of a graft checkout):

    python3 perfbench/run.py --workload rag_query --seed 1 --seconds 20 --trace 0

Builds graft and the benchmark from the checkout's sources on first use
(scalac, into perfbench/target), then runs the workload in its own JVM with a
fixed heap. Each run gets an empty, run-private scratch root under
perfbench/runs/, removed when the run ends; result details and traces go
to perfbench/out/. See perfbench/README.md.
"""

import argparse
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
CLASSES = BENCH / "target" / "classes"
STAMP = BENCH / "target" / "perfbench-sources.txt"
WORKLOADS = ("rag_query", "kb_upload")
HEAP = "2g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# what spark-submit would add on JDK 17 (the same list graft's build.sbt uses)
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
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def java():
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else None
    return str(exe) if exe and exe.is_file() else "java"


def spark_jars():
    """The Spark jar directory graft compiles against: the one the parent
    build names as `unmanagedBase`, else $SPARK_HOME/jars."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    for d in ([Path(m.group(1))] if m else []) + (
            [Path(os.environ["SPARK_HOME"]) / "jars"] if "SPARK_HOME" in os.environ else []):
        if any(d.glob("scala-compiler-*.jar")):
            return d
    raise SystemExit("perfbench: no Spark jar directory with a Scala compiler found "
                     "(unmanagedBase in build.sbt, or $SPARK_HOME/jars)")


def sources():
    """Every Scala source the build compiles: graft's and the benchmark's."""
    for d in (ROOT / "src" / "main", BENCH / "src" / "main"):
        yield from (p for p in d.rglob("*.scala") if p.is_file())


def fingerprint(jars):
    """Spark jar directory, then path, size and modification time of every
    source, as one string."""
    return "\n".join([str(jars)] + [f"{p} {p.stat().st_size} {p.stat().st_mtime_ns}"
                                     for p in sorted(sources())])


def build():
    """Compile graft and the benchmark unless the sources are exactly
    those of the last build; return the runtime classpath.

    The compiler is the scalac that ships in Spark's jar directory (the
    Scala version graft builds with), run directly: a build reads only the
    checkout, the JDK and Spark's jars, and writes only under
    perfbench/target.
    """
    jars = spark_jars()
    cp = f"{CLASSES}{os.pathsep}{jars / '*'}"
    now = fingerprint(jars)
    if STAMP.exists() and STAMP.read_text() == now:
        return cp
    log("building graft and the benchmark (scalac)")
    t0 = time.time()
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    STAMP.unlink(missing_ok=True)
    tmp = BENCH / "target" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    argfile = BENCH / "target" / "sources.txt"
    argfile.write_text("".join(f"\"{p}\"\n" for p in sorted(sources())))
    cmd = [java(), "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-classpath", str(jars / "*"), "-d", str(CLASSES), "-nowarn",
           f"@{argfile}"]
    proc = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=sys.stderr,
                          stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: build failed (exit {proc.returncode})")
    STAMP.write_text(now)
    log(f"build done in {time.time() - t0:.0f} s")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs and one round, for the self-test")
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        log(f"no graft sources next to the benchmark (looked in {ROOT}); nothing to run")
        return 2

    cp = build()
    scratch = BENCH / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}-p{os.getpid()}"
    env = dict(os.environ)
    # every file the run writes stays under its scratch root
    env["GRAFT_TMP_DIR"] = str(scratch / "graft-tmp")
    env["SPARK_LOCAL_DIRS"] = str(scratch / "spark-local")
    cmd = ([java(), f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={scratch / 'tmp'}",
            f"-Dspark.hadoop.hadoop.tmp.dir={scratch / 'hadoop-tmp'}",
            # the driver binds to the loopback address whatever the host name
            "-Dspark.driver.bindAddress=127.0.0.1", "-Dspark.driver.host=127.0.0.1",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--scratch", str(scratch), "--out", str(BENCH / "out"),
              "--smoke", "1" if a.smoke else "0"])
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s; stopping it")
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
        return 1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(scratch, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        log(f"run failed (exit {proc.returncode})")
        return 1
    sys.stderr.writelines(ln + "\n" for ln in lines[:-1])
    print(lines[-1], flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
