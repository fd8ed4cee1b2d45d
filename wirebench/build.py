#!/usr/bin/env python3
"""Build file of the wire benchmark.

Compiles the program under test (``src/main/scala``) and the benchmark
(``wirebench/src/main/scala``, and for ``--test`` also
``wirebench/src/test/scala``) with the Scala compiler that ships with
Spark (``$SPARK_HOME/jars``, else the jar directory ``build.sbt`` names),
into ``.bench_build/wirebench/``. A step whose
sources are unchanged since its last build is skipped.

    python3 wirebench/build.py           # build
    python3 wirebench/build.py --test    # build and run the self-tests
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "wirebench")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the repository's build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


SPARK_JARS = spark_jars()

PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
TEST_SRC = os.path.join(HERE, "src", "test", "scala")


def sources(top):
    found = []
    for d, _, files in os.walk(top):
        found += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(found)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def compile_dir(name, srcs, classpath):
    """Compiles `srcs` into OUT/name unless its stamp matches; returns the dir."""
    dest = os.path.join(OUT, name)
    stamp = os.path.join(OUT, name + ".stamp")
    key = digest(srcs) + ":" + ":".join(classpath)
    if os.path.exists(stamp) and open(stamp).read() == key:
        return dest
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    cp = os.pathsep.join(classpath + [os.path.join(SPARK_JARS, "*")])
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", dest, "-cp", cp] + srcs
    print(f"wirebench: compiling {name} ({len(srcs)} files)", file=sys.stderr, flush=True)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit(f"wirebench: compiling {name} failed")
    with open(stamp, "w") as f:
        f.write(key)
    return dest


def build(with_tests=False):
    """Returns the classpath (without Spark's jars) of the built benchmark."""
    if not os.path.isdir(PROGRAM_SRC) or not sources(PROGRAM_SRC):
        raise SystemExit(f"wirebench: no program sources under {PROGRAM_SRC}")
    if not SPARK_JARS or not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"wirebench: no Spark jars (set SPARK_HOME): {SPARK_JARS!r}")
    os.makedirs(OUT, exist_ok=True)
    program = compile_dir("program", sources(PROGRAM_SRC), [])
    cp = [program] + ([PROGRAM_RES] if os.path.isdir(PROGRAM_RES) else [])
    bench = compile_dir("bench", sources(BENCH_SRC), cp)
    cp = cp + [bench]
    if with_tests:
        cp.append(compile_dir("test", sources(TEST_SRC), cp))
    return cp


def source_id():
    """The commit when run from a git checkout, else a digest of the program's sources."""
    try:
        head = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10)
        if head.returncode == 0 and os.path.isdir(os.path.join(ROOT, ".git")):
            return head.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "source-sha256:" + digest(sources(PROGRAM_SRC))[:16]


def java_cmd(classpath, main, args, extra=()):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    # no hsperfdata file outside the checkout
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss4m",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cp = os.pathsep.join(list(classpath) + [os.path.join(SPARK_JARS, "*")])
    return cmd + list(extra) + ["-cp", cp, main] + list(args)


if __name__ == "__main__":
    test = "--test" in sys.argv[1:]
    cp = build(with_tests=test)
    if test:
        sys.exit(subprocess.run(java_cmd(cp, "wirebench.SelfTest", [])).returncode)
