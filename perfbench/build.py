#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
harness (perfbench/src) with the Scala compiler that ships in the Spark jars
named by build.sbt.

    python3 perfbench/build.py

Classes go to $CARGO_TARGET_DIR (default .bench_build) under the checkout
root. A stamp of the source contents skips the build when nothing changed.
"""
import fcntl
import glob
import hashlib
import os
import re
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
SCALA = "2.13.17"


def spark_jars():
    """The Spark jar directory the sbt build compiles against (build.sbt's
    unmanagedBase), which also holds the Scala compiler."""
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        print("perfbench: no unmanagedBase jar directory in build.sbt", file=sys.stderr)
        sys.exit(2)
    return m.group(1)


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources(root):
    found = sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))
    if not found:
        print(f"perfbench: no Scala sources under {root}", file=sys.stderr)
        sys.exit(2)
    return found


def scalac(srcs, classpath, out):
    os.makedirs(out, exist_ok=True)
    compiler = ":".join(os.path.join(spark_jars(), f"scala-{p}-{SCALA}.jar")
                        for p in ("compiler", "library", "reflect"))
    args = os.path.join(os.path.dirname(out), os.path.basename(out) + ".args")
    with open(args, "w") as f:
        f.write("\n".join(["-nowarn", "-d", out, "-classpath", classpath] + srcs))
    subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler,
                    "scala.tools.nsc.Main", "@" + args], check=True)


def ensure_built():
    """Compiles when the sources changed; returns the run classpath."""
    main_src = sources(os.path.join(os.getcwd(), "src", "main", "scala"))
    bench_src = sources(os.path.join(BENCH, "src"))
    jar_dir = spark_jars()
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        print(f"perfbench: no Spark jars in {jar_dir}", file=sys.stderr)
        sys.exit(2)
    out = build_dir()
    main_cls = os.path.join(out, "classes", "main")
    bench_cls = os.path.join(out, "classes", "bench")
    h = hashlib.sha256()
    for p in main_src + bench_src + [os.path.abspath(__file__)]:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_path = os.path.join(out, "classes.stamp")
        if not (os.path.exists(stamp_path) and open(stamp_path).read() == stamp):
            subprocess.run(["rm", "-rf", os.path.join(out, "classes")], check=True)
            jar_cp = ":".join(jars)
            scalac(main_src, jar_cp, main_cls)
            scalac(bench_src, main_cls + ":" + jar_cp, bench_cls)
            with open(stamp_path, "w") as f:
                f.write(stamp)
    return ":".join([bench_cls, main_cls, os.path.join(jar_dir, "*")])


if __name__ == "__main__":
    print(ensure_built())
