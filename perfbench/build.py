#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark program (`perfbench/src`) with the Scala compiler that ships
in the Spark jar directory the engine's sbt build compiles against. No
sbt, no dependency resolution, no writes outside the build directory.

The classes land in `<build>/classes-<hash>`, where the hash covers every
source file, so an unchanged tree is never compiled twice and a changed
one never reuses stale classes.

Usage: python3 perfbench/build.py [build_dir]   (prints the classpath)

`PERFBENCH_ENGINE_ROOT` names another checkout whose engine to build with
this benchmark program (`ab.py` uses it).
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# the engine to build: this checkout, or another one for an A/B run
ROOT = os.environ.get("PERFBENCH_ENGINE_ROOT") or os.path.dirname(HERE)


def spark_jars():
    """The jar directory the engine's own build compiles against (its
    `unmanagedBase` in build.sbt), else `$SPARK_HOME/jars`."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    candidates = [m.group(1)] if m else []
    if "SPARK_HOME" in os.environ:
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for jars in candidates:
        if os.path.isdir(jars):
            return jars
    raise SystemExit("no Spark jar directory: neither build.sbt's unmanagedBase nor SPARK_HOME")


def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        if not os.path.isdir(base):
            raise SystemExit(f"missing source directory {base}")
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(build_dir):
    """Compile if needed; return the classpath to run the benchmark with."""
    jars = spark_jars()
    srcs = sources()
    resources = os.path.join(ROOT, "src", "main", "resources")
    res = sorted(os.path.join(d, f) for d, _, fs in os.walk(resources) for f in fs)
    h = hashlib.sha256()
    for s in srcs + res:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    cp = f"{out}:{jars}/*"
    if os.path.exists(os.path.join(out, ".done")):
        return cp
    os.makedirs(build_dir, exist_ok=True)
    for old in os.listdir(build_dir):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(build_dir, old), ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
         "-nowarn", "-d", out, "-classpath", f"{jars}/*", "@" + argfile],
        check=True, stdout=sys.stderr)
    if res:
        shutil.copytree(resources, out, dirs_exist_ok=True)
    open(os.path.join(out, ".done"), "w").close()
    return cp


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1
                                else os.path.join(os.path.dirname(HERE), ".bench_build"))))
