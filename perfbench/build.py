"""Builds graft's main sources plus the benchmark's JVM side from the
checkout's working tree.

The output directory is named by a hash of every source file's path
and bytes, so a tree that changed always compiles fresh and a build
is only reused when it came from exactly these sources. Nothing
outside the checkout is written.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else build.sbt's
    `unmanagedBase` (the directory the project itself compiles
    against)."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return shutil.which("java") or "java"


def sources():
    graft = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                             recursive=True))
    if not graft:
        raise SystemExit("perfbench: no graft sources under src/main/scala")
    other = [p for p in glob.glob(os.path.join(ROOT, "src/main/**/*"),
                                  recursive=True)
             if os.path.isfile(p) and not p.endswith(".scala")]
    if other:
        raise SystemExit(f"perfbench: cannot build non-Scala sources: {other[:3]}")
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return graft, bench


def fingerprint(files, jars):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    # the compiler and libraries are part of what was built
    for j in sorted(os.listdir(jars)):
        h.update(j.encode() + b"\0")
    return h.hexdigest()[:20]


def build(log=sys.stderr):
    """Compile if needed; returns the classes directory."""
    jars = spark_jars()
    graft, bench = sources()
    key = fingerprint(graft + bench, jars)
    out = os.path.join(BUILD_DIR, f"classes-{key}")
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD_DIR, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(graft + bench))
    cp = os.path.join(jars, "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", tmp, "@" + argfile]
    print(f"perfbench: compiling {len(graft)} graft + {len(bench)} bench "
          f"sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
