"""Build file of the benchmark: compiles the program (`src/main`) together
with the harness (`perfbench/src`) using the Scala compiler that ships with
the Spark jars the repository builds against (`unmanagedBase` in
`build.sbt`). No sbt, no dependency resolution.

Classes go to `.bench_build/classes-<digest of the sources>`, so a checkout
compiles once and every later run reuses the result.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys


def spark_jars(root):
    """The jars in the directory `build.sbt` names as its unmanaged base."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    jars = sorted(os.path.join(m.group(1), j) for j in os.listdir(m.group(1))
                  if j.endswith(".jar"))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        raise SystemExit(f"no scala-compiler jar in {m.group(1)}")
    return jars


def sources(root):
    out = []
    for base in ("src/main", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, base)):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    if not any("/src/main/" in s for s in out):
        raise SystemExit("no program sources under src/main")
    return sorted(out)


def build(root):
    """Returns the classes directory and the classpath to run the harness
    with, compiling if needed."""
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs + jars:
        h.update(os.path.relpath(p, root).encode())
        if p in srcs:
            with open(p, "rb") as f:
                h.update(f.read())
    out = os.path.join(root, ".bench_build", "classes-" + h.hexdigest()[:16])
    classpath = os.pathsep.join([out] + jars)
    if os.path.exists(os.path.join(out, ".done")):
        return out, classpath
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, ".sources")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    jar_cp = os.pathsep.join(jars)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", jar_cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jar_cp, "@" + argfile]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    try:
        subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=800)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, classpath
