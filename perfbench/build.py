#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main) together
with the benchmark harness (perfbench/src) into one class directory.

The program's build.sbt takes its dependencies from the Spark
distribution's jar directory (its `unmanagedBase`), which also ships the
Scala 2.13 compiler, so the build runs the compiler straight from there.
SPARK_JARS overrides that directory; without either, $SPARK_HOME/jars is
used. The result is keyed by a hash of every source file and reused while
it matches.

    python3 perfbench/build.py [--out DIR]
"""
import argparse
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def spark_jars(root=ROOT):
    """The jar directory: SPARK_JARS, else build.sbt's unmanagedBase, else $SPARK_HOME/jars."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def _files(top, suffix=None):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if suffix is None or n.endswith(suffix)]
    return sorted(out)


def inputs(root=ROOT):
    """Scala sources and resources of the program and of the harness."""
    prog = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(prog):
        raise BuildError(f"no program sources: {prog} is missing")
    scala = _files(prog, ".scala") + _files(os.path.join(root, "perfbench", "src"), ".scala")
    res_dir = os.path.join(root, "src", "main", "resources")
    resources = _files(res_dir) if os.path.isdir(res_dir) else []
    return scala, res_dir, resources


def stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(out_dir, root=ROOT, log=sys.stderr):
    """Returns the class directory, compiling only when a source changed."""
    scala, res_dir, resources = inputs(root)
    jars = spark_jars(root)
    if not os.path.isdir(jars):
        raise BuildError(f"Spark jars not found at {jars!r} (set SPARK_JARS)")
    key = stamp(scala + resources)
    classes = os.path.join(out_dir, "classes")
    stamp_file = os.path.join(out_dir, "classes.stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == key:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(scala) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss16m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    print(f"[build] compiling {len(scala)} Scala files", file=log, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    for p in resources:
        dest = os.path.join(tmp, os.path.relpath(p, res_dir))
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.copyfile(p, dest)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(key + "\n")
    return classes


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--out", default=os.path.join(ROOT, ".bench_build"))
    a = p.parse_args()
    try:
        print(build(a.out))
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
