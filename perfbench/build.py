#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's main sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) into one class directory, next to
a copy of the program's resources (src/main/resources), using the
Scala compiler that ships in Spark's jars directory, so no build tool or
network is needed. The output lives under $CARGO_TARGET_DIR (default
.bench_build) in the checkout and is rebuilt only when a source changes.

Usage: python3 perfbench/build.py      (prints the class directory)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """$SPARK_HOME/jars, else the jars directory beside a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep) if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    raise BuildError("no Spark jars directory with a Scala compiler (set SPARK_HOME)")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"program sources not found at {main}: run from a full checkout")
    srcs = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    srcs += sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "*.scala")))
    return srcs


def resources():
    res = os.path.join(ROOT, "src", "main", "resources")
    return sorted(p for p in glob.glob(os.path.join(res, "**", "*"), recursive=True) if os.path.isfile(p))


def build():
    """Compile if any source changed; return the class directory."""
    jars = spark_jars()
    srcs = sources()
    res = resources()
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    staging = out + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(build_dir(), "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={build_dir()}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", staging, "@" + argfile]
    print(f"[build] compiling {len(srcs)} Scala sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    res_root = os.path.join(ROOT, "src", "main", "resources")
    for p in res:
        dst = os.path.join(staging, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(os.path.join(staging, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(staging, out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
