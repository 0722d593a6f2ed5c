#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main) and the
benchmark's own Scala sources (perfbench/src) with the Scala compiler that
ships among Spark's jars.

    python3 perfbench/build.py [build dir]

Outputs go to <build dir>/program and <build dir>/bench (default build dir:
$CARGO_TARGET_DIR, else .bench_build, relative to the repository root).
Each half is rebuilt only when a hash of its inputs changes.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """The Spark jars the sbt build compiles against (its unmanagedBase),
    else $SPARK_HOME/jars."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    if "SPARK_HOME" not in os.environ:
        raise FileNotFoundError("no unmanagedBase in build.sbt and no SPARK_HOME")
    return os.path.join(os.environ["SPARK_HOME"], "jars")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def files_under(top, suffixes):
    out = []
    for dirpath, _, names in os.walk(top):
        out += [os.path.join(dirpath, n) for n in names if n.endswith(suffixes)]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_into(out, sources, classpath, resources=None, log=sys.stderr):
    """Compiles `sources` into `out` unless `out` was built from the same
    inputs; returns `out`."""
    inputs = sources + (files_under(resources, ("",)) if resources else [])
    stamp = digest(inputs)
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, ".sources")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.pathsep.join([jars] + classpath),
           "@" + argfile]
    subprocess.run(cmd, check=True, stdout=log, stderr=log)
    os.remove(argfile)
    if resources:
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def build(out_dir=None, log=sys.stderr):
    """Builds both halves; returns the classpath entries to run with."""
    out_dir = out_dir or build_dir()
    main = os.path.join(ROOT, "src", "main")
    program_sources = files_under(os.path.join(main, "scala"), (".scala", ".java"))
    if not program_sources:
        raise FileNotFoundError(f"no program sources under {main}")
    program = compile_into(os.path.join(out_dir, "program"), program_sources, [],
                           os.path.join(main, "resources"), log)
    bench = compile_into(os.path.join(out_dir, "bench"),
                         files_under(os.path.join(HERE, "src"), (".scala",)),
                         [program], None, log)
    return [bench, program, os.path.join(spark_jars(), "*")]


if __name__ == "__main__":
    print(os.pathsep.join(build(sys.argv[1] if len(sys.argv) > 1 else None)))
