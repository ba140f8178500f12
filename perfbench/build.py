#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles the engine (`src/main/scala` of the checkout) and the benchmark's
own harness (`perfbench/src`) with the Scala compiler that ships in the Spark
distribution, so the build needs nothing beyond `$SPARK_HOME/jars` and a JDK,
and writes nothing outside the checkout. Each half is rebuilt only when the
hash of its sources changes.

    python3 perfbench/build.py            # from the root of a checkout

Prints the runtime classpath on success; exits non-zero when a source tree is
missing or a compile fails.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("build: Spark jars not found (set SPARK_HOME)")
    return jars


def scala_sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def tree_hash(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_unit(name, sources, classpath, out_root, resources=None, depends=""):
    """Compile `sources` into `<out_root>/<name>` unless its stamp matches.

    `depends` is folded into the stamp: the stamps of the units on the
    classpath, so that rebuilding one of them rebuilds this one too."""
    out = os.path.join(out_root, name)
    stamp = tree_hash(sources, extra=classpath + depends)
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-classpath", classpath, "-d", tmp] + sources
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: compiling {name} failed")
    if resources and os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def build(repo=".", out_root=".bench_build/perfbench"):
    """Build engine + harness; return the runtime classpath."""
    engine_src = os.path.join(repo, "src", "main", "scala")
    bench_src = os.path.join(HERE, "src")
    engine_files = scala_sources(engine_src)
    if not engine_files:
        raise SystemExit(f"build: no engine sources under {engine_src}")
    jars = os.path.join(spark_jars(), "*")
    engine = compile_unit("engine", engine_files, jars, out_root,
                          resources=os.path.join(repo, "src", "main", "resources"))
    with open(os.path.join(engine, ".stamp")) as f:
        engine_stamp = f.read()
    harness = compile_unit("harness", scala_sources(bench_src),
                           engine + os.pathsep + jars, out_root, depends=engine_stamp)
    return os.pathsep.join([harness, engine, jars])


if __name__ == "__main__":
    print(build())
