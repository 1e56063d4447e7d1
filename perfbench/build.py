"""Build file of the benchmark.

Builds the program with its own sbt build (`sbt -batch compile` at the
repository root, into target/scala-2.13/classes), then compiles the benchmark
itself (perfbench/src) against those classes with the Scala compiler that
ships in the Spark distribution: the jars the sbt build compiles against
(its `unmanagedBase`), or $SPARK_HOME/jars when SPARK_HOME is set. The
benchmark's classes go to perfbench/.build/. Each stage is skipped while the
hash of its inputs is unchanged.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench build: set SPARK_HOME (build.sbt names no unmanagedBase)")
    return m.group(1)


def scala_sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compiler_cp(jars_dir):
    jars = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = glob.glob(os.path.join(jars_dir, name + "-2.13.*.jar"))
        if not found:
            raise SystemExit(f"perfbench build: no {name} jar under {jars_dir}")
        jars.append(found[0])
    return ":".join(jars)


def stamped(name, key, out, make):
    """Runs `make` unless `out` exists and the stamp of `name` holds `key`."""
    stamp = os.path.join(BUILD, name + ".stamp")
    if os.path.isdir(out) and os.path.exists(stamp) and open(stamp).read() == key:
        return
    if os.path.exists(stamp):
        os.remove(stamp)
    make()
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(key)


def sbt_compile():
    sys.stderr.write("perfbench build: sbt -batch compile\n")
    if subprocess.run(["sbt", "-batch", "compile"], cwd=ROOT, stdout=sys.stderr,
                      stdin=subprocess.DEVNULL).returncode != 0:
        raise SystemExit("perfbench build: sbt compile failed")


def scalac(out, sources, jars_dir, classpath):
    if not sources:
        raise SystemExit("perfbench build: no benchmark sources")
    subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(out)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", compiler_cp(jars_dir), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-cp", classpath, *sources]
    sys.stderr.write(f"perfbench build: compiling {len(sources)} files into {out}\n")
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("perfbench build: the benchmark failed to compile")


def build():
    """Returns the runtime classpath."""
    jars = spark_jars()
    spark_cp = os.path.join(jars, "*")
    program = [p for p in glob.glob(os.path.join(ROOT, "src", "main", "**"), recursive=True)
               + [os.path.join(ROOT, "build.sbt")] + glob.glob(os.path.join(ROOT, "project", "*.*"))
               if os.path.isfile(p)]
    program_key = digest(sorted(program), jars)
    classes = os.path.join(ROOT, "target", "scala-2.13", "classes")
    stamped("program", program_key, classes, sbt_compile)
    bench = scala_sources(os.path.join(HERE, "src"))
    bench_key = digest(bench + [os.path.abspath(__file__)], program_key)
    own = os.path.join(BUILD, "bench")
    stamped("bench", bench_key, own, lambda: scalac(own, bench, jars, f"{classes}:{spark_cp}"))
    return f"{own}:{classes}:{spark_cp}"


if __name__ == "__main__":
    print(build())
