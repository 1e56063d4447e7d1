"""Benchmark of the graft extraction engine.

    python3 perfbench/run.py --workload <spans_job|dedup> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark (perfbench/build.py) on first use, then
runs one JVM with Spark at local[<cores>]. The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}; with --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones. The
exit code is non-zero when an output check or the full-work guard fails.
Inputs and outputs live in perfbench/.work/ and are removed on exit; a traced
run leaves its spans in perfbench/out/.
"""
import argparse
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

# JDK 17 opens Spark needs outside spark-submit (as in the sbt build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["spans_job", "dedup"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.stderr.write("perfbench: no program sources next to perfbench/ (build.sbt, src/main/scala)\n")
        return 2
    import build
    classpath = build.build()

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:+UseParallelGC",
           # JIT threads live for the whole run, so their CPU time can be
           # read and left out of the calls' CPU time (Cpu.threadsNs)
           "-XX:-UseDynamicNumberOfCompilerThreads",
           *[x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile=file:{os.path.join(HERE, 'log4j2.properties')}",
           "-cp", classpath, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", args.trace, "--work", work, "--out", os.path.join(HERE, "out")]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work)
    try:
        stdout, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.stderr.write(f"perfbench: run exceeded {TIMEOUT_S}s\n")
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    for l in lines[:-1]:
        sys.stderr.write(l + "\n")
    if not lines or not lines[-1].startswith("{"):
        sys.stderr.write(f"perfbench: the benchmark JVM exited with {proc.returncode} and no result\n")
        return proc.returncode or 1
    print(lines[-1])
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
