"""The sync benchmark: CDC catch-up on a nested doc index and six-surface fan-out.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the program and the benchmark from source on first use (see
perfbench/build.py), derives the workload's inputs from the base tables in
perfbench/data and --seed, runs it on one JVM with a local[N] Spark master
(N <= 4 and <= nproc), checks the outputs, and prints as its last line one
JSON object with the keys "correct", "attempted", "failed" and "metrics"
(end-to-end metrics with --trace 0, per-layer metrics with --trace 1). Everything it writes stays
under .bench_build/ and is removed when the run ends. Exits non-zero when
the correctness gate fails (the result line is still printed) or when the
run cannot start or overruns its time limit (no result line).
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # leave nothing beside the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("cdc_flagship", "fanout_media")
# The JVM's share of the 180 s a run may take; the rest covers start-up
# and removing the work directory. A traced fan-out run on a busy host
# takes up to about 165 s.
JVM_LIMIT_S = 175

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def heap_mb():
    """A quarter of physical memory, between 2 and 3 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2048, min(3072, kb // 4096))
    except (OSError, StopIteration, ValueError):
        return 2048


def java_cmd(classes, root, work, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cp = os.pathsep.join([classes, os.path.join(root, "src/main/resources"),
                          os.path.join(build.spark_jars(), "*")])
    # C1 only: a run must fit in about a minute, and on 4 cores C2's
    # background compiles lengthen the cold six-surface seed by half
    # (perfbench/README.md, "JIT").
    return (["java", f"-Xmx{heap_mb()}m", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
             "-XX:ReservedCodeCacheSize=256m", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-Dderby.system.home=" + work,
             "-Dlog4j.configurationFile=" + os.path.join(root, "perfbench", "log4j2.properties")] + opens + ["-cp", cp, main] + args)


def source_label(root):
    """The git commit when the checkout is a repository, and always the
    hash of the compiled sources."""
    label = "src:" + build.source_hash(root)[:16]
    if os.path.isdir(os.path.join(root, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True)
        if r.returncode == 0:
            label = "git:" + r.stdout.strip()[:12] + " " + label
    return label


def run_jvm(cmd, cwd):
    """Run the JVM in its own process group, relaying stdout; returns
    (exit code, stdout lines), exit code None on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=JVM_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, []
    return p.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    root = os.getcwd()
    try:
        classes = build.build(root)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    data = os.path.join(root, "perfbench", "data")
    base = os.path.join(root, ".bench_build", "perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        if a.selftest:
            code, lines = run_jvm(java_cmd(classes, root, work, "perfbench.SelfTest", [work, data]), root)
            print("\n".join(lines))
            return 3 if code is None else code
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--data", data, "--source", source_label(root)]
        code, lines = run_jvm(java_cmd(classes, root, work, "perfbench.Main", args), root)
        if code is None:
            print(f"perfbench: run exceeded {JVM_LIMIT_S} s and was stopped", file=sys.stderr)
            return 3
        result = None
        for line in lines:
            try:
                obj = json.loads(line)
            except ValueError:
                print(line)
                continue
            if isinstance(obj, dict) and set(obj) == {"correct", "attempted", "failed", "metrics"}:
                result = line
            else:
                print(line)
        if result is None:
            print(f"perfbench: the run printed no result (exit code {code})", file=sys.stderr)
            return code or 4
        print(result, flush=True)
        return code
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
