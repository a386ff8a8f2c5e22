"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark (perfbench/src) into one class directory with scalac.

Spark and the Scala compiler come from the Spark distribution
($SPARK_HOME/jars, else the jars/ beside the first bin/ on PATH that holds
spark-submit); nothing is downloaded. The output lands in
.bench_build/perfbench/classes-<hash of the sources> and is reused while the
sources are unchanged.

    python3 perfbench/build.py        # prints the class directory
"""

import hashlib
import os
import shutil
import subprocess
import sys

SCALA = "2.13.17"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars")
    for d in os.environ.get("PATH", "").split(os.pathsep):
        jars = os.path.join(os.path.dirname(os.path.abspath(d)), "jars")
        if os.path.exists(os.path.join(d, "spark-submit")) and os.path.isdir(jars):
            return jars
    return "jars"  # not found: build() reports the missing compiler jars


def sources(root):
    out = []
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, top)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_hash(root):
    h = hashlib.sha256()
    for p in sources(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, log=sys.stderr):
    """Compile if needed; return the class directory."""
    if not os.path.isdir(os.path.join(root, "src/main/scala")):
        raise RuntimeError("no program sources at src/main/scala: run from the repository root")
    jars = spark_jars()
    compiler = [os.path.join(jars, f"scala-{m}-{SCALA}.jar") for m in ("compiler", "library", "reflect")]
    missing = [j for j in compiler if not os.path.exists(j)]
    if missing:
        raise RuntimeError(f"Scala {SCALA} compiler jars not found: {missing}")
    base = os.path.join(root, ".bench_build", "perfbench")
    out = os.path.join(base, "classes-" + source_hash(root)[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    os.makedirs(base, exist_ok=True)
    for d in os.listdir(base):
        if d.startswith("classes-"):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(base, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources(root)) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", out, "@" + argfile]
    print(f"[perfbench] compiling {len(sources(root))} sources ...", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise RuntimeError(f"scalac failed with exit code {r.returncode}")
    open(os.path.join(out, ".ok"), "w").close()
    return out


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except RuntimeError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(1)
