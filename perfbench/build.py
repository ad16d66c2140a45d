"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark driver (perfbench/scala) with the Scala compiler that ships in the
Spark distribution. Output goes to .bench_build/classes; a source hash
skips rebuilds.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def spark_classpath():
    return os.path.join(SPARK_JARS, "*")


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(name, srcs, classpath):
    out = os.path.join(BUILD, "classes", name)
    stamp = out + ".stamp"
    digest = _digest(srcs) + ":" + classpath
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return out
    if not srcs:
        raise SystemExit(f"build: no Scala sources for {name}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata, temp files inside the build dir: nothing lands outside the checkout
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Xss8m", "-Xmx2g",
           "-cp", spark_classpath(), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-cp", classpath] + srcs
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-6000:])
        raise SystemExit(f"build: compiling {name} failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return out


def build():
    """Compile both packages; returns the runtime classpath."""
    program = _compile("program", _sources(os.path.join(ROOT, "src", "main", "scala")),
                       spark_classpath())
    bench = _compile("bench", _sources(os.path.join(ROOT, "perfbench", "scala")),
                     os.pathsep.join([program, spark_classpath()]))
    return os.pathsep.join([bench, program, spark_classpath()])


def build_id():
    """Digest of what a run's numbers depend on: the compiled sources of
    both packages (their stamps) and the benchmark's Python files and spec,
    which make the inputs and derive the metrics."""
    h = hashlib.sha256()
    for name in ("program", "bench"):
        with open(os.path.join(BUILD, "classes", name + ".stamp")) as f:
            h.update(f.read().encode())
    here = os.path.dirname(os.path.abspath(__file__))
    h.update(_digest(sorted(glob.glob(os.path.join(here, "*.py")))
                     + [os.path.join(here, "spec.json")]).encode())
    return h.hexdigest()[:16]


if __name__ == "__main__":
    print(build())
