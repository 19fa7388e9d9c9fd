"""Build file of the benchmark: compiles the program's main sources and
the benchmark harness with the Scala compiler that ships in the Spark
distribution, into a directory keyed by the hash of every source file.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SCALA = "2.13.17"


def spark_jars(root):
    """`$SPARK_HOME/jars`, else the jar directory `build.sbt` names as
    its `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: Spark jars not found at '{jars}'")
    return jars


def work_dir(root):
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(root, base, "perfbench")


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not prog:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    return prog + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def build(root):
    """Compile once per source hash; return the classes directory."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    work = work_dir(root)
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, "classes-" + h.hexdigest()[:16])
    with open(os.path.join(work, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, ".done")):
            return out
        for old in glob.glob(os.path.join(work, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        os.makedirs(out)
        jars = spark_jars(root)
        compiler = ":".join(os.path.join(jars, f"scala-{m}-{SCALA}.jar")
                            for m in ("compiler", "library", "reflect"))
        cp = ":".join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
               "-nowarn", "-classpath", cp, "-d", out, *srcs]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            shutil.rmtree(out, ignore_errors=True)
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit("perfbench: build failed")
        open(os.path.join(out, ".done"), "w").close()
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
