"""Builds the engine (src/main) and the benchmark (perfbench/src) into one
class directory with scalac, against the Spark distribution's jars.

The output lands in .bench_build/classes-<hash of every source>, so a
checkout builds once and an edited source tree builds afresh.
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("build: no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    for r in roots:
        if not os.path.isdir(r):
            raise SystemExit(f"build: missing source tree {os.path.relpath(r, ROOT)}")
    out = []
    for r in roots:
        for d, _, fs in os.walk(r):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build():
    """Returns the class directory, compiling it first if needed."""
    srcs = sources()
    res = os.path.join(ROOT, "src", "main", "resources")
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, ".ok")):
            return out
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        jars = spark_jars()
        all_jars = sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))
        compiler = [j for j in all_jars if os.path.basename(j).startswith(
            ("scala-compiler-", "scala-library-", "scala-reflect-"))]
        args_file = os.path.join(tmp, "sources.txt")
        with open(args_file, "w") as fh:
            fh.write("\n".join(srcs))
        cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
               "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
               "-cp", os.pathsep.join(all_jars), "@" + args_file]
        print("build: compiling %d sources" % len(srcs), file=sys.stderr)
        if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
            raise SystemExit("build: scalac failed")
        os.remove(args_file)
        if os.path.isdir(res):
            shutil.copytree(res, tmp, dirs_exist_ok=True)
        open(os.path.join(tmp, ".ok"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
        return out


if __name__ == "__main__":
    print(build())
