"""Build file of the benchmark: compiles the program (`src/main/scala`)
together with the benchmark's own sources (`perfbench/src`) with the Scala
compiler that ships in the Spark distribution, into
`.bench_build/classes-<hash of the sources>`. A build whose sources have
not changed is reused.

    python3 perfbench/build.py        # from the root of a checkout
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys



def spark_jars():
    """`$SPARK_HOME/jars`, or the `jars` beside a `bin/spark-submit` on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return os.path.join(home, "jars")
    raise SystemExit("Spark distribution not found: set SPARK_HOME")


def classpath():
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars under {spark_jars()}")
    return ":".join(jars)


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    if not prog:
        raise SystemExit(f"no program sources under {root}/src/main/scala: run from the root of a checkout")
    return prog + bench


def build(root):
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, ".bench_build", "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = classpath()
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Xmx2g", "-Xss16m", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"compile failed ({r.returncode})")
    os.remove(argfile)
    open(os.path.join(tmp, ".ok"), "w").close()
    for old in glob.glob(os.path.join(root, ".bench_build", "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)  # builds of other sources
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
