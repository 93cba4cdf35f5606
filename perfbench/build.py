"""Build file of the benchmark: compiles the engine's sources together with
the harness in perfbench/src, using the Scala compiler that ships with the
Spark distribution, into a directory keyed by a hash of every input. An
unchanged tree reuses the last build.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

# the Spark distribution build.sbt compiles against
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
ENGINE_SRC = os.path.join("src", "main", "scala")
HARNESS_SRC = os.path.join("perfbench", "src")


def sources(root):
    out = []
    for d in (ENGINE_SRC, HARNESS_SRC):
        out += sorted(glob.glob(os.path.join(root, d, "**", "*.scala"),
                                recursive=True))
    return out


def compiler_jars():
    jars = [glob.glob(os.path.join(SPARK_JARS, f"scala-{n}-2.13*.jar"))
            for n in ("compiler", "library", "reflect")]
    if not all(jars):
        raise SystemExit(f"no Scala 2.13 compiler under {SPARK_JARS}")
    return [j[0] for j in jars]


def ensure(root, build_dir):
    """Classpath of an up-to-date build of the tree at `root`."""
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, ENGINE_SRC)) for s in srcs):
        raise SystemExit(f"no engine sources under {root}/{ENGINE_SRC}")
    h = hashlib.sha256()
    for f in srcs + compiler_jars():
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(build_dir, h.hexdigest()[:16])
    cp = [out, os.path.join(SPARK_JARS, "*")]
    if os.path.exists(os.path.join(out, "_ok")):
        return cp
    shutil.rmtree(build_dir, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler_jars()),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-cp", os.path.join(SPARK_JARS, "*")] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    open(os.path.join(out, "_ok"), "w").close()
    return cp


if __name__ == "__main__":
    print(":".join(ensure(os.getcwd(), os.path.join(".perfbench", "build"))))
