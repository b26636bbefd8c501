"""Build file of the pipeline benchmark.

Compiles graft's main sources together with the benchmark's own Scala
sources (`perfbench/src`) using the Scala compiler that ships in Spark's
`jars` directory, so the build needs neither sbt nor a network. The output
lands in `.perfbench/build/<hash of the sources>/classes` under the
checkout, so an unchanged tree is compiled once.

    python3 perfbench/build.py      # prints the classes directory
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    """The `jars` directory of the Spark installation: `$SPARK_HOME`, else
    the one `spark-submit` on the PATH belongs to, else pyspark's."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    try:
        import pyspark
        candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in candidates:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")) and glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise BuildError("no Spark installation with a Scala compiler found; set SPARK_HOME")


def sources():
    graft = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not graft:
        raise BuildError("graft sources (src/main/scala) not found in the checkout")
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return graft + own


def build():
    """Compile when the sources changed; return the classes directory."""
    files = sources()
    h = hashlib.sha1()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    key = h.hexdigest()[:16]
    out = os.path.join(STATE, "build", key)
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes
    jars = spark_jars()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", os.path.join(tmp, "classes"), "-classpath", cp, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise BuildError(f"scalac failed with exit code {proc.returncode}")
    open(os.path.join(tmp, "ok"), "w").close()
    # one build per source tree is enough: drop the others
    for old in glob.glob(os.path.join(STATE, "build", "*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.replace(tmp, out)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
