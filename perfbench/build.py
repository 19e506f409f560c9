"""Build file of the benchmark package.

Compiles graft's main sources together with the harness under
perfbench/src into .bench_build/classes with the Scala compiler that ships
in Spark's jars directory ($SPARK_HOME/jars, else the jars directory next to
spark-submit on PATH). A digest of every source is kept beside the classes,
so a rebuild happens only when a source changed.

    python3 perfbench/build.py        # from the repository root
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("build: no Spark jars with a Scala compiler found; set SPARK_HOME")
    return jars


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(os.path.join(main, "graft")):
        raise SystemExit(f"build: graft sources not found under {main}")
    files = glob.glob(os.path.join(main, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_built(root):
    """Compile if needed; return (classpath, source digest)."""
    jars = spark_jars()
    files = sources(root)
    sha = digest(files)
    build = os.path.join(root, ".bench_build")
    classes = os.path.join(build, "classes")
    stamp = os.path.join(build, "classes.sha256")
    classpath = os.pathsep.join([classes, os.path.join(jars, "*")])
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == sha:
        return classpath, sha
    fresh = classes + ".new"
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    argfile = os.path.join(build, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(f'"{f}"' for f in files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", fresh,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit("build: scalac failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    with open(stamp, "w") as fh:
        fh.write(sha)
    return classpath, sha


if __name__ == "__main__":
    print(ensure_built(os.getcwd())[0])
