"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark (perfbench/scala) from source with the Scala compiler that ships
in Spark's jars directory, into .bench_build/perfbench/perfbench.jar.

    python3 perfbench/build.py      # build if sources changed; print classpath

A stamp of the source contents skips the compile when nothing changed.
Spark's jars come from $SPARK_HOME/jars, or else from the jars directory
the repository's build.sbt declares as its unmanaged base.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
JAR = os.path.join(OUT, "perfbench.jar")
# the JVM class-data archive recorded against this jar (run.py); a new
# jar invalidates it
ARCHIVE = os.path.join(OUT, "classes.jsa")
# build.sbt's Spark jars directory: unmanagedBase := file("<dir>")
SBT_JARS = re.compile(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)')


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home:
        where = os.path.join(home, "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = SBT_JARS.search(f.read())
        except OSError:
            m = None
        if m is None:
            raise BuildError("no Spark jars: set SPARK_HOME")
        where = m.group(1)
    jars = sorted(glob.glob(os.path.join(where, "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {where}")
    return jars


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError("engine sources not found: src/main/scala")
    found = []
    for top in (ENGINE_SRC, os.path.join(HERE, "scala")):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Returns the runtime classpath, compiling first if needed."""
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and os.path.exists(JAR):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return [JAR] + jars
    os.makedirs(OUT, exist_ok=True)
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(OUT, "sources.args")
    with open(args, "w") as f:
        f.write("\n".join(srcs) + "\n")
    compiler = [j for j in jars
                if re.match(r"scala-(compiler|library|reflect)-", os.path.basename(j))]
    cmd = ["java", "-Xss64m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={OUT}", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(jars),
           "-d", tmp, "@" + args]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise BuildError("scalac failed")
    # a jar, not a directory: the JVM archives classes only from jars
    for stale in (ARCHIVE, ARCHIVE + ".failed", stamp_file):
        if os.path.exists(stale):
            os.remove(stale)
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in os.walk(tmp):
            for f in sorted(files):
                path = os.path.join(d, f)
                z.write(path, os.path.relpath(path, tmp))
    os.replace(JAR + ".tmp", JAR)
    shutil.rmtree(tmp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return [JAR] + jars


if __name__ == "__main__":
    try:
        print(":".join(build()))
    except BuildError as e:
        sys.exit(f"perfbench build: {e}")
