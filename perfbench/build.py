"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark (`perfbench/src`) with the scalac in the Spark distribution's
jars, the directory the engine's sbt build compiles against. Outputs go
to `<out>/engine` and `<out>/bench`, each packed into a `classes.jar`
there (class-data sharing archives classes from jars only); each is
rebuilt only when a hash of its sources changes.

Usage: python3 perfbench/build.py [out_dir]   (default .bench_build/perfbench)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
    for a in ("--add-opens", p + "=ALL-UNNAMED")]


JAR = "classes.jar"


class BuildError(Exception):
    pass


def spark_jars():
    """The jar directory the engine's sbt build compiles against: its
    `unmanagedBase` in build.sbt, unless SPARK_JARS overrides it."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("build.sbt names no unmanagedBase jar directory "
                         "(set SPARK_JARS)")
    return m.group(1)


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_tree(srcs, out, jars, classpath, key, log):
    stamp = os.path.join(out, ".stamp")
    if (os.path.exists(stamp) and open(stamp).read() == key
            and os.path.exists(os.path.join(out, JAR))):
        return False
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", classpath] + srcs
    with open(log, "a") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed ({rc}); see {log}")
    with zipfile.ZipFile(os.path.join(tmp, JAR), "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(tmp):
            for name in sorted(files):
                if name.endswith(".class"):
                    path = os.path.join(d, name)
                    z.write(path, os.path.relpath(path, tmp))
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(key)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return True


def build(out=".bench_build/perfbench"):
    """Compile what changed; return the runtime classpath (jars only)."""
    engine_src = sources("src/main/scala")
    bench_src = sources("perfbench/src")
    if not engine_src:
        raise BuildError("no engine sources under src/main/scala: run from "
                         "the root of a checkout of the repository")
    jar_dir = spark_jars()
    if not glob.glob(os.path.join(jar_dir, "spark-core_*.jar")):
        raise BuildError(f"no Spark jars in {jar_dir} (set SPARK_JARS)")
    os.makedirs(out, exist_ok=True)
    log = os.path.join(out, "build.log")
    jars = os.path.join(jar_dir, "*")
    engine, bench = os.path.join(out, "engine"), os.path.join(out, "bench")
    ekey = digest(engine_src)
    compile_tree(engine_src, engine, jars, jars, ekey, log)
    engine_jar, bench_jar = os.path.join(engine, JAR), os.path.join(bench, JAR)
    compile_tree(bench_src, bench, jars, os.pathsep.join([jars, engine_jar]),
                 digest(bench_src, ekey), log)
    return os.pathsep.join([os.path.abspath(bench_jar), os.path.abspath(engine_jar), jars])


if __name__ == "__main__":
    try:
        print(build(*sys.argv[1:]))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
