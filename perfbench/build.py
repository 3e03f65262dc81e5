"""Builds the library and the benchmark's JVM program from source.

The library (`src/main/scala` + `src/main/resources`) and the benchmark's
JVM program (`perfbench/jvm`) are compiled with the Scala compiler that ships with the
Spark jars the repository's `build.sbt` names as its `unmanagedBase`, and
packed as jars under `.bench_build/` in the checkout. A stamp of every
source file's content makes a rebuild a no-op when nothing changed.

    python3 perfbench/build.py          # build if needed, print the classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
BENCH_SRC = os.path.join(ROOT, "perfbench", "jvm")
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


class BuildError(Exception):
    pass


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java executable on PATH or under JAVA_HOME")
    return exe


def jvm_cmd(cp, tmp, main_args):
    """The benchmark's JVM command line: fixed 2 GB heap, Spark's module opens."""
    cmd = [java(), "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "graftbench.Main", *main_args]


def spark_jars():
    """The jar directory `build.sbt` compiles against (its unmanagedBase)."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.exists(sbt):
        raise BuildError("build.sbt not found: run from the repository root")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    cands = [m.group(1)] if m else []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in cands:
        if glob.glob(os.path.join(d, "spark-core_*.jar")):
            return d
    raise BuildError("Spark jars not found (build.sbt unmanagedBase / SPARK_HOME)")


def sources(d, ext=(".scala", ".java")):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(ext)]
    return sorted(out)


def stamp(files, salt):
    h = hashlib.sha256()
    h.update(salt.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_logged(cmd, log, what):
    with open(log, "w") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise BuildError(f"{what} failed (see {log})")


def compile_jar(jars, classpath, srcs, resources, jar):
    """scalac `srcs` and pack the classes (plus `resources`) into `jar`."""
    dest = jar[:-len(".jar")] + "-classes"
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    argfile = dest + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    run_logged([java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
                "scala.tools.nsc.Main", "-nowarn", "-d", dest, "-classpath", classpath,
                "@" + argfile], jar[:-len(".jar")] + "-build.log", f"scalac for {jar}")
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for top in [dest] + ([resources] if os.path.isdir(resources) else []):
            for base, _, files in os.walk(top):
                for f in sorted(files):
                    p = os.path.join(base, f)
                    z.write(p, os.path.relpath(p, top))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(dest)


def build():
    """Compiles what changed; returns the runtime classpath."""
    jars = spark_jars()
    lib_files = sources(os.path.join(ROOT, "src", "main", "scala"))
    bench_files = sources(BENCH_SRC)
    if not lib_files or not bench_files:
        raise BuildError("library or benchmark sources missing")
    os.makedirs(OUT, exist_ok=True)
    lib_jar = os.path.join(OUT, "graft.jar")
    bench_jar = os.path.join(OUT, "graftbench.jar")
    jar_cp = os.path.join(jars, "*")
    cp = os.pathsep.join([bench_jar, lib_jar, jar_cp])
    resources = os.path.join(ROOT, "src", "main", "resources")

    lib_stamp = stamp(lib_files + sources(resources, ("",)), jars)
    bench_stamp = stamp(bench_files, lib_stamp)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == bench_stamp:
        return cp
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    lib_stamp_file = os.path.join(OUT, "graft.stamp")
    if not (os.path.exists(lib_stamp_file) and open(lib_stamp_file).read() == lib_stamp):
        compile_jar(jars, jar_cp, lib_files, resources, lib_jar)
        with open(lib_stamp_file, "w") as f:
            f.write(lib_stamp)
    compile_jar(jars, os.pathsep.join([lib_jar, jar_cp]), bench_files, "", bench_jar)
    with open(stamp_file, "w") as f:
        f.write(bench_stamp)
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
