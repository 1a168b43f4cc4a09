"""Build file of the benchmark: compiles the library's sources
(`src/main/scala`) together with the benchmark's JVM side
(`perfbench/src`) with the Scala compiler that ships among the Spark jars
the repository's `build.sbt` names (`unmanagedBase`), into one jar. The jar
lands in a content-addressed directory under the build directory, so an
unchanged tree is never rebuilt.

    python3 perfbench/build.py   # prints the classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.exists(sbt):
        raise BuildError("build.sbt not found: run from a checkout of the repository")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m:
        raise BuildError("build.sbt names no unmanagedBase jar directory")
    d = m.group(1)
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        raise BuildError(f"no jars in {d}")
    return jars


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                           recursive=True))
    if not lib:
        raise BuildError("src/main/scala has no sources: run from a checkout of the repository")
    own = sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    return lib + own


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


JVM_MODULES = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
               "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]


def java_command(cp, tmp, args):
    """The benchmark JVM: one driver, Spark's module opens for JDK 17,
    scratch space under `tmp` and no perf-data file outside it."""
    opens = [x for m in JVM_MODULES for x in ("--add-opens", f"java.base/{m}=ALL-UNNAMED")]
    return (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}",
             "-cp", os.pathsep.join(cp)] + opens + ["graft.perfbench.Main"] + args)


def _compile(jars, files, out_jar):
    compiler = [j for j in jars if re.search(
        r"/scala-(compiler|library|reflect)-2\.13[^/]*\.jar$", j)]
    if len(compiler) != 3:
        raise BuildError("the Scala 2.13 compiler, library and reflect jars are required")
    with tempfile.TemporaryDirectory(dir=build_dir()) as tmp:
        argfile = os.path.join(tmp, "scalac.args")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files))
        classes = os.path.join(tmp, "classes")
        os.makedirs(classes)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
               "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
               "-d", classes, "@" + argfile]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise BuildError("scalac failed")
        with zipfile.ZipFile(out_jar, "w", zipfile.ZIP_STORED) as z:
            for d, _, fs in sorted(os.walk(classes)):
                for f in sorted(fs):
                    z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))


def build():
    """Returns (classpath list, source hash); builds when the sources
    changed."""
    jars = spark_jars()
    files = sources()
    digest = source_hash(files)
    out = os.path.join(build_dir(), f"build-{digest[:16]}")
    jar = os.path.join(out, "perfbench.jar")
    cp = [jar] + jars
    if not os.path.exists(os.path.join(out, "done")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        _compile(jars, files, jar)
        open(os.path.join(out, "done"), "w").close()
    return cp, digest


if __name__ == "__main__":
    try:
        cp, _ = build()
    except BuildError as e:
        sys.exit(f"build: {e}")
    print(os.pathsep.join(cp))
