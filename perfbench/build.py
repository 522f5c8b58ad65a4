"""Build file of the benchmark: compiles the program's main sources together
with the benchmark's Scala runner into one jar.

It calls the Scala compiler that ships among the Spark jars the project
builds against (the `unmanagedBase` of the root `build.sbt`, or
`$SPARK_HOME/jars`), so it needs no build tool and writes only under
`.bench_build/` in the checkout. Output is keyed by a hash of the sources;
an unchanged tree is not rebuilt.

After compiling, a training run (src/perfbench/ClassArchive.scala: the
set-up of each workload) dumps a JVM class-data archive next to
the jar, and every benchmark run maps it. On a 4-CPU host this cuts the
first set-up of a run from about 15 s to about 8 s. A failed dump fails the
build, so that every measured run starts the same way.

    python3 perfbench/build.py        # prints the jar path
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")

# Spark 4 on JDK 17 outside spark-submit needs these, as in the root build.sbt.
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_opens():
    return [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


class BuildError(Exception):
    pass


def class_archive(jar):
    """Path of the class-data archive that belongs to `jar`."""
    return jar[:-len(".jar")] + ".jsa"


def spark_jars():
    """The jar directory the program compiles and runs against."""
    home = os.environ.get("SPARK_HOME")
    if home:
        d = os.path.join(home, "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        if not os.path.isfile(sbt):
            raise BuildError("no build.sbt at the repository root and SPARK_HOME unset")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if not m:
            raise BuildError("build.sbt declares no unmanagedBase jar directory")
        d = m.group(1)
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        raise BuildError(f"no Scala compiler among the jars in {d}")
    return jars


def sources():
    if not os.path.isdir(MAIN_SRC):
        raise BuildError(f"program sources not found: {MAIN_SRC}")
    out = []
    for base in (MAIN_SRC, BENCH_SRC):
        for dirpath, _, names in os.walk(base):
            out += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def dump_class_archive(jar, jars):
    import gen
    scratch = os.path.join(BUILD, "archive.tmp")
    shutil.rmtree(scratch, ignore_errors=True)
    runs = []
    for w in gen.WORKLOADS:
        inputs, work = os.path.join(scratch, w, "inputs"), os.path.join(scratch, w, "work")
        gen.generate(w, 0, inputs)
        os.makedirs(work)
        runs += [w, inputs, work]
    target = class_archive(jar)
    cmd = (["java", "-Xmx1536m", f"-XX:ArchiveClassesAtExit={target}.tmp", "-Xlog:disable",
            f"-Djava.io.tmpdir={scratch}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"] +
           jvm_opens() + ["-cp", os.pathsep.join([jar] + jars), "perfbench.ClassArchive",
                          str(len(os.sched_getaffinity(0)))] + runs)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       cwd=scratch)
    shutil.rmtree(scratch, ignore_errors=True)
    if r.returncode != 0 or not os.path.isfile(target + ".tmp"):
        sys.stderr.write(r.stdout[-2000:])
        raise BuildError(f"class-data archive dump failed with exit code {r.returncode}")
    os.rename(target + ".tmp", target)


def build():
    """Compile if needed; return (benchmark jar, Spark jar list)."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for path in srcs + jars:
        h.update(os.path.relpath(path, ROOT).encode() if path.startswith(ROOT) else path.encode())
        if path.endswith(".scala"):
            with open(path, "rb") as f:
                h.update(f.read())
    jar = os.path.join(BUILD, "bench-" + h.hexdigest()[:16] + ".jar")
    if os.path.isfile(jar) and os.path.isfile(class_archive(jar)):
        return jar, jars
    os.makedirs(BUILD, exist_ok=True)
    tmp = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.pathsep.join(jars), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    for old in glob.glob(os.path.join(BUILD, "bench-*")):
        os.remove(old)
    # a jar, not a class directory, so the JVM can archive its classes
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for dirpath, _, names in os.walk(tmp):
            for n in sorted(names):
                full = os.path.join(dirpath, n)
                z.write(full, os.path.relpath(full, tmp))
    shutil.rmtree(tmp)
    os.rename(jar + ".tmp", jar)
    dump_class_archive(jar, jars)
    return jar, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"build.py: {e}")
