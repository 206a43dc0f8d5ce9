"""Builds the program and the benchmark harness from source.

Compiles every Scala file under `src/main/scala` (the program) and
`perfbench/src` (the harness) with the Scala compiler that ships in the
Spark distribution's `jars/` directory, into `.bench_build/classes`. A
stamp of the source contents skips the build when nothing changed.

Run `python3 perfbench/build.py` from the repository root to build by
hand; `perfbench/run.py` calls `build()` itself.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars(root):
    """The Spark jars directory the sbt build compiles against: the
    `unmanagedBase` that build.sbt names."""
    sbt = os.path.join(root, "build.sbt")
    found = os.path.exists(sbt) and re.search(
        r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not found or not os.path.isdir(found.group(1)):
        raise SystemExit("perfbench: no Spark jars directory in build.sbt's unmanagedBase")
    return found.group(1)


def sources(root):
    found = []
    for top in ("src/main/scala", "perfbench/src"):
        base = os.path.join(root, top)
        if not os.path.isdir(base):
            raise SystemExit(f"perfbench: missing source directory {top}")
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(root, out_dir):
    """Compile into out_dir/classes unless its stamp matches; returns the
    runtime classpath."""
    srcs = sources(root)
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(out_dir, "classes")
    jars = spark_jars(root)
    classpath = os.pathsep.join([classes, os.path.join(root, "src/main/resources"),
                                 os.path.join(jars, "*")])
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    fresh = classes + ".tmp"
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    argfile = os.path.join(out_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", fresh, "@" + argfile]
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr, flush=True)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    with open(os.path.join(fresh, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    return classpath


def java_cmd(root, classpath, main, args):
    """The JVM command line: JDK 17 module opens that Spark needs outside
    spark-submit, a fixed 2 GB heap so the heap never resizes, and no
    hsperfdata file, which would be written outside the checkout."""
    opens = [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    tmp = os.path.join(root, ".bench_build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + opens + [
        "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
        "-Dlog4j2.configurationFile=" + os.path.join(root, "perfbench", "log4j2.properties"),
        "-cp", classpath, main] + args)


if __name__ == "__main__":
    root = os.getcwd()
    print(build(root, os.path.join(root, ".bench_build")))
