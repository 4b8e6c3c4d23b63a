"""Build file of the benchmark: compiles graft (the checkout's src/main) and the
harness (graftbench/src) with the Scala compiler that ships among the Spark jars
named by the checkout's build.sbt, into jars under .bench_build/ keyed by a hash
of their inputs, so an unchanged checkout builds once.

Usage: python3 graftbench/build.py   (from the root of the checkout)
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

# JDK 17 module openings Spark needs outside spark-submit; the same list as
# build.sbt's javaOptions.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def jar_dir(root):
    """The Spark jar directory build.sbt declares as `unmanagedBase`."""
    with open(os.path.join(root, "build.sbt"), encoding="utf-8") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("graftbench: build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


def _sources(root):
    graft = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    resources = sorted(p for p in glob.glob(os.path.join(root, "src/main/resources/**/*"),
                                            recursive=True) if os.path.isfile(p))
    harness = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not graft:
        raise SystemExit("graftbench: no graft sources under src/main/scala")
    return graft, resources, harness


def _scalac(jars, out, classpath, sources):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath] + sources
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"graftbench: compile failed ({out})")


def _digest(root, paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _jar(classes, jar):
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    os.replace(jar + ".tmp", jar)


def _compile_jar(root, jars, key, classpath, sources, resources=(), res_root=None):
    """Compiles `sources` into .bench_build/<key>/classes.jar unless it exists."""
    out = os.path.join(root, ".bench_build", key)
    jar = os.path.join(out, "classes.jar")
    if not os.path.exists(jar):
        classes = os.path.join(out, "classes")
        # Outputs of earlier inputs of the same kind are stale: drop them.
        for old in glob.glob(os.path.join(root, ".bench_build", key.split("-")[0] + "-*")):
            shutil.rmtree(old, ignore_errors=True)
        _scalac(jars, classes, classpath, sources)
        for p in resources:
            dst = os.path.join(classes, os.path.relpath(p, res_root))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(p, dst)
        _jar(classes, jar)
        shutil.rmtree(classes)
    return jar


def build(root):
    """Compiles what changed and returns (classpath, class-data archive path).
    Jars, not class directories, so the JVM can map a class-data-sharing archive
    (run.py trains it once per build) instead of re-loading ~20k classes per run."""
    jars = jar_dir(root)
    graft, resources, harness = _sources(root)
    gkey = "graft-" + _digest(root, graft + resources)
    graft_jar = _compile_jar(root, jars, gkey, os.path.join(jars, "*"), graft, resources,
                             os.path.join(root, "src/main/resources"))
    bench_jar = _compile_jar(root, jars, f"bench-{gkey}-{_digest(root, harness)}",
                             graft_jar + os.pathsep + os.path.join(jars, "*"), harness)
    classpath = os.pathsep.join([bench_jar, graft_jar, os.path.join(jars, "*")])
    return classpath, os.path.join(os.path.dirname(bench_jar), "classes.jsa")


if __name__ == "__main__":
    print(build(os.getcwd())[0])
