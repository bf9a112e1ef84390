"""Build file of the benchmark: compiles the project's main sources and
the benchmark's own Scala sources into one class directory.

    python3 tickbench/build.py        # from the repository root

The Scala compiler and every dependency come from the jar directory that
build.sbt names as `unmanagedBase` (or $SPARK_HOME/jars). Output goes to
.bench_build/classes and is reused while no source changes.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

OUT = ".bench_build"


def jar_dir(root):
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise SystemExit("no Spark jar directory: set unmanagedBase in build.sbt or SPARK_HOME")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit("no program sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(root, "tickbench/src/*.scala")))


def build(root="."):
    """Compile if needed; return the classpath to run with."""
    jars = jar_dir(root)
    srcs = sources(root)
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(s.encode())
        digest.update(open(s, "rb").read())
    stamp = digest.hexdigest()
    classes = os.path.join(root, OUT, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    cp = f"{classes}:{jars}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    log = os.path.join(root, OUT, "build.log")
    with open(log, "w") as f:
        rc = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
             "-nowarn", "-d", classes, "-classpath", f"{jars}/*"] + srcs,
            stdout=f, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        raise SystemExit(f"build failed (exit {rc}); see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    print(build())
