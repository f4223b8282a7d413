"""Build file of the benchmark package: compiles graft's main sources
together with the benchmark's own Scala harness into
``.bench_build/classes`` of the checkout.

It calls the Scala compiler directly (``scala.tools.nsc.Main``) from the
jar directory that graft's ``build.sbt`` names as ``unmanagedBase``, so
the build needs no sbt and no network and writes only inside the
checkout. A stamp over every source file's bytes skips the compile when
nothing changed.

Usage: python3 perfbench/build.py   (from the root of a graft checkout)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = ".bench_build"


def jar_dir(root):
    """The Spark/Scala jar directory graft's build.sbt declares."""
    with open(os.path.join(root, "build.sbt"), encoding="utf-8") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit("no graft sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def classpath(root):
    return os.path.join(root, BUILD_DIR, "classes") + os.pathsep + \
        os.path.join(jar_dir(root), "*")


def ensure_built(root):
    """Compile if any source changed; return the classes directory."""
    srcs = sources(root)
    jars = os.path.join(jar_dir(root), "*")
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(root, BUILD_DIR)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return classes
    tmp = os.path.join(out, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars,
           "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1))] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(ensure_built(os.getcwd()))
