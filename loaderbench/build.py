"""Build file of the benchmark: compiles the engine and the harness.

The engine's sources (``src/main/scala`` at the checkout root) and the
harness's sources (``loaderbench/scala``) are compiled together with the
Scala compiler that ships among the Spark jars, against the same jar
directory the engine's own build uses (``unmanagedBase`` in the root
``build.sbt``, else ``$SPARK_HOME/jars``).  Classes land in
``.bench_build/classes``; a digest of every source file and the jar list
decides whether a rebuild is needed.

    python3 loaderbench/build.py      # build, print the class directory
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def jar_dir(root=ROOT):
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jar directory: neither build.sbt's "
                     "unmanagedBase nor $SPARK_HOME/jars exists")


def sources(root=ROOT):
    dirs = [os.path.join(root, "src", "main", "scala"),
            os.path.join(HERE, "scala")]
    for d in dirs:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {d}")
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files
                    if f.endswith(".scala") or f.endswith(".java")]
    return sorted(out)


def build(root=ROOT, build_dir=None):
    """Compiles if any source changed; returns the classpath to run with."""
    build_dir = build_dir or os.path.join(root, ".bench_build")
    jars = jar_dir(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for j in sorted(os.listdir(jars)):
        h.update(j.encode() + b"\0")
    for s in srcs:
        h.update(os.path.relpath(s, root).encode() + b"\0")
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    classpath = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    os.makedirs(build_dir, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jar_list = os.pathsep.join(os.path.join(jars, j)
                               for j in sorted(os.listdir(jars))
                               if j.endswith(".jar"))
    # an explicit classpath: the default one is ".", where a directory
    # named like a package would shadow it
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", jar_list,
           "-d", tmp, "@" + argfile]
    print(f"building {len(srcs)} sources ...", file=sys.stderr)
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
