"""Build file for the benchmark: compiles graft's main sources and the
benchmark harness with the Scala compiler that ships in Spark's jars.

Output goes to `<build dir>/classes`; a stamp holding the hash of every
input source skips the compile when nothing changed. No sbt, no network.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """The Spark jars graft builds against: $SPARK_HOME/jars, else the
    directory the repository's build.sbt names as its unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise RuntimeError("no Spark jars: set SPARK_HOME")
    return m.group(1)


def sources(root):
    out = []
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "harness")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def classpath(build_dir, jars):
    return os.pathsep.join([os.path.join(build_dir, "classes"), os.path.join(jars, "*")])


def build(root, build_dir, log=sys.stderr):
    """Compile if needed; returns the runtime classpath. Raises on failure."""
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, "src")) for s in srcs):
        raise RuntimeError(f"no graft sources under {root}/src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    jars = spark_jars(root)
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classpath(build_dir, jars)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise RuntimeError("compile failed:\n" + r.stdout[-4000:])
    with open(stamp, "w") as f:
        f.write(digest)
    return classpath(build_dir, jars)
