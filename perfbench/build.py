"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark's own JVM code (`perfbench/src`) from source with scalac,
into `.bench_build/classes-<hash of the sources>`.

Run it alone with `python3 perfbench/build.py` from the repository root;
`run.py` calls `build()` before every run and reuses a finished build of
identical sources. The compiler and the Spark jars come from
`$SPARK_HOME/jars`, or else from the `unmanagedBase` directory `build.sbt`
compiles against.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars(root="."):
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)


def sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"),
            os.path.join(root, "perfbench", "src")]
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root):
    """Returns the classes directory for the current sources, compiling
    them first unless an identical build is already there."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise SystemExit("perfbench: no engine sources under src/main/scala; "
                         "run from the root of a full checkout")
    srcs = sources(root)
    h = hashlib.sha256()
    for path in srcs:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(root, BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "_OK")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "_sources")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(root), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
           "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"perfbench: scalac failed ({proc.returncode})")
    os.remove(argfile)
    # one build at a time is kept: older class trees are dead weight
    parent = os.path.dirname(out)
    for name in os.listdir(parent):
        if name.startswith("classes-") and os.path.join(parent, name) != tmp:
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)
    os.rename(tmp, out)
    open(os.path.join(out, "_OK"), "w").close()
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
