"""Build file of the benchmark: compiles the engine's main sources together
with the benchmark's JVM driver, straight from the checkout.

The Scala compiler, library and Spark jars are the ones the engine's
`build.sbt` names as `unmanagedBase`. Classes go to
`.bench_build/classes-<digest of every source>`, so an unchanged tree is
compiled once and a changed one never runs stale classes. Each digest keeps
its own directory: runs that alternate between two trees compile each once.

    python3 perfbench/build.py          # prints the runtime classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def jar_dir():
    """The jar directory `build.sbt` compiles the engine against."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError(f"no build.sbt at {ROOT}: not an engine checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise BuildError(f"no engine sources under {ROOT}/src/main/scala")
    return engine + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def build():
    """Compile if needed; return the runtime classpath string."""
    jars = jar_dir()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    cp = f"{classes}{os.pathsep}{jars}/*"
    if os.path.isfile(os.path.join(classes, ".done")):
        return cp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
                        "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    open(os.path.join(tmp, ".done"), "w").close()
    os.rename(tmp, classes)
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
