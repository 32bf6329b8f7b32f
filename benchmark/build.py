"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's own Scala sources (benchmark/src) into one classes directory with
the Scala compiler that ships in the Spark distribution's jars. No sbt, no
dependency resolution: the Spark jars are the whole classpath.

    python3 benchmark/build.py          # builds into .bench_build/graftbench

A build is skipped when the stamp (a hash of every source and resource file
and of this file) matches the last successful build.
"""
import glob
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "graftbench")
CLASSES = os.path.join(BUILD, "classes")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    jars of the installed pyspark package (the same distribution)."""
    homes = [os.environ.get("SPARK_HOME")]
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.submodule_search_locations:
        homes.append(spec.submodule_search_locations[0])
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    raise SystemExit("graftbench: no Spark distribution with a Scala compiler "
                     "(set SPARK_HOME)")


def _files(top, suffix=""):
    out = []
    for d, _, fs in os.walk(top):
        out += [os.path.join(d, f) for f in fs if f.endswith(suffix)]
    return sorted(out)


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"graftbench: engine sources not found at {ENGINE_SRC}")
    return _files(ENGINE_SRC, ".scala") + _files(BENCH_SRC, ".scala")


def stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if needed; returns the classpath for running the benchmark."""
    srcs = sources()
    res = _files(ENGINE_RES) if os.path.isdir(ENGINE_RES) else []
    want = stamp(srcs + res)
    jars = spark_jars()
    cp = f"{CLASSES}{os.pathsep}{jars}/*"
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return cp
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
           "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", f"{jars}/*", "@" + args_file]
    print(f"graftbench: compiling {len(srcs)} sources", file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr, stderr=sys.stderr)
    for r in res:  # resources ride the classes directory, as sbt packages them
        dst = os.path.join(tmp, os.path.relpath(r, ENGINE_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp


if __name__ == "__main__":
    print(build())
