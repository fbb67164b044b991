"""Build file of the benchmark package.

Compiles the engine (src/main/scala) and the benchmark program
(perfbench/src) with the Scala compiler that ships in the Spark
distribution the project builds against, into content-addressed class
directories under the build directory, so an unchanged tree is compiled
once. Usage: python3 perfbench/build.py  (prints the runtime classpath).
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d, "perfbench")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def spark_jars():
    """SPARK_HOME/jars, else the `unmanagedBase` the project's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: no Spark distribution (set SPARK_HOME)")


def sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files, salt):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compile_into(out, files, classpath, jars):
    if os.path.isdir(out):
        return
    tmp = out + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join('"%s"' % f for f in files))
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
    if classpath:
        cmd += ["-classpath", os.pathsep.join(classpath)]
    try:
        subprocess.run(cmd + ["@" + argfile], check=True, stdout=sys.stderr)
        os.rename(tmp, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        if os.path.exists(argfile):
            os.remove(argfile)


def build():
    """Compiles what changed; returns the runtime classpath."""
    engine = sources(ENGINE_SRC)
    bench = sources(BENCH_SRC)
    if not engine or not bench:
        raise SystemExit("perfbench: engine sources not found under src/main/scala")
    jars = spark_jars()
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    engine_dir = os.path.join(out, "engine-" + digest(engine, jars))
    compile_into(engine_dir, engine, [], jars)
    bench_dir = os.path.join(out, "bench-" + digest(bench, engine_dir))
    compile_into(bench_dir, bench, [engine_dir], jars)
    return [bench_dir, engine_dir, os.path.join(jars, "*")]


if __name__ == "__main__":
    print(os.pathsep.join(build()))
