"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the benchmark's JVM side (`perfbench/scala`) into one jar with the Scala
compiler that ships in Spark's jar directory. No sbt, no network, nothing
written outside the build directory. The build is skipped when the sources
are unchanged.

    python3 perfbench/build.py [build_dir]     # default: .bench_build
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALAC_FLAGS = ["-nowarn", "-deprecation:false"]


def spark_jars_dir():
    """Where the program's own build takes Spark from: `unmanagedBase` in
    build.sbt."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise RuntimeError("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def spark_classpath():
    d = spark_jars_dir()
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        raise RuntimeError(f"no Spark jars under {d}")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/scala/**/*.scala"), recursive=True))
    if not main:
        raise RuntimeError("no program sources under src/main/scala")
    return main + bench


def build(build_dir):
    """Compile if needed. Returns (runtime classpath, build key). The
    classes go into one jar: the JVM's class-data archive (see run.py)
    accepts jars only."""
    srcs = sources()
    jars = spark_classpath()
    key = hashlib.sha256()
    for p in srcs:
        key.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            key.update(hashlib.sha256(f.read()).digest())
    key.update(repr((SCALAC_FLAGS, [os.path.basename(j) for j in jars])).encode())
    key = key.hexdigest()
    app = os.path.join(build_dir, "app.jar")
    stamp = os.path.join(build_dir, "app.key")
    cp = [app] + jars
    if os.path.exists(stamp) and open(stamp).read() == key:
        return cp, key
    os.makedirs(build_dir, exist_ok=True)
    tmp = os.path.join(build_dir, f"classes.tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(SCALAC_FLAGS + ["-d", tmp, "-classpath", ":".join(jars)] + srcs))
    javatmp = os.path.join(build_dir, "tmp")
    os.makedirs(javatmp, exist_ok=True)
    r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={javatmp}",
                        "-cp", ":".join(jars), "scala.tools.nsc.Main", "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError("scalac failed:\n" + r.stdout[-4000:])
    with zipfile.ZipFile(app + ".tmp", "w") as z:
        for base in (tmp, os.path.join(ROOT, "src/main/resources")):
            for d, _, files in sorted(os.walk(base)):
                for name in sorted(files):
                    path = os.path.join(d, name)
                    z.write(path, os.path.relpath(path, base))
    shutil.rmtree(tmp)
    os.replace(app + ".tmp", app)
    with open(stamp, "w") as f:
        f.write(key)
    return cp, key


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")
    print(":".join(build(os.path.abspath(out))[0]))
