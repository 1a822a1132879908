"""Build file of the benchmark's JVM package.

Compiles the engine's sources (`src/main/scala` of the checkout) together
with the harness (`perfbench/jvm/src/main/scala`) straight through the
Scala compiler that ships in the Spark distribution, into
`.bench_build/classes-<hash>`. The hash covers every source file and the
engine's resources, so a build is reused until one of them changes. No
sbt: the engine JVM is then launched directly on this classpath plus the
Spark jars, and set-up time never includes build-tool start-up.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ENGINE_SOURCES = "src/main/scala"
ENGINE_RESOURCES = "src/main/resources"
HARNESS_SOURCES = os.path.join(HERE, "jvm", "src", "main", "scala")


def spark_jars():
    """The jar directory the repository's build.sbt names as
    `unmanagedBase` (the jars the engine is built against), else
    `$SPARK_HOME/jars`."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if os.path.isfile("build.sbt"):
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            jars = m.group(1)
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"perfbench: no Spark jars under {jars!r} (set SPARK_HOME)")
    return jars


def sources(root):
    engine = os.path.join(root, ENGINE_SOURCES)
    if not os.path.isfile(os.path.join(engine, "graft", "SparkEntry.scala")):
        raise SystemExit(f"perfbench: engine sources not found under {engine}")
    files = []
    for base in (engine, HARNESS_SOURCES):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def resources(root):
    base = os.path.join(root, ENGINE_RESOURCES)
    return sorted(f for f in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                  if os.path.isfile(f))


def build(root):
    """Compile if needed; return (classes dir, build hash)."""
    files = sources(root)
    digest = source_hash(files + resources(root))
    out_root = os.path.join(root, ".bench_build")
    out = os.path.join(out_root, f"classes-{digest}")
    if os.path.isfile(os.path.join(out, ".complete")):
        return out, digest
    for old in glob.glob(os.path.join(out_root, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", jars] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit("perfbench: compilation failed")
    if os.path.isdir(os.path.join(root, ENGINE_RESOURCES)):
        shutil.copytree(os.path.join(root, ENGINE_RESOURCES), out, dirs_exist_ok=True)
    open(os.path.join(out, ".complete"), "w").close()
    return out, digest


if __name__ == "__main__":
    print(build(os.getcwd())[0])
