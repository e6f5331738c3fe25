"""Build file of the benchmark: compiles the engine's main sources plus
the harness in perfbench/src with the Scala compiler that ships in the
Spark distribution, into .bench_build/classes under the checkout. The
Spark jars are those the engine's build.sbt names as `unmanagedBase`,
or $SPARK_HOME/jars when that is set.

A build is skipped when a stamp of every source file's content matches
the last one. Run directly (python3 perfbench/build.py) to build only.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD = ".bench_build"


def spark_jars(root):
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(root, "build.sbt")
        m = os.path.isfile(sbt) and re.search(
            r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if not m:
            raise SystemExit("perfbench: build.sbt names no unmanagedBase;"
                             " set SPARK_HOME or run from the root of a checkout")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark jars with a Scala compiler in {jars}"
                         " (set SPARK_HOME)")
    return jars


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit("perfbench: no engine sources under src/main/scala;"
                         " run from the root of a checkout")
    return main + sorted(glob.glob(os.path.join(root, "perfbench/src/*.scala")))


def build(root, log=sys.stderr):
    """Compile if needed; returns the classes directory."""
    jars = spark_jars(root)
    files = sources(root)
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    out = os.path.join(root, BUILD, "classes")
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-cp", cp] + files
    print(f"perfbench: compiling {len(files)} files", file=log, flush=True)
    subprocess.run(cmd, check=True, stdout=log, stderr=log)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
