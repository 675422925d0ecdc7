"""Builds the program (src/main/scala) and the benchmark (perfbench/src) from
source with the Scala compiler that ships in the Spark distribution.

Output goes to .bench_build/perfbench/<hash>/classes, keyed by a hash of
every source file, so a run reuses the build until a source changes.
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the one whose
    spark-submit is on PATH. They include the Scala compiler."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or ".", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark/Scala jars under {jars} (set SPARK_HOME)")
    return jars


def sources(root):
    found = []
    for base in ("src/main/scala", "perfbench/src"):
        for dirpath, _, names in os.walk(os.path.join(root, base)):
            found += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(found)


def build(root, timeout_s=840):
    """Returns the classes directory, compiling first if needed."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise SystemExit("perfbench: src/main/scala not found; run from a full checkout")
    srcs = sources(root)
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    base = os.path.join(root, ".bench_build", "perfbench")
    out = os.path.join(base, digest.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    os.makedirs(base, exist_ok=True)
    with open(os.path.join(base, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, "ok")):
            return classes
        for old in os.listdir(base):
            if old != "lock":
                shutil.rmtree(os.path.join(base, old), ignore_errors=True)
        os.makedirs(classes)
        args = os.path.join(out, "sources.txt")
        with open(args, "w") as f:
            f.write("\n".join(srcs) + "\n")
        jars = os.path.join(spark_jars(), "*")
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars,
               "scala.tools.nsc.Main", "-nowarn", "-classpath", jars, "-d", classes, "@" + args]
        print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
        if subprocess.run(cmd, cwd=root, timeout=timeout_s).returncode != 0:
            raise SystemExit("perfbench: compilation failed")
        open(os.path.join(out, "ok"), "w").close()
        return classes
