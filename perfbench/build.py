"""Build file of the benchmark: compiles the engine and the benchmark driver.

    python3 perfbench/build.py          # prints the classes directory

Compiles `src/main/scala` (the engine, as `build.sbt` declares it) plus
`perfbench/scala` with the Scala 2.13 compiler that ships among the Spark
jars, into `$CARGO_TARGET_DIR` (default `.bench_build`) under the repo root.
The Spark jar directory is `$SPARK_HOME/jars` when SPARK_HOME is set, else
the `unmanagedBase` directory that `build.sbt` names. A build is reused
while the sha256 of every source file is unchanged.
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase and SPARK_HOME is unset")
    return m.group(1)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit("no engine sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(ROOT, "perfbench/scala/*.scala")))


def build():
    """Returns (classes dir, spark jar dir), compiling when sources changed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()[:16]
    out = os.path.join(build_dir(), "classes-" + digest)
    if not os.path.exists(os.path.join(out, ".complete")):
        os.makedirs(out, exist_ok=True)
        listing = os.path.join(build_dir(), "sources-" + digest + ".txt")
        with open(listing, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cp = os.path.join(jars, "*")
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
               "-d", out, "-classpath", cp, "@" + listing]
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            raise SystemExit(f"compile failed ({r.returncode})")
        open(os.path.join(out, ".complete"), "w").close()
    return out, jars


if __name__ == "__main__":
    print(build()[0])
