"""Compile the engine (src/main) and the benchmark harness (perfbench/src)
into one jar with the Scala compiler that ships with Spark.

The jar is named by a hash of every source file, so an unchanged tree is
compiled once and reused. Run directly to build:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"


def sources():
    main = sorted(glob.glob(str(ROOT / "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit(f"no engine sources under {ROOT / 'src/main/scala'}")
    return main + sorted(glob.glob(str(BENCH / "src/*.scala")))


def spark_classpath():
    """Spark's jars: $SPARK_HOME/jars, else the `unmanagedBase` dir the
    repo's build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        where = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      (ROOT / "build.sbt").read_text())
        if not m:
            raise SystemExit("build.sbt names no unmanagedBase and SPARK_HOME is unset")
        where = Path(m.group(1))
    jars = sorted(glob.glob(str(where / "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars under {where}")
    return jars


def java_cmd(heap):
    """The java launcher with the module opens Spark needs on JDK 17."""
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return ["java", "-XX:-UsePerfData", f"-Xmx{heap}"] + opens


def build():
    """Return the classpath (list of jars) of a compiled tree: the engine
    and the harness in one jar, then Spark's jars. Jars only, so the JVM
    can keep a class-data-sharing archive of them (see run.py)."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(Path(f).read_bytes())
    out = WORK / f"perfbench-{h.hexdigest()[:16]}.jar"
    jars = spark_classpath()
    if out.exists():
        return [str(out)] + jars
    if WORK.exists():
        for old in WORK.glob("perfbench-*"):
            old.unlink()
    tmp = WORK / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    compiler = [j for j in jars if Path(j).name.startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cmd = java_cmd("2g") + ["-Xss16m", "-cp", ":".join(compiler),
                            "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
                            "-classpath", ":".join(jars)] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("compile failed")
    resources = ROOT / "src/main/resources"
    with zipfile.ZipFile(str(out) + ".tmp", "w") as z:
        for base in [tmp] + ([resources] if resources.is_dir() else []):
            for f in sorted(base.rglob("*")):
                if f.is_file():
                    z.write(f, f.relative_to(base).as_posix())
    shutil.rmtree(tmp)
    os.rename(str(out) + ".tmp", out)
    return [str(out)] + jars


if __name__ == "__main__":
    print(build()[0])
