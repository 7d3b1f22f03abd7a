#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine's sources (`src/main/scala`) together with the
benchmark's own Scala sources (`perfbench/src`) into
`.bench_build/perfbench/classes`, using the Scala compiler that ships in
Spark's `jars` directory (found through `SPARK_HOME`, else through
`spark-submit` on the PATH). A stamp over every source file skips the
compile when nothing changed.

    python3 perfbench/build.py      # from the root of a checkout
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"
CLASSES = OUT / "classes"

# Spark 4 on JDK 17 needs these outside spark-submit (the same list as the
# engine's own build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(RuntimeError):
    pass


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").exists():
        return str(Path(home) / "bin" / "java")
    found = shutil.which("java")
    if not found:
        raise BuildError("no java on the PATH and no JAVA_HOME")
    return found


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("Spark not found: set SPARK_HOME")
    return Path(home) / "jars"


def jvm_opts() -> list:
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts + [
        "-Dspark.ui.enabled=false",
        f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
    ]


def sources() -> list:
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise BuildError(f"no engine sources under {ROOT / 'src' / 'main' / 'scala'}")
    return engine + sorted((HERE / "src").rglob("*.scala"))


def stamp(srcs: list, jars: Path) -> str:
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update("\n".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    return h.hexdigest()


def classpath() -> str:
    return f"{CLASSES}{os.pathsep}{spark_jars() / '*'}"


def build(log=sys.stderr) -> Path:
    """Compiles if the sources changed; returns the classes directory."""
    jars = spark_jars()
    srcs = sources()
    want = stamp(srcs, jars)
    stamp_file = OUT / "stamp"
    if CLASSES.is_dir() and stamp_file.exists() and stamp_file.read_text() == want:
        return CLASSES
    compiler = sorted(jars.glob("scala-compiler-*.jar"))
    if not compiler:
        raise BuildError(f"no scala-compiler jar in {jars}")
    scala_cp = os.pathsep.join(
        str(p) for p in compiler + sorted(jars.glob("scala-library-*.jar"))
        + sorted(jars.glob("scala-reflect-*.jar")))
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    print(f"[perfbench] compiling {len(srcs)} Scala sources", file=log, flush=True)
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", scala_cp, "scala.tools.nsc.Main",
           "-nowarn", "-encoding", "UTF-8", "-d", str(tmp),
           "-classpath", str(jars / "*"), f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    stamp_file.write_text(want)
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
