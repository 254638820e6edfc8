#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (src/main/scala) and the benchmark's own Scala
package (perfbench/scala) with the Scala compiler that ships in the Spark
jars, then computes the DuckDB oracle expectations for the query_mix
queries. Everything lands in the build directory: $CARGO_TARGET_DIR when
set, else .bench_build. A stamp of the source digest makes later calls a
no-op until a source file changes.

    python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def spark_jars() -> Path:
    """The jar directory build.sbt compiles the program against."""
    sbt = HERE.parent / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    return Path(m.group(1)) if m else Path(os.environ.get("SPARK_HOME", "")) / "jars"


JARS = spark_jars()
# the sf0.1 tables graft.Bench measures by default
SF = Path("/root/testdata/sf0.1")
# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def checkout() -> Path:
    return HERE.parent


def build_dir() -> Path:
    return (checkout() / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()


def sources(root: Path):
    return sorted(p for p in root.rglob("*.scala") if p.is_file())


def program_sources():
    src = checkout() / "src" / "main" / "scala"
    if not src.is_dir():
        raise SystemExit(f"perfbench: no program sources at {src}")
    return sources(src)


def bench_sources():
    return sources(HERE / "scala")


def digest() -> str:
    h = hashlib.sha256()
    for p in program_sources() + bench_sources():
        h.update(str(p.relative_to(checkout())).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath(out: Path) -> str:
    return os.pathsep.join([str(out / "bench"), str(out / "program"), str(JARS / "*")])


def java(*args, heap="3g"):
    return ["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xss8m", "-XX:-UsePerfData", *ADD_OPENS, *args]


def scalac(files, out: Path, cp: str):
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    args = out.parent / (out.name + ".args")
    args.write_text("\n".join(str(f) for f in files))
    subprocess.run(java("-cp", str(JARS / "*"), "scala.tools.nsc.Main", "-nowarn",
                        "-d", str(out), "-classpath", cp, f"@{args}"),
                   check=True, stdout=sys.stderr)


def ensure() -> Path:
    """Builds when the sources changed; returns the build directory."""
    out = build_dir()
    stamp = out / "stamp"
    want = digest()
    if stamp.exists() and stamp.read_text() == want:
        return out
    out.mkdir(parents=True, exist_ok=True)
    stamp.unlink(missing_ok=True)
    scalac(program_sources(), out / "program", str(JARS / "*"))
    scalac(bench_sources(), out / "bench", classpath(out))
    sys.path.insert(0, str(HERE))
    import oracle
    oracle_sql = out / "oracle_sql.json"
    subprocess.run(java("-cp", classpath(out), "graftbench.OracleSql", str(oracle_sql)),
                   check=True, stdout=sys.stderr)
    oracle.expectations(out, SF)
    stamp.write_text(want)
    return out


if __name__ == "__main__":
    print(ensure())
