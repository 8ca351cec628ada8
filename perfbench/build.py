"""Build file of the benchmark package: compiles the program's sources
(src/main/scala) together with the benchmark's own Scala files
(perfbench/scala) into one class directory, with the Scala compiler
that ships among Spark's jars. A stamp over every input file skips the
build when nothing changed.

    python3 perfbench/build.py      # from the repository root
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not jars.is_dir():
        sys.exit(f"perfbench: no Spark jars under {jars}")
    return jars


def classpath() -> list:
    return sorted(str(p) for p in spark_jars().glob("*.jar"))


def sources() -> list:
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        sys.exit("perfbench: program sources (src/main/scala) not found")
    own = Path(__file__).resolve().parent / "scala"
    return sorted(main.rglob("*.scala")) + sorted(own.rglob("*.scala"))


def build() -> Path:
    """Returns the class directory, compiling it first if stale."""
    srcs = sources()
    resources = ROOT / "src" / "main" / "resources"
    cp = classpath()
    h = hashlib.sha256()
    for p in srcs + (sorted(resources.rglob("*")) if resources.is_dir() else []):
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    h.update("\n".join(Path(j).name for j in cp).encode())
    stamp = h.hexdigest()
    stamp_file = CLASSES / ".stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return CLASSES
    fresh = BUILD / "classes.new"
    shutil.rmtree(fresh, ignore_errors=True)
    fresh.mkdir(parents=True)
    jcp = os.pathsep.join(cp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jcp,
           "scala.tools.nsc.Main", "-nowarn", "-d", str(fresh), "-classpath", jcp]
    cmd += [str(s) for s in srcs]
    print(f"perfbench: compiling {len(srcs)} Scala files", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"perfbench: compile failed ({r.returncode})")
    if resources.is_dir():
        shutil.copytree(resources, fresh, dirs_exist_ok=True)
    (fresh / ".stamp").write_text(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    fresh.rename(CLASSES)
    return CLASSES


if __name__ == "__main__":
    print(build())
