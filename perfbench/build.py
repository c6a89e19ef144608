"""Build file of the benchmark: compiles the program (src/main/scala)
together with the benchmark's own sources (perfbench/src) into
.bench_build/classes, using the Scala compiler that ships among Spark's
jars. A stamp over every input skips the build when nothing changed.

    python3 perfbench/build.py      # from the repository root
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the pyspark package's."""
    home = os.environ.get("SPARK_HOME")
    if home and Path(home, "jars").is_dir():
        return Path(home, "jars")
    try:
        import pyspark
        jars = Path(pyspark.__file__).parent / "jars"
        if jars.is_dir():
            return jars
    except ImportError:
        pass
    raise BuildError("no Spark jars: set SPARK_HOME")


def sources(root):
    prog = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    if not prog:
        raise BuildError(f"no program sources under {root / 'src/main/scala'}")
    if not (root / "src" / "main" / "resources").is_dir():
        raise BuildError("no program resources under src/main/resources")
    return prog + sorted((root / "perfbench" / "src").rglob("*.scala"))


def build(root):
    root = Path(root).resolve()
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    key = h.hexdigest()
    out = root / ".bench_build" / "classes"
    stamp = root / ".bench_build" / "classes.stamp"
    if out.is_dir() and stamp.is_file() and stamp.read_text() == key:
        return out
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    stamp.unlink(missing_ok=True)
    jars = spark_jars()
    argfile = root / ".bench_build" / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xss16m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-classpath", cp, f"@{argfile}"]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac exited {r.returncode}")
    stamp.write_text(key)
    return out


if __name__ == "__main__":
    try:
        print(build(Path.cwd()))
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
