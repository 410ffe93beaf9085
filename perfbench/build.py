"""Build file of the benchmark: compiles the program (``src/main``) and the
harness (``perfbench/scala``) with the Scala compiler that ships in the
Spark distribution, into ``$CARGO_TARGET_DIR/classes`` (default
``.bench_build/classes``). A stamp of the source hashes makes a rebuild
of unchanged sources a no-op.

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _spark_jars() -> Path:
    """The jars of $SPARK_HOME, else of the first Spark distribution on
    PATH that ships the Scala compiler.
    """
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    for d in os.environ.get("PATH", "").split(os.pathsep):
        jars = Path(d).resolve().parent / "jars"
        if (Path(d) / "spark-submit").is_file() and any(jars.glob("scala-compiler-*.jar")):
            return jars
    return Path("spark-jars-not-found")


SPARK_JARS = _spark_jars()


def build_dir() -> Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def classpath() -> str:
    return f"{build_dir() / 'classes'}:{SPARK_JARS}/*"


def _sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"build: no program sources at {main.relative_to(ROOT)}")
    files = sorted(main.rglob("*.scala")) + sorted((ROOT / "perfbench" / "scala").rglob("*.scala"))
    resources = ROOT / "src" / "main" / "resources"
    res = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    return files, resources, res


def build() -> Path:
    """Compile if the sources changed; return the classes directory."""
    files, resources, res = _sources()
    h = hashlib.sha256()
    for p in files + res:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    out = build_dir() / "classes"
    stamp_file = build_dir() / "classes.stamp"
    if out.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    argfile = build_dir() / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in files) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx3g", "-XX:-UsePerfData", "-cp", f"{SPARK_JARS}/*",
           "scala.tools.nsc.Main", "-nowarn", "-classpath", f"{SPARK_JARS}/*",
           "-d", str(out), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited {r.returncode}")
    for p in res:
        dst = out / p.relative_to(resources)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    stamp_file.write_text(stamp)
    return out


if __name__ == "__main__":
    print(build())
