"""Build file of the benchmark package: compiles graft's main sources
together with the harness in perfbench/src into one class directory,
with the Scala compiler that ships among Spark's jars.

    python3 perfbench/build.py        # from the repository root

The output lands in .bench_build/classes, keyed by a hash of every
source file, so an unchanged tree is not rebuilt.
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home or ".") / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        sys.exit(f"perfbench: no Spark jars with a Scala compiler under {jars}")
    return jars


def build_dir():
    return ROOT / ".bench_build"


def sources():
    graft = ROOT / "src" / "main" / "scala"
    files = sorted(graft.rglob("*.scala"))
    if not files:
        sys.exit(f"perfbench: no graft sources under {graft}")
    return files + sorted((BENCH / "src").rglob("*.scala"))


def ensure():
    """Compiles if needed; returns the class directory."""
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    out = build_dir() / "classes"
    stamp_file = build_dir() / "classes.stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    cp = f"{spark_jars()}/*"
    args_file = build_dir() / "scalac.args"
    args_file.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", str(out), f"@{args_file}"]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        sys.exit(f"perfbench: compile failed ({done.returncode})")
    stamp_file.write_text(stamp)
    return out


if __name__ == "__main__":
    print(ensure())
