"""Build file of the benchmark: compiles the engine (`src/main/scala`) and the
benchmark's JVM side (`perfbench/scala`) into one class directory with the
Scala compiler that ships in Spark's jar directory (`$SPARK_HOME/jars`), so
no build tool or network is needed.

    python3 perfbench/build.py          # prints the run classpath

Output goes to `$CARGO_TARGET_DIR/perfbench` (default `.bench_build/perfbench`
under the repository root). A stamp of the source and jar lists plus source
contents skips the compile when nothing changed.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

def _spark_jars() -> Path:
    """`$SPARK_HOME/jars`, or the jars beside the `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    if not home:
        raise SystemExit("build: set SPARK_HOME to a Spark 4.1 / Scala 2.13 installation")
    return Path(home) / "jars"


def _sources():
    engine = ROOT / "src" / "main" / "scala"
    if not (engine / "graft" / "SparkEntry.scala").is_file():
        raise SystemExit(f"build: engine sources not found under {engine}")
    return sorted(engine.rglob("*.scala")) + sorted((ROOT / "perfbench" / "scala").rglob("*.scala"))


def build() -> str:
    """Compiles if needed and returns the classpath for `perfbench.Main`."""
    spark_jars = _spark_jars()
    jars = sorted(str(p) for p in spark_jars.glob("*.jar"))
    if not jars:
        raise SystemExit(f"build: no jars in {spark_jars}")
    sources = _sources()
    digest = hashlib.sha256()
    for p in sources:
        digest.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    digest.update("\n".join(jars).encode())
    out = Path(os.environ.get("CARGO_TARGET_DIR") or ROOT / ".bench_build")
    if not out.is_absolute():
        out = ROOT / out
    out = out / "perfbench"
    classes, stamp = out / "classes", out / "stamp"
    if not (stamp.is_file() and stamp.read_text() == digest.hexdigest()):
        shutil.rmtree(out, ignore_errors=True)
        classes.mkdir(parents=True)
        cmd = ["java", "-Xss8m", "-Xmx1536m", "-XX:-UsePerfData", "-cp", ":".join(jars),
               "scala.tools.nsc.Main", "-usejavacp", "-classpath", str(classes), "-nowarn",
               "-d", str(classes)]
        cmd += [str(p) for p in sources]
        done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, cwd=out)
        if done.returncode != 0:
            sys.stderr.write(done.stdout[-4000:])
            raise SystemExit(f"build: scalac exited with {done.returncode}")
        stamp.write_text(digest.hexdigest())
    return ":".join([str(classes), str(ROOT / "src" / "main" / "resources")] + jars)


if __name__ == "__main__":
    print(build())
