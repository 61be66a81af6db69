"""Build file of the benchmark: compiles the engine's sources
(src/main/scala) together with the benchmark's own JVM program
(perfbench/scala) into <build dir>/classes with the Scala compiler that
ships in Spark's jars directory. Rebuilds only when a source changes.

    python3 perfbench/build.py      # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parents[1]
    jars = Path(home or "spark-home-not-found") / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def build_dir(root):
    return Path(root) / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def sources(root):
    root = Path(root)
    engine = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise SystemExit(f"no engine sources under {root / 'src/main/scala'}")
    return engine + sorted((root / "perfbench" / "scala").glob("*.scala"))


def build(root):
    srcs = sources(root)
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(str(s.relative_to(root)).encode())
        digest.update(s.read_bytes())
    stamp = digest.hexdigest()
    out = build_dir(root) / "classes"
    stamp_file = build_dir(root) / "classes.stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and out.is_dir():
        return out
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    cp = str(spark_jars() / "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-classpath", cp, "-d", str(out)] + [str(s) for s in srcs]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                          timeout=850)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"compilation failed ({proc.returncode})")
    stamp_file.write_text(stamp)
    return out


if __name__ == "__main__":
    print(build(Path.cwd()))
