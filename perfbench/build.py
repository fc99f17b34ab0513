"""Build file of the benchmark: compiles graft's program sources
(src/main/scala) together with the harness (perfbench/src) with the Scala
compiler that ships in Spark's jars, into .bench_build/perfbench/<digest>.

A build is reused while no source file changes. Run it alone with
`python3 perfbench/build.py`; it prints the classes directory.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


class BuildError(Exception):
    pass


def java():
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else None
    return str(exe) if exe and exe.exists() else "java"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = str(Path(submit).resolve().parent.parent) if submit else ""
    jars = Path(home) / "jars" if home else None
    if not jars or not jars.is_dir():
        raise BuildError("Spark's jars not found: set SPARK_HOME")
    return jars


def sources():
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        raise BuildError(f"no program sources under {ROOT / 'src' / 'main' / 'scala'}")
    return program + sorted((HERE / "src").rglob("*.scala"))


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Returns (classes directory, source digest), compiling if needed."""
    files = sources()
    d = digest(files)
    out = ROOT / ".bench_build" / "perfbench" / d[:16]
    if (out / "ok").exists():
        return out / "classes", d
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "classes").mkdir(parents=True)
    (tmp / "sources.txt").write_text("\n".join(str(f) for f in files) + "\n")
    cp = str(spark_jars() / "*")
    cmd = [java(), "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp / "classes"), "-classpath", cp,
           "@" + str(tmp / "sources.txt")]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    (tmp / "ok").write_text(d + "\n")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out / "classes", d


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"perfbench build: {e}")
