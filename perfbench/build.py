"""Build file of the benchmark package: compiles the program (`src/main/scala`)
and the benchmark harness (`perfbench/scala`) with the Scala compiler that
ships in Spark's jar directory, into `.bench_build/classes`.

The build is skipped when a stamp of every source file's content matches
the previous build. Run it alone with `python3 perfbench/build.py`.
"""
import glob
import hashlib
import os
import subprocess
import sys
from pathlib import Path

BUILD = Path(".bench_build")
CLASSES = BUILD / "classes"


class BuildError(RuntimeError):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BuildError("SPARK_HOME is not set; the benchmark needs a Spark 4 installation")
    jars = Path(home) / "jars"
    if not glob.glob(str(jars / "scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar under {jars}")
    return jars


def _sources(root):
    return sorted(Path(p) for p in glob.glob(str(root / "**" / "*.scala"), recursive=True))


def _scalac(jars, classpath, out, files):
    tool = os.pathsep.join(glob.glob(str(jars / f"scala-{n}-*.jar"))[0]
                           for n in ("compiler", "library", "reflect"))
    out.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", tool, "scala.tools.nsc.Main", "-nowarn",
           "-encoding", "UTF-8", "-cp", classpath, "-d", str(out)] + [str(f) for f in files]
    proc = subprocess.run(cmd, capture_output=True, text=True)
    if proc.returncode != 0:
        raise BuildError(f"scalac failed for {out}:\n{proc.stdout[-4000:]}{proc.stderr[-4000:]}")


def build():
    """Compile if needed; returns the runtime classpath."""
    program = _sources(Path("src/main/scala"))
    harness = _sources(Path(__file__).resolve().parent / "scala")
    if not program:
        raise BuildError("no program sources under src/main/scala: run from the repository root")
    jars = spark_jars()
    digest = hashlib.sha256()
    for f in program + harness:
        digest.update(str(f).encode() + b"\0" + f.read_bytes() + b"\0")
    stamp = CLASSES / "STAMP"
    main, bench = CLASSES / "main", CLASSES / "bench"
    spark_cp = str(jars / "*")
    if not (stamp.exists() and stamp.read_text() == digest.hexdigest()):
        if stamp.exists():
            stamp.unlink()
        for d in (main, bench):
            subprocess.run(["rm", "-rf", str(d)], check=True)
        _scalac(jars, spark_cp, main, program)
        _scalac(jars, os.pathsep.join([str(main), spark_cp]), bench, harness)
        stamp.write_text(digest.hexdigest())
    return os.pathsep.join([str(bench), str(main), spark_cp])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
