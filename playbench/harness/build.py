"""Build file of the benchmark harness.

Compiles the program's sources (src/main/scala) together with the
harness sources next to this file into one class directory, with the
Scala compiler that ships in the Spark distribution (the same jars the
program runs on). The result is cached under the build directory and
keyed by a digest of every input file, so a run after an unchanged
build starts at once.

    python3 playbench/harness/build.py      # prints the class directory

The build directory is $CARGO_TARGET_DIR if set, else .bench_build,
relative to the repository root.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent.parent
SCALA = "2.13.17"


def spark_jars() -> Path:
    return Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"


def sources() -> list:
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"build: no program sources at {main}")
    files = sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    return [f for f in files if f.is_file()]


def digest(files: list) -> str:
    h = hashlib.sha256()
    for f in files + [Path(__file__).resolve()]:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()[:16]


def build() -> Path:
    files = sources()
    out_root = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    out = out_root / f"playbench-{digest(files)}"
    if (out / "BUILD_OK").exists():
        return out
    jars = spark_jars()
    compiler = [jars / f"scala-{n}-{SCALA}.jar" for n in ("compiler", "library", "reflect")]
    missing = [str(j) for j in compiler if not j.exists()]
    if missing:
        raise SystemExit(f"build: missing Scala compiler jars {missing}")
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", str(jars / "*"),
           "-d", str(tmp), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac exited with {r.returncode}")
    (tmp / "BUILD_OK").write_text("ok\n")
    for old in out_root.glob("playbench-*"):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    tmp.rename(out)
    return out


if __name__ == "__main__":
    print(build())
