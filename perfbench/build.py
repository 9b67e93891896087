"""Build file of the benchmark: compiles the library (src/main/scala) and
the benchmark program (perfbench/src) with the Scala compiler that ships in
Spark's jar directory. No dependency resolution and no sbt: the classpath
is Spark's jars, as in build.sbt. Outputs go under $CARGO_TARGET_DIR
(default .bench_build) and are reused while the sources are unchanged.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path.cwd()
BENCH = pathlib.Path(__file__).resolve().parent


def build_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(pathlib.Path(shutil.which("spark-submit")).resolve().parent.parent)
    jars = pathlib.Path(home or "", "jars")
    if not home or not jars.is_dir():
        raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")
    return jars


def _digest(files, deps):
    h = hashlib.sha256("".join(str(d) for d in deps).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def _compile(name, srcs, classpath, jars):
    """Compile `srcs` into build_dir()/name-<hash>, once per source hash."""
    out = build_dir() / f"{name}-{_digest(srcs, classpath)}"
    if out.exists():
        return out
    # compile next to the target and rename, so a cut or concurrent build
    # never leaves a half-written class dir under the final name
    tmp = out.with_name(f"{out.name}.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = os.pathsep.join([str(p) for p in classpath] + [f"{jars}/*"])
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-cp", cp]
    print(f"perfbench: compiling {len(srcs)} {name} sources", file=sys.stderr)
    if subprocess.run(cmd + [str(s) for s in srcs]).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: {name} build failed")
    try:
        tmp.rename(out)
    except OSError:  # another build finished first
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def build():
    """Build both parts; return the runtime classpath entries."""
    jars = spark_jars()
    lib_srcs = sorted((ROOT / "src/main/scala").rglob("*.scala"))
    if not lib_srcs:
        raise SystemExit("perfbench: no library sources under src/main/scala")
    lib = _compile("lib", lib_srcs, [], jars)
    bench = _compile("bench", sorted((BENCH / "src").rglob("*.scala")), [lib], jars)
    return [bench, lib, ROOT / "src/main/resources", f"{jars}/*"]


if __name__ == "__main__":
    print(os.pathsep.join(str(p) for p in build()))
