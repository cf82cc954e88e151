"""Build the program (src/main/scala) and the benchmark (distbench/src) from
source, with the Scala compiler that ships in Spark's jars directory.

Classes land in .bench_build/classes/<digest>/, where <digest> hashes every
source file and the jar set, so an unchanged tree is never rebuilt and a
changed one always is. The build reads the checkout, the JDK and the Spark
jars, and writes only under .bench_build/.

    python3 distbench/build.py      # from the repository root
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys


class BuildError(Exception):
    pass


def spark_jars() -> pathlib.Path:
    """The jars of SPARK_HOME, else of the first Spark installation with a
    spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = pathlib.Path(home) / "jars"
        if not jars.is_dir():
            raise BuildError(f"no Spark jars at {jars}; set SPARK_HOME")
        return jars
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = pathlib.Path(d) / "spark-submit"
        if submit.is_file():
            jars = submit.resolve().parent.parent / "jars"
            if jars.is_dir():
                return jars
    raise BuildError("no Spark installation found; set SPARK_HOME")


def sources(root: pathlib.Path) -> list:
    program = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        raise BuildError(f"no program sources under {root / 'src' / 'main' / 'scala'}")
    bench = sorted((root / "distbench" / "src").rglob("*.scala"))
    if not bench:
        raise BuildError(f"no benchmark sources under {root / 'distbench' / 'src'}")
    return program + bench


def build(root: pathlib.Path) -> pathlib.Path:
    """Compile if needed; return the classes directory."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    for j in sorted(p.name for p in jars.glob("*.jar")):
        h.update(j.encode())
    digest = h.hexdigest()[:16]
    classes = root / ".bench_build" / "classes"
    out = classes / digest
    if (out / ".complete").exists():
        return out
    compiler = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(jars.glob(f"{name}-2.13*.jar"))
        if not found:
            raise BuildError(f"no {name} jar in {jars}")
        compiler.append(str(found[-1]))
    tmp = classes / f"{digest}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = classes / f"{digest}.args{os.getpid()}"
    args.write_text("\n".join(f'"{f}"' for f in srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-classpath", f"{jars}/*", "-d", str(tmp),
           "-nowarn", f"@{args}"]
    print(f"building {len(srcs)} sources into {out}", file=sys.stderr)
    try:
        done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    finally:
        args.unlink()
    if done.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited with {done.returncode}")
    (tmp / ".complete").touch()
    # keep only this build
    for old in classes.iterdir():
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.replace(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(build(pathlib.Path.cwd()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
