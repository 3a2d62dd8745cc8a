#!/usr/bin/env python3
"""Build file of graft's benchmark.

Compiles the program (`src/main/scala`) and the benchmark's own Scala
code (`perfbench/src`) with the Scala compiler that ships in Spark's jar
directory, into two jars under `$CARGO_TARGET_DIR/perfbench` (default
`.bench_build`). A jar whose sources are unchanged is reused.

    python3 perfbench/build.py          # prints the classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """Spark's jar directory: the `unmanagedBase` of the repository's
    `build.sbt` (the jars its own build compiles against), else
    `$SPARK_HOME/jars`."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if m:
        jars = Path(m.group(1))
    elif os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        raise BuildError("no Spark jar directory: build.sbt names no unmanagedBase and SPARK_HOME is unset")
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Spark jar directory with a Scala compiler at {jars}")
    return jars


def sources(d: Path) -> list:
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def out_dir() -> Path:
    target = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    if not target.is_absolute():
        target = ROOT / target
    return target / "perfbench"


def scalac(jars: Path, classpath: list, dest: Path, files: list) -> None:
    dest.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(dest),
           "-cp", os.pathsep.join([str(c) for c in classpath] + [f"{jars}/*"])]
    cmd += [str(f) for f in files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError(f"scalac failed for {dest.name}:\n{r.stdout[-4000:]}")


def source_digest() -> str:
    """Short digest of the program and benchmark sources."""
    h = hashlib.sha256()
    for f in sources(ROOT / "src" / "main" / "scala") + sources(HERE / "src"):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:12]


def build() -> list:
    """Compiles what changed; returns the run classpath (without Spark's jars)."""
    main_src = ROOT / "src" / "main" / "scala"
    bench_src = HERE / "src"
    main_files, bench_files = sources(main_src), sources(bench_src)
    if not main_files:
        raise BuildError(f"no program sources under {main_src}")
    if not bench_files:
        raise BuildError(f"no benchmark sources under {bench_src}")
    jars = spark_jars()
    out = out_dir()
    out.mkdir(parents=True, exist_ok=True)
    main_jar, bench_jar = out / "graft.jar", out / "perfbench.jar"

    def stamp(files):
        h = hashlib.sha256(str(sorted(p.name for p in jars.glob("*.jar"))).encode())
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
        return h.hexdigest()

    for jar, files, cp, deps in ((main_jar, main_files, [], []),
                                 (bench_jar, bench_files, [main_jar], main_files)):
        want = stamp(files + deps)
        stamp_file = jar.with_suffix(".stamp")
        if jar.exists() and stamp_file.exists() and stamp_file.read_text() == want:
            continue
        classes = out / (jar.stem + "-classes")
        shutil.rmtree(classes, ignore_errors=True)
        print(f"[perfbench] compiling {len(files)} files into {jar}", file=sys.stderr)
        scalac(jars, cp, classes, files)
        with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
            for f in sorted(classes.rglob("*")):
                if f.is_file():
                    z.write(f, f.relative_to(classes).as_posix())
        shutil.rmtree(classes)
        stamp_file.write_text(want)
        # a class-data archive of the old jars no longer applies
        for old in out.glob("*.jsa"):
            old.unlink()
    return [bench_jar, main_jar]


def class_archive() -> Path:
    """JVM class-data-sharing archive of the current jars. The first run
    writes it on exit; later runs map it, which saves seconds of class
    loading per JVM start."""
    return out_dir() / "classes.jsa"


if __name__ == "__main__":
    try:
        print(os.pathsep.join(str(p) for p in build()))
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
