#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (src/main/scala) and the
benchmark's own Scala sources (perfbench/src) into one jar with the Scala 2.13
compiler that ships with Spark, generates the fixed analytics tables once, and
records a class-data-sharing archive of the classes a run loads, so each run's
JVM starts in about half the time.

Everything lands under `.bench_build/` at the checkout root. The output
directory name carries a hash of every compiled source, so a changed source
triggers a fresh build and an unchanged tree reuses the previous one.

Usage: python3 perfbench/build.py    (run.py calls it before every run)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
# Bump when the generated analytics tables change shape.
TABLES_VERSION = "t1"


def spark_jars() -> Path:
    """The Spark distribution the library is built against: $SPARK_HOME, or
    the one whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("build: set SPARK_HOME or put spark-submit on PATH")
        home = Path(submit).resolve().parent.parent
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-2.13*.jar")):
        raise SystemExit(f"build: no Scala 2.13 compiler under {jars}")
    return jars


def java_opts() -> list:
    """JVM flags for a Spark driver outside spark-submit. No perf-data file:
    the JVM would write it to the system temp directory."""
    pkgs = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
            "java.net", "java.nio", "java.util", "java.util.concurrent",
            "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
            "sun.security.action", "sun.util.calendar"]
    opts = ["-XX:-UsePerfData",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
    for p in pkgs:
        opts += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return opts


def sources() -> list:
    lib = ROOT / "src" / "main" / "scala"
    bench = HERE / "src"
    if not lib.is_dir():
        raise SystemExit(f"build: library sources not found at {lib}")
    files = sorted(lib.rglob("*.scala")) + sorted(bench.rglob("*.scala"))
    return files


def fingerprint(files: list) -> str:
    h = hashlib.sha256()
    res = ROOT / "src" / "main" / "resources"
    extra = sorted(p for p in res.rglob("*") if p.is_file()) if res.is_dir() else []
    for f in files + extra:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def compile_classes() -> Path:
    """Returns the build directory holding bench.jar."""
    files = sources()
    out = BUILD / f"classes-{fingerprint(files)}"
    if (out / ".ok").exists():
        return out
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", str(spark_jars() / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-Ybackend-parallelism", "4", "-d", str(tmp), f"@{argfile}"]
    print(f"build: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    res = ROOT / "src" / "main" / "resources"
    if res.is_dir():
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    # class-data sharing archives classes from jars only
    jar = BUILD / "bench.jar.tmp"
    shutil.make_archive(str(jar), "zip", tmp)
    shutil.rmtree(tmp)
    tmp.mkdir()
    Path(f"{jar}.zip").rename(tmp / "bench.jar")
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    (tmp / ".ok").write_text("ok\n")
    tmp.rename(out)
    return out


def classpath(classes: Path) -> str:
    """The jar and every Spark jar, spelled out in a fixed order: the
    class-data-sharing archive is valid only for the classpath it was
    recorded with."""
    jars = sorted(str(j) for j in spark_jars().glob("*.jar"))
    return os.pathsep.join([str(classes / "bench.jar"), *jars])


def cds_opts(classes: Path) -> list:
    jsa = classes / "app.jsa"
    return [f"-XX:SharedArchiveFile={jsa}"] if jsa.exists() else []


def ensure_cds(classes: Path, tables: Path) -> None:
    """Record the archive from one short live_feed run. Without it the runs
    still work; their JVMs only start slower."""
    if (classes / ".cds-tried").exists():
        return
    work = BUILD / "cds-work"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cmd = ["java", *java_opts(), "-Xmx3g", f"-Djava.io.tmpdir={work}",
           f"-XX:ArchiveClassesAtExit={classes / 'app.jsa'}",
           "-cp", classpath(classes), "perfbench.Main", "--train",
           "--work", str(work), "--tables", str(tables),
           "--expected", str(HERE / "expected_analytics.json")]
    print("build: recording the class-data-sharing archive", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        (classes / "app.jsa").unlink(missing_ok=True)
        print(f"build: archive run failed with code {r.returncode}; "
              "runs start without it", file=sys.stderr)
    (classes / ".cds-tried").write_text("ok\n")


def ensure_tables(classes: Path) -> Path:
    """The analytics workload reads fixed tables; they do not depend on the
    seed, so they are generated once per checkout, like the classes."""
    tables = BUILD / f"tables-{TABLES_VERSION}"
    if (tables / ".ok").exists():
        return tables
    shutil.rmtree(tables, ignore_errors=True)
    work = BUILD / "gen-work"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cmd = ["java", *java_opts(), "-Xmx2g", f"-Djava.io.tmpdir={work}",
           "-cp", classpath(classes), "perfbench.Main",
           "--gen-tables", str(tables), "--work", str(work)]
    print("build: generating analytics tables", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        raise SystemExit(f"build: table generation failed with code {r.returncode}")
    (tables / ".ok").write_text("ok\n")
    return tables


def ensure() -> tuple:
    BUILD.mkdir(exist_ok=True)
    classes = compile_classes()
    tables = ensure_tables(classes)
    ensure_cds(classes, tables)
    return classes, tables


if __name__ == "__main__":
    c, t = ensure()
    print(f"classes: {c}\ntables: {t}")
