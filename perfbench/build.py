"""Build the benchmark: compile graft's main sources, then the benchmark
program in perfbench/src, with the Scala compiler that ships in Spark's
jars; package both as jars; then record a class-data-sharing archive from
one short run of every workload, so each benchmark JVM starts without
re-loading and re-verifying Spark's classes. Every stage is cached under
the build directory (`$CARGO_TARGET_DIR` or `.bench_build`) by a digest of
its inputs, so a checkout builds once.

    python3 perfbench/build.py            # prints the runtime classpath
"""

import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
HEAP = "2g"

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(RuntimeError):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """The jars of the Spark installation: `$SPARK_HOME`, or the one whose
    `spark-submit` is on the PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home:
        raise BuildError("no Spark installation: set SPARK_HOME")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Spark jars with a Scala compiler under {jars}")
    return os.path.join(jars, "*")


def _files(d, suffixes=None):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if suffixes is None or f.endswith(suffixes)]
    return sorted(out)


def _digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _fresh(stamp, digest):
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read() == digest
    return False


def _compile(name, sources, classpath, jar, resources=None, extra=""):
    """Compile `sources` into `jar` (plus `resources`); return its digest."""
    stamp = jar + ".stamp"
    digest = _digest(sources + (_files(resources) if resources else []), classpath + extra)
    if _fresh(stamp, digest):
        return digest
    if not sources:
        raise BuildError(f"{name}: no sources")
    out = jar + ".classes"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(out, ".sources")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", f"-Xmx{HEAP}", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError(f"{name}: scalac failed\n{r.stdout[-4000:]}")
    os.remove(argfile)
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for base in [out] + ([resources] if resources else []):
            for p in _files(base):
                z.write(p, os.path.relpath(p, base))
    shutil.rmtree(out)
    with open(stamp, "w") as f:
        f.write(digest)
    return digest


def jvm_command(classpath, *jvm_flags):
    """The java command line every benchmark JVM uses, up to the main class."""
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", *jvm_flags]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath]


def cds_archive():
    return os.path.join(build_dir(), "classes.jsa")


def _train(classpath, digest):
    """Record the class-data archive from one short pass of each workload."""
    archive = cds_archive()
    stamp = archive + ".stamp"
    if _fresh(stamp, digest):
        return
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = ",".join(w["name"] for w in json.load(f)["workloads"])
    work = os.path.join(build_dir(), "work", "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if os.path.exists(archive):
        os.remove(archive)
    cmd = jvm_command(classpath, f"-XX:ArchiveClassesAtExit={archive}",
                      f"-Djava.io.tmpdir={work}/tmp")
    cmd += ["perfbench.Main", "--train", names, "--work", work]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           cwd=ROOT, timeout=600)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(archive):
        raise BuildError(f"class-data training run failed\n{r.stdout[-4000:]}")
    with open(stamp, "w") as f:
        f.write(digest)


def build():
    """Build what is stale; return the runtime classpath."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    resources = os.path.join(ROOT, "src", "main", "resources")
    if not os.path.isdir(main_src):
        raise BuildError(f"graft sources not found at {main_src}")
    jars = spark_jars()
    os.makedirs(build_dir(), exist_ok=True)
    graft_jar = os.path.join(build_dir(), "graft.jar")
    bench_jar = os.path.join(build_dir(), "perfbench.jar")
    graft = _compile("graft", _files(main_src, (".scala", ".java")), jars, graft_jar, resources)
    bench = _compile("perfbench", _files(os.path.join(BENCH_DIR, "src"), (".scala",)),
                     os.pathsep.join([graft_jar, jars]), bench_jar, extra=graft)
    classpath = os.pathsep.join([bench_jar, graft_jar, jars])
    _train(classpath, bench)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
