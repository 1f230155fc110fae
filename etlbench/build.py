"""Build file of the ETL benchmark, and the JVM command line it runs under.

``build()`` compiles the program (``src/main/scala``) together with the
benchmark's own Scala sources (``etlbench/src``) with the Scala compiler that
ships in the Spark distribution, packs the classes into
``.bench_build/etlbench.jar``, and records a class-data-sharing archive
(``etlbench.jsa``) from one short training run on tiny generated inputs, so
every benchmark JVM maps the ~15k Spark and program classes instead of
loading and verifying them (measured on a 4-vCPU VM: session start
5.8 s -> 3.0 s, first round 21.0 s -> 16.8 s). A stamp of every source
file's path and contents skips all of it when nothing changed.

Run standalone from the repository root: ``python3 etlbench/build.py``.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
HEAP = "3g"  # -Xms = -Xmx: heap sizing never moves during a run

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise RuntimeError("SPARK_HOME is not set")
    return os.path.join(home, "jars")


def java_cmd(out_dir, work, bench_args, dump=False):
    """The benchmark JVM: fixed heap, parallel GC, JDK 17 module opens for
    Spark, scratch under `work`. It maps the class-data-sharing archive, or
    records it at exit when `dump` is set; there is no path without one."""
    jsa = os.path.join(out_dir, "etlbench.jsa")
    cds = [f"-XX:ArchiveClassesAtExit={jsa}" if dump else f"-XX:SharedArchiveFile={jsa}"]
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cp = os.pathsep.join([os.path.join(out_dir, "etlbench.jar"),
                          os.path.join(spark_jars(), "*")])
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
             "-XX:-UsePerfData"] + cds +
            [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             f"-Dderby.system.home={os.path.join(work, 'derby')}"] + opens +
            ["-cp", cp, "etlbench.Bench"] + bench_args)


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return prog, own


def compile_jar(prog, own, out_dir):
    classes = os.path.join(out_dir, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", cp] + prog + own
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if res.returncode != 0:
        raise RuntimeError("compile failed:\n" + res.stdout[-4000:])
    # Class-data sharing archives classes from jars only.
    with zipfile.ZipFile(os.path.join(out_dir, "etlbench.jar"), "w",
                         zipfile.ZIP_STORED) as jar:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                p = os.path.join(d, f)
                jar.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)


def train_archive(out_dir):
    """One short run over every code path (tall, wide, JSON, registry build)
    that records the classes it loaded."""
    sys.path.insert(0, HERE)
    import gen
    work = os.path.join(out_dir, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        inputs = os.path.join(work, "inputs")
        gen.generate("training", 0, inputs, spec=gen.TRAINING)
        args = ["--workload", "training", "--inputs", inputs, "--seconds", "0",
                "--trace", "0", "--warmup", "0", "--cores", "2",
                "--out", os.path.join(work, "result.json")]
        res = subprocess.run(java_cmd(out_dir, work, args, dump=True),
                             stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             text=True)
        if res.returncode != 0:
            raise RuntimeError("training run failed:\n" + res.stdout[-4000:])
        # A failed dump only logs a warning and still exits 0.
        if not os.path.exists(os.path.join(out_dir, "etlbench.jsa")):
            raise RuntimeError("no class-data-sharing archive written:\n" +
                               res.stdout[-4000:])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def build(root, out_dir):
    """Builds when the sources changed; raises RuntimeError when it cannot."""
    prog, own = sources(root)
    if not prog:
        raise RuntimeError(f"no program sources under {root}/src/main/scala")
    if not glob.glob(os.path.join(spark_jars(), "scala-compiler-*.jar")):
        raise RuntimeError(f"no Scala compiler in {spark_jars()}")
    h = hashlib.sha256()
    for f in prog + own + [os.path.join(HERE, n) for n in ("gen.py", "build.py")]:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out_dir, "build.stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return
    os.makedirs(out_dir, exist_ok=True)
    for f in (stamp_file, os.path.join(out_dir, "etlbench.jsa")):
        if os.path.exists(f):
            os.remove(f)
    compile_jar(prog, own, out_dir)
    train_archive(out_dir)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


if __name__ == "__main__":
    root = os.getcwd()
    try:
        build(root, os.path.join(root, ".bench_build"))
    except RuntimeError as e:
        sys.exit(str(e))
