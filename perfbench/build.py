"""Build file of the benchmark: compiles graft (src/main) and the harness
(perfbench/src) with the Scala compiler that ships among Spark's jars,
packs each into a jar, and records a class-data-sharing archive of the
classes a short run loads, so that each benchmark JVM starts in about
4 s instead of 9 s.

    python3 perfbench/build.py          # from the root of a checkout

Output goes to $CARGO_TARGET_DIR (default .bench_build) under the
checkout. A stamp of the path and content of every source and of this
file skips the build when none changed.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

MAIN_SRC = os.path.join("src", "main", "scala")
MAIN_RES = os.path.join("src", "main", "resources")
BENCH_SRC = os.path.join("perfbench", "src")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt declares as its
    `unmanagedBase`.
    """
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("set SPARK_HOME: build.sbt declares no unmanagedBase")
    return m.group(1)


def build_dir():
    return os.environ.get("CARGO_TARGET_DIR") or ".bench_build"


def sources(root, suffix=".scala"):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(suffix)]
    return sorted(out)


def stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def scalac(out, classpath, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", os.pathsep.join(classpath), *files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed: scalac exited %d" % r.returncode)


HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jar_dir():
    return os.path.abspath(os.path.join(build_dir(), "jars"))


def archive():
    return os.path.join(jar_dir(), "classes.jsa")


def jvm_command(main_args, work, archive_flag=None):
    """The benchmark JVM's command line. `archive_flag` overrides the
    use of the class-data-sharing archive (used to record it).
    """
    jd = jar_dir()
    if archive_flag is None:
        archive_flag = "-XX:SharedArchiveFile=" + archive() if os.path.exists(archive()) else None
    return ["java", *[x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")],
            # a fixed heap: with an adaptive one, how far the heap grew
            # changed GC frequency and refresh time from run to run
            "-Xms" + HEAP, "-Xmx" + HEAP, "-Dspark.ui.enabled=false",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            *([archive_flag] if archive_flag else []),
            "-cp", os.pathsep.join([os.path.join(jd, "bench.jar"), os.path.join(jd, "graft.jar"),
                                    os.path.join(spark_jars(), "*")]),
            "graftbench.Main", *main_args, "--work", work]


def pack(src_dir, jar):
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in sorted(os.walk(src_dir)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, src_dir))


def record_archive():
    """Records the classes a short table_dml run loads. Without the
    archive the JVM still runs, only slower to start.
    """
    work = os.path.abspath(os.path.join(build_dir(), "work", "archive"))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = jvm_command(["--workload", "table_dml", "--seed", "0", "--seconds", "1",
                       "--trace", "0", "--cores", "4", "--out", os.path.join(work, "out.json")],
                      work, archive_flag="-XX:ArchiveClassesAtExit=" + archive())
    try:
        subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=300)
    except subprocess.TimeoutExpired:
        pass
    shutil.rmtree(work, ignore_errors=True)


def build():
    if not os.path.isdir(MAIN_SRC):
        raise SystemExit("no %s here: run from the root of a graft checkout" % MAIN_SRC)
    if not os.path.isdir(spark_jars()):
        raise SystemExit("Spark jars not found at %s (set SPARK_HOME)" % spark_jars())
    main = sources(MAIN_SRC)
    res = sources(MAIN_RES, suffix="") if os.path.isdir(MAIN_RES) else []
    bench = sources(BENCH_SRC)
    bd = build_dir()
    stamp_file = os.path.join(bd, "classes", "stamp")
    want = stamp(main + res + bench + [os.path.join("perfbench", "build.py")])
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return
    cls = os.path.join(bd, "classes")
    shutil.rmtree(cls, ignore_errors=True)
    shutil.rmtree(jar_dir(), ignore_errors=True)
    main_out, bench_out = os.path.join(cls, "main"), os.path.join(cls, "bench")
    scalac(main_out, [os.path.join(spark_jars(), "*")], main)
    for r in res:
        dst = os.path.join(main_out, os.path.relpath(r, MAIN_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    scalac(bench_out, [main_out, os.path.join(spark_jars(), "*")], bench)
    os.makedirs(jar_dir())
    pack(main_out, os.path.join(jar_dir(), "graft.jar"))
    pack(bench_out, os.path.join(jar_dir(), "bench.jar"))
    record_archive()
    with open(stamp_file, "w") as f:
        f.write(want)


if __name__ == "__main__":
    build()
