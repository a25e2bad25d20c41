"""Build file of the benchmark: compiles graft's sources (src/main/scala)
together with the benchmark's own (perfbench/src) into one jar.

scalac runs straight from the Scala compiler jars that ship with Spark, so
the build needs no network and no sbt. The jar is reused while a digest of
every source file and of the compiler's classpath is unchanged.

The build ends with a short training run of the benchmark that dumps the
classes it loaded into a class-data-sharing archive. Every measured run
maps that archive, which takes about 6 s of cold JVM start off each run
(37.9 s to 31.5 s for a 3 s `olap` run on a 4-vCPU VM). It changes no
metric, since set-up round 0 never sets the median, but without it the
driver's 70 runs do not fit their time budget.

    python3 perfbench/build.py        # prints the jar path
"""
import glob
import hashlib
import os
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
SCALA = "2.13.17"

# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(jar, jars, work, archive=None, dump=None):
    """The JVM command of the benchmark process, up to perfbench.Main.
    `archive` maps a class-data-sharing archive; `dump` writes one at exit."""
    cds = ([f"-XX:SharedArchiveFile={archive}"] if archive else []) + \
          ([f"-XX:ArchiveClassesAtExit={dump}"] if dump else [])
    return (["java"] + cds + ["-Xlog:disable", "-Xlog:all=error:stderr", "-Xmx3g", "-Xss4m",
             "-XX:+UseG1GC", "-Duser.timezone=UTC", "-Dfile.encoding=UTF-8",
             "-Dsun.jnu.encoding=UTF-8", "-Dspark.ui.enabled=false",
             # the status store keeps this many finished executions, jobs and
             # stages on the heap; small limits keep retained_heap_mb about graft
             "-Dspark.sql.ui.retainedExecutions=50", "-Dspark.ui.retainedJobs=50",
             "-Dspark.ui.retainedStages=50", f"-Djava.io.tmpdir={work}"] +
            [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            ["-cp", jar + ":" + os.path.join(jars, "*"), "perfbench.Main"])


def train_archive(jar, jars):
    """Dump the class-data-sharing archive from a 2 s `olap` run; returns
    its path, or None when the JVM wrote none."""
    archive = os.path.join(OUT, "perfbench.jsa")
    work = os.path.join(OUT, "train")
    for p in (archive, work):
        subprocess.run(["rm", "-rf", p], check=True)
    os.makedirs(work)
    cmd = java_cmd(jar, jars, work, dump=archive) + [
        "--seed", "1", "--work", work, "--workload", "olap", "--seconds", "2", "--trace", "0"]
    try:
        with open(os.path.join(OUT, "train.log"), "w") as log:
            subprocess.run(cmd, cwd=work, stdout=log, stderr=log, timeout=300)
    except subprocess.TimeoutExpired:
        pass
    subprocess.run(["rm", "-rf", work], check=True)
    return archive if os.path.exists(archive) else None


def spark_jars():
    """The jars of the Spark install: $SPARK_HOME, else the first install
    on PATH whose spark-submit sits next to a jars/ directory."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark install found (set SPARK_HOME)")


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "perfbench", "src")]
    for r in roots:
        if not os.path.isdir(r):
            raise SystemExit(f"perfbench: missing source directory {os.path.relpath(r, ROOT)}")
    files = []
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(files)


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if needed; returns (jar, Spark jar dir, source digest, class-data
    archive or None)."""
    jars = spark_jars()
    files = sources()
    digest = source_digest(files)
    stamp = hashlib.sha256((digest + SCALA + "\n".join(sorted(os.listdir(jars)))).encode()).hexdigest()
    jar = os.path.join(OUT, "perfbench.jar")
    stamp_file = os.path.join(OUT, "perfbench.stamp")
    archive = os.path.join(OUT, "perfbench.jsa")
    if os.path.exists(jar) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar, jars, digest, archive if os.path.exists(archive) else None
    tmp = os.path.join(OUT, "classes.tmp")
    subprocess.run(["rm", "-rf", tmp], check=True)
    os.makedirs(tmp)
    args_file = os.path.join(OUT, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    compiler = ":".join(os.path.join(jars, f"scala-{p}-{SCALA}.jar") for p in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-encoding", "UTF-8", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", tmp, "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compilation failed")
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in os.walk(tmp):
            for f in sorted(fs):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), tmp))
    os.replace(jar + ".tmp", jar)
    subprocess.run(["rm", "-rf", tmp], check=True)
    archive = train_archive(jar, jars)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return jar, jars, digest, archive


if __name__ == "__main__":
    print(build()[0])
