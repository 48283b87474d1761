"""Build file of the recipe benchmark: compiles the program's main
sources (src/main/scala) together with the benchmark's JVM sources
(recipebench/scala) with the Scala 2.13 compiler that ships in Spark's
jars directory, and packs the classes and src/main/resources into
.recipebench/build/<fingerprint>/app.jar.

It then runs a short stac_search workload once with
-XX:ArchiveClassesAtExit, leaving an application class-data-sharing
archive (app.jsa) beside the jar: every run maps the JDK, Spark and
program classes from it instead of loading and verifying them again,
which takes seconds off each run's JVM start and makes it steadier. If
that step fails, the build fails: a run without the archive starts
seconds slower, and would read as a set-up regression.

The compile and the archive dump are bounded by their timeouts, so a
build ends within BUILD_LIMIT_S.

The fingerprint hashes every source file, this file and the JVM
options, so a checkout builds once and later runs reuse the build.

    python3 recipebench/build.py            # build if needed, print the dir
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
SCALAC_TIMEOUT_S = 480
CDS_TIMEOUT_S = 180
BUILD_LIMIT_S = SCALAC_TIMEOUT_S + CDS_TIMEOUT_S + 30   # + packing the jar


class BuildError(Exception):
    pass


def spark_jars():
    for base in (os.environ.get("SPARK_HOME"), "/opt/spark"):
        if base and (Path(base) / "jars").is_dir():
            return Path(base) / "jars"
    raise BuildError("no Spark jars directory: set SPARK_HOME")


def sources(root):
    main = root / "src" / "main" / "scala"
    if not (main / "graft").is_dir():
        raise BuildError(f"program sources not found under {main}")
    files = sorted(main.rglob("*.scala")) + sorted((HERE / "scala").rglob("*.scala"))
    return files, root / "src" / "main" / "resources"


def fingerprint(files, jvm_opts):
    """Hash of the sources, this file, and the JVM options the archive
    is dumped with (a run must use the same)."""
    h = hashlib.sha256(" ".join(jvm_opts).encode())
    for f in files + [Path(__file__).resolve()]:
        h.update(str(f.name).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def jar(classes, resources, dest):
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_STORED) as z:
        for base in (classes, resources):
            for f in sorted(base.rglob("*")):
                if f.is_file():
                    z.write(f, f.relative_to(base).as_posix())


def train_cds(out, classpath, jvm_opts):
    """Dump app.jsa from one short stac_search run over a one-day archive."""
    import gen
    spec, _ = gen.stac_search(0)
    day = spec["archive"]["start"][:10]
    spec["archive"]["end"] = f"{day}T23:59:59Z"
    spec["insitu"]["platforms"] = 10
    work = out / "train"
    (work / "tmp").mkdir(parents=True)
    (work / "spec.json").write_text(json.dumps(spec))
    cmd = (["java"] + jvm_opts + [f"-XX:ArchiveClassesAtExit={out / 'app.jsa'}",
                                   f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", classpath,
                                   "recipebench.Main", "--workload", "stac_search",
                                   "--spec", str(work / "spec.json"), "--out", str(work),
                                   "--trace", "0", "--seconds", "2"])
    log = out / "train.log"
    try:
        with open(log, "w") as f:
            r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT,
                               timeout=CDS_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError(f"class-data-sharing dump timed out after {CDS_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not (out / "app.jsa").exists():
        tail = log.read_text(errors="replace")[-3000:]
        raise BuildError(f"class-data-sharing dump failed (exit {r.returncode}):\n{tail}")


def ensure(root, jvm_opts):
    """Build if needed. Returns (JVM options and classpath, build seconds)."""
    root = Path(root).resolve()
    files, resources = sources(root)
    jars = spark_jars()
    out = root / ".recipebench" / "build" / fingerprint(files, jvm_opts)
    classpath = os.pathsep.join([str(out / "app.jar"), str(jars / "*")])
    import time
    t0 = time.time()
    if not (out / "OK").exists():
        # one build per checkout: drop builds of other sources
        if out.parent.exists():
            shutil.rmtree(out.parent)
        classes = out / "classes"
        classes.mkdir(parents=True)
        argfile = out / "sources.txt"
        argfile.write_text("\n".join(str(f) for f in files))
        cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", str(jars / "*"),
               "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
               "-classpath", str(jars / "*"), f"@{argfile}"]
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                               text=True, timeout=SCALAC_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BuildError(f"scalac timed out after {SCALAC_TIMEOUT_S} s")
        if r.returncode != 0:
            raise BuildError("scalac failed:\n" + r.stdout[-4000:])
        jar(classes, resources, out / "app.jar")
        shutil.rmtree(classes)
        train_cds(out, classpath, jvm_opts)
        (out / "OK").write_text("ok\n")
    opts = list(jvm_opts) + [f"-XX:SharedArchiveFile={out / 'app.jsa'}"]
    return opts + ["-cp", classpath], time.time() - t0


if __name__ == "__main__":
    sys.path.insert(0, str(HERE))
    from run import JVM_OPTS
    try:
        opts, secs = ensure(Path.cwd(), JVM_OPTS)
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
    print(" ".join(opts[-3:]), f"({secs:.1f} s)")
