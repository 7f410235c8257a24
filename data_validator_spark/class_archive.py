"""A class-data-sharing (CDS) archive for the driver JVM.

Most of a driver JVM's start-up goes to loading Spark's classes from
jars. A dynamic CDS archive holds them already parsed, and a JVM
started with ``-XX:SharedArchiveFile`` maps it instead: on 4 cores a
bare ``local[4]`` session builds in 2.7-3.3 s in place of 5.2-6.1 s.

One archive per JDK and Spark install lives in ``CACHE_DIR``, named by
a key of java.home, the JDK's release file, the listing of
``$SPARK_HOME/jars`` and the conf dir on the class path. ``apply``
starts a builder's JVM from it when it exists. When it does not, the
process builds it at exit, after its own work (``build``): a child
JVM runs a small job mix and dumps the classes it loaded to a
``.part`` file, a ``java -Xshare:on`` probe checks that file, and only
then is it renamed to the archive's name. Nothing else writes that
name: a truncated archive crashes the JVM that maps it (SIGBUS, even
under the default ``-Xshare:auto``), while a garbage, stale or
mismatched one only costs speed. A build that fails leaves a
``.failed`` note with its reason and is not tried again.

JDK 17 refuses a non-empty directory on the class path of an archive,
and Spark puts its conf dir first. So a run that uses the archive
points ``SPARK_CONF_DIR`` at an empty directory beside it, and only
when the conf dir it stands in for holds nothing but ``*.template``
files: a conf dir with real files gets neither the redirect nor the
archive.
"""

from __future__ import annotations

import atexit
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

CACHE_DIR = os.path.join(
    os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
    "data-validator-spark",
    "cds",
)
JAVA_OPTIONS = "spark.driver.defaultJavaOptions"
# The JVM prints archive warnings (a mismatch, a skipped class) on the
# process's stdout; a run that maps an archive keeps them out of it.
QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
# A build takes 25-35 s on 4 cores; a child still running after this
# is killed and the build counts as failed. The bound also keeps a
# perfbench worker that builds at exit inside its run budget (170 s).
BUILD_TIMEOUT_S = 90

_building = False  # set in the child that dumps the archive
_pending: set[str] = set()  # archives (by stem) to build at exit


def _conf_dir() -> str:
    """The empty directory that stands in for Spark's conf dir."""
    return os.path.join(CACHE_DIR, "conf")


def _java_home() -> str:
    """The JDK spark-class runs: $JAVA_HOME, else the `java` on PATH."""
    if os.environ.get("JAVA_HOME"):
        return os.path.realpath(os.environ["JAVA_HOME"])
    return os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("java") or "/")))


def _stem() -> str | None:
    """This process's archive path without its suffix, or None when it
    can have no archive: its conf dir holds more than templates, the
    JDK has no release file, or the cache cannot be written (or its
    path would need quoting in a java option)."""
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf) and not all(n.endswith(".template") for n in os.listdir(conf)):
        return None
    java_home = _java_home()
    try:
        with open(os.path.join(java_home, "release")) as f:
            release = f.read()
        jars = sorted(
            (e.name, e.stat().st_size, e.stat().st_mtime_ns)
            for e in os.scandir(os.path.join(spark_home, "jars"))
        )
        os.makedirs(_conf_dir(), exist_ok=True)
    except OSError:
        return None
    if re.search(r"[\s\"'\\]", CACHE_DIR) or not os.access(CACHE_DIR, os.W_OK):
        return None
    key = json.dumps([java_home, release, jars, _conf_dir()])
    return os.path.join(CACHE_DIR, hashlib.sha256(key.encode()).hexdigest()[:16])


def apply(builder):
    """Start ``builder``'s driver JVM from this host's archive when one
    exists; when none does, build it at exit. The option is appended to
    any ``spark.driver.defaultJavaOptions`` the caller set."""
    from pyspark.sql import SparkSession

    if _building or not isinstance(builder, SparkSession.Builder):
        return builder
    stem = _stem()
    if stem is None:
        return builder
    if not os.path.exists(stem + ".jsa"):
        _build_at_exit(stem)
        return builder
    os.environ["SPARK_CONF_DIR"] = _conf_dir()
    own = f"-XX:SharedArchiveFile={stem}.jsa {QUIET}"
    caller = builder._options.get(JAVA_OPTIONS)
    return builder.config(JAVA_OPTIONS, f"{caller} {own}" if caller else own)


def started_with() -> dict | None:
    """The archive the running driver JVM was started with: its path and
    size in bytes, or None."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    found = sc and re.search(r"-XX:SharedArchiveFile=(\S+)", sc.getConf().get(JAVA_OPTIONS, ""))
    if not found or not os.path.isfile(found.group(1)):
        return None
    return {"path": found.group(1), "bytes": os.path.getsize(found.group(1))}


def _build_at_exit(stem: str) -> None:
    """Build ``stem``'s archive once this process's own work is done."""
    if not _pending:
        atexit.register(_build_pending)
    _pending.add(stem)


def _build_pending() -> None:
    """At exit: end this process's driver JVM, so the build never runs
    beside it, then build each archive the process went without."""
    if not _pending:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            return
    for stem in sorted(_pending):
        build(stem)


def build(stem: str) -> None:
    """Build the archive ``stem + '.jsa'`` unless it exists, a build of
    it has failed, or another process is building it. Parts that killed
    builds left behind are deleted first."""
    try:
        lock = open(stem + ".lock", "a")
    except OSError:
        return
    with lock:
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            return  # another process holds it and is building
        for stale in glob.glob(glob.escape(stem) + ".*.part"):
            os.remove(stale)
        if os.path.exists(stem + ".jsa") or os.path.exists(stem + ".failed"):
            return
        part = f"{stem}.{os.getpid()}.part"
        print(f"building the driver JVM's class archive {stem}.jsa (once per host)", file=sys.stderr)
        try:
            java_home, class_path = _dump(part)
            why = None if _promote(part, stem + ".jsa", java_home, class_path) else "probe failed"
        except (OSError, ValueError, subprocess.SubprocessError) as e:
            why = f"{type(e).__name__}: {e}"
        if why:
            if os.path.exists(part):
                os.remove(part)
            with open(stem + ".failed", "w") as f:
                f.write(why[-2000:] + "\n")


# The child that dumps the archive: it imports this package from the
# checkout the parent runs, whatever its working directory.
_CHILD = (
    "import sys; from data_validator_spark import class_archive; "
    "class_archive._dump_here(sys.argv[1])"
)


def _dump(part: str) -> tuple[str, str]:
    """Run the job mix in a child JVM that writes the classes it loaded
    to ``part`` as it exits; returns that JVM's java.home and class
    path, the ones the archive can be mapped with."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        SPARK_CONF_DIR=_conf_dir(),
        PYTHONPATH=os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
    )
    with tempfile.TemporaryDirectory() as work:
        out = subprocess.run(
            [sys.executable, "-c", _CHILD, part],
            cwd=work, env=env, capture_output=True, text=True, timeout=BUILD_TIMEOUT_S,
        )
    if out.returncode != 0 or not os.path.isfile(part):
        raise ValueError(f"dump exited with {out.returncode}: {out.stderr[-1500:]}")
    props = json.loads(out.stdout.splitlines()[-1])
    return props["java.home"], props["java.class.path"]


def _dump_here(part: str) -> None:
    """In the child: a bare session runs a parquet write and read, an
    aggregate and a join, then its JVM exits and dumps ``part``. Prints
    the JVM's java.home and class path as the last stdout line."""
    global _building
    _building = True
    from data_validator_spark.session import build_session

    spark = build_session("class-archive", "local[2]", {JAVA_OPTIONS: f"-XX:ArchiveClassesAtExit={part}"})
    spark.range(2000).selectExpr(
        "id", "id % 7 AS k", "id / 3 AS v", "CAST(id AS STRING) AS s"
    ).write.parquet("t.parquet")
    t = spark.read.parquet("t.parquet")
    counts = t.groupBy("k").agg({"v": "sum", "s": "max", "id": "count"})
    counts.join(t, "k").orderBy("id").take(5)
    jvm = spark.sparkContext._jvm
    props = {p: jvm.System.getProperty(p) for p in ("java.home", "java.class.path")}
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()  # the gateway exits on EOF, and the JVM dumps
    proc.wait()
    print(json.dumps(props))


def _promote(part: str, archive: str, java_home: str, class_path: str) -> bool:
    """Rename ``part`` to ``archive`` if a JVM that must share classes
    starts from it; otherwise delete it. The probe's crash log, if any,
    goes beside the part, never into the working directory."""
    err = part + ".hs_err.log"
    try:
        probe = subprocess.run(
            [
                os.path.join(java_home, "bin", "java"), "-cp", class_path,
                f"-XX:SharedArchiveFile={part}", "-Xshare:on",
                f"-XX:ErrorFile={err}", "-XX:-CreateCoredumpOnCrash", "-version",
            ],
            capture_output=True, timeout=60,
        )
    finally:
        if os.path.exists(err):
            os.remove(err)
    if probe.returncode != 0:
        os.remove(part)
        return False
    os.replace(part, archive)
    return True
