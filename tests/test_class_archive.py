"""The driver JVM's class-data-sharing archive (class_archive.py).

A truncated archive at the archive's name crashes every JVM that maps
it, so these tests pin the one way a file gets there (a probe, then a
rename) and that anything else found there costs only speed. Each test
points ``class_archive.CACHE_DIR`` at its own temporary directory.
"""

from __future__ import annotations

import glob
import os
import shutil
import signal
import subprocess
import sys
import time
from types import SimpleNamespace

import pytest
from pyspark.sql import SparkSession

from data_validator_spark import class_archive
from data_validator_spark.session import apply_engine_confs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _templates_only(path) -> str:
    path.mkdir()
    (path / "spark-defaults.conf.template").write_text("# spark.master local\n")
    return str(path)


@pytest.fixture
def cache(tmp_path, monkeypatch):
    """An empty cache and a conf dir that holds only templates."""
    monkeypatch.setattr(class_archive, "CACHE_DIR", str(tmp_path / "cds"))
    monkeypatch.setattr(class_archive, "_pending", set())
    monkeypatch.setenv("SPARK_CONF_DIR", _templates_only(tmp_path / "conf"))
    return tmp_path / "cds"


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """One real part, dumped by the child JVM a build runs (25-35 s on 4 cores)."""
    d = tmp_path_factory.mktemp("built")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(class_archive, "CACHE_DIR", str(d / "cds"))
        mp.setenv("SPARK_CONF_DIR", _templates_only(d / "conf"))
        assert class_archive._stem() is not None
        part = str(d / "whole.part")
        java_home, class_path = class_archive._dump(part)
    return SimpleNamespace(part=part, java_home=java_home, class_path=class_path)


def _truncated(built, path) -> str:
    with open(built.part, "rb") as f:
        data = f.read()
    path.write_bytes(data[: len(data) // 3])
    return str(path)


def test_truncated_part_is_never_promoted(built, tmp_path, monkeypatch):
    """The probe of a truncated part exits non-zero (the JVM dies of
    SIGBUS mapping it), the part is deleted, nothing reaches the
    archive's name, and no crash log or core lands in the working
    directory. The whole part passes the same probe."""
    monkeypatch.chdir(tmp_path)
    archive = tmp_path / "a.jsa"
    part = _truncated(built, tmp_path / "cut.part")
    assert not class_archive._promote(part, str(archive), built.java_home, built.class_path)
    assert not os.path.exists(part) and not archive.exists()
    assert not glob.glob("hs_err_pid*") and not glob.glob("core*")

    whole = str(tmp_path / "whole.part")
    shutil.copy(built.part, whole)
    assert class_archive._promote(whole, str(archive), built.java_home, built.class_path)
    assert archive.exists() and not os.path.exists(whole)


def test_build_of_a_truncated_dump_fails_once(built, tmp_path, monkeypatch):
    """A build whose dump comes out truncated leaves a .failed note and
    no archive, and is not tried again."""
    stem = str(tmp_path / "k")
    calls = []

    def dump(part):
        calls.append(part)
        _truncated(built, tmp_path / os.path.basename(part))
        return built.java_home, built.class_path

    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr(class_archive, "_dump", dump)
    class_archive.build(stem)
    class_archive.build(stem)
    assert len(calls) == 1
    assert os.path.exists(stem + ".failed") and not os.path.exists(stem + ".jsa")
    assert not glob.glob(stem + ".*.part") and not glob.glob("hs_err_pid*")


CLI = """
import os, runpy, sys
from data_validator_spark import class_archive
class_archive.CACHE_DIR = sys.argv.pop(1)
try:
    runpy.run_module("data_validator_spark.cli", run_name="__main__", alter_sys=True)
finally:
    print("conf dir:", os.environ.get("SPARK_CONF_DIR"), file=sys.stderr)
"""


@pytest.mark.parametrize("found", ["garbage", "mismatched"])
def test_bad_archive_at_its_name_costs_only_speed(found, spark, built, cache, tmp_path):
    """With garbage, or an archive dumped on another class path (the
    JVM warns about that one on stdout), at the archive's name the
    CLI's session still starts and the run passes, and no archive
    warning reaches either output stream."""
    stem = class_archive._stem()
    if found == "garbage":
        with open(stem + ".jsa", "wb") as f:
            f.write(os.urandom(4096))
    else:
        shutil.copy(built.part, stem + ".jsa")
    size = os.path.getsize(stem + ".jsa")
    data = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string").write.parquet(data)
    cfg = tmp_path / "config.yaml"
    cfg.write_text(f"tables:\n  - parquetFile: {data}\n    checks:\n      - type: nullCheck\n        column: s\n")
    r = subprocess.run(
        [sys.executable, "-c", CLI, str(cache), "--config", str(cfg)],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "DATA_VALIDATOR_STATUS=PASS" in r.stdout
    assert f"conf dir: {class_archive._conf_dir()}" in r.stderr  # it was started from the archive
    assert "[cds" not in r.stdout and "[cds" not in r.stderr
    assert os.path.getsize(stem + ".jsa") == size  # found there, so never rebuilt


def test_conf_dir_with_real_files_gets_no_archive(cache, tmp_path, monkeypatch):
    """A conf dir of templates is swapped for the empty one and the
    archive option is appended to the caller's; a conf dir with a real
    spark-defaults.conf keeps its place, and the builder gets no
    archive option."""
    stem = class_archive._stem()
    open(stem + ".jsa", "wb").close()
    opts = class_archive.JAVA_OPTIONS
    b = apply_engine_confs(SparkSession.Builder().config(opts, "-Dcaller=1"))
    assert b._options[opts] == f"-Dcaller=1 -XX:SharedArchiveFile={stem}.jsa {class_archive.QUIET}"
    assert os.environ["SPARK_CONF_DIR"] == class_archive._conf_dir()

    real = tmp_path / "user-conf"
    real.mkdir()
    (real / "spark-defaults.conf").write_text("spark.sql.shuffle.partitions 3\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(real))
    b = apply_engine_confs(SparkSession.Builder())
    assert opts not in b._options
    assert os.environ["SPARK_CONF_DIR"] == str(real)
    assert not class_archive._pending  # and no build at exit


RACE = """
import sys, time, shutil
from data_validator_spark import class_archive
stem, src, java_home, class_path, log, mode = sys.argv[1:]

def dump(part):
    with open(log, "a") as f:
        f.write(part + "\\n")
    if mode == "hang":  # half a part, then killed
        with open(src, "rb") as s, open(part, "wb") as p:
            p.write(s.read(1 << 20))
        time.sleep(120)
    time.sleep(2)
    shutil.copy(src, part)
    return java_home, class_path

class_archive._dump = dump
class_archive._build_at_exit(stem)
"""


def _racer(stem, built, log, mode):
    return subprocess.Popen(
        [sys.executable, "-c", RACE, stem, built.part, built.java_home, built.class_path, str(log), mode],
        cwd=REPO,
    )


def _lines(path) -> list[str]:
    return path.read_text().splitlines() if path.exists() else []


def test_concurrent_exits_build_one_archive(built, tmp_path):
    """Two processes that exit at once build at most one archive; a
    process killed mid-build leaves no file at the archive's name, and
    the next build deletes its part."""
    stem, log = str(tmp_path / "k"), tmp_path / "dumps.log"
    hung = _racer(stem, built, log, "hang")
    deadline = time.time() + 60
    while not glob.glob(stem + ".*.part") and time.time() < deadline:
        time.sleep(0.1)
    hung.send_signal(signal.SIGKILL)
    hung.wait()
    assert glob.glob(stem + ".*.part") and not os.path.exists(stem + ".jsa")

    racers = [_racer(stem, built, log, "ok") for _ in range(2)]
    assert [p.wait(timeout=120) for p in racers] == [0, 0]
    assert len(_lines(log)) == 2  # the killed build and one of the two
    assert os.path.exists(stem + ".jsa") and not os.path.exists(stem + ".failed")
    assert not glob.glob(stem + ".*.part")


def test_bench_records_the_archive_the_jvm_started_with(tmp_path, monkeypatch):
    """bench.py's run_conditions name the archive in the live driver's
    java options with its size, and null when there is none."""
    from pyspark import SparkContext

    from bench import _run_conditions

    archive = tmp_path / "a.jsa"
    archive.write_bytes(b"x" * 10)
    opts = {class_archive.JAVA_OPTIONS: f"-Dcaller=1 -XX:SharedArchiveFile={archive} {class_archive.QUIET}"}
    live = SimpleNamespace(getConf=lambda: SimpleNamespace(get=lambda k, d=None: opts.get(k, d)))
    monkeypatch.setattr(SparkContext, "_active_spark_context", live)
    assert _run_conditions("4", 0.1)["class_archive"] == {"path": str(archive), "bytes": 10}
    opts.clear()
    assert _run_conditions("4", 0.1)["class_archive"] is None
