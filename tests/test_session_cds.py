"""The driver JVM's class-data-sharing archive (``session.get_spark``).

The option builder is tested without a JVM. The crash-safety tests each
need a JVM launched with the archive options, so they run a fresh driver
in a subprocess against a private cache dir.
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import subprocess
import sys

import pytest

from etl_framework_spark import session

ROOT = pathlib.Path(__file__).resolve().parents[1]


def _dead_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


@pytest.fixture
def install(tmp_path):
    """A fake SPARK_HOME (template-only conf dir, two jars) and JDK, as an
    environment for ``cds_launch``."""
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    (home / "jars").mkdir()
    (home / "jars" / "a.jar").write_bytes(b"a" * 10)
    (home / "jars" / "b.jar").write_bytes(b"b" * 20)
    return {"SPARK_HOME": str(home), "JAVA_HOME": str(tmp_path / "jdk")}


def test_real_conf_file_gives_no_options(install, tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.driver.cores 2\n")
    env = dict(install, SPARK_CONF_DIR=str(conf))
    launch = session.cds_launch(str(tmp_path / "cache"), "24g", env)
    # no options, and an empty env: the launch keeps the user's SPARK_CONF_DIR
    assert (launch.java_opts, launch.env, launch.off) == ("", {}, "off:conf-dir")
    assert not (tmp_path / "cache").exists()
    # SPARK_HOME/conf holding a real file is the same case
    (pathlib.Path(install["SPARK_HOME"]) / "conf" / "spark-env.sh").write_text("\n")
    assert session.cds_launch(str(tmp_path / "cache"), "24g", install).off == "off:conf-dir"


def test_unwritable_cache_gives_no_options(install, tmp_path):
    blocker = tmp_path / "file"
    blocker.write_text("")  # a cache dir below a regular file cannot be made
    launch = session.cds_launch(str(blocker / ".cache"), "24g", install)
    assert (launch.java_opts, launch.env, launch.off) == ("", {}, "off:cache-unwritable")


def test_install_without_jars_dir_gives_no_options(install, tmp_path):
    shutil.rmtree(pathlib.Path(install["SPARK_HOME"]) / "jars")
    launch = session.cds_launch(str(tmp_path / "cache"), "24g", install)
    assert (launch.java_opts, launch.env, launch.off) == ("", {}, "off:no-jars")


def test_fingerprint_tracks_jars_jdk_and_compressed_oops(install, tmp_path):
    home, java = install["SPARK_HOME"], os.path.join(install["JAVA_HOME"], "bin", "java")
    base = session.fingerprint(home, java, "24g")
    assert session.fingerprint(home, java, "1g") == base
    assert session.fingerprint(home, java, "31g") == base
    assert session.fingerprint(home, java, "32g") != base
    assert session.fingerprint(home, java, "32768m") != base
    assert session.fingerprint(home, str(tmp_path / "jdk2" / "bin" / "java"), "24g") != base
    link = tmp_path / "jdk-link"
    link.symlink_to(install["JAVA_HOME"])
    assert session.fingerprint(home, str(link / "bin" / "java"), "24g") == base
    jars = pathlib.Path(home) / "jars"
    (jars / "c.jar").write_bytes(b"c")
    added = session.fingerprint(home, java, "24g")
    assert added != base
    (jars / "c.jar").write_bytes(b"cc")
    assert session.fingerprint(home, java, "24g") != added


def test_records_once_then_uses_the_archive(install, tmp_path):
    cache = tmp_path / "cache"
    rec = session.cds_launch(str(cache), "24g", install)
    empty = str(cache / "conf-empty")
    assert rec.off == "" and rec.env == {"SPARK_CONF_DIR": empty}
    assert rec.part == f"{rec.archive}.{os.getpid()}.part"
    assert rec.java_opts.startswith(f"-XX:ArchiveClassesAtExit={rec.part} ")
    assert pathlib.Path(rec.lock).read_text() == str(os.getpid())
    # a second launch while this live process records gets nothing
    assert session.cds_launch(str(cache), "24g", install).off == "off:recording-elsewhere"
    os.unlink(rec.lock)
    pathlib.Path(rec.archive).write_bytes(b"archive")
    use = session.cds_launch(str(cache), "24g", install)
    assert use.java_opts == f"-XX:SharedArchiveFile={rec.archive}"
    assert (use.env, use.part, use.lock) == ({"SPARK_CONF_DIR": empty}, "", "")
    assert not os.path.exists(rec.lock)


def test_dead_recorder_leaves_nothing_behind(install, tmp_path):
    cache = tmp_path / "cache"
    first = session.cds_launch(str(cache), "24g", install)
    dead = _dead_pid()
    pathlib.Path(first.lock).write_text(str(dead))
    stale = pathlib.Path(f"{first.archive}.{dead}.part")
    stale.write_bytes(b"\0" * 100)
    again = session.cds_launch(str(cache), "24g", install)
    assert again.part == first.part  # the dead holder's lock was broken
    assert pathlib.Path(again.lock).read_text() == str(os.getpid())
    assert not stale.exists()
    assert not os.path.exists(again.archive)


class _Exited:
    def __init__(self, rc: int):
        self.returncode = rc

    def poll(self) -> int:
        return self.returncode


@pytest.mark.parametrize("rc", [1, 0], ids=["jvm-failed", "part-does-not-map"])
def test_unclean_recording_is_not_published(tmp_path, rc):
    archive = tmp_path / "spark-x.jsa"
    part, lock = tmp_path / "spark-x.jsa.1.part", tmp_path / "spark-x.jsa.lock"
    part.write_bytes(os.urandom(1 << 16))
    lock.write_text("1")
    launch = session.CdsLaunch(archive=str(archive), part=str(part), lock=str(lock))
    java = session._java(os.environ) or "java"
    recording = session._Recording(launch, "1g", _Exited(rc), java, "")
    with pytest.warns(RuntimeWarning, match="not published"):
        recording.publish()
    assert list(tmp_path.iterdir()) == []


def test_environ_restores_set_and_unset():
    os.environ.pop("CDS_TEST_UNSET", None)
    os.environ["CDS_TEST_SET"] = "before"
    try:
        with session._environ({"CDS_TEST_UNSET": "x", "CDS_TEST_SET": "y"}):
            assert os.environ["CDS_TEST_UNSET"] == "x"
            assert os.environ["CDS_TEST_SET"] == "y"
        assert "CDS_TEST_UNSET" not in os.environ
        assert os.environ["CDS_TEST_SET"] == "before"
    finally:
        os.environ.pop("CDS_TEST_SET", None)


def test_heap_bytes():
    assert session._heap_bytes("24g") == 24 << 30
    assert session._heap_bytes("512m") == 512 << 20
    assert session._heap_bytes("2048") == 2048 << 20
    assert session._heap_bytes("1T") == 1 << 40
    assert session._heap_bytes("64kb") == 64 << 10


@pytest.mark.parametrize(
    ("pages", "mem"),
    [(4 << 20, "9830m"), (16 << 20, "24576m"), (1 << 18, "614m")],
)
def test_driver_mem_is_a_share_of_physical_ram(monkeypatch, pages, mem):
    # 4 KiB pages: 16 GiB, 64 GiB and 1 GiB of RAM
    sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": pages}
    monkeypatch.setattr(session.os, "sysconf", sizes.__getitem__)
    assert session.default_driver_mem() == mem
    assert session._heap_bytes(mem) < session._NOCOOPS_HEAP


# A fresh driver against a private cache: one query, its rows, the archive
# state and every warning get_spark raised, as one JSON line.
_DRIVER = """
import json, sys, warnings
sys.path.insert(0, sys.argv[2])
from etl_framework_spark import session
session.CACHE_DIR = sys.argv[1]
with warnings.catch_warnings(record=True) as caught:
    warnings.simplefilter("always")
    spark = session.get_spark("cds-test")
rows = [r[0] for r in spark.range(5).selectExpr("sum(id) * 2").collect()]
print(json.dumps({"rows": rows, "state": session.cds_state(spark),
                  "warnings": [str(w.message) for w in caught]}))
"""


def _drive(cache: pathlib.Path) -> dict:
    env = dict(os.environ, SPARK_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="2")
    out = subprocess.run(
        [sys.executable, "-c", _DRIVER, str(cache), str(ROOT)],
        capture_output=True, text=True, timeout=300, env=env,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _archive(cache: pathlib.Path) -> pathlib.Path:
    """The archive path a driver with 1g will use; the lock this takes is
    dropped again."""
    launch = session.cds_launch(str(cache), "1g")
    if launch.off:
        pytest.skip(f"this install runs without an archive: {launch.off}")
    os.unlink(launch.lock)
    return pathlib.Path(launch.archive)


def test_truncated_part_of_dead_writer_is_never_published(tmp_path):
    cache = tmp_path / "cache"
    archive = _archive(cache)
    stale = pathlib.Path(f"{archive}.{_dead_pid()}.part")
    truncated = b"\xa8\xba\x0b\xf0" + b"\0" * 4092  # a dynamic-archive magic, then nothing
    stale.write_bytes(truncated)

    first = _drive(cache)
    assert first["rows"] == [20] and first["state"] == "recording"
    assert not stale.exists()
    published = archive.read_bytes()
    assert published != truncated and len(published) > 1 << 20
    assert sorted(p.name for p in cache.iterdir()) == ["conf-empty", archive.name]

    second = _drive(cache)
    assert second == {"rows": [20], "state": "mapped", "warnings": []}


def test_garbage_archive_falls_back_loudly(tmp_path):
    cache = tmp_path / "cache"
    archive = _archive(cache)
    archive.write_bytes(os.urandom(1 << 16))

    out = _drive(cache)
    assert out["rows"] == [20]
    assert out["state"].startswith("off:")
    assert len(out["warnings"]) == 1 and str(archive) in out["warnings"][0]
