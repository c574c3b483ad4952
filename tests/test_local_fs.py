"""The ``file:`` file system sessions use (jvm/NioLocalFileSystem.java): Hadoop's
checksummed LocalFileSystem, with permissions set through java.nio instead of
one forked ``chmod`` per file, ``.crc`` file and directory. These tests pin
that it is in use, that it sets exactly the requested bits, that modes above
0777 keep chmod's semantics, that a lakehouse write leaves Hadoop's default
modes, and that a bronze write forks no ``chmod`` at all. The jar that
carries the shim also carries an empty ``yarn-default.xml`` (see
test_session_conf.py) and is keyed by every file it is built from."""

from __future__ import annotations

import logging
import os
import shutil
import stat
import subprocess
import sys
import zipfile

from youtube_data_lakehouse_and_analysis_spark import session
from youtube_data_lakehouse_and_analysis_spark.plans.silver import migrate
from youtube_data_lakehouse_and_analysis_spark.sources.bronze import write_bronze

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIX = os.path.join(REPO, "tests", "fixtures", "youtube")


def _local_fs(spark):
    jvm = spark._jvm
    uri = jvm.java.net.URI("file:///")
    return jvm.org.apache.hadoop.fs.FileSystem.get(uri, spark._jsc.hadoopConfiguration())


def _set_mode(spark, path: str, octal: str) -> int:
    jvm = spark._jvm
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission(octal)
    _local_fs(spark).setPermission(jvm.org.apache.hadoop.fs.Path("file://" + path), perm)
    return stat.S_IMODE(os.stat(path).st_mode)


def test_session_local_fs_is_the_shim(spark):
    assert _local_fs(spark).getClass().getName() == session.NIO_FS_CLASS


def test_set_permission_sets_exact_bits(spark, tmp_path):
    f = tmp_path / "f"
    f.write_text("x")
    d = tmp_path / "d"
    d.mkdir()
    assert _set_mode(spark, str(f), "640") == 0o640
    assert _set_mode(spark, str(f), "755") == 0o755
    assert _set_mode(spark, str(d), "640") == 0o640
    assert _set_mode(spark, str(d), "755") == 0o755


def test_sticky_mode_falls_back_and_keeps_the_bit(spark, tmp_path):
    d = tmp_path / "shared"
    d.mkdir()
    assert _set_mode(spark, str(d), "1777") == 0o1777


def test_lakehouse_write_leaves_default_modes(spark, api, tmp_path):
    fsp = spark._jvm.org.apache.hadoop.fs.permission.FsPermission
    umask = fsp.getUMask(spark._jsc.hadoopConfiguration())
    want_file = fsp.getFileDefault().applyUMask(umask).toShort()
    want_dir = fsp.getDirDefault().applyUMask(umask).toShort()
    bronze_dir, silver_dir = str(tmp_path / "bronze"), str(tmp_path / "silver")
    write_bronze(api, bronze_dir)
    migrate(spark, bronze_dir, silver_dir)
    seen = {"f": 0, "d": 0}
    for top in (bronze_dir, silver_dir):
        for root, dirs, files in os.walk(top):
            assert stat.S_IMODE(os.stat(root).st_mode) == want_dir, root
            seen["d"] += 1
            for name in files:
                path = os.path.join(root, name)
                assert stat.S_IMODE(os.stat(path).st_mode) == want_file, path
                seen["f"] += 1
    assert seen["d"] > 8 and seen["f"] > 16  # partition dirs, parquet and .crc files


_CHILD = """
import sys
sys.path.insert(0, {repo!r})
from youtube_data_lakehouse_and_analysis_spark.session import get_spark
from youtube_data_lakehouse_and_analysis_spark.sources import youtube_api as yt
from youtube_data_lakehouse_and_analysis_spark.sources.bronze import write_bronze
spark = get_spark("chmod-probe", cpus=2)
fix = {fix!r}
write_bronze({{
    "channel": yt.read_channels(spark, fix + "/channels"),
    "playlist": yt.read_playlists(spark, fix + "/playlists"),
    "video": yt.read_videos(spark, fix + "/videos"),
    "comment": yt.read_comments(spark, fix + "/comments"),
}}, {out!r})
print("AFTER_WRITE", open({log!r}).read().count(chr(10)), flush=True)
# control: a sticky mode takes the chmod fallback, so the logger must see it
jvm = spark._jvm
fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"),
                                             spark._jsc.hadoopConfiguration())
fs.setPermission(jvm.org.apache.hadoop.fs.Path("file://" + {out!r}),
                 jvm.org.apache.hadoop.fs.permission.FsPermission("1777"))
spark.stop()
"""


def test_bronze_write_forks_no_chmod(tmp_path):
    bin_dir, log = tmp_path / "bin", tmp_path / "chmod.log"
    bin_dir.mkdir()
    log.write_text("")
    logger = bin_dir / "chmod"
    logger.write_text(f'#!/bin/sh\necho "$@" >> {log}\nexec /bin/chmod "$@"\n')
    logger.chmod(0o755)
    env = dict(os.environ, PATH=f"{bin_dir}{os.pathsep}{os.environ['PATH']}",
               SPARK_DRIVER_MEMORY="1g")
    code = _CHILD.format(repo=REPO, fix=FIX, out=str(tmp_path / "bronze"), log=str(log))
    done = subprocess.run([sys.executable, "-c", code], env=env, capture_output=True,
                          text=True, timeout=600)
    assert done.returncode == 0, done.stderr[-3000:]
    assert "AFTER_WRITE 0" in done.stdout, log.read_text()[:2000]
    assert log.read_text().split() == ["1777", str(tmp_path / "bronze")]


def test_missing_javac_keeps_stock_fs(monkeypatch, tmp_path, caplog):
    monkeypatch.setattr(session, "nio_fs_jar_path", lambda: str(tmp_path / "jvm" / "x.jar"))
    monkeypatch.setenv("PATH", str(tmp_path))
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert session._build_nio_fs_jar() is None
    assert len(caplog.records) == 1


def test_reused_jvm_without_the_jar_gets_no_shim_conf(spark, monkeypatch, tmp_path):
    assert session._local_fs_conf()["spark.hadoop.fs.file.impl"] == session.NIO_FS_CLASS
    monkeypatch.setattr(session, "nio_fs_jar_path", lambda: str(tmp_path / "other.jar"))
    assert session._local_fs_conf() == {}


def test_jar_key_covers_every_resource(monkeypatch, tmp_path):
    jvm_dir = tmp_path / "jvm"
    shutil.copytree(session._JVM_DIR, jvm_dir)
    monkeypatch.setattr(session, "_JVM_DIR", str(jvm_dir))
    key = os.path.basename(session.nio_fs_jar_path())
    assert key == os.path.basename(session.nio_fs_jar_path())
    resource = jvm_dir / "yarn-default.xml"
    resource.write_bytes(resource.read_bytes() + b"\n")
    assert os.path.basename(session.nio_fs_jar_path()) != key


def test_built_jar_carries_an_empty_yarn_default(monkeypatch, tmp_path):
    monkeypatch.setattr(session, "nio_fs_jar_path", lambda: str(tmp_path / "jvm" / "x.jar"))
    jar = session._build_nio_fs_jar()
    with zipfile.ZipFile(jar) as z:
        names = set(z.namelist())
        shipped = z.read("yarn-default.xml")
    assert session.NIO_FS_CLASS.replace(".", "/") + ".class" in names
    with open(os.path.join(session._JVM_DIR, "yarn-default.xml"), "rb") as f:
        assert shipped == f.read()
    assert b"<property>" not in shipped
