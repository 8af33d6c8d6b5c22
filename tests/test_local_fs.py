"""The fork-free local filesystem (flow_spark/jvm/) and its selection rule.

The JVM tests run in the session fixture's JVM and compare every answer with
Hadoop's own ``RawLocalFileSystem`` / ``LocalFs`` or with ``os.stat``.  The
selection rule is a pure function, tested without a JVM.
"""

from __future__ import annotations

import logging
import os
import shutil
import stat
import tempfile

import pytest
from py4j.protocol import Py4JJavaError

from flow_spark import session
from flow_spark.session import DRIVER_CLASSPATH, LOCAL_FS_IMPLS, build_local_fs, local_fs_conf

needs_javac = pytest.mark.skipif(shutil.which("javac") is None, reason="no javac on PATH")

NIO_FS = LOCAL_FS_IMPLS["spark.hadoop.fs.file.impl"]
NIO_AFS = LOCAL_FS_IMPLS["spark.hadoop.fs.AbstractFileSystem.file.impl"]


# -- selection rule ------------------------------------------------------------


def test_local_master_with_classes_gets_classpath_and_impls():
    assert local_fs_conf("local[4]", "/c", {}) == {
        **LOCAL_FS_IMPLS,
        DRIVER_CLASSPATH: "/c",
    }


def test_callers_classpath_is_appended_to_and_its_impls_win():
    conf = {DRIVER_CLASSPATH: "/a.jar", "spark.hadoop.fs.file.impl": "x.Fs", "k": "v"}
    assert local_fs_conf("local", "/c", conf) == {
        "spark.hadoop.fs.file.impl": "x.Fs",
        "spark.hadoop.fs.AbstractFileSystem.file.impl": NIO_AFS,
        DRIVER_CLASSPATH: os.pathsep.join(["/a.jar", "/c"]),
        "k": "v",
    }


@pytest.mark.parametrize(
    "master,classes",
    [("spark://h:7077", "/c"), ("local-cluster[2,1,1024]", "/c"), (None, "/c"), ("local[2]", None)],
)
def test_remote_master_or_no_javac_gets_nothing(master, classes):
    conf = {DRIVER_CLASSPATH: "/a.jar"}
    assert local_fs_conf(master, classes, conf) == conf


def test_no_javac_warns_and_builds_nothing(caplog):
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert build_local_fs("/nowhere", None) is None
    assert "no javac" in caplog.text


def test_javac_failure_raises_with_its_stderr(tmp_path, monkeypatch):
    javac = tmp_path / "javac"
    javac.write_text("#!/bin/sh\necho 'error: boom in NioLocalFs.java' >&2\nexit 3\n")
    javac.chmod(0o755)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    with pytest.raises(RuntimeError, match="boom in NioLocalFs.java"):
        build_local_fs(str(tmp_path), str(javac))
    # nothing half-built is left to be reused
    assert [p.name for p in tmp_path.iterdir()] == ["javac"]


@needs_javac
def test_second_get_spark_reuses_the_build(spark, monkeypatch):
    def no_compile(*args, **kwargs):
        raise AssertionError(f"recompiled: {args}")

    monkeypatch.setattr(session.subprocess, "run", no_compile)
    again = session.get_spark("flow-spark-tests", shuffle_partitions=8)
    assert again.sparkContext is spark.sparkContext
    classpath = spark.sparkContext.getConf().get(DRIVER_CLASSPATH)
    assert os.path.isdir(classpath.split(os.pathsep)[-1])


# -- equivalence with Hadoop, in the session's JVM ------------------------------


def _hadoop(spark):
    return spark._jvm.org.apache.hadoop


def _conf(spark, stock: bool):
    """The session's Hadoop conf, or a copy naming Hadoop's own classes."""
    conf = spark._jsc.hadoopConfiguration()
    if not stock:
        return conf
    conf = _hadoop(spark).conf.Configuration(conf)
    conf.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    conf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    return conf


def _fs(spark, stock: bool):
    hadoop = _hadoop(spark)
    return hadoop.fs.FileSystem.newInstance(hadoop.fs.Path("file:///").toUri(), _conf(spark, stock))


def _fc(spark, stock: bool):
    hadoop = _hadoop(spark)
    return hadoop.fs.FileContext.getFileContext(hadoop.fs.Path("file:///").toUri(), _conf(spark, stock))


def _java_error(excinfo) -> str:
    return excinfo.value.java_exception.getClass().getName()


def _mode(path) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


@needs_javac
def test_session_resolves_file_scheme_to_the_new_classes(spark, tmp_path):
    hadoop = _hadoop(spark)
    fs = _fs(spark, stock=False)
    assert fs.getClass().getName() == NIO_FS
    fs.close()
    assert _fc(spark, stock=False).getDefaultFileSystem().getClass().getName() == NIO_AFS
    # Spark's checkpoint manager writes through a FileContext over NioLocalFs
    cfm = spark._jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    mgr = cfm.create(hadoop.fs.Path(tmp_path.as_uri()), _conf(spark, stock=False))
    assert mgr.getClass().getSimpleName() == "FileContextBasedCheckpointFileManager"
    fields = mgr.getClass().getSuperclass().getDeclaredFields()
    fcs = [f for f in fields if f.getType().getSimpleName() == "FileContext"]
    assert len(fcs) == 1
    fcs[0].setAccessible(True)
    assert fcs[0].get(mgr).getDefaultFileSystem().getClass().getName() == NIO_AFS


@needs_javac
@pytest.mark.parametrize("api", ["FileSystem", "FileContext"])
@pytest.mark.parametrize("kind", ["file", "dir"])
def test_explicit_permission_leaves_hadoops_mode_bits(spark, tmp_path, api, kind):
    hadoop = _hadoop(spark)
    # modes a plain create or mkdir under umask 022 would not leave
    perm = hadoop.fs.permission.FsPermission("771" if kind == "dir" else "662")
    umask = hadoop.fs.permission.FsPermission.getUMask(_conf(spark, stock=False)).toShort()
    modes = {}
    for stock in (True, False):
        target = tmp_path / f"{kind}-{stock}"
        p = hadoop.fs.Path(target.as_uri())
        if api == "FileSystem":
            fs = _fs(spark, stock)
            if kind == "dir":
                assert fs.mkdirs(p, perm)
            else:
                fs.create(p, perm, True, 4096, fs.getDefaultReplication(p), fs.getDefaultBlockSize(p), None).close()
            fs.close()
        else:
            fc = _fc(spark, stock)
            if kind == "dir":
                fc.mkdir(p, perm, False)
            else:
                gw = spark.sparkContext._gateway
                opts = gw.new_array(hadoop.fs.Options.CreateOpts, 1)
                opts[0] = hadoop.fs.Options.CreateOpts.perms(perm)
                flags = spark._jvm.java.util.EnumSet.of(hadoop.fs.CreateFlag.CREATE)
                fc.create(p, flags, opts).close()
        crc = tmp_path / f".{target.name}.crc"
        modes[stock] = (_mode(target), _mode(crc) if kind == "file" else None)
    expected = perm.toShort() & ~umask
    assert modes[False] == modes[True]
    assert modes[False][0] == expected
    if kind == "file":
        assert modes[False][1] == expected


def _link_status(fs, path):
    try:
        st = fs.getFileLinkStatus(path)
    except Py4JJavaError as e:
        return e.java_exception.getClass().getName()
    return (
        st.getPath().toString(),
        st.isSymlink() and st.getSymlink().toString(),
        st.isFile(),
        st.isDirectory(),
        st.getLen(),
        st.getModificationTime(),
        st.getPermission().toString(),
        st.getOwner(),
        st.getGroup(),
    )


@needs_javac
@pytest.mark.parametrize("case", ["regular", "symlink", "dangling"])
def test_file_link_status_matches_hadoop(spark, tmp_path, case):
    hadoop = _hadoop(spark)
    (tmp_path / "data").write_bytes(b"x" * 37)
    target = tmp_path / case
    if case != "regular":
        target.symlink_to(tmp_path / ("data" if case == "symlink" else "missing"))
    else:
        target.write_bytes(b"y" * 11)
    nio = spark._jvm.flow_spark.jvm.NioRawLocalFileSystem()
    raw = hadoop.fs.RawLocalFileSystem()
    conf = _conf(spark, stock=False)
    for fs in (nio, raw):
        fs.initialize(hadoop.fs.Path("file:///").toUri(), conf)
    # Hadoop sees links only through unqualified paths; both forms must agree
    for p in (hadoop.fs.Path(str(target)), hadoop.fs.Path(target.as_uri())):
        assert _link_status(nio, p) == _link_status(raw, p)
    assert nio.getFileLinkStatus(hadoop.fs.Path(str(target))).isSymlink() == (case != "regular")


@needs_javac
def test_missing_path_raises_file_not_found(spark, tmp_path):
    hadoop = _hadoop(spark)
    missing = hadoop.fs.Path(str(tmp_path / "missing"))
    nio = spark._jvm.flow_spark.jvm.NioRawLocalFileSystem()
    raw = hadoop.fs.RawLocalFileSystem()
    for fs in (nio, raw):
        fs.initialize(hadoop.fs.Path("file:///").toUri(), _conf(spark, stock=False))
        for call in (fs.getFileLinkStatus, fs.getFileStatus):
            with pytest.raises(Py4JJavaError) as e:
                call(missing)
            assert _java_error(e) == "java.io.FileNotFoundException"
    with pytest.raises(Py4JJavaError) as e:
        nio.setPermission(missing, hadoop.fs.permission.FsPermission("644"))
    assert _java_error(e) == "java.io.FileNotFoundException"


@needs_javac
def test_crc_sidecar_written_and_corruption_detected(spark, tmp_path):
    hadoop = _hadoop(spark)
    data = tmp_path / "part"
    p = hadoop.fs.Path(data.as_uri())
    fc = _fc(spark, stock=False)
    flags = spark._jvm.java.util.EnumSet.of(hadoop.fs.CreateFlag.CREATE)
    out = fc.create(p, flags, spark.sparkContext._gateway.new_array(hadoop.fs.Options.CreateOpts, 0))
    out.write(bytearray(b"checkpoint " * 20))
    out.close()
    assert (tmp_path / ".part.crc").stat().st_size > 0
    assert fc.open(p, 4096).read() == ord("c")
    raw = bytearray(data.read_bytes())
    raw[5] ^= 0xFF
    data.write_bytes(bytes(raw))
    # open(path, bufferSize) is the ChecksumFs path (Hadoop's one-argument
    # FileContext.open skips it, as it does over LocalFs); unlike
    # LocalFileSystem, ChecksumFs leaves the corrupt file where it is
    with pytest.raises(Py4JJavaError) as e:
        fc.open(p, 4096).read()
    assert _java_error(e) == "org.apache.hadoop.fs.ChecksumException"
