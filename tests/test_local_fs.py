"""The nio local filesystem that get_spark installs for `file:` paths
(uber_data_pipeline_spark/jvm/NioLocalFileSystem.java): writes and
checkpointed streams start no `chmod` or `readlink` process, written
files keep Hadoop's default modes, link status matches Hadoop's own
RawLocalFileSystem, and a machine without `javac` keeps Hadoop's
default filesystem."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap

import pytest

from uber_data_pipeline_spark.session import LOCAL_FS_CLASS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_javac = pytest.mark.skipif(shutil.which("javac") is None, reason="no javac on PATH")


def _run(script: str, env: dict, tmp_path) -> subprocess.CompletedProcess:
    """Run ``script`` in a fresh Python (so a fresh JVM) from the repo
    root, with ``env`` over this process's environment."""
    return subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
        env={**os.environ, "SPARK_LOCAL_DIRS": str(tmp_path / "local"), **env},
    )


@needs_javac
def test_write_and_file_stream_spawn_no_chmod_or_readlink(tmp_path):
    """A partitioned parquet write and an availableNow file stream with
    a checkpoint, through get_spark, start 0 `chmod` and 0 `readlink`
    processes (Hadoop's default: one `chmod` per created file and
    directory, `readlink`s for each checkpoint-log rename). Counted by
    logging wrappers first on PATH."""
    wrappers = tmp_path / "bin"
    wrappers.mkdir()
    log = tmp_path / "spawns.log"
    for cmd in ("chmod", "readlink"):
        real = shutil.which(cmd)
        assert real is not None
        (wrappers / cmd).write_text(f'#!/bin/sh\necho {cmd} >> "{log}"\nexec {real} "$@"\n')
        os.chmod(wrappers / cmd, 0o755)
    out = tmp_path / "out"
    proc = _run(
        f"""
        from uber_data_pipeline_spark.session import get_spark
        spark = get_spark(master="local[2]", shuffle_partitions=2)
        open({str(log)!r}, "w").close()  # count from here: the session's own startup is not a write
        spark.range(60).selectExpr("id", "id % 3 AS p").write.partitionBy("p").parquet({str(out / "lake")!r})
        (spark.readStream.schema("id long, p int").parquet({str(out / "lake")!r})
            .writeStream.format("parquet")
            .option("checkpointLocation", {str(out / "checkpoint")!r})
            .trigger(availableNow=True)
            .start({str(out / "sink")!r})
            .awaitTermination())
        print("ROWS", spark.read.parquet({str(out / "sink")!r}).count())
        spark.stop()
        """,
        {"PATH": f"{wrappers}{os.pathsep}{os.environ['PATH']}"},
        tmp_path,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ROWS 60" in proc.stdout
    assert os.listdir(out / "checkpoint" / "commits")
    spawns = log.read_text().split()
    assert spawns.count("chmod") == 0 and spawns.count("readlink") == 0, spawns


def _hadoop(spark):
    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    return jvm, conf, fs


@needs_javac
def test_written_modes_match_hadoop_default(spark, tmp_path):
    """Files a write creates (parquet parts, `.crc` sidecars, the
    `_SUCCESS` marker) get 0o666 and directories 0o777, less Hadoop's
    umask, as Hadoop's `chmod` gives them; a permission with the sticky
    bit still sets it."""
    jvm, conf, fs = _hadoop(spark)
    assert fs.getRawFileSystem().getClass().getName() == LOCAL_FS_CLASS + "$Raw"
    umask = jvm.org.apache.hadoop.fs.permission.FsPermission.getUMask(conf).toShort()
    out = tmp_path / "lake"
    spark.range(30).selectExpr("id", "id % 3 AS p").write.partitionBy("p").parquet(str(out))
    modes = {}
    for root, dirs, files in os.walk(out):
        modes[root] = (os.stat(root).st_mode & 0o7777, 0o777 & ~umask)
        for f in files:
            path = os.path.join(root, f)
            modes[path] = (os.stat(path).st_mode & 0o7777, 0o666 & ~umask)
    assert len(modes) > 10 and any(p.endswith(".crc") for p in modes)
    assert {p: m for p, m in modes.items() if m[0] != m[1]} == {}

    Path, FsPermission = jvm.org.apache.hadoop.fs.Path, jvm.org.apache.hadoop.fs.permission.FsPermission
    for mode in (0o1777, 0o750):
        target = tmp_path / f"d{mode:o}"
        target.mkdir()
        fs.setPermission(Path(str(target)), FsPermission(f"{mode:o}"))
        assert os.stat(target).st_mode & 0o7777 == mode


def _link_status(jvm, fs, path: str):
    """(isSymlink, symlink target, is dir, is file, length, path) of
    ``fs.getFileLinkStatus(path)``, or the Java exception's class."""
    from py4j.protocol import Py4JJavaError

    try:
        st = fs.getFileLinkStatus(jvm.org.apache.hadoop.fs.Path(path))
    except Py4JJavaError as e:
        return e.java_exception.getClass().getName()
    target = st.getSymlink().toString() if st.isSymlink() else None
    return (st.isSymlink(), target, st.isDirectory(), st.isFile(), st.getLen(), st.getPath().toString())


@needs_javac
def test_link_status_matches_raw_local_fs(spark, tmp_path):
    """getFileLinkStatus on the installed filesystem equals a plain
    RawLocalFileSystem's, in the same JVM, on a file, a directory, a
    symlink, a dangling symlink and a missing path, each as a plain
    path and as the `file:` URI FileContext passes."""
    jvm, conf, fs = _hadoop(spark)
    assert fs.getRawFileSystem().getClass().getName() == LOCAL_FS_CLASS + "$Raw"
    ctx = jvm.org.apache.hadoop.fs.FileContext.getLocalFSFileContext(conf)
    assert ctx.getDefaultFileSystem().getClass().getName() == LOCAL_FS_CLASS + "$Fs"
    plain = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    plain.initialize(jvm.java.net.URI("file:///"), conf)

    (tmp_path / "file").write_text("twelve bytes")
    (tmp_path / "dir").mkdir()
    os.symlink(tmp_path / "file", tmp_path / "link")
    os.symlink(tmp_path / "nowhere", tmp_path / "dangling")
    names = ("file", "dir", "link", "dangling", "missing")
    for form in ("{}", "file:{}"):
        for name in names:
            path = form.format(tmp_path / name)
            assert _link_status(jvm, fs, path) == _link_status(jvm, plain, path), path
    assert _link_status(jvm, fs, str(tmp_path / "link"))[:2] == (True, f"file:{tmp_path / 'file'}")
    assert _link_status(jvm, fs, str(tmp_path / "missing")) == "java.io.FileNotFoundException"


def test_without_javac_get_spark_keeps_hadoop_default(tmp_path):
    """With no `javac` on PATH and an empty artifact root, get_spark
    logs one line, starts on Hadoop's default local filesystem, and a
    write succeeds."""
    farm = tmp_path / "bin"  # every PATH entry except javac
    farm.mkdir()
    for d in os.environ["PATH"].split(os.pathsep):
        if not os.path.isdir(d):
            continue
        for name in os.listdir(d):
            if name != "javac" and not (farm / name).exists():
                os.symlink(os.path.join(d, name), farm / name)
    artifacts = tmp_path / "artifacts"
    artifacts.mkdir()
    out = tmp_path / "out"
    proc = _run(
        f"""
        from uber_data_pipeline_spark.sources import staging
        staging.ARTIFACT_ROOT = {str(artifacts)!r}
        from uber_data_pipeline_spark.session import get_spark
        spark = get_spark(master="local[2]", shuffle_partitions=2)
        spark.range(10).write.parquet({str(out)!r})
        print("ROWS", spark.read.parquet({str(out)!r}).count())
        print("IMPL", spark.sparkContext._jsc.hadoopConfiguration().get("fs.file.impl"))
        spark.stop()
        """,
        {"PATH": str(farm)},
        tmp_path,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ROWS 10" in proc.stdout and "IMPL None" in proc.stdout
    logged = [ln for ln in proc.stderr.splitlines() if ln.startswith("local filesystem:")]
    assert len(logged) == 1, proc.stderr[-3000:]
    assert os.listdir(artifacts) == []
