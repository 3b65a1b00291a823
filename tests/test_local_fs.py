"""The fork-free ``file:`` filesystem (google_cloud_ecommerce_spark/jvm).

Parity with Hadoop's stock local filesystem on permissions and link
status, checksums still written and verified on both the FileSystem and
the FileContext paths, no ``chmod``/``readlink`` process for a streaming
call, the committed jar rebuilt from source, and Python workers that
import the package from a foreign cwd.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap
import zipfile

import pytest
from py4j.protocol import Py4JJavaError

from google_cloud_ecommerce_spark import jvm
from google_cloud_ecommerce_spark import session as gsession

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _raw_pair(spark):
    """(plug-in, stock) RawLocalFileSystem, both initialized on file:///."""
    j = spark._jvm
    uri = j.java.net.URI("file:///")
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    fss = (j.sparkgraft.fs.NioRawLocalFileSystem(), j.org.apache.hadoop.fs.RawLocalFileSystem())
    for fs in fss:
        fs.initialize(uri, conf)
    return fss


def _jpath(spark, p):
    return spark._jvm.org.apache.hadoop.fs.Path("file://" + str(p))


def _set_mode(spark, fs, path, mode: int) -> int:
    perm = spark._jvm.org.apache.hadoop.fs.permission.FsPermission(oct(mode)[2:])
    assert perm.toShort() == mode
    fs.setPermission(_jpath(spark, path), perm)
    return os.stat(path).st_mode & 0o7777


def test_session_registers_the_plugin(spark):
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    assert conf.get("fs.file.impl") == jvm.FS_IMPL
    assert conf.get("fs.AbstractFileSystem.file.impl") == jvm.ABSTRACT_FS_IMPL
    fs = _jpath(spark, REPO).getFileSystem(conf)
    assert fs.getClass().getName() == jvm.FS_IMPL
    fc = spark._jvm.org.apache.hadoop.fs.FileContext.getFileContext(conf)
    assert fc.getDefaultFileSystem().getClass().getName() == jvm.ABSTRACT_FS_IMPL


@pytest.mark.parametrize("mode", [0o644, 0o755, 0o700])
def test_set_permission_matches_stock(spark, tmp_path, mode):
    nio, stock = _raw_pair(spark)
    for kind in ("file", "dir"):
        a, b = tmp_path / f"{kind}_nio", tmp_path / f"{kind}_stock"
        for p in (a, b):
            p.mkdir() if kind == "dir" else p.write_bytes(b"x")
        assert _set_mode(spark, nio, a, mode) == _set_mode(spark, stock, b, mode) == mode


def test_sticky_mode_falls_back_to_stock(spark, tmp_path):
    # java.nio cannot set the sticky bit: it survives only because the
    # plug-in hands modes above 0777 to the stock chmod path.
    nio, stock = _raw_pair(spark)
    a, b = tmp_path / "nio", tmp_path / "stock"
    a.mkdir()
    b.mkdir()
    assert _set_mode(spark, nio, a, 0o1755) == _set_mode(spark, stock, b, 0o1755) == 0o1755


def _link_status(spark, fs, path: str):
    try:
        st = fs.getFileLinkStatus(spark._jvm.org.apache.hadoop.fs.Path(path))
    except Py4JJavaError as e:
        return e.java_exception.getClass().getName()
    return (
        st.getPath().toString(),
        st.isFile(),
        st.isDirectory(),
        st.isSymlink(),
        st.getSymlink().toString() if st.isSymlink() else None,
        st.getLen(),
        st.getModificationTime(),
        st.getPermission().toShort(),
    )


def test_file_link_status_matches_stock(spark, tmp_path):
    nio, stock = _raw_pair(spark)
    (tmp_path / "f").write_bytes(b"abc")
    (tmp_path / "d").mkdir()
    os.symlink(tmp_path / "f", tmp_path / "link")
    # Both path forms: the stock code hands Path.toString() to readlink,
    # so it only sees a link through a scheme-less path.
    got = {
        (name, path): (_link_status(spark, nio, path), _link_status(spark, stock, path))
        for name in ("f", "d", "link", "missing")
        for path in (str(tmp_path / name), f"file://{tmp_path / name}")
    }
    for case, (a, b) in got.items():
        assert a == b, case
    assert got[("link", str(tmp_path / "link"))][0][3] is True
    assert got[("missing", str(tmp_path / "missing"))][0] == "java.io.FileNotFoundException"


def test_checksums_written_and_verified(spark, tmp_path):
    """FileSystem writes the .crc sidecar and a corrupted byte fails the
    read; a FileContext rename (the checkpoint commit path) carries the
    sidecar along."""
    j = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    src, dst = tmp_path / "src", tmp_path / "dst"
    fs = _jpath(spark, src).getFileSystem(conf)
    out = fs.create(_jpath(spark, src))
    out.write(bytearray(b"0123456789" * 100))
    out.close()
    assert (tmp_path / ".src.crc").exists()

    fc = j.org.apache.hadoop.fs.FileContext.getFileContext(conf)
    opts = spark.sparkContext._gateway.new_array(j.org.apache.hadoop.fs.Options.Rename, 1)
    opts[0] = j.org.apache.hadoop.fs.Options.Rename.OVERWRITE
    fc.rename(_jpath(spark, src), _jpath(spark, dst), opts)
    assert not src.exists() and not (tmp_path / ".src.crc").exists()
    assert (tmp_path / ".dst.crc").exists()

    data = bytearray(dst.read_bytes())
    data[500] ^= 0xFF
    dst.write_bytes(bytes(data))
    inp = fs.open(_jpath(spark, dst))
    with pytest.raises(Py4JJavaError) as err:
        inp.read(spark.sparkContext._gateway.new_array(j.byte, 1000), 0, 1000)
    inp.close()
    assert "ChecksumException" in str(err.value.java_exception.getClass().getName())


def test_extra_classpath_is_appended(spark):
    conf = gsession._local_fs_conf(
        {"spark.driver.extraClassPath": "/extra/x.jar", "a": "b"}, "local[2]"
    )
    assert conf["spark.driver.extraClassPath"] == os.pathsep.join(["/extra/x.jar", jvm.JAR])
    assert conf["spark.hadoop.fs.file.impl"] == jvm.FS_IMPL
    assert conf["a"] == "b"


def test_running_jvm_without_jar_keeps_stock_fs(spark, monkeypatch):
    monkeypatch.setattr(jvm, "FS_IMPL", "sparkgraft.fs.NotOnTheClasspath")
    assert gsession._local_fs_conf({"a": "b"}, "local[2]") == {"a": "b"}


def test_plugin_wired_only_into_a_local_jvm_launched_here(monkeypatch):
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    assert gsession._local_fs_conf({}, "local[2]")["spark.hadoop.fs.file.impl"] == jvm.FS_IMPL
    # cluster executors have no jar on their classpath
    assert gsession._local_fs_conf({}, "spark://host:7077") == {}
    # spark-submit already launched the JVM without it
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "12345")
    assert gsession._local_fs_conf({}, "local[2]") == {}


def test_jar_matches_source(tmp_path):
    if shutil.which("javac") is None:
        pytest.skip("javac not installed")
    from google_cloud_ecommerce_spark.jvm.build import compile_classes

    built = compile_classes(str(tmp_path))
    with zipfile.ZipFile(jvm.JAR) as zf:
        committed = {n: zf.read(n) for n in zf.namelist() if n.endswith(".class")}
    assert built == committed


_CHILD = textwrap.dedent(
    """
    import json, os, pathlib, sys
    sys.path.insert(0, sys.argv[1])
    from google_cloud_ecommerce_spark.queries import all_queries
    from google_cloud_ecommerce_spark.session import get_spark

    spark = get_spark(app_name="local_fs_child")
    log = pathlib.Path(os.environ["SHIM_LOG"])
    out = {}
    for name in ("media_wav_decode", "streaming_daily_events"):
        log.write_text("")
        try:
            rows = all_queries()[name](spark, sys.argv[2]).count()
        except Exception as e:
            rows = type(e).__name__ + ": " + str(e)[-400:]
        out[name] = {"rows": rows, "spawned": log.read_text().split()}
    print("@@" + json.dumps(out))
    """
)


@pytest.fixture(scope="module")
def foreign_cwd_run(tmp_path_factory, sf_smoke):
    """One child process started from a foreign cwd, without PYTHONPATH,
    with logging ``chmod``/``readlink`` shims first on PATH."""
    root = tmp_path_factory.mktemp("foreign_cwd")
    shims, cwd = root / "shims", root / "cwd"
    shims.mkdir()
    cwd.mkdir()
    log = root / "spawned.log"
    for tool in ("chmod", "readlink"):
        real = shutil.which(tool)
        shim = shims / tool
        shim.write_text(f'#!/bin/sh\necho {tool} >> "{log}"\nexec {real} "$@"\n')
        shim.chmod(0o755)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        PATH=f"{shims}{os.pathsep}{env['PATH']}",
        SHIM_LOG=str(log),
        TMPDIR=str(root),
        SPARK_GRAFT_TABLE_CACHE=str(root / "table_cache"),
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, REPO, sf_smoke],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("@@")]
    assert lines, proc.stderr[-3000:]
    return json.loads(lines[-1][2:])


def test_streaming_call_spawns_no_process(foreign_cwd_run):
    res = foreign_cwd_run["streaming_daily_events"]
    assert isinstance(res["rows"], int) and res["rows"] > 0, res["rows"]
    assert res["spawned"] == []


def test_python_workers_import_package_from_foreign_cwd(foreign_cwd_run):
    res = foreign_cwd_run["media_wav_decode"]
    assert isinstance(res["rows"], int) and res["rows"] > 0, res["rows"]
