"""The java.nio local file system (``engine/niofs/``): ``get_spark`` installs
it, it behaves like stock Hadoop's ``RawLocalFileSystem``/``LocalFs``, and a
streaming trigger no longer forks ``chmod`` or ``readlink``."""

import os
import shutil
import subprocess
import sys
import textwrap

import pytest
from py4j.protocol import Py4JJavaError

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WRAPPED = ("chmod", "readlink", "ls", "stat")

# two triggers of a watermarked window aggregate (RocksDB state) into the
# ledger sink: state commits, offset/commit logs and parquet writes
TWO_TRIGGERS = textwrap.dedent("""
    import os, sys
    from engine.session import get_spark
    from engine.streams import run_window_pipeline, write_clips_iceberg

    work = sys.argv[1]
    clips = os.path.join(work, "clips")
    write_clips_iceberg(clips, n_clips=400, n_files=2, seed=7,
                        jitter_ms=30_000)
    spark = get_spark("niofs-spawns", cores=2)
    q, sink = run_window_pipeline(spark, clips, os.path.join(work, "out"),
                                  os.path.join(work, "ckpt"),
                                  max_files_per_trigger=1)
    assert len(sink.committed_batches()) >= 2, sink.committed_batches()
    spark.stop()
""")


def _hadoop(jvm):
    return jvm.org.apache.hadoop


def _conf(jvm, **kv):
    conf = _hadoop(jvm).conf.Configuration()
    for k, v in kv.items():
        conf.set(k, v)
    return conf


def _fs(jvm, cls, conf):
    fs = cls()
    fs.initialize(jvm.java.net.URI("file:///"), conf)
    return fs


def _java_error(exc):
    return exc.java_exception.getClass().getName()


def test_get_spark_installs_niofs(spark):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    assert conf.get("fs.file.impl") == "engine.niofs.NioLocalFileSystem"
    assert (conf.get("fs.AbstractFileSystem.file.impl")
            == "engine.niofs.NioLocalFs")
    local = _hadoop(jvm).fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    assert local.getClass().getName() == "engine.niofs.NioLocalFileSystem"
    assert local.getRaw().getClass().getName() == "engine.niofs.NioRawLocalFileSystem"
    fc = _hadoop(jvm).fs.FileContext.getLocalFSFileContext(conf)
    assert fc.getDefaultFileSystem().getClass().getName() == "engine.niofs.NioLocalFs"


def test_permissions_match_stock(spark, tmp_path):
    jvm = spark._jvm
    fs_pkg = _hadoop(jvm).fs
    conf = _conf(jvm, **{"fs.permissions.umask-mode": "027"})
    modes = {}
    for name, cls in (("stock", fs_pkg.RawLocalFileSystem),
                      ("nio", jvm.engine.niofs.NioRawLocalFileSystem)):
        fs = _fs(jvm, cls, conf)
        d = tmp_path / name
        fs.mkdirs(fs_pkg.Path(str(d / "a" / "b")))
        fs.create(fs_pkg.Path(str(d / "a" / "f"))).close()
        perm = fs_pkg.permission.FsPermission
        fs.mkdirs(fs_pkg.Path(str(d / "explicit")), perm("711"))
        fs.create(fs_pkg.Path(str(d / "g"))).close()
        fs.setPermission(fs_pkg.Path(str(d / "g")), perm("604"))
        with pytest.raises(Py4JJavaError):
            fs.setPermission(fs_pkg.Path(str(d / "missing")), perm("644"))
        modes[name] = {rel: oct(os.stat(d / rel).st_mode & 0o7777)
                       for rel in ("a", "a/b", "a/f", "explicit", "g")}
    assert modes["nio"] == modes["stock"]
    # the umask applies to defaults and to explicit modes alike
    assert modes["nio"] == {"a": "0o750", "a/b": "0o750", "a/f": "0o640",
                            "explicit": "0o710", "g": "0o604"}


def test_link_status_matches_stock(spark, tmp_path):
    jvm = spark._jvm
    fs_pkg = _hadoop(jvm).fs
    conf = _conf(jvm)

    def status(fs, d, rel):
        path = fs_pkg.Path(str(d / rel))
        try:
            st = fs.getFileLinkStatus(path)
        except Py4JJavaError as exc:
            return ("raised", _java_error(exc))
        link = str(st.getSymlink()).replace(str(d), "D") if st.isSymlink() else None
        target = (str(fs.getLinkTarget(path)).replace(str(d), "D")
                  if st.isSymlink() else None)
        return (st.isFile(), st.isDirectory(), st.isSymlink(), st.getLen(),
                str(st.getPath()).replace(str(d), "D"), link, target)

    seen = {}
    for name, cls in (("stock", fs_pkg.RawLocalFileSystem),
                      ("nio", jvm.engine.niofs.NioRawLocalFileSystem)):
        fs = _fs(jvm, cls, conf)
        d = tmp_path / name
        os.makedirs(d / "dir")
        (d / "file").write_bytes(b"12345")
        os.symlink("file", d / "link")
        os.symlink(str(d / "dir"), d / "dirlink")
        os.symlink("gone", d / "dangling")
        seen[name] = {rel: status(fs, d, rel) for rel in
                      ("file", "dir", "link", "dirlink", "dangling", "missing")}
    assert seen["nio"] == seen["stock"]
    got = seen["nio"]
    assert got["file"][:4] == (True, False, False, 5)
    assert got["dir"][:3] == (False, True, False)
    assert got["link"][2:4] == (True, 5) and got["link"][5] == "file:D/file"
    assert got["link"][6] == "file"
    assert got["dangling"][2] is True and got["dangling"][5] == "file:D/gone"
    assert got["missing"] == ("raised", "java.io.FileNotFoundException")


def test_checksums_match_stock(spark, tmp_path):
    """``.crc`` sidecars are written through the FileSystem API and verified
    on read through ``FileContext.open(path, bufferSize)`` (a FileSystem read
    of a corrupt file would move it to a ``bad_files`` dir at the top of the
    device). ``FileContext.open(path)``, the call Spark's checkpoint file
    manager makes, verifies them too; stock ``LocalFs`` skips them there."""
    jvm = spark._jvm
    fs_pkg = _hadoop(jvm).fs
    unverified = {}
    for name, cls, afs in (
            ("stock", fs_pkg.LocalFileSystem, "org.apache.hadoop.fs.local.LocalFs"),
            ("nio", jvm.engine.niofs.NioLocalFileSystem, "engine.niofs.NioLocalFs")):
        conf = _conf(jvm, **{"fs.AbstractFileSystem.file.impl": afs})
        path = fs_pkg.Path(str(tmp_path / name / "data.bin"))
        out = _fs(jvm, cls, conf).create(path)
        out.writeBytes("hello, checksummed world")
        out.close()
        assert (tmp_path / name / ".data.bin.crc").exists()
        data = tmp_path / name / "data.bin"
        raw = bytearray(data.read_bytes())
        raw[0] ^= 0xFF
        data.write_bytes(bytes(raw))
        fc = fs_pkg.FileContext.getLocalFSFileContext(conf)
        stream = fc.open(path, 4096)
        with pytest.raises(Py4JJavaError) as exc:
            stream.read()
        stream.close()
        assert _java_error(exc.value) == "org.apache.hadoop.fs.ChecksumException"
        stream = fc.open(path)
        try:
            stream.read()
            unverified[name] = True
        except Py4JJavaError as exc:
            assert _java_error(exc) == "org.apache.hadoop.fs.ChecksumException"
            unverified[name] = False
        finally:
            stream.close()
    assert unverified == {"stock": True, "nio": False}
    assert ((tmp_path / "nio" / ".data.bin.crc").read_bytes()
            == (tmp_path / "stock" / ".data.bin.crc").read_bytes())


def test_filecontext_rename_overwrite_matches_stock(spark, tmp_path):
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    fs_pkg = _hadoop(jvm).fs
    flags = jvm.java.util.EnumSet.of(fs_pkg.CreateFlag.CREATE,
                                     fs_pkg.CreateFlag.OVERWRITE)
    no_opts = gw.new_array(getattr(fs_pkg, "Options$CreateOpts"), 0)
    overwrite = gw.new_array(getattr(fs_pkg, "Options$Rename"), 1)
    overwrite[0] = getattr(fs_pkg, "Options$Rename").OVERWRITE
    listings = {}
    for name, impl in (("stock", "org.apache.hadoop.fs.local.LocalFs"),
                       ("nio", "engine.niofs.NioLocalFs")):
        conf = _conf(jvm, **{"fs.AbstractFileSystem.file.impl": impl})
        fc = fs_pkg.FileContext.getLocalFSFileContext(conf)
        assert fc.getDefaultFileSystem().getClass().getName() == impl
        d = tmp_path / name
        d.mkdir()
        for rel, text in (("src.tmp", "new contents"), ("dst", "old")):
            out = fc.create(fs_pkg.Path(str(d / rel)), flags, no_opts)
            out.writeBytes(text)
            out.close()
        fc.rename(fs_pkg.Path(str(d / "src.tmp")), fs_pkg.Path(str(d / "dst")),
                  overwrite)
        assert (d / "dst").read_text() == "new contents"
        listings[name] = sorted(os.listdir(d))
    assert listings["nio"] == listings["stock"] == [".dst.crc", "dst"]


def _wrappers(bin_dir, log):
    """Logging ``chmod``/``readlink``/``ls``/``stat`` first on PATH."""
    os.makedirs(bin_dir)
    for cmd in WRAPPED:
        real = shutil.which(cmd)
        assert real, cmd
        script = os.path.join(bin_dir, cmd)
        with open(script, "w") as fh:
            fh.write(f'#!/bin/sh\nprintf "%s\\n" "{cmd} $*" >> "{log}"\n'
                     f'exec "{real}" "$@"\n')
        os.chmod(script, 0o755)


def test_trigger_forks_no_chmod_or_readlink(tmp_path):
    """Two streaming triggers fork no command on a path they commit. The
    log is filtered by path: the pyenv shims run ``readlink`` themselves."""
    log = str(tmp_path / "spawned.log")
    _wrappers(str(tmp_path / "bin"), log)
    work = tmp_path / "work"
    work.mkdir()
    env = dict(os.environ,
               PATH=os.pathsep.join([str(tmp_path / "bin"), os.environ["PATH"]]),
               PYTHONPATH=os.pathsep.join(
                   p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
               SPARK_GRAFT_DRIVER_MEM="1g")
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    proc = subprocess.run([sys.executable, "-c", TWO_TRIGGERS, str(work)],
                          env=env, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = open(log).read().splitlines() if os.path.exists(log) else []
    roots = {str(work), os.path.realpath(work)}
    ours = [ln for ln in lines if any(r in ln for r in roots)]
    assert not ours, f"{len(ours)} forked commands, e.g. {ours[:5]}"
