"""The driver JVM's class-data-sharing archive (``bento_spark/session.py``).

Every start runs in a fresh process with its own ``XDG_CACHE_HOME`` and
cwd, as a user's program does, and runs one Python-worker job. Each one
checks that stdout holds only the program's own line, that stderr holds
no traceback, that no ``.part`` file reaches ``-XX:SharedArchiveFile`` and
that no JVM crash log lands in the cwd.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from bento_spark.session import _cds_key

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = """
import json, os
from bento_spark.session import get_spark
spark = get_spark("cds-test", cpus=1)
jvm = spark.sparkContext._jvm
args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
print(json.dumps({
    "cds": [a for a in args if "Archive" in a or "cds" in a],
    "rows": spark.sparkContext.parallelize(range(3)).map(lambda x: x).count(),
    "probe": spark.sparkContext.getConf().get("spark.bento.cds.probe", None),
    "conf_dir": os.environ.get("SPARK_CONF_DIR"),
}))
"""


def _env(cache, **extra) -> dict:
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR")
           and not k.startswith("PYSPARK_GATEWAY")}
    env.update(XDG_CACHE_HOME=str(cache), SPARK_GRAFT_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p))
    env.update(extra)
    return env


def _start(cache, cwd, **extra) -> subprocess.Popen:
    os.makedirs(cwd, exist_ok=True)
    return subprocess.Popen([sys.executable, "-c", CHILD], cwd=cwd, env=_env(cache, **extra),
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)


def _result(proc: subprocess.Popen, cwd) -> dict:
    out, err = proc.communicate(timeout=300)
    assert proc.returncode == 0, err[-3000:]
    # a recording process stops its context before the JVM exits, so the
    # Python worker's accumulator connection does not end in an EOFError
    assert "Traceback" not in err, err[-3000:]
    # stdout holds the program's one line and nothing from the JVM
    assert len(out.splitlines()) == 1, out[:3000]
    res = json.loads(out)
    assert res["rows"] == 3
    assert not [a for a in res["cds"]
                if a.startswith("-XX:SharedArchiveFile") and a.endswith(".part")]
    assert not [n for n in os.listdir(cwd) if n.startswith("hs_err")]
    return res


def _run(cache, cwd, **extra) -> dict:
    return _result(_start(cache, cwd, **extra), cwd)


def _cds(cache) -> str:
    return os.path.join(cache, "bento_spark", "cds")


def _mode(res: dict) -> str:
    """'train', 'use' or 'plain': how the JVM was launched."""
    flags = " ".join(res["cds"])
    if "ArchiveClassesAtExit" in flags:
        return "train"
    return "use" if "SharedArchiveFile" in flags else "plain"


def _assert_promoted(cache) -> str:
    """One finished archive that matches its stamp; no lock or part left."""
    names = os.listdir(_cds(cache))
    assert not [n for n in names if n.endswith((".lock", ".part", ".tmp"))], names
    (archive,) = [n for n in names if n.endswith(".jsa")]
    st = os.stat(os.path.join(_cds(cache), archive))
    with open(os.path.join(_cds(cache), archive[:-4] + ".ok")) as f:
        assert f.read() == f"{st.st_size} {st.st_mtime_ns}"
    return archive


def _private_cache(path):
    os.makedirs(_cds(path), mode=0o700)
    os.chmod(_cds(path), 0o700)
    return path


@pytest.fixture(scope="module")
def trained(tmp_path_factory):
    """A cache whose archive a first start recorded: (cache, archive name)."""
    base = tmp_path_factory.mktemp("trained")
    res = _run(base / "cache", base / "cwd")
    assert _mode(res) == "train"
    return base / "cache", _assert_promoted(base / "cache")


def _copy_archive(trained, cache, name=None):
    src, archive = trained
    name = name or archive
    _private_cache(cache)
    for ext in (".jsa", ".ok"):
        shutil.copy2(os.path.join(_cds(src), archive[:-4] + ext),
                     os.path.join(_cds(cache), name[:-4] + ext))
    return os.path.join(_cds(cache), name)


def test_missing_archive_trains_and_later_starts_use_it(trained, tmp_path):
    cache, archive = trained
    assert os.stat(_cds(cache)).st_mode & 0o777 == 0o700
    res = _run(cache, tmp_path)
    assert res["cds"][0] == f"-XX:SharedArchiveFile={os.path.join(_cds(cache), archive)}"
    assert "-Xlog:cds*=off" in res["cds"]
    assert res["conf_dir"] is None  # the launch's redirect is undone
    assert _assert_promoted(cache) == archive


def test_archive_that_does_not_match_keeps_stdout_clean(trained, tmp_path):
    # the archive names the conf dir of the cache it was recorded in, so
    # in another cache the JVM refuses it, with a warning it must not print
    archive = _copy_archive(trained, tmp_path / "cache")
    res = _run(tmp_path / "cache", tmp_path / "cwd")
    assert res["cds"][0] == f"-XX:SharedArchiveFile={archive}"


@pytest.mark.parametrize("damage", ["truncated", "junk"])
def test_damaged_archive_is_deleted_and_recorded_again(trained, tmp_path, damage):
    archive = _copy_archive(trained, tmp_path / "cache")
    with open(archive, "rb") as f:
        bad = f.read(os.path.getsize(archive) // 3) if damage == "truncated" else os.urandom(1 << 20)
    os.chmod(archive, 0o600)
    with open(archive, "wb") as f:
        f.write(bad)
    res = _run(tmp_path / "cache", tmp_path / "cwd")
    assert _mode(res) == "train"
    assert _assert_promoted(tmp_path / "cache") == os.path.basename(archive)
    assert os.path.getsize(archive) != len(bad)


def test_changed_jar_list_rebuilds_and_deletes_the_old_key(trained, tmp_path):
    old = _copy_archive(trained, tmp_path / "cache", name="0123456789abcdef.jsa")
    res = _run(tmp_path / "cache", tmp_path / "cwd")
    assert _mode(res) == "train"
    assert not os.path.exists(old) and not os.path.exists(old[:-4] + ".ok")
    assert _assert_promoted(tmp_path / "cache") == trained[1]


def test_stale_lock_and_part_are_taken_over(trained, tmp_path):
    key = trained[1][:-4]
    cds = _cds(_private_cache(tmp_path / "cache"))
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    with open(os.path.join(cds, key + ".lock"), "w") as f:
        f.write(f"{dead.pid}\n")
    with open(os.path.join(cds, key + ".part"), "wb") as f:
        f.write(b"left by a killed recording")
    res = _run(tmp_path / "cache", tmp_path / "cwd")
    assert _mode(res) == "train"
    _assert_promoted(tmp_path / "cache")


def test_concurrent_starts_train_once(tmp_path):
    cache = tmp_path / "cache"
    procs = [_start(cache, tmp_path / f"cwd{i}") for i in range(2)]
    modes = sorted(_mode(_result(p, tmp_path / f"cwd{i}")) for i, p in enumerate(procs))
    assert modes == ["plain", "train"]
    _assert_promoted(cache)


@pytest.mark.parametrize("setting", ["spark-defaults", "HADOOP_CONF_DIR"])
def test_user_conf_gets_no_archive(trained, tmp_path, setting):
    _copy_archive(trained, tmp_path / "cache")
    conf = tmp_path / "conf"
    conf.mkdir()
    if setting == "spark-defaults":
        (conf / "spark-defaults.conf").write_text("spark.bento.cds.probe 42\n")
        res = _run(tmp_path / "cache", tmp_path / "cwd", SPARK_CONF_DIR=str(conf))
        assert res["probe"] == "42"
        assert res["conf_dir"] == str(conf)
    else:
        res = _run(tmp_path / "cache", tmp_path / "cwd", HADOOP_CONF_DIR=str(conf))
    assert res["cds"] == []


def test_unwritable_cache_starts_plain(tmp_path):
    # a file where the cache dir belongs stops root too, unlike mode bits
    cache = tmp_path / "not-a-dir"
    cache.write_text("")
    assert _mode(_run(cache, tmp_path / "cwd")) == "plain"


@pytest.mark.skipif(os.geteuid() != 0, reason="giving a file away needs root")
def test_archive_of_another_user_starts_plain(trained, tmp_path):
    archive = _copy_archive(trained, tmp_path / "cache")
    os.chown(archive, 65534, 65534)
    assert _mode(_run(tmp_path / "cache", tmp_path / "cwd")) == "plain"
    assert os.stat(archive).st_uid == 65534


def test_key_follows_java_and_jar_list(tmp_path):
    jars = tmp_path / "jars"
    jars.mkdir()
    (jars / "a.jar").write_bytes(b"a")
    java = tmp_path / "java"
    java.write_bytes(b"java")
    key = _cds_key(str(java), str(jars))
    assert key == _cds_key(str(java), str(jars))
    (jars / "b.jar").write_bytes(b"b")
    assert _cds_key(str(java), str(jars)) != key
    key = _cds_key(str(java), str(jars))
    (jars / "b.jar").write_bytes(b"bb")
    assert _cds_key(str(java), str(jars)) != key
    key = _cds_key(str(java), str(jars))
    java.write_bytes(b"java 2")
    assert _cds_key(str(java), str(jars)) != key
