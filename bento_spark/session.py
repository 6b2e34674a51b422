"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the configs below are chosen so the
same code scales to a real cluster: AQE on (runtime re-planning, skew-join
splitting, partition coalescing), Arrow on (fast Pandas-UDF boundary),
UTC session timezone (stable semantics vs the DuckDB oracle and across
clusters), and shuffle partitions sized by env rather than the 200 default.

Listing input files on the driver
---------------------------------
``spark.sql.sources.parallelPartitionDiscovery.threshold`` is set to
``2147483647``, so no read lists its paths with a Spark job. At Spark's
default (32), an ``InMemoryFileIndex`` over more paths runs a job with
one task per path to stat them. A file stream pays that at every
trigger of more than 32 files: ``FileStreamSource.getBatch`` builds a
``DataSource`` over the trigger's file list, and its index stats again
the files the source has just listed. A batch read over a glob or
directory of many files pays it once. ``get_spark`` only builds
``local[N]`` sessions, where the job runs on the same N cores as the
driver would and adds scheduling and per-task cost. Every file input
(``json``, ``parquet``, ``csv``, ``file``, glob paths included) gets
this through ``sources._load``, in both modes. Sessions not built by
``get_spark`` keep Spark's default. The setting cannot be scoped to a
stream's start: the source reads it from the caller's session at every
trigger, not from the query's clone.

Measured on 4 vCPU, Spark 4.1.2, in one JVM, alternating the default
and the raised threshold:

- draining ``perfbench``'s ``stream_window`` backlog (160 files, 40 per
  trigger, four triggers), three drains each: 9 jobs / 216 tasks -> 5
  jobs / 56 tasks per drain; ``getBatch`` 271-371 ms -> 12-21 ms per
  trigger; drain rate 18.9k-26.0k -> 31.1k-41.5k rows/s.
- ``spark.read.schema(..).json("<dir>/*.json")`` over 2,000 one-line
  local files, ten reads each: building the DataFrame took 8.8-14.6 s
  -> 0.19-0.28 s; the ``count()`` after it 0.9-4.4 s -> 0.9-1.2 s.
- ``stream_window``'s paced triggers read at most 14 files, so they
  never ran the job.

Class-data sharing for the driver JVM
-------------------------------------
Most of a cold session start is the driver JVM loading and linking the
classes of Spark's ~290 jars, not the engine's Python (0.33 s to import
``session`` and ``plans.pipeline``). ``get_spark`` therefore launches the driver with a JDK dynamic
class-data-sharing (AppCDS) archive of those classes once one exists for
this host:

- Cache: ``$XDG_CACHE_HOME/bento_spark/cds`` (``~/.cache/...`` when the
  variable is unset), mode 0700, owned by the user; anything else gives a
  plain start. One archive, named by a hash of the ``java`` binary and of
  the Spark jar list; an archive under any other name is deleted when the
  next one is recorded.
- Training: with no archive, the first process to take the key's lock
  (``flock``, so a dead owner's lock is free) launches its JVM with
  ``-XX:ArchiveClassesAtExit=<key>.part``. The JVM writes the file as it
  exits; the ``.part`` is renamed to ``<key>.jsa`` only after the JVM
  exited with code 0, as soon as a wait on it returns. At interpreter
  exit the process stops its context, ends its JVM and waits for it.
  Every other process meanwhile starts without an archive.
- Validation: a ``<key>.ok`` stamp records the archive's size and mtime
  at the rename. The JVM maps the archive without checking its length,
  so a truncated one crashes it with SIGBUS (probe: ``hs_err_pid*.log``
  in the cwd, the crash report on stdout); an archive that does not
  match its stamp is deleted and recorded again instead.
- Conf dir: JDK 17 neither records nor maps an archive while a non-empty
  directory is on the class path, and spark-class puts the conf dir
  there. So the launch points ``SPARK_CONF_DIR`` at the cache's empty
  ``conf/``, but only when the conf dir in effect holds nothing but
  ``*.template`` files and neither ``HADOOP_CONF_DIR`` nor
  ``YARN_CONF_DIR`` is set; otherwise the start is plain and every user
  setting is kept.
- Logging: ``-Xlog:cds*=off``. The JVM's ``cds`` warnings go to stdout,
  whose last line perfbench and ``tools/check.py`` read: 585 lines of
  skipped classes (signed janino jar, pre-JDK-6 class files, unlinked
  classes) while recording a bare session, and "Unable to use shared
  archive" (tagged ``cds,dynamic``) when an archive does not match.
- Refusal: an archive recorded under another class path (the cache dir
  moved, a ``spark.driver.extraClassPath``) matches its stamp, but the
  JVM maps it, finds the class paths differ and drops it, at every
  start: 3.17 s for such a start against 1.56 s with the archive in use.
  So a launch with the archive writes its ``cds`` log to
  ``<key>.<pid>.log`` in the cache; once the JVM is up the log is read
  and deleted, and unless it shows the top ("dynamic") archive mapped
  and kept, the archive and its stamp are deleted and the next start
  records them again.

Measured on 4 vCPU, JDK 17.0.20, Spark 4.1.2: full ``perfbench/run.py``
runs alternating with the code before the archive, archive cache warm:

- ``stream_window`` ``setup_s`` 4.18 -> 2.30 s (median of ten pairs, ten
  of ten better); drain throughput and latencies flat (+1.4%, -0.1%,
  -0.9%).
- ``batch_ops`` ``setup_s`` 3.06 -> 1.64 s (four pairs, four better).
- The archive is 157 MB when a ``stream_window`` run records it, 136 MB
  after a bare session.
- One-time cost, three ``stream_window`` runs from an empty cache: the
  recording set-up takes 5.5-5.7 s instead of 4.1-4.2 s, and the run's
  wall time grows by 4.1-5.0 s, the rest of it the archive dump at JVM
  exit. The run's ``setup_s`` (the median of that set-up and a fresh one
  that maps the new archive) still reads 3.89-4.02 s against 4.14-4.17 s.
"""

from __future__ import annotations

import atexit
import fcntl
import hashlib
import os
import shutil
import stat
import subprocess
import threading

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def get_spark(app_name: str = "bento_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    cds = _cds_launch()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata writes TIMESTAMP(NANOS) parquet, which Spark rejects;
        # read as long ns and convert at load (loaders do `ts div 1000`)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # list input files on the driver (see the module docstring)
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "2147483647")
        # long sessions compile hundreds of codegen classes; the JVM
        # default code cache (~240 MB) fills and disables the JIT, which
        # silently 5-10x-es late queries — give it headroom
        .config(
            "spark.driver.extraJavaOptions",
            " ".join(["-XX:ReservedCodeCacheSize=1g"] + (cds.options if cds else [])),
        )
        # Catalyst's EquivalentExpressions walk is super-linear on the
        # nested-CaseWhen/coalesce shapes compiled Bloblang conditionals
        # produce: ~20 nested-if fields took 77s of driver-side analysis
        # (5.5s without), growing ~2x per added field — a mapping with a
        # few dozen conditional fields simply never planned. A/B on the
        # heaviest relational/dedup plans at sf0.1 shows no measurable
        # win from CSE (18.3-19.2s both ways), so the engine default is
        # OFF; override via SPARK_GRAFT_SUBEXPR_ELIM=true.
        .config(
            "spark.sql.subexpressionElimination.enabled",
            os.environ.get("SPARK_GRAFT_SUBEXPR_ELIM", "false"),
        )
    )
    spark = builder.getOrCreate() if cds is None else cds.get_or_create(builder)
    spark.sparkContext.setLogLevel("WARN")
    return spark


# -- class-data sharing for the driver JVM (see the module docstring) ------

#: how long interpreter exit waits for a recording JVM to write its archive
_DUMP_WAIT_S = 300


def _cds_dir() -> str | None:
    """The per-user archive cache, made mode 0700; None when it cannot be
    made or is not a directory private to this user."""
    base = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(base):
        base = os.path.join(os.path.expanduser("~"), ".cache")
    path = os.path.join(base, "bento_spark", "cds")
    try:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        try:
            os.mkdir(path, 0o700)
        except FileExistsError:
            pass
        st = os.lstat(path)
    except OSError:
        return None
    private = (stat.S_ISDIR(st.st_mode) and st.st_uid == os.getuid()
               and not st.st_mode & 0o077)
    return path if private else None


def _cds_key(java: str, jars_dir: str) -> str:
    """Names the archive after the JVM binary and the Spark jar list: a
    change to either needs a new archive."""
    h = hashlib.sha256()
    for path in [java] + sorted(os.path.join(jars_dir, n) for n in os.listdir(jars_dir)):
        st = os.stat(path)
        h.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _unlink(*paths: str) -> None:
    for path in paths:
        try:
            os.unlink(path)
        except FileNotFoundError:
            pass


def _try_lock(path: str) -> int | None:
    """An fd holding an exclusive ``flock`` on ``path``, or None when
    another process holds it (or ``path`` was replaced meanwhile)."""
    fd = os.open(path, os.O_RDWR | os.O_CREAT, 0o600)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        if os.fstat(fd).st_ino == os.stat(path).st_ino:
            os.ftruncate(fd, 0)
            os.write(fd, f"{os.getpid()}\n".encode())
            return fd
    except OSError:
        pass
    os.close(fd)
    return None


def _archive_ok(archive: str) -> bool | None:
    """True for a finished archive of this user's, False when there is
    none (a damaged one is deleted), None for one this user does not own."""
    try:
        st = os.stat(archive)
    except FileNotFoundError:
        return False
    if st.st_uid != os.getuid():
        return None
    stamp = archive[: -len(".jsa")] + ".ok"
    try:
        with open(stamp, encoding="ascii") as f:
            if f.read() == f"{st.st_size} {st.st_mtime_ns}":
                return True
    except (OSError, ValueError):
        pass
    _unlink(archive, stamp)
    return False


class _CdsLaunch:
    """The options and conf dir of one driver launch with the archive; with
    ``lock`` set the launch records the archive for ``key``."""

    def __init__(self, cache: str, key: str, lock: int | None = None):
        self.cache, self.key, self.lock = cache, key, lock
        self.archive = os.path.join(cache, key + ".jsa")
        self.part = os.path.join(cache, key + ".part")
        if lock is not None:
            self.options = [f"-XX:ArchiveClassesAtExit={self.part}", "-Xlog:cds*=off"]
        else:
            # the mapping log goes to a file, never to stdout
            self.log = os.path.join(cache, f"{key}.{os.getpid()}.log")
            self.options = [f"-XX:SharedArchiveFile={self.archive}", "-Xlog:cds*=off",
                            f"-Xlog:cds,cds+dynamic=info:file={self.log}:none:filecount=0"]
            st = os.stat(self.archive)
            self.identity = (st.st_ino, st.st_mtime_ns)
        self.pid = os.getpid()
        self.proc = None
        self.finishing = threading.Lock()  # a wait and interpreter exit may race

    def get_or_create(self, builder) -> SparkSession:
        from pyspark import SparkContext

        saved = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = os.path.join(self.cache, "conf")
        try:
            return builder.getOrCreate()
        finally:
            if saved is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = saved
            if self.lock is None:
                self._drop_if_refused()
            else:
                gateway = SparkContext._gateway
                if gateway is not None and gateway.proc is not None:
                    self._watch(gateway.proc)
                else:
                    self._finish(None)

    def _drop_if_refused(self) -> None:
        """Delete the archive when the JVM did not map it, so that the next
        start records one again: an archive recorded under another class
        path (the cache dir moved, a ``spark.driver.extraClassPath``)
        matches its stamp, and the JVM refuses it at every start."""
        try:
            with open(self.log, encoding="utf-8", errors="replace") as f:
                text = f.read()
        except OSError:
            return
        finally:
            _unlink(self.log)
        if "Mapped dynamic region" in text and "top archive failed" not in text:
            return
        try:
            st = os.stat(self.archive)
        except OSError:
            return
        if (st.st_ino, st.st_mtime_ns) == self.identity:  # not recorded anew meanwhile
            _unlink(self.archive, os.path.join(self.cache, self.key + ".ok"))

    def _watch(self, proc) -> None:
        """Promote the archive when a wait on the JVM returns, so a caller
        that stops the JVM and then starts another process (perfbench's
        ``stop_jvm`` before ``cold_setup.py``) finds it; and stop and wait
        for the JVM at interpreter exit."""
        wait = proc.wait

        def wait_then_promote(timeout=None):
            code = wait(timeout)
            self._finish(code)
            return code

        proc.wait = wait_then_promote
        self.proc = proc
        atexit.register(self._at_exit)

    def _at_exit(self) -> None:
        from pyspark import SparkContext

        if os.getpid() != self.pid:
            return
        if self.proc.returncode is None:
            # stop first: a JVM exiting under a live context drops the
            # accumulator connection, and its handler prints an EOFError
            sc = SparkContext._active_spark_context
            try:
                if sc is not None:
                    sc.stop()
            finally:
                self.proc.stdin.close()  # the gateway JVM exits at EOF on stdin
            try:
                self.proc.wait(_DUMP_WAIT_S)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self._finish(self.proc.returncode)

    def _finish(self, returncode: int | None) -> None:
        with self.finishing:
            if self.lock is not None:
                self._promote(returncode)

    def _promote(self, returncode: int | None) -> None:
        try:
            if returncode == 0 and os.path.isfile(self.part):
                st = os.stat(self.part)
                stamp = os.path.join(self.cache, self.key + ".ok")
                with open(stamp + ".tmp", "w", encoding="ascii") as f:
                    f.write(f"{st.st_size} {st.st_mtime_ns}")
                os.replace(stamp + ".tmp", stamp)
                os.replace(self.part, self.archive)
        except OSError:
            pass
        finally:
            _unlink(self.part)
            _unlink(os.path.join(self.cache, self.key + ".lock"))
            os.close(self.lock)
            self.lock = None


def _cds_launch() -> _CdsLaunch | None:
    """How the next driver launch uses the class-data-sharing archive, or
    None for a plain launch (no launch at all, a user conf dir, no usable
    cache, or another process recording the archive)."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    if os.environ.get("HADOOP_CONF_DIR") or os.environ.get("YARN_CONF_DIR"):
        return None
    home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(home, "conf")
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    cache = _cds_dir()
    # the options travel space-separated in spark.driver.extraJavaOptions,
    # and -Xlog splits its file name at ':' and expands '%'
    if java is None or cache is None or any(c.isspace() or c in "'\":%" for c in cache):
        return None
    try:
        if os.path.exists(conf) and any(not n.endswith(".template") for n in os.listdir(conf)):
            return None
        key = _cds_key(os.path.realpath(java), os.path.join(home, "jars"))
        empty = os.path.join(cache, "conf")
        os.makedirs(empty, 0o700, exist_ok=True)
        if os.listdir(empty):
            return None
        archive = os.path.join(cache, key + ".jsa")
        ok = _archive_ok(archive)
        if ok is None:
            return None
        if ok:
            return _CdsLaunch(cache, key)
        lock = _try_lock(os.path.join(cache, key + ".lock"))
    except OSError:
        return None
    if lock is None:
        return None
    training = _CdsLaunch(cache, key, lock)
    try:
        if _archive_ok(archive):  # recorded while this process looked
            training._finish(None)
            return _CdsLaunch(cache, key)
        for name in os.listdir(cache):
            if name.endswith((".jsa", ".ok", ".part", ".tmp", ".log")):
                _unlink(os.path.join(cache, name))
    except OSError:
        training._finish(None)
        return None
    return training


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict:
    """Load the standard test tables from a scale-factor dir and register views.

    Returns a name -> DataFrame dict; each is also available to spark.sql()
    as a temp view of the same name.
    """
    from pyspark.sql import functions as F

    out = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            for f in df.schema.fields:
                if f.name == "ts" and f.dataType.simpleString() == "bigint":
                    df = df.withColumn(
                        "ts", F.timestamp_micros(F.expr("ts div 1000"))
                    )
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
