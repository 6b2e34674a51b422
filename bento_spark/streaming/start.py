"""One start policy for every streaming query the engine launches.

Every ``writeStream ... .start()`` — YAML pipelines through
``sinks.run_sink(..., is_streaming=True)`` and the gate's certification
runs in ``queries/streaming.py`` — runs inside ``streaming_start``. It
sets the session confs below, starts the query, waits until the query
has built its sources, and restores the caller's values. The query keeps
them: ``.start()`` clones the session, and the stream plans every
micro-batch against that clone. Batch work and the session built by
``get_spark`` never see them.

* ``spark.sql.streaming.checkpointFileManagerClass`` ->
  ``FileSystemBasedCheckpointFileManager`` when the checkpoint is local
  (no scheme on a ``file:`` default file system, or ``file:``). Spark's
  default manager writes each offset, commit, source-log and state file
  through Hadoop's ``FileContext``: its ``rename`` calls
  ``RawLocalFileSystem.getFileLinkStatus`` -> ``FileUtil.readLink``,
  which forks a ``readlink`` process per file unless the native Hadoop
  library is loaded, and ``setPermission`` forks a ``chmod``. The
  file-system manager renames through ``FileSystem.rename`` and forks
  no ``readlink``. Checkpoints on another scheme keep the caller's
  manager (Spark's default unless configured), whose rename semantics
  the remote store may need.
* ``spark.sql.shuffle.partitions`` -> the caller's count, when it
  passes one: the gate's certification rows size it from their row
  counts (``state_partitions``). Every other start, YAML pipelines
  included, keeps the session's count (``get_spark``: ``max(cpus, 8)``).
  One state task per core (4 on 4 cores) made the trigger shorter, but
  on a shared host the windowed stream's drain rate then swung more
  from run to run (figures below). The count is recorded in the
  checkpoint on the first run and reused on restart.

Measured with Spark 4.1.2 on a 4-vCPU host without the native Hadoop
library, on a keyed 250 ms tumbling window over a JSON file stream at
2k rows/s (one paced phase of 6 s), before -> after this policy:

* forks per trigger, counted with logging shims on ``PATH``: 155
  ``readlink`` + 41 ``chmod`` -> 0 ``readlink`` + 40 ``chmod``;
* per-trigger medians in a traced run: state commit 889 -> 40 ms,
  ``walCommit`` + ``commitOffsets`` 94 -> 26 ms, ``addBatch`` 632 ->
  405 ms;
* emission latency p50, median of ten runs each, 2.74 -> 1.83 s (a
  window waits about two triggers, so each trigger's fixed cost counts
  twice).

In four interleaved sets of three to eight runs, 4 state partitions
instead of 8 cut that latency by a further 13-21%, but the drain rate's
interquartile range was 11-21% of its median, against 2-10.5% at 8.

Spark 4.1's checkpoint checksum files stay on. Most of their cost was
the forks: the gate's stream-stream join row (the most state files per
trigger) reads 7.2 s with them and 7.1 s without under this policy, and
8.4 s without them under Spark's default manager (medians of five warm
runs at sf0.01).

A file stream source holds the session that built its DataFrame, not
the query's clone, and builds its metadata log in the query thread
after ``.start()`` returns, so the scope waits for that before it
restores. The source's per-trigger file listing is set on the session
instead (``bento_spark/session.py``).

The confs are set under one process-wide lock, so two threads starting
queries at once cannot restore each other's values into the session.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager
from urllib.parse import urlparse

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

PARTITIONS = "spark.sql.shuffle.partitions"
CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
_KEYS = (PARTITIONS, CHECKPOINT_MANAGER)

_LOCK = threading.RLock()
#: session values from before each open scope, outermost first — a
#: composite sink (switch, broker) starts its children inside its own
#: scope, and a child whose checkpoint is remote must get the CALLER's
#: manager back, not the parent scope's
_saved: list[dict] = []


def state_partitions(
    spark: SparkSession, rows_per_batch: int | None = None
) -> str:
    """State-partition count for a streaming start that sizes its own
    (the gate's certification rows): the core-derived base
    (max(4, cores // 8): local[4] -> 4, local[32] -> 4, a 512-core
    cluster -> 64), raised by the micro-batch volume when the caller
    knows it (~10k rows per state task). At sf0.01 the gate's streaming
    rows, which key ~100s of groups, ran faster at 4 partitions than at
    8, and 2 or 1 made the stream-stream join (4 state stores per
    partition) less stable. A literal 4 would cap state parallelism at
    real key cardinality on a cluster; at sf1 the stateful gate row ran
    49/37/23/24 s at 4/8/16/32 partitions, and the 10k-rows target lands
    on that knee. SPARK_GRAFT_STREAM_PARTITIONS overrides it for
    deployments that know their key count."""
    env = os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS")
    if env:
        return env
    par = spark.sparkContext.defaultParallelism
    base = max(4, min(par // 8, 4096))
    if rows_per_batch:
        by_volume = min((int(rows_per_batch) + 9_999) // 10_000, par, 4096)
        return str(max(base, by_volume))
    return str(base)


def _local_checkpoint(spark: SparkSession, checkpoint: str | None) -> bool:
    """Whether a query's checkpoint lands on the local file system. With
    no location, Spark uses ``spark.sql.streaming.checkpointLocation``
    or, failing that, a temporary local directory."""
    root = checkpoint or spark.conf.get(
        "spark.sql.streaming.checkpointLocation", None
    )
    if not root:
        return True
    scheme = urlparse(str(root)).scheme
    if not scheme:
        default_fs = spark.sparkContext._jsc.hadoopConfiguration().get(
            "fs.defaultFS"
        )
        scheme = urlparse(default_fs or "file:///").scheme
    return scheme == "file"


def _apply(spark: SparkSession, values: dict) -> None:
    for k, v in values.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def _await_sources(spark: SparkSession, before: set) -> None:
    """Wait until every query started since ``before`` has built its
    sources (and their metadata logs, through the caller's session)."""
    for q in spark.streams.active:
        if q.id not in before:
            try:
                q._jsq.streamingQuery().awaitInitialization(120_000)
            except Py4JJavaError:  # the query died; its owner sees why
                pass


@contextmanager
def streaming_start(
    spark: SparkSession,
    checkpoint: str | None = None,
    partitions: str | None = None,
):
    """Start streaming queries inside this block (see the module
    docstring); the session's own values are back on exit. Without
    ``partitions`` the session's shuffle-partition count stays."""
    with _LOCK:
        prev = {k: spark.conf.get(k, None) for k in _KEYS}
        caller = _saved[0] if _saved else prev
        before = {q.id for q in spark.streams.active}
        values = {
            CHECKPOINT_MANAGER: (
                FS_MANAGER if _local_checkpoint(spark, checkpoint)
                else caller[CHECKPOINT_MANAGER]
            ),
        }
        if partitions:
            values[PARTITIONS] = partitions
        _apply(spark, values)
        _saved.append(prev)
        try:
            yield
            _await_sources(spark, before)
        finally:
            _saved.pop()
            _apply(spark, {k: prev[k] for k in values})
