"""Input files are listed on the driver (``bento_spark/session.py``): a
trigger or a read over more than 32 files runs no Spark job to stat
files that were just listed."""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
SCHEMA = "k STRING, v BIGINT"
FILES = 40


def _spool(path, n=FILES):
    path.mkdir(parents=True, exist_ok=True)
    for i in range(n):
        (path / f"f{i:03d}.json").write_text(json.dumps({"k": f"k{i % 3}", "v": i}) + "\n")
    return str(path)


def _jobs(spark, group: str) -> list:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("glob", [False, True], ids=["dir", "glob"])
def test_stream_trigger_runs_one_job(spark, tmp_path, glob):
    from bento_spark.plans.pipeline import build_pipeline

    spool = _spool(tmp_path / "in")
    pipe = build_pipeline(spark, f"""
input:
  json:
    path: {spool + "/*.json" if glob else spool}
    stream: true
    schema: "{SCHEMA}"
    options:
      maxFilesPerTrigger: {FILES}
output:
  drop:
    checkpoint: {tmp_path / "ckpt"}
""")
    q = pipe.run()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    batches = [p for p in q.recentProgress if p["numInputRows"]]
    assert [p["numInputRows"] for p in batches] == [FILES]
    # the trigger's own job; at Spark's listing threshold (32) a second
    # one with a task per file re-stats the trigger's files
    assert len(_jobs(spark, str(q.runId))) == 1


def test_batch_read_over_many_files_runs_no_job(spark, tmp_path):
    spool = _spool(tmp_path / "in")
    sc = spark.sparkContext
    group = f"listing-{tmp_path.name}"
    sc.setJobGroup(group, "batch read over a glob")
    try:
        df = spark.read.schema(SCHEMA).json(spool + "/*.json")
        assert _jobs(spark, group) == []
        assert df.count() == FILES
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_glob_read_logs_no_missing_metadata_stack(tmp_path, capfd):
    """A batch read of a glob looks for a sink's metadata log under the
    literal glob, which is no file; that must not log a stack trace. The
    read runs in a child process: the shared session's JVM writes to the
    stderr it was started with, which ``capfd`` does not see."""
    spool = _spool(tmp_path / "in", n=3)
    script = (
        "from bento_spark.plans.pipeline import build_pipeline\n"
        "from bento_spark.session import get_spark\n"
        "spark = get_spark('glob-read', cpus=1)\n"
        "df = build_pipeline(spark, {'input': {'json': {'path': %r}},"
        " 'output': {'drop': {}}}).dataframe()\n"
        "print('rows', df.count())\n" % (spool + "/*.json")
    )
    env = {**os.environ, "PYTHONPATH": str(ROOT), "SPARK_GRAFT_DRIVER_MEM": "1g"}
    subprocess.run([sys.executable, "-c", script], env=env, check=True, timeout=300)
    out, err = capfd.readouterr()
    assert out.splitlines()[-1] == "rows 3"
    assert "Assume no metadata directory" not in err
    assert "FileNotFoundException" not in err
