"""Streaming queries in a fresh driver process (its own JVM) under
``session.get_spark``: what the micro-batch loop does to its checkpoint, and
a ``foreachBatch`` writer killed between its append and Spark's commit.

The child process reads a source topic with the ``pulsarlike`` stream
source, at most ``CAP`` rows per partition per micro-batch, and records
each micro-batch id it starts in a file. ``count`` runs ``keyed_counter``
into a sink that collects; ``copy`` appends each micro-batch to a
destination topic with a replay-stable ``batch_token`` and, when given a
kill batch, dies by ``os._exit`` right after that batch's append returns,
before Spark writes the batch's ``commits/`` entry."""

import os
import shutil
import subprocess
import sys
import uuid

from pulsar_3_2_codedump_spark import topic as T
from tests.test_write_path import _check_log, _commit

CAP = 10  # rows per partition per micro-batch
KILLED = 17  # the exit status of a killed child

_CHILD = r"""
import os, sys
from pulsar_3_2_codedump_spark import topic as T
from pulsar_3_2_codedump_spark.session import get_spark
from pulsar_3_2_codedump_spark.sources import register
from pulsar_3_2_codedump_spark.streaming.replicator import _token

mode, src, ck, batches, cap, dst, kill_at = sys.argv[1:8]
spark = get_spark("stream-child", cpus=2)
register(spark)
rows = (
    spark.readStream.format("pulsarlike").option("path", src)
    .option("maxRecordsPerTrigger", cap).load()
)


def log_batch(batch_id):
    with open(batches, "a") as f:
        f.write(f"{batch_id}\n")


if mode == "count":
    from pulsar_3_2_codedump_spark.streaming.function_runtime import keyed_counter

    def sink(batch, batch_id):
        log_batch(batch_id)
        batch.collect()

    rows = keyed_counter(rows.select("key"))
else:
    def sink(batch, batch_id):
        log_batch(batch_id)
        T.append(
            batch.sparkSession, batch.drop("offset"), dst, dedup=False,
            batch_token=_token(ck, "copy", batch_id),
        )
        if batch_id == int(kill_at):
            os._exit(17)

q = rows.writeStream.foreachBatch(sink).option("checkpointLocation", ck).start()
q.processAllAvailable()
q.stop()
spark.stop()
"""


def _run_child(tmp_root, mode, src, ck, dst="", kill_at=-1, path_first=None):
    """Run one child driver to the end of its topic (exit 0) or to its kill
    (exit ``KILLED``); returns the micro-batch ids it started, in order.
    ``path_first`` is put at the front of the child's ``PATH``."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    batches = os.path.join(tmp_root, f"batches-{uuid.uuid4().hex[:8]}")
    env = dict(
        os.environ,
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYTHONPATH=os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])),
    )
    if path_first:
        env["PATH"] = os.pathsep.join([path_first, env.get("PATH", "")])
    done = subprocess.run(
        [sys.executable, "-c", _CHILD, mode, src, ck, batches, str(CAP), dst, str(kill_at)],
        cwd=root, env=env, capture_output=True, text=True, timeout=300,
    )
    assert done.returncode == (KILLED if kill_at >= 0 else 0), done.stderr[-3000:]
    with open(batches) as f:
        return [int(line) for line in f]


def _readlink_logger(tmp_root) -> tuple[str, str]:
    """A directory holding a ``readlink`` that logs its arguments, one call
    a line, then runs the real one; returns (directory, log file)."""
    real = shutil.which("readlink")
    assert real, "no readlink on PATH"
    bin_dir, log = os.path.join(tmp_root, "bin"), os.path.join(tmp_root, "readlink.log")
    os.makedirs(bin_dir)
    shim = os.path.join(bin_dir, "readlink")
    with open(shim, "w") as f:
        f.write(f"#!/bin/sh\nprintf '%s\\n' \"$*\" >> '{log}'\nexec '{real}' \"$@\"\n")
    os.chmod(shim, 0o755)
    return bin_dir, log


def test_stream_checkpoint_forks_no_readlink(tmp_root):
    """Hadoop's default checkpoint file manager (FileContext) asks the local
    file system for each renamed file's link status, which without the
    native Hadoop library forks ``readlink``, about sixty times per
    micro-batch of this query (two state partitions). The session's
    checkpoint manager renames through ``FileSystem.rename`` and forks
    none."""
    src = T.create_topic(tmp_root, "src", n_partitions=2)
    _commit(src, 0, 4 * CAP)  # two micro-batches at CAP rows per partition
    ck = os.path.join(tmp_root, "ck")
    bin_dir, log = _readlink_logger(tmp_root)
    assert _run_child(tmp_root, "count", src, ck, path_first=bin_dir) == [0, 1]
    calls = open(log).read().splitlines() if os.path.exists(log) else []
    assert [c for c in calls if ck in c] == []


def test_foreach_batch_killed_before_commit_replays_once(spark, tmp_root):
    """A driver killed after batch 1's append returned and before Spark
    wrote ``commits/1``; the restarted driver replays batch 1 with the same
    ``batch_token``, whose append is a no-op, so each row lands once."""
    src = T.create_topic(tmp_root, "src", n_partitions=2)
    _commit(src, 0, 6 * CAP)  # three micro-batches
    dst = T.create_topic(tmp_root, "dst", n_partitions=2)
    ck = os.path.join(tmp_root, "ck")
    assert _run_child(tmp_root, "copy", src, ck, dst, kill_at=1) == [0, 1]
    assert os.path.exists(os.path.join(ck, "offsets", "1"))
    assert not os.path.exists(os.path.join(ck, "commits", "1"))
    assert T.read_topic(spark, dst).count() == 4 * CAP  # batch 1 landed
    assert _run_child(tmp_root, "copy", src, ck, dst) == [1, 2]  # the replay
    _check_log(spark, dst, 6 * CAP)
