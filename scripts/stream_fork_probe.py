"""Count the shell processes a streaming micro-batch forks.

Without native ``libhadoop``, Hadoop's local filesystem forks ``chmod``
(setPermission) and, under ``FileContext``, ``readlink``; it can also
fork ``ls``, ``stat``, ``df``, ``id``, ``groups`` or ``bash`` (file
status, disk usage, user groups, shell commands).  A fresh JVM gets
logging shims for all of them first on ``PATH``, so a new fork source
shows up in the per-command table; a backlog drains through
the ``stream_processor``-shaped query (file source -> running total ->
idempotent parquet sink), then 10 single-file micro-batches are fed and
their forks per batch printed by command and by checkpoint subdirectory
(``sink`` is the parquet output).  Usage: python scripts/stream_fork_probe.py
"""

from __future__ import annotations

import collections
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

root = tempfile.mkdtemp(prefix="fork_probe_")
shims, log = f"{root}/shims", f"{root}/forks.log"
watch, ckpt, out = (f"{root}/{d}" for d in ("in", "ckpt", "out"))
for d in (shims, watch):
    os.makedirs(d)
for cmd in ("chmod", "readlink", "ls", "stat", "bash", "df", "id", "groups"):
    with open(f"{shims}/{cmd}", "w") as fh:
        fh.write(f'#!/bin/sh\necho "{cmd} $*" >> {log}\nexec {shutil.which(cmd)} "$@"\n')
    os.chmod(f"{shims}/{cmd}", 0o755)
os.environ["PATH"] = f"{shims}:{os.environ['PATH']}"
os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("PYSPARK_SUBMIT_ARGS",
                      "--conf spark.ui.showConsoleProgress=false pyspark-shell")

from confluent_kafka_streams_examples_spark.session import get_spark  # noqa: E402
from confluent_kafka_streams_examples_spark.streaming import processor, sinks  # noqa: E402


def feed(i: int, rows: int) -> None:
    # written without the JVM, so the write's own forks are not counted
    pq.write_table(pa.table({
        "key": [f"k{(i * rows + j) % 10_000}" for j in range(rows)],
        "value": [1.0] * rows,
        "ts": pa.array([i * 1_000_000] * rows, pa.timestamp("us")),
    }), f"{root}/stage.parquet")
    os.rename(f"{root}/stage.parquet", f"{watch}/f{i:04d}.parquet")


def where(path: str) -> str:
    path = path.removeprefix("file:")
    if path.startswith(ckpt):
        return path[len(ckpt):].strip("/").split("/")[0]
    return "sink" if path.startswith(out) else "other"


spark = get_spark("stream-fork-probe")
spark.sparkContext.setLogLevel("ERROR")
for i in range(8):
    feed(i, 32)
src = spark.readStream.schema("key string, value double, ts timestamp").parquet(watch)
q = (processor.running_total_with_emission(src, "key", "value").writeStream
     .outputMode("update").foreachBatch(sinks.idempotent_parquet_sink(out))
     .option("checkpointLocation", ckpt).start())
try:
    q.processAllAvailable()
    first, mark = q.lastProgress["batchId"], os.path.getsize(log)
    for i in range(8, 18):
        feed(i, 12)
        q.processAllAvailable()
    batches = q.lastProgress["batchId"] - first
finally:
    q.stop()
    spark.stop()
with open(log) as fh:
    fh.seek(mark)
    forks = [line.split() for line in fh.read().splitlines()]
shutil.rmtree(root, ignore_errors=True)
print(f"{batches} micro-batches, {len(forks) / batches:.1f} forks per batch")
for cmd, n in sorted(collections.Counter(f[0] for f in forks).items()):
    print(f"  {cmd:9s} {n / batches:6.1f}")
for (cmd, d), n in sorted(collections.Counter((f[0], where(f[-1])) for f in forks).items()):
    print(f"  {cmd:9s} {d:10s} {n / batches:6.1f}")
