"""artifacts.py: freshness is part of the artifact name."""

from __future__ import annotations

import os


def test_artifact_path_tracks_source_version_and_params(tmp_path):
    from confluent_kafka_streams_examples_spark.artifacts import artifact_path

    src = tmp_path / "documents.parquet"
    src.write_bytes(b"v1")
    p1 = artifact_path(str(src), "overlap|n=3")
    assert p1 == artifact_path(str(src), "overlap|n=3")  # stable
    assert p1 != artifact_path(str(src), "overlap|n=4")  # params in tag

    os.utime(src, (1, 1))  # same bytes, new version stamp
    p2 = artifact_path(str(src), "overlap|n=3")
    assert p2 != p1  # mtime invalidates

    src.write_bytes(b"v2-longer")
    os.utime(src, (1, 1))
    assert artifact_path(str(src), "overlap|n=3") != p2  # size invalidates

    # a missing source must not raise — it yields a distinct bucket
    missing = artifact_path(str(tmp_path / "nope.parquet"), "overlap|n=3")
    assert missing not in (p1, p2)


def test_artifact_path_tracks_engine_version(tmp_path, monkeypatch):
    """A CODE change must invalidate stored artifacts: the tag folds in
    the package-source digest, so an artifact built by old code is
    never read by new code (the cross-round staleness hazard)."""
    import confluent_kafka_streams_examples_spark.artifacts as art

    src = tmp_path / "documents.parquet"
    src.write_bytes(b"v1")
    p1 = art.artifact_path(str(src), "t")
    monkeypatch.setattr(art, "_ENGINE_DIGEST", "deadbeef")
    assert art.artifact_path(str(src), "t") != p1


def test_materialized_cleans_staging_on_build_failure(tmp_path, spark):
    """A failed build must leave neither a published artifact nor an
    orphaned staging directory, and the cleanup hook still runs."""
    import glob

    from confluent_kafka_streams_examples_spark.artifacts import (
        artifact_path,
        materialized,
    )

    src = tmp_path / "documents.parquet"
    src.write_bytes(b"v1")
    ran = []

    def bad_build():
        raise RuntimeError("boom")

    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        materialized(
            spark, str(src), "failing", bad_build, cleanup=lambda: ran.append(1)
        )
    assert ran == [1]
    path = artifact_path(str(src), "failing")
    assert not glob.glob(path + "*"), glob.glob(path + "*")


# ---------------------------------------------------------------------------
# GC / retention (sweep_stale_artifacts + the hardened publish path).
# Every test below redirects the artifact root into tmp_path so the
# sweep's universe is closed and the user's real stored artifacts are
# never touched.
# ---------------------------------------------------------------------------

import json
import subprocess
import time

import pytest


@pytest.fixture()
def art_root(tmp_path, monkeypatch):
    """Isolated artifact root: point tempfile.gettempdir (as artifacts.py
    sees it) at tmp_path and reset the memoized engine digest."""
    import confluent_kafka_streams_examples_spark.artifacts as art

    monkeypatch.setattr(
        art.tempfile, "gettempdir", lambda: str(tmp_path)
    )
    return art.artifact_root()


def _plant(dirpath, meta=None, age_seconds=0.0):
    """Create a fake published artifact directory, optionally with a
    manifest, and back-date its mtime."""
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, "_SUCCESS"), "w"):
        pass
    if meta is not None:
        with open(
            os.path.join(dirpath, "_CKSE_META"), "w", encoding="utf-8"
        ) as fh:
            json.dump(meta, fh)
    old = time.time() - age_seconds
    os.utime(dirpath, (old, old))


def test_sweep_removes_superseded_version_on_publish(
    art_root, tmp_path, spark
):
    """The r6 'done' criterion: an artifact built under an OLD engine
    digest is retired by the next materialized() publish once past the
    grace window."""
    import confluent_kafka_streams_examples_spark.artifacts as art

    src = tmp_path / "documents.parquet"
    src.write_bytes(b"v1")
    stale = os.path.join(art_root, "ckse_art_000000000000")
    _plant(
        stale,
        meta={
            "source_file": str(src),
            "stamp": art._source_stamp(str(src)),
            "tag": "t",
            "engine": "0ld_d1g3",  # superseded engine version
        },
        age_seconds=art.GC_GRACE_SECONDS + 60,
    )
    df = art.materialized(
        spark,
        str(src),
        "t",
        lambda: spark.range(3).toDF("id"),
    )
    assert df.count() == 3
    assert not os.path.exists(stale), "superseded version must be swept"
    # the artifact just published is fresh and must survive its own sweep
    assert os.path.exists(
        os.path.join(art.artifact_path(str(src), "t"), "_SUCCESS")
    )


def test_sweep_never_touches_fresh_or_alive_staging(art_root, tmp_path):
    """(b) fresh artifacts (current engine + current source stamp) and
    a live builder's recent staging dir are never swept — even with a
    zero grace window."""
    import confluent_kafka_streams_examples_spark.artifacts as art

    src = tmp_path / "documents.parquet"
    src.write_bytes(b"v1")
    fresh = os.path.join(art_root, "ckse_art_fresh000")
    _plant(
        fresh,
        meta={
            "source_file": str(src),
            "stamp": art._source_stamp(str(src)),
            "tag": "t",
            "engine": art._engine_digest(),
        },
        age_seconds=art.GC_GRACE_SECONDS + 60,  # age alone is not staleness
    )
    staging = os.path.join(art_root, f"ckse_art_x.build.{os.getpid()}")
    os.makedirs(staging)
    removed = art.sweep_stale_artifacts(grace_seconds=0.0)
    assert removed == []
    assert os.path.exists(fresh)
    assert os.path.exists(staging)


def test_sweep_removes_manifestless_and_dead_pid_dirs(art_root):
    """(d) a manifest-less directory (pre-manifest format or squatter)
    is stale by definition; a staging dir whose builder pid is dead is
    a crashed build."""
    import confluent_kafka_streams_examples_spark.artifacts as art

    orphan = os.path.join(art_root, "ckse_art_orphan00")
    _plant(orphan, meta=None, age_seconds=art.GC_GRACE_SECONDS + 60)

    child = subprocess.Popen(["true"])
    child.wait()  # reaped: the pid no longer exists
    dead_staging = os.path.join(
        art_root, f"ckse_art_y.build.{child.pid}"
    )
    os.makedirs(dead_staging)
    old = time.time() - art.GC_GRACE_SECONDS - 60
    os.utime(dead_staging, (old, old))

    removed = art.sweep_stale_artifacts()
    assert orphan in removed and not os.path.exists(orphan)
    assert dead_staging in removed and not os.path.exists(dead_staging)


def test_sweep_ages_out_alive_pid_staging_past_ttl(art_root):
    """Pid reuse can make a dead builder's staging dir look alive
    forever; past STAGING_TTL_SECONDS liveness is no longer believed."""
    import confluent_kafka_streams_examples_spark.artifacts as art

    staging = os.path.join(art_root, f"ckse_art_z.build.{os.getpid()}")
    os.makedirs(staging)
    old = time.time() - art.STAGING_TTL_SECONDS - 60
    os.utime(staging, (old, old))
    removed = art.sweep_stale_artifacts()
    assert staging in removed and not os.path.exists(staging)


def test_publish_failure_with_no_winner_raises(
    art_root, tmp_path, spark, monkeypatch
):
    """(c) a rename failure where NO concurrent builder published must
    raise the explicit RuntimeError (not fail opaquely downstream or
    read a squatter's directory), and must not orphan the staging dir."""
    import glob

    import confluent_kafka_streams_examples_spark.artifacts as art

    src = tmp_path / "documents.parquet"
    src.write_bytes(b"v1")

    def bad_rename(a, b):
        raise OSError(13, "Permission denied")

    monkeypatch.setattr(art.os, "rename", bad_rename)
    with pytest.raises(RuntimeError, match="publish failed"):
        art.materialized(
            spark, str(src), "t", lambda: spark.range(1).toDF("id")
        )
    assert not glob.glob(
        art.artifact_path(str(src), "t") + "*"
    ), "neither artifact nor staging may remain"


def test_publish_failure_with_winner_reads_winner(
    art_root, tmp_path, spark, monkeypatch
):
    """The race the atomic rename exists for: when the rename loses but
    a concurrent builder HAS published, the loser discards its staging
    dir and reads the winner's artifact."""
    import confluent_kafka_streams_examples_spark.artifacts as art

    src = tmp_path / "documents.parquet"
    src.write_bytes(b"v1")
    path = art.artifact_path(str(src), "t")
    real_rename = os.rename

    def losing_rename(a, b):
        # simulate the concurrent winner: publish THEIR build first,
        # then fail ours the way a lost rename race does
        spark.range(7).toDF("id").write.parquet(path)
        raise OSError(39, "Directory not empty")

    monkeypatch.setattr(art.os, "rename", losing_rename)
    try:
        df = art.materialized(
            spark, str(src), "t", lambda: spark.range(7).toDF("id")
        )
        assert df.count() == 7
    finally:
        monkeypatch.setattr(art.os, "rename", real_rename)
    assert not os.path.exists(f"{path}.build.{os.getpid()}")


def test_manifest_write_failure_cleans_staging(
    art_root, tmp_path, spark, monkeypatch
):
    """A manifest write failure (ENOSPC analog) is inside the guarded
    region: the staging dir must be cleaned, not orphaned for the life
    of the builder pid."""
    import glob

    import confluent_kafka_streams_examples_spark.artifacts as art

    src = tmp_path / "documents.parquet"
    src.write_bytes(b"v1")

    def bad_dump(*a, **k):
        raise OSError(28, "No space left on device")

    monkeypatch.setattr(art.json, "dump", bad_dump)
    with pytest.raises(OSError):
        art.materialized(
            spark, str(src), "t", lambda: spark.range(1).toDF("id")
        )
    assert not glob.glob(art.artifact_path(str(src), "t") + "*")


def test_artifact_root_rejects_symlink_and_fixes_mode(
    tmp_path, monkeypatch
):
    """The per-uid root must be OURS, a real directory, and private —
    makedirs(exist_ok=True) alone accepts a squatter's symlink or a
    world-writable pre-created dir."""
    import confluent_kafka_streams_examples_spark.artifacts as art

    monkeypatch.setattr(art.tempfile, "gettempdir", lambda: str(tmp_path))
    name = f"ckse_artifacts_{os.getuid()}"

    # symlink squat -> refuse
    target = tmp_path / "elsewhere"
    target.mkdir()
    os.symlink(target, tmp_path / name)
    with pytest.raises(RuntimeError, match="not a directory"):
        art.artifact_root()
    os.unlink(tmp_path / name)

    # pre-created with permissive mode -> tightened to 0700
    (tmp_path / name).mkdir(mode=0o777)
    os.chmod(tmp_path / name, 0o777)
    root = art.artifact_root()
    assert oct(os.lstat(root).st_mode & 0o777) == "0o700"


def test_read_refresh_protects_just_read_artifact_from_sweep(
    art_root, tmp_path, spark
):
    """GC read-refresh (VERDICT r8 #6): materialized() bumps the
    artifact dir's mtime on the READ path, so an artifact that has
    gone stale (old engine digest) but was just handed to a reader
    survives a concurrent publish's sweep — the grace window counts
    from last read, not last publish."""
    import json
    import time

    import confluent_kafka_streams_examples_spark.artifacts as art

    src = tmp_path / "documents.parquet"
    src.write_bytes(b"v1")
    # build a real artifact at the canonical path...
    art.materialized(spark, str(src), "t", lambda: spark.range(3).toDF("id"))
    path = art.artifact_path(str(src), "t")
    # ...then make it sweep-eligible: stale manifest + aged past grace
    meta_file = os.path.join(path, "_CKSE_META")
    with open(meta_file, encoding="utf-8") as fh:
        meta = json.load(fh)
    meta["engine"] = "0ld_d1g3"
    with open(meta_file, "w", encoding="utf-8") as fh:
        json.dump(meta, fh)
    old = time.time() - art.GC_GRACE_SECONDS - 60
    os.utime(path, (old, old))
    # control: prove sweep-eligibility non-destructively
    assert time.time() - os.stat(path).st_mtime > art.GC_GRACE_SECONDS

    # a reader materializes it (cache hit -> utime refresh)...
    df = art.materialized(
        spark, str(src), "t", lambda: (_ for _ in ()).throw(AssertionError)
    )
    # ...and a concurrent sweeper must now leave it alone
    removed = art.sweep_stale_artifacts()
    assert removed == []
    assert os.path.exists(path)
    assert df.count() == 3  # the plan still reads clean

    # once the refresh ages out again, the sweep may retire it
    os.utime(path, (old, old))
    removed = art.sweep_stale_artifacts()
    assert path in removed


def test_compact_partitions_rewrites_only_offenders(spark, tmp_path):
    """compact_partitions (artifacts.py): partitions past the file-count
    threshold are rewritten to target_files each; partitions within it
    keep their exact files (never read, never touched); the table's
    rows are identical afterwards; directory names are unchanged so
    partition pruning survives."""
    import os

    from pyspark.sql import functions as F

    from confluent_kafka_streams_examples_spark.artifacts import (
        compact_partitions,
    )

    path = str(tmp_path / "idx")
    base = spark.range(100).select(
        (F.col("id") % 4).alias("list_id"), F.col("id").alias("vec_id")
    )
    base.repartition(1).write.partitionBy("list_id").parquet(path)
    # 6 daily appends landing ONLY in lists 0 and 1
    for day in range(6):
        spark.range(100 + day * 10, 100 + day * 10 + 10).select(
            (F.col("id") % 2).alias("list_id"), F.col("id").alias("vec_id")
        ).repartition(1).write.mode("append").partitionBy(
            "list_id"
        ).parquet(path)

    def files(part):
        d = os.path.join(path, f"list_id={part}")
        return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))

    before = {p: files(p) for p in range(4)}
    assert len(before[0]) == 7 and len(before[1]) == 7
    assert len(before[2]) == 1 and len(before[3]) == 1
    expect = sorted(
        (r["list_id"], r["vec_id"])
        for r in spark.read.parquet(path).collect()
    )

    done = compact_partitions(spark, path, "list_id", max_files=4)
    assert done == ["list_id=0", "list_id=1"]
    assert len(files(0)) == 1 and len(files(1)) == 1
    # untouched partitions keep their exact files (not rewritten)
    assert files(2) == before[2] and files(3) == before[3]
    got = sorted(
        (r["list_id"], r["vec_id"])
        for r in spark.read.parquet(path).collect()
    )
    assert got == expect
    # idempotent: nothing left over the threshold
    assert compact_partitions(spark, path, "list_id", max_files=4) == []
    # pruning still keys on the directory layout
    plan = (
        spark.read.parquet(path)
        .filter(F.col("list_id") == 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(list_id" in plan, plan


def test_write_partitions_scales_with_estimate(spark):
    """File-count scaling (guide §6 / VERDICT r11 #5): one file below a
    target-file's worth of estimated bytes, ~est/target files above,
    capped at 16x parallelism."""
    from confluent_kafka_streams_examples_spark.artifacts import (
        TARGET_FILE_BYTES,
        write_partitions,
    )

    assert write_partitions(None, spark) == 1
    assert write_partitions(0, spark) == 1
    assert write_partitions(1000, spark) == 1
    assert write_partitions(TARGET_FILE_BYTES - 1, spark) == 1
    assert write_partitions(4 * TARGET_FILE_BYTES, spark) == 5
    cap = 16 * spark.sparkContext.defaultParallelism
    assert write_partitions(10**18, spark) == cap


def test_materialized_write_parallelism_tracks_est_bytes(tmp_path, spark):
    """The artifact writer's FILE COUNT must follow the size estimate:
    a small estimate publishes without a repartition (single-digit
    files from the plan's own partitioning), a large one publishes a
    parallel multi-file layout — asserted at two probe estimates."""
    from confluent_kafka_streams_examples_spark.artifacts import (
        TARGET_FILE_BYTES,
        materialized,
    )

    src = tmp_path / "documents.parquet"
    src.write_bytes(b"v1")

    def build():
        return spark.range(0, 1000, 1, 2).selectExpr("id AS doc_id")

    def parquet_files(df):
        return {os.path.basename(f) for f in df.inputFiles()}

    small = materialized(spark, str(src), "probe|small", build)
    assert len(parquet_files(small)) <= 2

    big = materialized(
        spark, str(src), "probe|big", build,
        est_bytes=3 * TARGET_FILE_BYTES,
    )
    assert len(parquet_files(big)) == 4


def test_materialized_partitioned_write_hashes_on_partition_key(tmp_path, spark):
    """A partitioned artifact above one target file is repartitioned on
    its partition key: each partition directory gets one data file, not
    one per input partition, and no row is lost."""
    from collections import Counter

    from confluent_kafka_streams_examples_spark.artifacts import (
        TARGET_FILE_BYTES,
        materialized,
    )

    src = tmp_path / "embeddings.parquet"
    src.write_bytes(b"v1")

    def build():
        return spark.range(0, 1000, 1, 8).selectExpr(
            "id AS vec_id", "CAST(id % 2 AS INT) AS list_id"
        )

    art = materialized(
        spark, str(src), "probe|partitioned", build,
        partition_by="list_id", est_bytes=3 * TARGET_FILE_BYTES,
    )
    dirs = Counter(os.path.basename(os.path.dirname(f)) for f in art.inputFiles())
    assert dirs == {"list_id=0": 1, "list_id=1": 1}
    assert art.count() == 1000


def test_schema_not_cached_without_stamp(spark, tmp_path):
    """A stamp file that cannot be stat'ed gives no version to key the
    schema cache on: a table regenerated with a different schema behind
    it must read with its new schema, not the first one inferred."""
    from confluent_kafka_streams_examples_spark.session import _resolved_schema

    path = str(tmp_path / "t.parquet")
    missing = str(tmp_path / "no_such_manifest")
    spark.range(3).selectExpr("id AS a").write.parquet(path)
    assert _resolved_schema(spark, path, stamp_path=missing).names == ["a"]
    spark.range(3).selectExpr("id AS b", "id AS c").write.mode(
        "overwrite"
    ).parquet(path)
    assert _resolved_schema(spark, path, stamp_path=missing).names == ["b", "c"]
