"""`streaming_run`: the one scoped context every streaming start uses.

Pins the confs it sets and restores, the refuse-overwrite property of
the FileSystem checkpoint manager it selects (the property the default
FileContext manager gave), that checkpoints stay on the checksummed
local FileSystem, and the no-data-batch guard.
"""

from __future__ import annotations

import glob
import os

import pandas as pd
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from kamiyo_hive_spark.streaming.jobs import (
    CHECKPOINT_FILE_MANAGER,
    drain,
    streaming_run,
)

SHUFFLE = "spark.sql.shuffle.partitions"
MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
NO_DATA = "spark.sql.streaming.noDataMicroBatches.enabled"


def _file_stream(spark, root):
    src = os.path.join(root, "src")
    spark.range(40).selectExpr(
        "id", "id % 4 AS k", "timestamp_seconds(id * 60) AS ts"
    ).repartition(2).write.parquet(src)
    return (
        spark.readStream.schema("id long, k long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )


def _confs(spark):
    return {k: spark.conf.get(k, None) for k in (SHUFFLE, MANAGER, NO_DATA)}


def test_confs_set_inside_and_restored(spark, tmp_path):
    stream = _file_stream(spark, str(tmp_path))
    before = _confs(spark)
    with streaming_run(stream, "append", 3, no_data_batches=False):
        assert _confs(spark) == {
            SHUFFLE: "3", MANAGER: CHECKPOINT_FILE_MANAGER, NO_DATA: "false"
        }
    assert _confs(spark) == before

    with streaming_run(stream, "append", 5):
        # no-data batches keep whatever the session had
        assert _confs(spark) == {
            SHUFFLE: "5", MANAGER: CHECKPOINT_FILE_MANAGER, NO_DATA: before[NO_DATA]
        }
    assert _confs(spark) == before


def test_confs_restored_when_body_raises(spark, tmp_path):
    stream = _file_stream(spark, str(tmp_path))
    spark.conf.set(NO_DATA, "true")
    try:
        before = _confs(spark)
        with pytest.raises(RuntimeError, match="boom"):
            with streaming_run(stream, "append", 2, no_data_batches=False):
                raise RuntimeError("boom")
        assert _confs(spark) == before
    finally:
        spark.conf.unset(NO_DATA)


def _checkpoint_file_manager(spark, path):
    jvm = spark._jvm
    factory = getattr(
        jvm.org.apache.spark.sql.execution.streaming.checkpointing,
        "CheckpointFileManager$",
    )
    return getattr(factory, "MODULE$").create(
        jvm.org.apache.hadoop.fs.Path(path),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )


def test_manager_refuses_to_overwrite_and_keeps_checksums(spark, tmp_path):
    stream = _file_stream(spark, str(tmp_path))
    root = str(tmp_path / "ckpt")
    os.makedirs(root)
    with streaming_run(stream, "append"):
        fm = _checkpoint_file_manager(spark, f"file://{root}")
    assert fm.getClass().getName() == CHECKPOINT_FILE_MANAGER

    target = spark._jvm.org.apache.hadoop.fs.Path(f"file://{root}/0")
    out = fm.createAtomic(target, False)
    out.write(1)
    out.close()
    out = fm.createAtomic(target, False)
    out.write(2)
    with pytest.raises(Py4JJavaError) as err:
        out.close()
    exists = spark._jvm.java.lang.Class.forName(
        "org.apache.hadoop.fs.FileAlreadyExistsException"
    )
    assert exists.isInstance(err.value.java_exception)
    with open(os.path.join(root, "0"), "rb") as fh:
        assert fh.read() == b"\x01"  # the first write survives
    assert os.path.exists(os.path.join(root, ".0.crc"))


def test_checkpointed_run_writes_crc_files(spark, tmp_path):
    stream = _file_stream(spark, str(tmp_path))
    ckpt = str(tmp_path / "ckpt")
    agg = stream.groupBy("k").agg(F.count("*").alias("n"))
    with streaming_run(agg, "complete", no_data_batches=False) as writer:
        drain(
            writer.format("memory")
            .queryName("streaming_run_crc_out")
            .option("checkpointLocation", ckpt)
            .start()
        )
    rows = spark.table("streaming_run_crc_out").orderBy("k").collect()
    assert [(r.k, r.n) for r in rows] == [(0, 10), (1, 10), (2, 10), (3, 10)]
    for log in ("offsets", "commits"):
        assert os.path.exists(os.path.join(ckpt, log, "1"))
        assert os.path.exists(os.path.join(ckpt, log, ".1.crc"))
    assert glob.glob(os.path.join(ckpt, "state", "0", "*", ".*.delta.crc"))


def _windowed_agg(stream):
    return (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "k")
        .count()
    )


def _outer_interval_join(stream):
    a = stream.withWatermark("ts", "10 minutes")
    b = stream.select(
        F.col("k").alias("k2"), F.col("ts").alias("ts2")
    ).withWatermark("ts2", "10 minutes")
    return a.join(
        b,
        (F.col("k") == F.col("k2"))
        & (F.col("ts2") <= F.col("ts"))
        & (F.col("ts2") > F.col("ts") - F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    )


def _timed_state(stream):
    def update(key, pdfs, state):
        yield pd.DataFrame({"k": [key[0]]})

    return stream.withWatermark("ts", "10 minutes").groupBy("k").applyInPandasWithState(
        update, "k long", "n long", "append", "EventTimeTimeout"
    )


@pytest.mark.parametrize(
    "build, emitter",
    [
        (_windowed_agg, "append-mode watermarked aggregation"),
        (_outer_interval_join, "LeftOuter stream-stream join"),
        (_timed_state, "FlatMapGroupsInPandasWithState with EventTimeTimeout"),
    ],
)
def test_no_data_batches_off_refuses_append_plans_that_flush_in_them(
    spark, tmp_path, build, emitter
):
    result = build(_file_stream(spark, str(tmp_path)))
    before = _confs(spark)
    with pytest.raises(ValueError, match=emitter):
        with streaming_run(result, "append", no_data_batches=False):
            pass
    assert _confs(spark) == before
    # with the engine's empty batches kept, the same plan may run
    with streaming_run(result, "append"):
        pass


def test_windowed_aggregation_outside_append_mode_is_allowed(spark, tmp_path):
    result = _windowed_agg(_file_stream(spark, str(tmp_path)))
    for mode in ("complete", "update"):
        with streaming_run(result, mode, no_data_batches=False):
            pass
