"""File-touch accounting for the maintenance operators: oracle parity
proves WHAT the result is; these prove HOW it was produced — a
targeted delete or update must not rewrite the world, and compaction
must actually reduce the file count.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kamiyo_hive_spark.functions.money import dec
from kamiyo_hive_spark.sources.maintenance import (
    COMPACT_FILES,
    DELETE_KEY_MOD,
    DELETE_POOL_FILES,
    FRAGMENT_FILES,
    UPDATE_BUMP,
    UPDATE_KEY_MOD,
    compacted_log,
    delete_pool_log,
    rewrite_pool,
)


def _check_touch_accounting(pool, log) -> None:
    """Shared copy-on-write checks. The rewrite is version 1 of the
    per-op table, and version 0 is the clone of the staged pool."""
    base = pool.snapshot_files()
    assert len(base) == DELETE_POOL_FILES
    assert log.snapshot_files(0) == base
    rewritten = log.history()[1].removes
    # selective: some files affected, but not all (true at the test
    # scale factors — see DELETE_POOL_FILES)
    assert 0 < len(rewritten) < len(base)
    untouched = sorted(set(base) - set(rewritten))
    assert sorted(set(log.snapshot_files()) & set(base)) == untouched
    # untouched files are the staged pool's SAME inodes (zero copy)
    for f in untouched:
        assert (
            os.stat(os.path.join(log.root, f)).st_ino
            == os.stat(os.path.join(pool.root, f)).st_ino
        ), f


def test_targeted_delete_touches_subset_and_links_rest(spark, sf_dir):
    pool = delete_pool_log(spark, sf_dir)
    doomed = F.col("o_custkey") % DELETE_KEY_MOD == 0
    log = rewrite_pool(
        spark, sf_dir, "delete", doomed, lambda rows: rows.filter(~doomed)
    )
    _check_touch_accounting(pool, log)
    post, pooled = log.read(spark), pool.read(spark)
    # no doomed rows survive
    assert post.filter(doomed).count() == 0
    # row conservation: post-delete == pool minus doomed
    n_doomed = pooled.filter(doomed).count()
    assert n_doomed > 0  # non-vacuous
    assert post.count() == pooled.count() - n_doomed


def test_keyed_update_conserves_rows_and_links(spark, sf_dir):
    """UPDATE must conserve row count, touch only the files containing
    target keys, and leave the rest as the same inodes."""
    pool = delete_pool_log(spark, sf_dir)
    hit = F.col("o_custkey") % UPDATE_KEY_MOD == 0
    bump = (dec("o_totalprice") + F.lit(UPDATE_BUMP).cast("decimal(14,2)")).cast("double")
    log = rewrite_pool(
        spark, sf_dir, "update", hit,
        lambda rows: rows.withColumn(
            "o_totalprice", F.when(hit, bump).otherwise(F.col("o_totalprice"))
        ),
    )
    _check_touch_accounting(pool, log)
    post, pooled = log.read(spark), pool.read(spark)
    assert post.count() == pooled.count()
    # updated rows really changed; untouched rows really didn't
    n_hit = pooled.filter(hit).count()
    assert n_hit > 0
    joined = pooled.select("o_orderkey", F.col("o_totalprice").alias("before")).join(
        post.select("o_orderkey", F.col("o_totalprice").alias("after"), "o_custkey"),
        "o_orderkey",
    )
    changed = joined.filter(F.col("before") != F.col("after"))
    assert changed.count() == n_hit
    assert changed.filter(~hit).count() == 0


def test_compaction_reduces_files_with_identical_rows(spark, sf_dir):
    log = compacted_log(spark, sf_dir)
    assert len(log.snapshot_files(0)) == FRAGMENT_FILES
    assert len(log.snapshot_files()) == COMPACT_FILES
    before, after = log.read(spark, 0), log.read(spark)
    assert after.count() == before.count() > 0
    assert before.exceptAll(after).count() == 0
    assert after.exceptAll(before).count() == 0
