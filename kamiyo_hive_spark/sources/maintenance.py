"""Table-maintenance operators over :class:`TxLog` tables: targeted
delete (right-to-be-forgotten), keyed update and small-file compaction.

The background jobs every parquet lake runs forever:

- ``targeted_delete_rewrite`` / ``keyed_update_rewrite`` — DELETE or
  UPDATE WHERE key IN (...) over immutable files. You cannot edit
  parquet in place; the correct shape is to find the files that
  CONTAIN matching rows, rewrite only those, and keep every untouched
  file byte-identical. Both run as ``TxLog.clone`` (hard links) plus
  ``rewrite_where`` — one copy-on-write path. Touching 1% of files for
  a 1%-selective delete is the entire difference between a GDPR
  erasure sweep that takes minutes and one that rewrites 100 TB.
  (Deletion-vector deletes, which rewrite no data file, are
  ``acid_deletion_vectors``.)

- ``small_file_compaction`` — streaming ingest and partitioned writes
  strand thousands of KB-sized files; scans then pay per-file open
  costs and lose row-group pruning. ``optimize`` bin-packs them into
  a few files in one rewrite commit. It must be a pure re-layout: the
  oracle computes from the ORIGINAL source, so the hash proves
  compaction changed nothing but the file boundaries.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kamiyo_hive_spark.catalog import table
from kamiyo_hive_spark.functions.money import dec, money_sum_col
from kamiyo_hive_spark.plans.registry import register
from kamiyo_hive_spark.sources import txlog
from kamiyo_hive_spark.sources.sinks import SCRATCH, ensure_txlog, fresh_staging
from kamiyo_hive_spark.sources.txlog import TxLog


# ---------------------------------------------------------------------------
# Targeted delete / keyed update: copy-on-write through the log
# ---------------------------------------------------------------------------

DELETE_POOL_FILES = 64       # file pool: range-partitioned by custkey.
                             # The every-97th-custkey target set then
                             # leaves files untouched at sf0.001 (62 of
                             # 64) and sf0.01 (48); at sf0.1 every
                             # range holds a target and all 64 files
                             # are rewritten.
DELETE_KEY_MOD = 97          # forget customers with custkey % 97 == 0


def delete_pool_log(spark: SparkSession, sf_dir: str) -> TxLog:
    """Orders as a txlog table of custkey-ranged files — the layout
    under which a keyed delete or update touches few files (each
    custkey lives in exactly one file's range)."""
    return ensure_txlog(
        os.path.join(SCRATCH, f"txlog_orders_pool_{os.path.basename(sf_dir)}"),
        os.path.join(sf_dir, "orders.parquet"),
        lambda log: log.append(
            table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
            .repartitionByRange(DELETE_POOL_FILES, "o_custkey")
            .sortWithinPartitions("o_custkey"),
            writer="ingest",
        ),
    )


def rewrite_pool(spark: SparkSession, sf_dir: str, op: str, pred, transform) -> TxLog:
    """One copy-on-write DML run over the staged pool, shared by DELETE
    and UPDATE: clone the pool (version 0, every file a hard link of
    the staged one), then ``rewrite_where`` rewrites only the files
    holding rows matching ``pred`` as ``transform(rows)`` (version 1).
    Runs inside a fresh-staging swap, so a concurrent session never
    reads a half-built table."""
    pool = delete_pool_log(spark, sf_dir)
    out = os.path.join(SCRATCH, f"txlog_orders_{op}_{os.path.basename(sf_dir)}")
    return TxLog(fresh_staging(
        out, lambda tmp: pool.clone(tmp).rewrite_where(spark, pred, transform, writer=op)
    ))


_DELETE_ORACLE = f"""
SELECT o_orderstatus,
       count(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total_price,
       CAST(SUM(CASE WHEN o_custkey % {DELETE_KEY_MOD} = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_leftover_targets
FROM orders
WHERE o_custkey % {DELETE_KEY_MOD} <> 0
GROUP BY 1
ORDER BY o_orderstatus
"""


@register(
    "targeted_delete_rewrite",
    oracle=_DELETE_ORACLE,
    tags=("maintenance", "delete", "gdpr"),
)
def targeted_delete_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten DELETE over immutable parquet: rewrite only
    the pool files containing target customers, without the doomed
    rows; every untouched file stays the staged pool's inode. Then
    aggregate the post-delete snapshot. The oracle computes the same
    aggregate as a plain anti-filter on the source — the hash proves
    the delete removed exactly the target rows and nothing else.
    `n_leftover_targets` is pinned to 0 by both sides (the erasure
    actually happened). File-touch accounting is unit-tested
    (tests/test_maintenance.py): untouched files must be the SAME
    inodes, and rewrites must touch a strict subset."""
    doomed = F.col("o_custkey") % DELETE_KEY_MOD == 0
    post = rewrite_pool(
        spark, sf_dir, "delete", doomed, lambda rows: rows.filter(~doomed)
    ).read(spark)
    return (
        post.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            money_sum_col("o_totalprice").alias("total_price"),
            F.sum(F.when(doomed, 1).otherwise(0))
            .cast("long")
            .alias("n_leftover_targets"),
        )
    )


# ---------------------------------------------------------------------------
# Small-file compaction
# ---------------------------------------------------------------------------

FRAGMENT_FILES = 64   # the strand-of-small-files starting state
COMPACT_FILES = 4     # target after bin-packing


def compacted_log(spark: SparkSession, sf_dir: str) -> TxLog:
    """Lineitem shattered into 64 files (the post-streaming-ingest
    pathology, staged once), cloned and compacted to ``COMPACT_FILES``
    by one ``optimize`` commit. Version 0 of the returned table is the
    fragment pool, version 1 the compacted layout."""
    frags = ensure_txlog(
        os.path.join(SCRATCH, f"txlog_lineitem_fragments_{os.path.basename(sf_dir)}"),
        os.path.join(sf_dir, "lineitem.parquet"),
        lambda log: log.append(
            table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
            .repartition(FRAGMENT_FILES),
            writer="ingest",
        ),
    )
    out = os.path.join(SCRATCH, f"txlog_lineitem_compacted_{os.path.basename(sf_dir)}")
    return TxLog(fresh_staging(
        out,
        lambda tmp: txlog.optimize(frags.clone(tmp), spark, target_files=COMPACT_FILES),
    ))


_COMPACT_ORACLE = """
SELECT count(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS total_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS total_price,
       CAST(MIN(l_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(l_orderkey) AS BIGINT) AS max_key
FROM lineitem
"""


@register(
    "small_file_compaction",
    oracle=_COMPACT_ORACLE,
    tags=("maintenance", "compaction"),
)
def small_file_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bin-pack 64 ingest fragments into 4 files and aggregate the
    compacted table. The oracle computes from the ORIGINAL lineitem
    source — two layout hops away — so the hash proves compaction is a
    pure re-layout (no row lost, duplicated, or altered). The file-count
    reduction is unit-tested. At 100 TB this is the nightly OPTIMIZE
    job: the scan cost of the fragment pool is per-file opens; the
    compacted layout restores sequential reads."""
    return compacted_log(spark, sf_dir).read(spark).agg(
        F.count("*").alias("n_rows"),
        money_sum_col("l_quantity").alias("total_qty"),
        money_sum_col("l_extendedprice").alias("total_price"),
        F.min("l_orderkey").alias("min_key"),
        F.max("l_orderkey").alias("max_key"),
    )


# ---------------------------------------------------------------------------
# Keyed UPDATE (copy-on-write) — completes the DML triad
# ---------------------------------------------------------------------------

UPDATE_KEY_MOD = 131    # customers getting a price adjustment
UPDATE_BUMP = "25.00"   # exact decimal bump applied to their orders


@register(
    "keyed_update_rewrite",
    oracle=f"""
    SELECT o_orderstatus,
           count(*) AS n_rows,
           CAST(SUM(CASE WHEN o_custkey % {UPDATE_KEY_MOD} = 0
                         THEN CAST(o_totalprice AS DECIMAL(14,2))
                              + CAST({UPDATE_BUMP} AS DECIMAL(14,2))
                         ELSE CAST(o_totalprice AS DECIMAL(14,2)) END)
                AS DOUBLE) AS total_price,
           CAST(SUM(CASE WHEN o_custkey % {UPDATE_KEY_MOD} = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_updated
    FROM orders
    GROUP BY 1
    ORDER BY o_orderstatus
    """,
    tags=("maintenance", "update", "copy-on-write"),
)
def keyed_update_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE WHERE key IN (...) over immutable parquet — the third leg
    of the DML triad (append = `snapshot_time_travel`, delete =
    `targeted_delete_rewrite`): the same copy-on-write path rewrites
    ONLY the files containing target customers with the price
    adjustment applied (exact DECIMAL arithmetic — money never transits
    double during the update), and every untouched file stays the
    staged pool's inode. Row count must be conserved (an update never
    adds or drops rows) and the oracle recomputes the adjusted
    aggregate straight from the source."""
    hit = F.col("o_custkey") % UPDATE_KEY_MOD == 0
    bump = (
        dec("o_totalprice") + F.lit(UPDATE_BUMP).cast("decimal(14,2)")
    ).cast("double")
    post = rewrite_pool(
        spark,
        sf_dir,
        "update",
        hit,
        lambda rows: rows.withColumn(
            "o_totalprice", F.when(hit, bump).otherwise(F.col("o_totalprice"))
        ),
    ).read(spark)
    return (
        post.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            money_sum_col("o_totalprice").alias("total_price"),
            F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("n_updated"),
        )
    )
