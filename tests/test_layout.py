"""Physical-layout tests: the z-order and snapshot operators' ORACLE
parity proves the layouts are semantically invisible; these tests pin
the mechanisms underneath (z-order pruning on both keys is pinned by
tests/test_txlog.py::test_zorder_makes_both_columns_prunable).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kamiyo_hive_spark.functions.money import cents
from kamiyo_hive_spark.sources.layout import SNAPSHOT_CUTOVER, snapshot_log
from kamiyo_hive_spark.sources.txlog import _morton_z, read_changes


def test_morton_z_interleave_known_bits(spark):
    # bounds [0, 2^bits - 1] make each bucket id the value itself;
    # x=0b101 (bits at 0,2), y=0b011 (bits at 0,1)
    # z = x bits at even positions (0,4) | y bits at odd positions (1,3)
    bits = 3
    bounds = {"min_x": 0, "max_x": (1 << bits) - 1, "min_y": 0, "max_y": (1 << bits) - 1}
    z = (
        spark.createDataFrame([(0b101, 0b011)], "x long, y long")
        .select(_morton_z(bounds, ("x", "y"), bits))
        .collect()[0][0]
    )
    assert z == (1 << 0) | (1 << 4) | (1 << 1) | (1 << 3)


def test_snapshot_isolation_and_incremental_algebra(spark, sf_dir):
    log = snapshot_log(spark, sf_dir)
    v0, v1 = log.read(spark, version=0), log.read(spark, version=1)
    inc = read_changes(log, spark, 0, 1)

    # isolation: version 0 holds no post-cutover rows although 1 exists
    cut = F.lit(SNAPSHOT_CUTOVER).cast("timestamp")
    assert v0.filter(F.col("o_orderdate") >= cut).count() == 0
    # an append-only transition feeds only inserts
    assert inc.filter(F.col("_change_type") != "insert").count() == 0

    # v0 + increment == v1, per status: row counts and exact cent sums
    def per_status(df):
        return {
            r[0]: (r[1], r[2])
            for r in df.groupBy("o_orderstatus")
            .agg(F.count("*"), F.sum(cents("o_totalprice")))
            .collect()
        }

    a, i, b = per_status(v0), per_status(inc), per_status(v1)
    assert a and i  # non-vacuous on both sides
    for s in b:
        n0, c0 = a.get(s, (0, 0))
        n1, c1 = i.get(s, (0, 0))
        assert (n0 + n1, c0 + c1) == b[s], s
    assert set(a) | set(i) == set(b)

    # the incremental read never touches version 0's files
    def files(df):
        return {r[0] for r in df.select(F.input_file_name()).distinct().collect()}

    assert files(v0).isdisjoint(files(inc))
