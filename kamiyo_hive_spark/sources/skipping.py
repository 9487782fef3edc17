"""File-level Bloom-filter data skipping (point lookups on a
non-partition key).

The lakehouse gap this fills: partition/z-order layout gives min-max
pruning on the layout keys, but a point lookup on a HIGH-CARDINALITY
column that is not in the layout (customer id, session id, doc hash)
prunes nothing — min/max ranges of a hash-distributed id span every
file. Delta and Iceberg solve it with per-file Bloom indexes; this
module implements the same contract over plain parquet: each staged
file carries a sidecar Bloom of its key set, the planner consults the
(KB-sized) sidecars and enumerates only the files whose Bloom says
"maybe". False positives cost an extra file read; false negatives are
impossible — the semantic result is ALWAYS identical to a full scan,
which is exactly what the DuckDB oracle (full scan of the source)
verifies.

Layout here: orders split into one file per order YEAR (a realistic
time-based ingest layout where customer ids are scattered), each with
a Bloom over its distinct o_custkey set (m=2^17 bits ≈ 16 KB, k=5
md5-derived probes — ~0.7 % fpp at 12k keys/file). The Bloom build is
one distributed pass (distinct keys → probe positions → distinct
positions per file, collected bounded by m); at warehouse scale the
bitmap OR would run as a per-file aggregate in the writer task, the
sidecars living next to the data files exactly as here.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kamiyo_hive_spark.catalog import table
from kamiyo_hive_spark.functions.money import money_sum_col
from kamiyo_hive_spark.plans.registry import register
from kamiyo_hive_spark.sources.sinks import SCRATCH, ensure_staging

BLOOM_M = 1 << 17  # bits per file (16 KB sidecar)
BLOOM_K = 5        # probes per key
SKIP_CUSTKEY = 2   # the point-lookup key (exists at every test SF)


def _bloom_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage orders as per-year files + per-year custkey Blooms."""
    out = os.path.join(SCRATCH, f"orders_bloomskip_{os.path.basename(sf_dir)}")
    source = os.path.join(sf_dir, "orders.parquet")

    def build(tmp: str) -> None:
        o = table(spark, sf_dir, "orders").withColumn(
            "o_year", F.year("o_orderdate")
        )
        o.write.partitionBy("o_year").mode("overwrite").parquet(tmp)
        # one distributed pass: distinct (year, key) -> distinct
        # (year, probe position); the collect is bounded by years * m
        pos_expr = F.array(
            *[
                (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    ":",
                                    F.col("o_custkey"),
                                    F.lit(str(i)),
                                )
                            ),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % BLOOM_M
                )
                for i in range(BLOOM_K)
            ]
        )
        # positions must match _spark_probe_positions exactly: md5 of
        # the key's decimal-string form with the same salt, first 15
        # hex digits as a 60-bit int, mod m
        rows = (
            o.select("o_year", "o_custkey")
            .distinct()
            .select("o_year", F.explode(pos_expr).alias("p"))
            .distinct()
            .collect()
        )
        blooms: dict[int, bytearray] = {}
        for r in rows:
            blooms.setdefault(r["o_year"], bytearray(BLOOM_M // 8))
            blooms[r["o_year"]][r["p"] // 8] |= 1 << (r["p"] % 8)
        sidecar = {
            str(y): base64.b64encode(bytes(b)).decode()
            for y, b in blooms.items()
        }
        with open(os.path.join(tmp, "_blooms.json"), "w") as f:
            json.dump(sidecar, f)

    return ensure_staging(out, source, build)


def _spark_probe_positions(key: int) -> list[int]:
    """The exact probe recipe the distributed build used: md5 of the
    string form, first 15 hex digits as a 60-bit int, mod m."""
    return [
        int(hashlib.md5(f"{key}:{i}".encode()).hexdigest()[:15], 16) % BLOOM_M
        for i in range(BLOOM_K)
    ]


def bloom_candidate_years(staged: str, key: int) -> list[int]:
    """Planner step: consult the KB-scale sidecars, return the files
    (years) whose Bloom might contain the key."""
    with open(os.path.join(staged, "_blooms.json")) as f:
        sidecar = json.load(f)
    years = []
    for y, b64 in sidecar.items():
        bits = base64.b64decode(b64)
        if all(
            bits[p // 8] & (1 << (p % 8))
            for p in _spark_probe_positions(key)
        ):
            years.append(int(y))
    return sorted(years)


@register(
    "bloom_skip_scan",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
               AS total_price
    FROM orders
    WHERE o_custkey = {SKIP_CUSTKEY}
    GROUP BY 1
    ORDER BY o_year
    """,
    tags=("skipping", "bloom-index", "point-lookup", "layout"),
)
def bloom_skip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup on a non-layout key through the file-level Bloom
    index: the planner reads only the per-year files whose sidecar
    Bloom reports "maybe contains custkey" — at sf0.01 that is 3 of 7
    files (tests assert `inputFiles()` shrank), and the oracle's full
    scan of the source proves the skipped files contained nothing
    (no-false-negative contract). The remaining per-file predicate
    still pushes to the parquet scan for row-group pruning inside the
    selected files.

    Scale shape: sidecars are O(16 KB per file) metadata — at 100 TB
    the candidate enumeration reads the Bloom column of the manifest
    (as Delta/Iceberg do), never the data; query cost tracks the
    files that actually contain the key (+ ~0.7 % fp), not the table
    size."""
    staged = _bloom_dir(spark, sf_dir)
    years = bloom_candidate_years(staged, SKIP_CUSTKEY)
    if not years:
        # Key absent from every Bloom and no false positive: the point
        # lookup's legitimate answer is empty. spark.read.parquet(*[])
        # would raise, so build the empty result with the output schema
        # directly — a general planner helper must handle zero files.
        return spark.createDataFrame(
            [], "o_year bigint, n_orders bigint, total_price double"
        )
    paths = [os.path.join(staged, f"o_year={y}") for y in years]
    o = spark.read.parquet(*paths).filter(F.col("o_custkey") == SKIP_CUSTKEY)
    return (
        o.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.count("*").alias("n_orders"),
            money_sum_col("o_totalprice").alias("total_price"),
        )
        .orderBy("o_year")
    )
