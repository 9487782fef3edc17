"""Semi-structured (JSON/map/struct) operators + graph statistics.

Reference semantics:
- JSONB columns parsed and aggregated (`prisma/schema.prisma:144-147`,
  `extractJson` `lib/swarm-llm.server.ts:17-37`).
- Trust-graph statistics: degree, tier histograms, edge-weight means
  (`components/trust-graph/TrustGraphScene.tsx:146-170`; nodes/edges
  `types.ts:9-29`).

The graph is modeled relationally (node + edge DataFrames) and every
statistic is a join/aggregation — GraphFrames is unnecessary for
degree/stat workloads, and plain joins scale with AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kamiyo_hive_spark.catalog import parallel_table, table
from kamiyo_hive_spark.functions.money import money_sum_col
from kamiyo_hive_spark.plans.registry import register


@register(
    "json_extract_agg",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS k_bucket,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1
    ORDER BY k_bucket
    """,
    tags=("scalar-json", "semistructured"),
)
def json_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONB-style extraction feeding an aggregation: parse once with a
    declared schema (`from_json`, not per-row string scans), bucket, and
    aggregate. Schema-on-read with explicit types is the 100 TB rule —
    schemaless JSON scans don't prune or vectorize."""
    e = table(spark, sf_dir, "events")
    props = F.from_json("props", T.StructType([T.StructField("k", T.LongType())]))
    return (
        e.select(F.floor(props["k"] / 10).cast("long").alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(F.count("*").alias("n_events"), money_sum_col("value").alias("total_value"))
    )


@register(
    "graph_degree_stats",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT o.o_custkey AS src, l.l_suppkey AS dst
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    degs AS (
        SELECT src, count(*) AS out_degree FROM edges GROUP BY 1
    )
    SELECT out_degree, count(*) AS n_nodes
    FROM degs
    GROUP BY 1
    ORDER BY out_degree
    """,
    tags=("A7", "graph"),
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trust-graph-style statistics: build the customer→supplier edge
    set (distinct pairs through the order/lineitem joins) and compute
    the out-degree histogram — two shuffles (dedup, degree), both on
    keys with bounded cardinality."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst"))
        .distinct()
    )
    degs = edges.groupBy("src").agg(F.count("*").alias("out_degree"))
    return (
        degs.groupBy("out_degree").agg(F.count("*").alias("n_nodes"))
    )


@register(
    "graph_edge_weight_stats",
    oracle="""
    WITH edges AS (
        SELECT o.o_custkey AS src, l.l_suppkey AS dst,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS weight
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    )
    SELECT count(*) AS n_edges,
           count(DISTINCT src) AS n_src_nodes,
           count(DISTINCT dst) AS n_dst_nodes,
           CAST(SUM(CAST(weight AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_weight
    FROM edges
    """,
    tags=("A7", "graph"),
)
def graph_edge_weight_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """avgTrust-style edge statistics: weighted edges aggregated from
    facts, then whole-graph summary (totalNodes/totalEdges/avgTrust).

    Plan note (measured, kept on purpose): the two DISTINCT aggregates
    plan an Expand, but it triples only the ENTITY-scale edge rows
    feeding a map-side-combined single-group agg — the event-scale
    star join still runs exactly once. The tempting "split each
    distinct into its own two-level agg" variant re-executes the star
    join per branch (column pruning differs per branch, so the
    exchange isn't reused) — same speed at sf0.1 and strictly worse at
    100 TB.

    r9: lineitem reads via `parallel_table` — the local file is ONE
    row group, so the star join's probe side ran serially no matter
    the core count (2.39 → 1.80 s at sf0.1); on a production lake the
    scan has thousands of splits and the repartition moves data the
    edge aggregation was about to shuffle anyway."""
    o = table(spark, sf_dir, "orders")
    li = parallel_table(spark, sf_dir, "lineitem", "l_orderkey")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst"))
        .agg(money_sum_col("l_extendedprice").alias("weight"))
    )
    return edges.agg(
        F.count("*").alias("n_edges"),
        F.countDistinct("src").alias("n_src_nodes"),
        F.countDistinct("dst").alias("n_dst_nodes"),
        (money_sum_col("weight") / F.count("*")).alias("avg_weight"),
    )


@register(
    "approx_distinct_dashboard",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
           TRUE AS hll_within_3rsd,
           TRUE AS quantiles_within_band
    FROM orders
    GROUP BY 1
    ORDER BY o_orderpriority
    """,
    tags=("A12-approx", "sketch"),
)
def approx_distinct_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct + quantiles — the dashboard path at 100 TB
    where exact distinct would shuffle the world.

    HLL/QDigest sketch VALUES are engine-specific, so the oracle can't
    hash them directly; instead the query SELF-AUDITS: it computes both
    the sketch and the exact answer in one pass and emits the exact
    values plus booleans asserting the sketch landed inside its
    guaranteed error bounds (HLL within 3·rsd of exact; each
    dashboard quantile inside a ±5pp band — at accuracy 2000 the rank
    error is 0.05%, a hundredth of the band width, for both the probe
    and the band edges). The oracle pins the exact columns AND that
    every boolean is TRUE, so a sketch regression is a driver-visible
    hash mismatch — the strongest check an engine-specific sketch
    admits. tests/test_approx.py keeps the tighter numeric tolerances.

    Perf notes from measurement at sf0.1: exact `percentile` cost 10×
    the query budget and accuracy-40000 sketches 70× (KLL merge cost
    scales with accuracy) — the band check stays at dashboard accuracy
    on purpose. A DISTINCT aggregate mixed with sketch aggregates makes
    Catalyst plan an Expand where the sketch partials are keyed by
    (group, custkey) — ~100k one-row sketches (HLL or KLL alike) to
    merge, measured 4-40× slower than keeping every sketch in ONE
    plain aggregation. So: all sketches (HLL + both KLL arrays) in a
    single non-distinct agg, and the exact distinct count as a
    two-level groupBy (dedup on (group, custkey), then count) — both
    map-side-combinable, joined on the 5-row group key. Input spread
    via `parallel_table` so the partial aggregation isn't one task on
    a single-split local file."""
    o = parallel_table(spark, sf_dir, "orders", "o_orderkey")
    exact_agg = (
        o.groupBy("o_orderpriority", "o_custkey")
        .agg(F.lit(1))
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("exact_customers"))
    )
    sketch_agg = o.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_customers"),
        F.percentile_approx("o_totalprice", [0.5, 0.95, 0.99], 2000).alias("pq"),
        F.percentile_approx(
            "o_totalprice", [0.45, 0.55, 0.93, 0.97, 0.985, 0.995], 2000
        ).alias("eq"),
        F.count("*").alias("n_orders"),
    )
    agg = sketch_agg.join(exact_agg, "o_orderpriority")
    hll_ok = (
        F.abs(F.col("approx_customers") - F.col("exact_customers"))
        / F.col("exact_customers")
        <= 0.06
    )
    q_ok = (
        F.col("pq")[0].between(F.col("eq")[0], F.col("eq")[1])
        & F.col("pq")[1].between(F.col("eq")[2], F.col("eq")[3])
        & F.col("pq")[2].between(F.col("eq")[4], F.col("eq")[5])
    )
    return agg.select(
        "o_orderpriority",
        "n_orders",
        "exact_customers",
        hll_ok.alias("hll_within_3rsd"),
        q_ok.alias("quantiles_within_band"),
    )


@register(
    "pagerank_fixed_point",
    oracle="""
    WITH base_edges AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
      SELECT 'C' || CAST(c AS VARCHAR) AS src, 'S' || CAST(s AS VARCHAR) AS dst
      FROM base_edges
      UNION ALL
      SELECT 'S' || CAST(s AS VARCHAR) AS src, 'C' || CAST(c AS VARCHAR) AS dst
      FROM base_edges
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    deg AS (SELECT src AS id, count(*) AS outdeg FROM edges GROUP BY 1),
    p AS (SELECT CAST(1000000000000 AS BIGINT) // count(*) AS base FROM nodes),
    r0 AS (SELECT id, (SELECT base FROM p) AS rnk FROM nodes),
    c1 AS (SELECT e.dst AS id, CAST(SUM(r.rnk // d.outdeg) AS BIGINT) AS m
           FROM edges e JOIN r0 r ON r.id = e.src JOIN deg d ON d.id = e.src
           GROUP BY 1),
    r1 AS (SELECT n.id, (15 * (SELECT base FROM p) + 85 * COALESCE(c1.m, 0)) // 100 AS rnk
           FROM nodes n LEFT JOIN c1 ON c1.id = n.id),
    c2 AS (SELECT e.dst AS id, CAST(SUM(r.rnk // d.outdeg) AS BIGINT) AS m
           FROM edges e JOIN r1 r ON r.id = e.src JOIN deg d ON d.id = e.src
           GROUP BY 1),
    r2 AS (SELECT n.id, (15 * (SELECT base FROM p) + 85 * COALESCE(c2.m, 0)) // 100 AS rnk
           FROM nodes n LEFT JOIN c2 ON c2.id = n.id),
    c3 AS (SELECT e.dst AS id, CAST(SUM(r.rnk // d.outdeg) AS BIGINT) AS m
           FROM edges e JOIN r2 r ON r.id = e.src JOIN deg d ON d.id = e.src
           GROUP BY 1),
    r3 AS (SELECT n.id, (15 * (SELECT base FROM p) + 85 * COALESCE(c3.m, 0)) // 100 AS rnk
           FROM nodes n LEFT JOIN c3 ON c3.id = n.id)
    SELECT id AS node_id, CAST(rnk AS BIGINT) AS rank_micro
    FROM r3 ORDER BY rank_micro DESC, node_id LIMIT 100
    """,
    tags=("graph", "pagerank", "iterative"),
)
def pagerank_fixed_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trust-propagation ranking: 3 unrolled PageRank rounds (d=0.85)
    over the symmetric customer↔supplier graph, in FIXED-POINT integer
    arithmetic (total mass 10^12 micro-units, `div` everywhere).

    Fixed-point is the production trick, not a test convenience: float
    PageRank is order-of-summation dependent, so re-running the same
    job on a different partition layout (or a different engine) drifts
    in the low bits — integer mass is exactly reproducible anywhere,
    which is what makes this oracle-hashable at all.

    Scale posture: each round is ONE shuffle (contributions grouped by
    dst); `edges` and `deg` are persisted across rounds so the
    edge-build join runs once; rank/deg tables are node-sized (entity
    cardinality, not event cardinality) and AQE broadcasts them against
    the edge list when they fit. Rounds are a fixed constant — the
    standard bounded-iteration posture for analytics ranking (full
    convergence is GraphFrames/Pregel territory).
    """
    # Shuffle width from INPUT BYTES (file-stats parallelism; no-op at
    # warehouse scale where bytes exceed the session width) — A/B
    # best-of-6 at sf0.1: 2.44 s at width 32 vs 1.62 s pinned. The
    # rank-loop checkpoint runs inside the block, so the whole unrolled
    # plan executes at the pinned width.
    from kamiyo_hive_spark.catalog import input_sized_shuffle

    with input_sized_shuffle(spark, sf_dir, "orders", "lineitem"):
        return _pagerank_build(spark, sf_dir)


def _pagerank_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    # The fact side is the probe of a broadcast join; on a single-split
    # local file that probe would run in one task, so spread it first
    # (free at scale — the scan already has many splits there).
    li = parallel_table(spark, sf_dir, "lineitem", "l_orderkey")
    base_edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    # Internal node ids are PACKED LONGS (customer → 2k, supplier →
    # 2k+1): every per-round shuffle then hashes/compares 8-byte keys
    # instead of 'C<k>'/'S<k>' strings — ~25% off the whole query at
    # sf0.1, and pure win at 100 TB where the rank exchanges dominate.
    # The public ids are formatted only on the final 100-row output.
    cid = (F.col("c") * 2).cast("long")
    sid = (F.col("s") * 2 + 1).cast("long")
    bare_edges = base_edges.select(cid.alias("src"), sid.alias("dst")).unionAll(
        base_edges.select(sid.alias("src"), cid.alias("dst"))
    )
    # outdeg is FOLDED INTO the persisted edge list (one window over the
    # src-partitioned edges, computed once): each PageRank round then
    # joins edges against ranks alone — one join + one shuffle per
    # round instead of two joins. At 100 TB the per-round rank exchange
    # dominates; halving the joins in the loop body is the whole game.
    edges = bare_edges.withColumn(
        "outdeg", F.count("*").over(Window.partitionBy("src"))
    ).persist()
    # Node-sized relations are materialized once (localCheckpoint), and
    # each round's ranks are re-checkpointed — same discipline as the
    # CC loop: every round then compiles to the SAME flat plan (codegen
    # cache hit) instead of a lineage that grows per round.
    nodes = edges.select(F.col("src").alias("id")).distinct().localCheckpoint()
    n_nodes = nodes.count()
    base = 10**12 // n_nodes

    # NOTE on broadcast hints: rank/contrib are node-sized and look
    # broadcastable, but hinting them broadcast re-executes each round's
    # full lineage per broadcast build (no shuffle-stage reuse), which
    # measured 5x SLOWER at sf0.1. Shuffle joins + AQE's runtime
    # broadcast promotion keep stage reuse AND pick broadcast when the
    # runtime sizes justify it.
    ranks = nodes.select("id", F.lit(base).cast("long").alias("rnk"))
    for _ in range(3):
        # The graph is symmetric by construction (both edge directions
        # added), so every node has >= 1 in-edge and the contribution
        # aggregate already covers the full node set — the damping
        # update folds into the agg and the old nodes-left-join (one
        # extra shuffle join per round) is gone (VERDICT r4 task 1;
        # A/B at sf0.1: 2.64 -> 2.34 s best-of-6, identical ranks).
        ranks = (
            edges.join(ranks.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"), F.expr("rnk div outdeg").alias("part_m"))
            .groupBy("id")
            .agg(F.expr(f"(15 * {base}L + 85 * sum(part_m)) div 100").alias("rnk"))
        )
    # ONE checkpoint at loop end, not one per round: each round's rank
    # frame has a single consumer (the next round's join), so the lazy
    # 3-round chain has no duplicated subtree and runs as ONE job —
    # per-round checkpoints were 3 extra eager jobs whose only benefit
    # (lineage truncation) matters for long/unbounded loops, not a
    # fixed 3-round unroll (A/B best-of-6: 2.85 s → 2.45 s, identical
    # ranks; the checkpoint here still truncates before the final sort
    # and keeps the bounded-iteration contract for callers).
    ranks = ranks.localCheckpoint()
    node_id = F.when(
        F.col("id") % 2 == 0, F.concat(F.lit("C"), (F.col("id") / 2).cast("long").cast("string"))
    ).otherwise(F.concat(F.lit("S"), ((F.col("id") - 1) / 2).cast("long").cast("string")))
    return (
        ranks.select(node_id.alias("node_id"), F.col("rnk").alias("rank_micro"))
        .orderBy(F.desc("rank_micro"), "node_id")
        .limit(100)
    )


@register(
    "graph_triangle_count",
    oracle="""
    WITH pairs AS MATERIALIZED (
        SELECT DISTINCT c.c_nationkey AS cn, s.s_nationkey AS sn
        FROM orders o
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
    ),
    edges AS MATERIALIZED (
        SELECT DISTINCT least(cn, sn) AS a, greatest(cn, sn) AS b FROM pairs
    ),
    tri AS (
        SELECT e1.a, e1.b, e2.b AS c
        FROM edges e1
        JOIN edges e2 ON e2.a = e1.b
        JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    per_node AS (
        SELECT node, count(*) AS n_triangles
        FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        )
        GROUP BY 1
    )
    SELECT n.n_name AS nation, p.n_triangles
    FROM per_node p JOIN nation n ON n.n_nationkey = p.node
    ORDER BY nation
    """,
    tags=("graph", "triangle-count", "A7"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the inter-nation trade graph (nations are
    adjacent when any customer of one buys from a supplier of the
    other) — the clustering-coefficient primitive of graph analytics.

    Edge derivation is the event-scale work: one distinct over the
    4-way star join, after which the edge list is entity-scale. The
    enumeration uses the canonical ordered-triple formulation
    (a < b < c via least/greatest normalization), so each triangle is
    produced exactly once — and on big graphs the same two self-joins
    run degree-ordered (compact-forward) with the edge list
    hash-partitioned on the join key; the shape is unchanged."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(F.col("c_nationkey").alias("cn"), F.col("s_nationkey").alias("sn"))
        .distinct()
    )
    # The edge list is entity-scale output of event-scale work; a lazy
    # self-join would re-execute the star join once PER ALIAS (3x).
    # Materialize it first — at warehouse scale this is the edge table
    # any graph pipeline lands before enumeration.
    edges = (
        pairs.select(F.least("cn", "sn").alias("a"), F.greatest("cn", "sn").alias("b"))
        .distinct()
        .localCheckpoint()
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .select(F.col("e1.a").alias("a"), F.col("e1.b").alias("b"), F.col("e2.b").alias("c"))
    )
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    return (
        per_node.join(n, n.n_nationkey == per_node.node)
        .select(F.col("n_name").alias("nation"), "n_triangles")
    )


LAYOUT_SCHEMA = T.StructType(
    [
        T.StructField("graph_id", T.LongType()),
        T.StructField("node_id", T.StringType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("y", T.DoubleType()),
        T.StructField("z", T.DoubleType()),
        T.StructField("n_nodes", T.LongType()),
    ]
)


_LAYOUT_AUDIT_ORACLE = """
WITH co AS (
    SELECT CAST(c.c_nationkey AS BIGINT) AS graph_id, o.o_custkey,
           count(*) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
),
top_c AS (
    SELECT graph_id, o_custkey AS top_custkey
    FROM (SELECT graph_id, o_custkey,
                 row_number() OVER (PARTITION BY graph_id
                                    ORDER BY n_orders DESC, o_custkey) AS rk
          FROM co)
    WHERE rk <= 150
),
ls AS (
    SELECT CAST(s.s_nationkey AS BIGINT) AS s_graph_id, l.l_suppkey,
           count(*) AS n_items
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2
),
top_s AS (
    SELECT s_graph_id, l_suppkey AS top_suppkey
    FROM (SELECT s_graph_id, l_suppkey,
                 row_number() OVER (PARTITION BY s_graph_id
                                    ORDER BY n_items DESC, l_suppkey) AS srk
          FROM ls)
    WHERE srk <= 50
),
pairs AS (
    SELECT CAST(c.c_nationkey AS BIGINT) AS graph_id,
           'c' || o.o_custkey AS src,
           's' || l.l_suppkey AS dst
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN top_c tc ON tc.graph_id = CAST(c.c_nationkey AS BIGINT)
                 AND tc.top_custkey = o.o_custkey
    JOIN top_s ts ON ts.s_graph_id = CAST(s.s_nationkey AS BIGINT)
                 AND ts.top_suppkey = l.l_suppkey
    WHERE c.c_nationkey = s.s_nationkey
    GROUP BY 1, 2, 3
),
nodes AS (
    SELECT DISTINCT graph_id, src AS a FROM pairs
    UNION
    SELECT DISTINCT graph_id, dst FROM pairs
),
nn AS (SELECT graph_id, count(*) AS n_nodes FROM nodes GROUP BY 1),
ne AS (SELECT graph_id, count(*) AS n_edges FROM pairs GROUP BY 1)
SELECT nn.graph_id,
       CAST(nn.n_nodes AS BIGINT) AS n_nodes,
       CAST(ne.n_edges AS BIGINT) AS n_edges,
       TRUE AS coords_finite,
       TRUE AS bbox_bounded,
       TRUE AS centroid_preserved,
       TRUE AS min_separation_positive
FROM nn JOIN ne USING (graph_id)
ORDER BY nn.graph_id
"""

LAYOUT_AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("graph_id", T.LongType()),
        T.StructField("n_nodes", T.LongType()),
        T.StructField("n_edges", T.LongType()),
        T.StructField("coords_finite", T.BooleanType()),
        T.StructField("bbox_bounded", T.BooleanType()),
        T.StructField("centroid_preserved", T.BooleanType()),
        T.StructField("min_separation_positive", T.BooleanType()),
    ]
)


@register(
    "force_directed_layout",
    oracle=_LAYOUT_AUDIT_ORACLE,
    tags=("U9", "graph", "layout", "applyInPandas", "self-audit"),
)
def force_directed_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U9, now hash-oracled (VERDICT r4 task 9 — the last rows-only §2
    entry): the layout kernel emits a per-graph AUDIT row the DuckDB
    oracle replays exactly — graph cardinalities (n_nodes/n_edges, the
    full top-150/top-50 graph construction re-derived in SQL) plus
    physics invariants the oracle pins TRUE: coordinates finite, bbox
    within a sane bound, the centroid PRESERVED from initialization
    (both the pairwise repulsion and the spring forces are
    antisymmetric, so total momentum is exactly conserved — a real
    conservation law of the declared simulation, not a tautology), and
    strictly positive pairwise separation. The same self-audit idiom as
    the sketch/Poseidon flagships; per-node coordinates remain
    available via `force_directed_positions` (determinism and
    shard-invariance pinned in tests/test_graph.py).

    The 25-row audit executes under an input-sized shuffle width
    (no-op at scale; ~0.07 s off exchange scheduling at sf0.1) —
    `force_directed_positions` keeps the fully lazy plan."""
    from kamiyo_hive_spark.catalog import input_sized_shuffle

    with input_sized_shuffle(spark, sf_dir, "orders", "lineitem"):
        return _layout_frame(spark, sf_dir, audit=True).localCheckpoint()


def force_directed_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node (graph_id, node_id, x, y, z, n_nodes) coordinates — the
    HUD-facing output of the layout (see `force_directed_layout`)."""
    return _layout_frame(spark, sf_dir, audit=False)


def _layout_frame(spark: SparkSession, sf_dir: str, audit: bool) -> DataFrame:
    """U9 (closes the last SURVEY §2 row): force-directed graph layout,
    re-expressed Spark-first. The reference lays out ONE bounded HUD
    graph in the browser (`TrustGraphScene.tsx:89-144`: spherical init,
    10 iterations of pairwise repulsion 0.5/d² + edge-spring attraction
    d·0.02·w/100). The engine-side version of that workload is MANY
    bounded graphs — one per swarm/region — laid out independently, so
    the Spark shape is groupBy(graph_id).applyInPandas(layout): each
    task runs a vectorized batch-synchronous force simulation over its
    own subgraph, and a 100 TB deployment lays out millions of
    subgraphs in one shuffle. Iterative DataFrame self-joins would
    serialize this embarrassingly-parallel workload through 10 global
    barriers — the wrong plan on purpose avoided.

    Declared semantics (deterministic twin of the reference's
    simulation): nodes = customers + suppliers of one nation, edges =
    distinct cust→supp order pairs weighted by capped lineitem count;
    spherical init with hash01(node_id) replacing Math.random; forces
    applied batch-synchronously (gather-then-move) for 10 iterations —
    order-independent, so the layout is reproducible across partition
    layouts and engines, which the in-repo determinism test asserts."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    c = table(spark, sf_dir, "customer")
    sup = table(spark, sf_dir, "supplier")
    # A HUD graph is BOUNDED by design (the reference renders tens of
    # nodes): top-150 customers and top-50 suppliers per nation by
    # order volume. Graph COUNT grows with data; graph SIZE does not —
    # which is what keeps the per-group all-pairs force kernel O(1)
    # per task at any corpus scale (the first cut capped only the
    # customer side and the 10× tiling run measured 4.6×: the
    # supplier side was quietly unbounded).
    top_c = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").cast("long").alias("graph_id"), "o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("graph_id").orderBy(
                    F.desc("n_orders"), F.asc("o_custkey")
                )
            ),
        )
        .filter(F.col("rk") <= 150)
        # RENAMED key: top_c derives from `o`, so joining back on a
        # column literally named o_custkey resolves both sides to the
        # SAME attribute (trivially-true predicate — the classic
        # derived-self-join trap). A distinct name forces real
        # resolution.
        .select("graph_id", F.col("o_custkey").alias("top_custkey"))
    )
    top_s = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .groupBy(
            F.col("s_nationkey").cast("long").alias("s_graph_id"), "l_suppkey"
        )
        .agg(F.count("*").alias("n_items"))
        .withColumn(
            "srk",
            F.row_number().over(
                Window.partitionBy("s_graph_id").orderBy(
                    F.desc("n_items"), F.asc("l_suppkey")
                )
            ),
        )
        .filter(F.col("srk") <= 50)
        .select("s_graph_id", F.col("l_suppkey").alias("top_suppkey"))
    )
    # Broadcast the tiny top lists INTO the fact tables instead of
    # star-joining orders⋈lineitem⋈customer⋈supplier first: graph_id
    # already rides on each top list (it IS the nation key), so the
    # customer and supplier dimension joins drop out entirely and the
    # nation-equality filter becomes the graph_id==s_graph_id join
    # key. Two broadcast probes + one equi-join instead of a 6-way
    # star. Measured at sf0.1 (warm, best-of-8): 1.86 s → 1.04 s for
    # the pairs subtree.
    o_top = o.join(F.broadcast(top_c), o.o_custkey == top_c.top_custkey).select(
        "o_orderkey",
        "graph_id",
        F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
    )
    li_top = li.join(F.broadcast(top_s), li.l_suppkey == top_s.top_suppkey).select(
        F.col("l_orderkey"),
        "s_graph_id",
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    pairs = (
        o_top.join(
            li_top,
            (o_top.o_orderkey == li_top.l_orderkey)
            & (o_top.graph_id == li_top.s_graph_id),
        )
        .groupBy("graph_id", "src", "dst")
        .agg(F.least(F.count("*"), F.lit(100)).cast("double").alias("weight"))
    )
    # Ship ONLY the edge relation to the kernel: the node set of this
    # graph construction is BY DEFINITION the union of edge endpoints,
    # so a separate tagged node relation (nodes ∪ edges) would execute
    # the whole join pipeline three times — once for each endpoint
    # projection and once for the edges. The kernel derives the node
    # set from the edges it already holds. Measured at sf0.1: 2.41 s →
    # ~1.2 s (the pairs subtree is ~0.9 s and was running 3×).

    def layout(pdf):
        import hashlib

        import numpy as np
        import pandas as pd

        gid = int(pdf["graph_id"].iloc[0])
        node_ids = sorted(set(pdf["src"]) | set(pdf["dst"]))
        n = len(node_ids)
        idx = {v: i for i, v in enumerate(node_ids)}

        def h01(sid, salt):
            d = hashlib.md5(f"{sid}:{salt}".encode()).hexdigest()
            return int(d[:12], 16) / float(1 << 48)

        i_arr = np.arange(n, dtype=float)
        phi = np.arccos(np.clip(-1 + 2 * i_arr / max(n, 1), -1, 1))
        theta = np.sqrt(max(n, 1) * np.pi) * phi
        r = 4 + np.array([h01(v, "r") for v in node_ids])
        pos = np.stack(
            [
                r * np.cos(theta) * np.sin(phi),
                np.array([h01(v, "y") - 0.5 for v in node_ids]) * 2,
                r * np.sin(theta) * np.sin(phi),
            ],
            axis=1,
        )
        es = np.array([idx[v] for v in pdf["src"]], dtype=int)
        ed = np.array([idx[v] for v in pdf["dst"]], dtype=int)
        ew = pdf["weight"].to_numpy(dtype=float)
        pos0 = pos.copy()
        for _ in range(10):
            diff = pos[:, None, :] - pos[None, :, :]           # i - j
            d2 = (diff * diff).sum(-1)
            dist = np.sqrt(d2)
            np.fill_diagonal(dist, np.inf)
            dist = np.maximum(dist, 0.1)
            rep = (0.5 / (dist * dist))[:, :, None] * (diff / dist[:, :, None])
            force = rep.sum(axis=1)                           # repulsion
            if len(es):
                dvec = pos[ed] - pos[es]
                dd = np.maximum(np.sqrt((dvec * dvec).sum(-1)), 0.1)
                f = (dd * 0.02 * (ew / 100.0) / dd)[:, None] * dvec
                np.add.at(force, es, f)
                np.add.at(force, ed, -f)
            pos = pos + force
        if not audit:
            return pd.DataFrame(
                {
                    "graph_id": gid,
                    "node_id": node_ids,
                    "x": np.round(pos[:, 0], 6),
                    "y": np.round(pos[:, 1], 6),
                    "z": np.round(pos[:, 2], 6),
                    "n_nodes": n,
                }
            )
        # Per-graph audit row (see the registered docstring): the oracle
        # re-derives the cardinalities and pins the invariants TRUE.
        findiff = pos[:, None, :] - pos[None, :, :]
        findist = np.sqrt((findiff * findiff).sum(-1))
        np.fill_diagonal(findist, np.inf)
        return pd.DataFrame(
            {
                "graph_id": [gid],
                "n_nodes": [n],
                "n_edges": [len(pdf)],
                "coords_finite": [bool(np.isfinite(pos).all())],
                "bbox_bounded": [bool(np.abs(pos).max() <= 1e4)],
                "centroid_preserved": [
                    bool(np.abs(pos.mean(axis=0) - pos0.mean(axis=0)).max() < 1e-6)
                ],
                "min_separation_positive": [
                    bool(n <= 1 or float(findist.min()) > 1e-9)
                ],
            }
        )

    schema = LAYOUT_AUDIT_SCHEMA if audit else LAYOUT_SCHEMA
    # The group count is bounded by the nation count (25), so the
    # default shuffle-partition count leaves most grouped-map
    # partitions empty — and every non-empty partition pays the
    # Arrow/Python round-trip. Pre-partitioning by graph_id into a
    # handful of partitions keeps every worker busy without empty-
    # partition overhead (measured: kernel 1.39 s → 0.74 s at sf0.1).
    # At real scale the group key would be a swarm id with millions of
    # groups and this repartition would simply become the grouped-map
    # shuffle itself.
    #
    # Two r5 task-4 variants were A/B'd interleaved and REJECTED, both
    # hash-identical (full numbers in docs/BENCH_NOTES.md): (a) bucket
    # many graphs per Arrow batch via groupBy(pmod(xxhash64(graph_id)))
    # + an in-kernel loop — a wash (med 1.47 → 1.57 s; the floor is
    # the per-PARTITION worker round-trip, which repartition(4)
    # already amortizes, not the per-group calls); (b) size-gated
    # LOCAL solve (collect ≤100k edges, same kernel driver-side) —
    # SLOWER (med 1.54 → 1.66 s): the driver runs 25 n²-numpy kernels
    # serially where the grouped map runs them 4-way parallel, unlike
    # the union-find case where the local solve replaced a whole
    # propagation loop.
    return (
        pairs.repartition(4, "graph_id")
        .groupBy("graph_id")
        .applyInPandas(layout, schema=schema)
    )
