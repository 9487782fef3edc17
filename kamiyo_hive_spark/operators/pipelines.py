"""End-to-end composite pipelines — the reference's facade queries.

These chain many §2 operators into the exact shapes the reference's
product paths run, proving the operators compose:
- Discovery (`packages/hive-sdk/src/discovery.ts:25-62` +
  `keiro-client.ts:129-219`): derive → filter → score → sort → paginate
  → best-match.
- Trust-graph HUD (`components/trust-graph/TrustGraphScene.tsx:146-170,
  552-570`): node filter → edge double-semi-join → stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kamiyo_hive_spark.catalog import table
from kamiyo_hive_spark.plans.registry import register


@register(
    "discovery_pipeline",
    oracle="""
    WITH agents AS (
        SELECT c.c_custkey AS agent_id,
               c.c_name AS name,
               c.c_acctbal,
               count(o.o_orderkey) AS n_jobs,
               CAST(SUM(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_disputes
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2, 3
    ),
    derived AS (
        SELECT agent_id, name, n_jobs,
               CASE WHEN n_jobs = 0 THEN 100.0
                    ELSE round((1.0 - n_disputes / CAST(n_jobs AS DOUBLE)) * 100.0, 0)
               END AS success_rate,
               least(greatest(c_acctbal / 10.0, 0.0), 1000.0) AS reputation
        FROM agents
    ),
    scored AS (
        SELECT *,
               0.4 * (reputation / 1000.0)
             + 0.3 * (success_rate / 100.0)
             + 0.3 * least(CAST(n_jobs AS DOUBLE) / 20.0, 1.0) AS score
        FROM derived
        WHERE reputation >= 100.0 AND n_jobs >= 1
    )
    SELECT agent_id, name, n_jobs, success_rate, reputation, score
    FROM scored
    ORDER BY score DESC, agent_id
    LIMIT 20
    """,
    tags=("pipeline", "S4", "P3", "A10", "A13", "W3", "O3", "O4"),
)
def discovery_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The discover() facade end-to-end: per-agent job stats → derived
    success-rate (zero-guarded) and clamped reputation → predicate
    filter → composite 0.4/0.3/0.3 score → ranked page of 20. One
    aggregation and one TakeOrderedAndProject — the whole reference
    pipeline is two shuffles."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    agents = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy(
            F.col("c_custkey").alias("agent_id"),
            F.col("c_name").alias("name"),
            "c_acctbal",
        )
        .agg(
            F.count("o_orderkey").alias("n_jobs"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_disputes"),
        )
    )
    success = F.when(F.col("n_jobs") == 0, F.lit(100.0)).otherwise(
        F.round((1.0 - F.col("n_disputes") / F.col("n_jobs").cast("double")) * 100.0, 0)
    )
    reputation = F.least(F.greatest(F.col("c_acctbal") / 10.0, F.lit(0.0)), F.lit(1000.0))
    derived = agents.select(
        "agent_id",
        "name",
        "n_jobs",
        success.alias("success_rate"),
        reputation.alias("reputation"),
    )
    score = (
        0.4 * (F.col("reputation") / 1000.0)
        + 0.3 * (F.col("success_rate") / 100.0)
        + 0.3 * F.least(F.col("n_jobs").cast("double") / 20.0, F.lit(1.0))
    )
    return (
        derived.filter((F.col("reputation") >= 100.0) & (F.col("n_jobs") >= 1))
        .withColumn("score", score)
        .orderBy(F.desc("score"), F.asc("agent_id"))
        .limit(20)
    )


@register(
    "trust_graph_hud",
    oracle="""
    WITH nodes AS (
        SELECT s_suppkey AS node_id,
               CASE WHEN s_acctbal < 0 THEN 'ghost'
                    WHEN s_acctbal < 3000 THEN 'scout'
                    WHEN s_acctbal < 6000 THEN 'architect'
                    ELSE 'oracle' END AS tier
        FROM supplier
    ),
    visible AS (SELECT node_id, tier FROM nodes WHERE tier <> 'ghost'),
    edges AS (
        SELECT DISTINCT l_suppkey AS src, l_partkey % 10 AS dst_group,
               CAST(l_quantity AS INT) AS weight
        FROM lineitem
    ),
    visible_edges AS (
        SELECT e.* FROM edges e
        WHERE EXISTS (SELECT 1 FROM visible v WHERE v.node_id = e.src)
    )
    SELECT (SELECT count(*) FROM visible) AS total_nodes,
           (SELECT count(*) FROM visible_edges) AS total_edges,
           (SELECT CAST(SUM(CAST(weight AS BIGINT)) AS DOUBLE) / count(*) FROM visible_edges) AS avg_trust,
           (SELECT count(*) FROM visible WHERE tier = 'scout') AS n_scout,
           (SELECT count(*) FROM visible WHERE tier = 'architect') AS n_architect,
           (SELECT count(*) FROM visible WHERE tier = 'oracle') AS n_oracle
    """,
    tags=("pipeline", "A7", "J3", "P7", "P8"),
)
def trust_graph_hud(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trust-graph HUD stats: tier-band the nodes, hide one tier,
    keep only edges whose source survives (semi-join visibility), then
    compute totalNodes / totalEdges / avgTrust / tierCounts in one
    single-row summary."""
    s = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem")
    tier = (
        F.when(F.col("s_acctbal") < 0, "ghost")
        .when(F.col("s_acctbal") < 3000, "scout")
        .when(F.col("s_acctbal") < 6000, "architect")
        .otherwise("oracle")
    )
    visible = s.select(F.col("s_suppkey").alias("node_id"), tier.alias("tier")).filter(
        F.col("tier") != "ghost"
    )
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") % 10).alias("dst_group"),
        F.col("l_quantity").cast("int").alias("weight"),
    ).distinct()
    visible_edges = edges.join(
        F.broadcast(visible.select("node_id")),
        edges.src == F.col("node_id"),
        "left_semi",
    )
    node_stats = visible.agg(
        F.count("*").alias("total_nodes"),
        F.sum(F.when(F.col("tier") == "scout", 1).otherwise(0)).alias("n_scout"),
        F.sum(F.when(F.col("tier") == "architect", 1).otherwise(0)).alias("n_architect"),
        F.sum(F.when(F.col("tier") == "oracle", 1).otherwise(0)).alias("n_oracle"),
    )
    edge_stats = visible_edges.agg(
        F.count("*").alias("total_edges"),
        (F.sum(F.col("weight").cast("long")).cast("double") / F.count("*")).alias("avg_trust"),
    )
    return node_stats.crossJoin(edge_stats).select(
        "total_nodes", "total_edges", "avg_trust", "n_scout", "n_architect", "n_oracle"
    )


@register(
    "training_corpus_prep",
    oracle="""
    WITH fp AS (
        SELECT doc_id, lang, source, text,
               md5(lower(trim(text))) AS fingerprint
        FROM documents
    ),
    keepers AS (
        SELECT fingerprint, min(doc_id) AS keeper_id FROM fp GROUP BY 1
    ),
    deduped AS (
        SELECT f.* FROM fp f
        JOIN keepers k ON f.fingerprint = k.fingerprint AND f.doc_id = k.keeper_id
    ),
    quality AS (
        SELECT doc_id, lang, source,
               len(string_split_regex(trim(text), '\\s+')) AS n_tokens
        FROM deduped
        WHERE length(text) >= 100
    ),
    sampled AS (
        SELECT * FROM quality
        WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':97'), 1, 15)) AS BIGINT) % 1000
              < CASE lang WHEN 'en' THEN 300 WHEN 'de' THEN 600
                          WHEN 'fr' THEN 600 WHEN 'ja' THEN 800
                          ELSE 500 END
    )
    SELECT lang, source,
           count(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM sampled
    GROUP BY 1, 2
    ORDER BY lang, source
    """,
    tags=("pipeline", "training-pipeline", "dedup", "quality", "sampling"),
)
def training_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus preparation as ONE declarative plan:
    exact dedup (min-id keeper per content hash) → quality gate
    (length >= 100 chars) → deterministic stratified sample (per-language
    id-hash rates) → corpus-card summary per (lang, source).

    The point of composing it as a single DataFrame chain: Catalyst
    fuses the stages — one scan of `documents`, the dedup window's
    fingerprint shuffle is the only wide exchange before the final
    summary agg, and the quality + sample predicates execute as filters
    INSIDE that pipeline (sample before tokenize, so token counting
    touches only surviving rows). At 100 TB each stage would otherwise
    be its own job + materialization; here the optimizer schedules the
    whole prep in two stages."""
    from pyspark.sql import Window

    from kamiyo_hive_spark.operators.sampling import stratified_sample

    d = table(spark, sf_dir, "documents")
    fp = F.md5(F.encode(F.lower(F.trim(F.col("text"))), "UTF-8"))
    w = Window.partitionBy("fingerprint")
    deduped = (
        d.withColumn("fingerprint", fp)
        .withColumn("keeper_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("keeper_id"))
    )
    quality = deduped.filter(F.length("text") >= 100)
    sampled = stratified_sample(quality)
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return (
        sampled.select("lang", "source", n_tokens.alias("n_tokens"))
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )


def _multimodal_prep_oracle() -> str:
    from kamiyo_hive_spark.operators.dedup import span_cutlist_ctes
    from kamiyo_hive_spark.operators.multimodal import (
        PHASH_BANDS,
        PHASH_HAM_T,
        PHASH_N_DOCS,
        _phash_hash_ctes,
    )

    return f"""
    WITH {_phash_hash_ctes()},
    bands AS (
        SELECT doc_id, phash, b.band,
               (phash >> (14 * b.band)) & 16383 AS bval
        FROM hashes CROSS JOIN (SELECT unnest(range({PHASH_BANDS})) AS band) b
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        a.phash AS ha, b.phash AS hb
        FROM bands a
        JOIN bands b ON b.band = a.band AND b.bval = a.bval
                    AND b.doc_id > a.doc_id
    ),
    drops AS (
        SELECT DISTINCT doc_b AS doc_id FROM cand
        WHERE bit_count(xor(ha, hb)) <= {PHASH_HAM_T}
    ),
    {span_cutlist_ctes("s_")},
    cuts AS (
        SELECT doc_id, SUM(end_p - start_p + 1) AS tokens_cut
        FROM s_per GROUP BY 1
    ),
    slice AS (
        SELECT doc_id, lang, n_chars FROM documents
        WHERE doc_id < {PHASH_N_DOCS}
    )
    SELECT s.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs_slice,
           CAST(SUM(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(SUM(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped,
           CAST(SUM(CASE WHEN d.doc_id IS NULL THEN coalesce(c.tokens_cut, 0)
                    ELSE 0 END) AS BIGINT) AS tokens_cut_kept,
           CAST(SUM(CASE WHEN d.doc_id IS NULL THEN s.n_chars ELSE 0 END)
               AS BIGINT) AS chars_kept
    FROM slice s
    LEFT JOIN drops d ON d.doc_id = s.doc_id
    LEFT JOIN cuts c ON c.doc_id = s.doc_id
    GROUP BY s.lang ORDER BY s.lang
    """


def _mm_prep_inputs(spark: SparkSession, sf_dir: str):
    """The capstone's two member PRODUCTS, staged per corpus
    generation (r9, the `rrf_fusion` served-pools precedent): the
    phash near-dup DROP set (higher doc_id of every accepted pair) and
    the per-doc span cut-list totals. Each is the output of its
    member's own live registered query (`image_phash_neardup`,
    `span_dedup_cutlist`) — the composition consumes the products, the
    members keep computing them, and the whole-composition oracle
    still replays everything end-to-end so a drift in either staged
    derivation hash-fails here."""
    import os

    from kamiyo_hive_spark.operators.dedup import span_dedup_cutlist
    from kamiyo_hive_spark.operators.multimodal import image_phash_neardup
    from kamiyo_hive_spark.operators.similarity import _staged_index_df
    from kamiyo_hive_spark.sources.sinks import SCRATCH, ensure_staging

    base = os.path.basename(sf_dir)
    source = os.path.join(sf_dir, "documents.parquet")
    drops_dir = ensure_staging(
        f"{SCRATCH}/mm_drops_{base}",
        source,
        lambda tmp: image_phash_neardup(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(tmp),
    )
    cuts_dir = ensure_staging(
        f"{SCRATCH}/span_cuts_{base}",
        source,
        lambda tmp: span_dedup_cutlist(spark, sf_dir)
        .select("doc_id", "tokens_cut")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(tmp),
    )
    return (
        _staged_index_df(spark, drops_dir),
        _staged_index_df(spark, cuts_dir),
    )


@register(
    "multimodal_corpus_prep",
    oracle=_multimodal_prep_oracle(),
    tags=("pipeline", "multimodal", "dedup", "curation", "training-pipeline"),
)
def multimodal_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal curation capstone — chains this round's operators the
    way a vision-text corpus prep actually runs them: (1) perceptual-
    hash image near-dup pairs (real BMP decode -> dHash -> LSH bands ->
    Hamming filter) become a KEEP SET (drop every pair's higher doc_id;
    the lowest-id member of each near-dup clique survives), then (2)
    the surviving documents' repeated-substring CUT LISTS are accounted
    per language: docs kept/dropped, tokens scheduled for span removal
    among the kept, and kept character volume.

    Whole-composition oracle: DuckDB replays BOTH stages end-to-end
    (all 56 dHash gradient bits per image AND the rank-within-hash +
    island-merge cut lists), so a drift anywhere in either family or in
    the composition's join/keep logic is a driver-visible hash break —
    the same idiom as `curated_pretrain_pipeline`.

    Scale shape: the two member products are SERVED from staged
    relations (`_mm_prep_inputs`, the `rrf_fusion` precedent — a
    production prep pass consumes the dedup service's pair feed and
    the span-fingerprinting stamps, it does not re-decode the corpus);
    their live computations keep their own postures — band-collision
    pair join (never N²), rank-within-hash cut lists (no self-join).
    Here: one left join against the drop set and one against the
    per-doc cut list (both unhinted: AQE broadcasts at test scale but
    a web-scale drop set is a double-digit fraction of the corpus, so
    the fallback to a shuffled join is the correct 100 TB plan), one
    recipe-sized lang rollup."""
    from kamiyo_hive_spark.operators.multimodal import PHASH_N_DOCS

    drops, cuts = _mm_prep_inputs(spark, sf_dir)
    doc_slice = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < PHASH_N_DOCS)
        .select("doc_id", "lang", "n_chars")
    )
    dropped = F.col("drop_id").isNotNull()
    # No broadcast hints on purpose: at web scale the drop set is a
    # double-digit percentage of the corpus and the cut list is
    # corpus-sized — neither is broadcastable. AQE picks broadcast at
    # test scale (both sides are under the threshold) and falls back to
    # shuffled joins at 100 TB, which is exactly the right behavior.
    joined = doc_slice.join(
        drops.select(F.col("doc_id").alias("drop_id")),
        F.col("drop_id") == F.col("doc_id"),
        "left",
    ).join(cuts, "doc_id", "left")
    return (
        joined.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs_slice"),
            F.sum(F.when(~dropped, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(dropped, 1).otherwise(0)).cast("long").alias("n_dropped"),
            F.sum(
                F.when(~dropped, F.coalesce(F.col("tokens_cut"), F.lit(0))).otherwise(0)
            )
            .cast("long")
            .alias("tokens_cut_kept"),
            F.sum(F.when(~dropped, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("chars_kept"),
        )
        .orderBy("lang")
    )
