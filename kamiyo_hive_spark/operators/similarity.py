"""Similarity search over the `embeddings` table (driver-mandated).

Brute-force cosine top-k is the oracle-checked baseline; the LSH-bucketed
variant (random hyperplanes, deterministic seed) is the 100 TB scale
path — buckets shrink the candidate set so each query touches a few
partitions instead of the whole corpus.

Float discipline: embeddings are `array<float>`; all math is done after
an explicit cast to double, folding left-to-right with `F.aggregate`
(sequential, deterministic) so Spark and the DuckDB oracle produce
bit-identical sums. Scores are rounded to 9 dp before ranking to erase
any residual last-ulp ambiguity at the top-k boundary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kamiyo_hive_spark.catalog import parallel_table, table
from kamiyo_hive_spark.plans.registry import register

QUERY_VEC_ID = 0  # the corpus vector used as the similarity query
TOP_K = 10


def _dot(a: Column, b: Column) -> Column:
    """Left-to-right sequential dot product of two double arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _staging_width(spark: SparkSession) -> int:
    """File count for small derived stagings: one file per core. A
    single-file staging reads back as ONE split (file < 128 MB
    maxPartitionBytes), which serializes every downstream higher-order
    fold — the r8 contrastive regression was 13M interpreted dot steps
    running in one task. Width-many files restore the parallelism the
    pre-staging shuffled lineage had; at warehouse scale the staging
    writer's natural parallelism takes over and this is a no-op."""
    return spark.sparkContext.defaultParallelism


def normalized_embeddings_dir(spark: SparkSession, sf_dir: str) -> str:
    """L2-normalized embeddings (vec_id, label, nv) as a fingerprint-
    cached staged relation — THE shared input for every consumer that
    scores normalized dots (seed-centroid assignment / semantic dedup,
    RRF's dense retriever).

    Why materialize at all (VERDICT r7 Next 5): the normalize is a
    nested higher-order-function expression (`transform(v, x/_n)` with
    `_n = sqrt(aggregate(...))`), and Catalyst's CollapseProject
    INLINES it into every downstream use — four query dots in RRF
    recompute the normalization 4× per row (measured r8: 0.48 s vs
    0.17 s staged at sf0.1); the SemDeDup crossJoin inlines it into a
    K-way comparison. Materializing once turns every consumer into
    scan + dot. Values are BIT-IDENTICAL to the inline form (same
    fold, and parquet round-trips doubles exactly), so every oracle
    is unchanged."""
    import os

    from kamiyo_hive_spark.sources.sinks import SCRATCH, ensure_staging

    out = f"{SCRATCH}/embeddings_nv_{os.path.basename(sf_dir)}"
    source = os.path.join(sf_dir, "embeddings.parquet")
    e = table(spark, sf_dir, "embeddings")
    emb = F.col("embedding").cast("array<double>")
    return ensure_staging(
        out,
        source,
        lambda tmp: e.select("vec_id", "label", emb.alias("v"))
        .withColumn("_n", _norm(F.col("v")))
        .select(
            "vec_id",
            "label",
            F.transform(F.col("v"), lambda x: x / F.col("_n")).alias("nv"),
        )
        .repartition(_staging_width(spark))
        .write.mode("overwrite")
        .parquet(tmp),
    )


def normalized_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached DataFrame over the staged normalized-embedding relation
    (same listing-amortization story as `lsh_index_df`)."""
    return _staged_index_df(spark, normalized_embeddings_dir(spark, sf_dir))


def _assign_expr(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """The seed-centroid assignment's defining plan — used only to
    BUILD the staged relation below (one implementation of the
    rounding and tie-break, as before; now evaluated once per
    (sf_dir, k) instead of once per consumer query)."""
    d = normalized_embeddings(spark, sf_dir).select("vec_id", "nv")
    cents = d.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("nv").alias("cv")
    )
    sim = F.round(_dot(F.col("nv"), F.col("cv")), 9)
    return (
        d.crossJoin(F.broadcast(cents))
        .select("vec_id", "nv", "cid", sim.alias("sim"))
        .groupBy("vec_id")
        .agg(
            F.max(F.struct(F.col("sim"), (-F.col("cid")).alias("ncid"))).alias("best"),
            F.first("nv").alias("nv"),
        )
        .select("vec_id", "nv", (-F.col("best.ncid")).cast("long").alias("cid"))
    )


def assign_to_seed_centroids(
    spark: SparkSession, sf_dir: str, k: int, materialize: bool = False
) -> DataFrame:
    """Shared seed-centroid assignment (the SemDeDup/IVF convention):
    L2-normalize every embedding, take vec_id < k as centroids, assign
    each vector to its cosine-argmax centroid with lowest-cid
    tie-break. Returns (vec_id, nv, cid).

    ONE implementation for every consumer (semantic dedup, cluster
    curation, RAG probe, the capstone pipeline) so the rounding (9 dp)
    and tie-break (max struct(sim, -cid)) can never drift apart from
    the oracles that replay them.

    r8: the assignment is a fingerprint-cached STAGED relation keyed by
    (sf_dir, k) — six registered queries each re-ran the K-way
    broadcast crossJoin + argmax aggregation over the corpus (and
    within a query, every extra consumer of the lineage re-ran it
    again, which is what `materialize=True` used to paper over with a
    persist). Doubles and longs round-trip parquet exactly, so staged
    values are the engine-computed ones bit-for-bit; the `materialize`
    flag is retained for API stability but is a no-op — a staged scan
    is already a materialized relation, and N consumers re-reading it
    re-scan KB of parquet instead of re-running the assignment."""
    import os

    from kamiyo_hive_spark.sources.sinks import SCRATCH, ensure_staging

    out = f"{SCRATCH}/embeddings_assign_{k}_{os.path.basename(sf_dir)}"
    source = os.path.join(sf_dir, "embeddings.parquet")
    d = ensure_staging(
        out,
        source,
        lambda tmp: _assign_expr(spark, sf_dir, k)
        .repartition(_staging_width(spark))
        .write.mode("overwrite")
        .parquet(tmp),
    )
    return _staged_index_df(spark, d)


def query_vecs(sf_dir: str, below: int) -> list[tuple[int, list[float]]]:
    """Driver-side read of the query embeddings `vec_id < below` —
    request metadata, not corpus: pyarrow, row-group pruned, no Spark
    job. float32 → Python float is the exact widening the
    `array<double>` cast performs, so literals planted from here are
    bit-identical to engine-cast values. Returns (vec_id, vector)
    pairs sorted by vec_id — callers must use the RETURNED ids, never
    positional indices (ids may be sparse in principle)."""
    import os

    import pyarrow.dataset as _pads

    tbl = (
        _pads.dataset(os.path.join(sf_dir, "embeddings.parquet"))
        .to_table(
            columns=["vec_id", "embedding"], filter=_pads.field("vec_id") < below
        )
        .sort_by("vec_id")
    )
    return [
        (int(v), [float(x) for x in emb])
        for v, emb in zip(
            tbl.column("vec_id").to_pylist(), tbl.column("embedding").to_pylist()
        )
    ]


def query_vec(sf_dir: str, vec_id: int) -> list[float]:
    """Driver-side read of ONE embedding — request metadata, not
    corpus: pyarrow, row-group pruned, no Spark job. float32 → Python
    float is the exact widening the `array<double>` cast performs, so
    literals planted from here are bit-identical to engine-cast
    values."""
    import os

    import pyarrow.dataset as _pads

    return [
        float(x)
        for x in _pads.dataset(os.path.join(sf_dir, "embeddings.parquet"))
        .to_table(columns=["embedding"], filter=_pads.field("vec_id") == vec_id)
        .column("embedding")
        .to_pylist()[0]
    ]


def cosine_topk(
    spark: SparkSession, sf_dir: str, query_vec_id: int = QUERY_VEC_ID, k: int = TOP_K
) -> DataFrame:
    """Brute-force cosine top-k against one corpus vector.

    Scale shape: the query vector is a broadcast literal; the scan is
    embarrassingly parallel; top-k is per-partition heap + driver merge
    (TakeOrderedAndProject). No shuffle at any corpus size.
    """
    e = table(spark, sf_dir, "embeddings")
    emb = F.col("embedding").cast("array<double>")
    q = query_vec(sf_dir, query_vec_id)
    qlit = F.array(*[F.lit(float(v)) for v in q])
    sim = _dot(emb, qlit) / (_norm(emb) * _norm(qlit))
    return (
        e.filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", "label", F.round(sim, 9).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(k)
    )


_KNN_ORACLE = f"""
WITH q AS (
    SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
    FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
),
scored AS (
    SELECT e.vec_id, e.label,
           round(
             list_reduce(list_transform(list_zip(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qv),
                                        p -> p[1] * p[2]),
                         (acc, x) -> acc + x)
             / (sqrt(list_reduce(list_transform(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), x -> x * x),
                                 (acc, x) -> acc + x))
                * sqrt(list_reduce(list_transform(q.qv, x -> x * x), (acc, x) -> acc + x))), 9)
               AS cosine_sim
    FROM embeddings e, q
    WHERE e.vec_id <> {QUERY_VEC_ID}
)
SELECT vec_id, label, cosine_sim
FROM scored
ORDER BY cosine_sim DESC, vec_id
LIMIT {TOP_K}
"""


@register("knn_bruteforce_cosine", oracle=_KNN_ORACLE, tags=("similarity", "knn"))
def knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors of one corpus vector."""
    return cosine_topk(spark, sf_dir)


# ---------------------------------------------------------------------------
# Scale path: sign-random-projection LSH buckets + near-dup pairs.
# ---------------------------------------------------------------------------

DIM = 64
NBITS = 8  # hyperplanes → 256 buckets; multiprobe covers hamming-1


def _hyperplanes(nbits: int = NBITS, dim: int = DIM) -> list[list[float]]:
    """Deterministic random hyperplanes (seeded, engine-independent)."""
    import numpy as np

    rng = np.random.default_rng(42)
    return rng.standard_normal((nbits, dim)).tolist()


def srp_bucket(emb: str, planes: list[list[float]]) -> Column:
    """Sign-random-projection bucket id: bit j = sign(emb · plane_j).

    Pure column expression — the projection literals are constant-folded
    and broadcast with the plan; no UDF, no shuffle. Built as ONE parsed
    SQL expression over a literal plane table: the unrolled form cost
    ~520 py4j round-trips (≈0.5 s of driver plan-build per call,
    measured — most of `knn_lsh_cosine`'s toy-scale wall). The fold is
    the same left-to-right dot sequence per plane, same >=0 bit
    convention as `srp_probe_set`; float literals print via repr (the
    shortest round-tripping string) with a D suffix, so the parsed
    doubles are bit-identical."""
    planes_sql = (
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(v)!r}D" for v in plane) + ")"
            for plane in planes
        )
        + ")"
    )
    if not isinstance(emb, str):
        # Column.toString() is a JVM debug string, not guaranteed
        # parseable SQL (lambda-bound / resolved-attribute columns) —
        # refuse rather than splice a best-effort repr into F.expr.
        raise TypeError(f"srp_bucket expects a SQL expression string, got {type(emb).__name__}")
    emb_sql = emb
    return F.expr(
        f"aggregate(sequence(0, {len(planes) - 1}), 0L, (acc, j) -> acc | "
        f"(CASE WHEN aggregate(zip_with({emb_sql}, element_at({planes_sql}, j + 1), "
        f"(x, y) -> x * y), 0.0D, (a, x) -> a + x) >= 0.0D "
        f"THEN shiftleft(1L, j) ELSE 0L END))"
    )


def srp_probe_set(q: list[float], planes: list[list[float]]) -> list[int]:
    """Driver-side SRP bucket + hamming-1 multiprobe expansion for ONE
    query vector — the single place the bit convention (>= 0 -> bit
    set) lives outside the `srp_bucket` column expression. Every
    probe-side consumer (`_query_probe`, the MaxSim rerank pool) must
    route through here so the convention can never fork."""
    b = 0
    for j, plane in enumerate(planes):
        if sum(x * y for x, y in zip(q, plane)) >= 0:
            b |= 1 << j
    return sorted({b} | {b ^ (1 << j) for j in range(len(planes))})


def _query_probe(
    spark: SparkSession, sf_dir: str, query_vec_id: int = QUERY_VEC_ID
) -> tuple[Column, list[int]]:
    """Driver-side probe computation shared by both LSH variants:
    read the query vector (request metadata — pyarrow, row-group
    pruned, no Spark job; float32→float is the same exact widening as
    the array<double> cast) and expand its multiprobe set via
    `srp_probe_set`. Returns (query literal array, sorted probe
    bucket ids)."""
    q = query_vec(sf_dir, query_vec_id)
    qlit = F.array(*[F.lit(v) for v in q])
    return qlit, srp_probe_set(q, _hyperplanes())


def knn_lsh(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = QUERY_VEC_ID,
    k: int = TOP_K,
) -> DataFrame:
    """ANN top-k: restrict the exact-cosine scan to the LSH buckets
    within hamming-1 of the query's bucket (`_query_probe`).

    At 100 TB the corpus is written partitioned by bucket, so this probe
    reads ~ (1 + NBITS)/2^NBITS of the data (partition pruning on the
    bucket column) instead of the full scan the brute-force path does.
    """
    qlit, probes = _query_probe(spark, sf_dir, query_vec_id)
    e = table(spark, sf_dir, "embeddings")
    emb = F.col("embedding").cast("array<double>")
    sim = _dot(emb, qlit) / (_norm(emb) * _norm(qlit))
    return (
        e.withColumn("bucket", srp_bucket("CAST(embedding AS ARRAY<DOUBLE>)", _hyperplanes()))
        .filter(F.col("bucket").isin(probes))
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", "label", F.round(sim, 9).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(k)
    )


def srp_cte_block() -> str:
    """Shared DuckDB CTE chain for the SRP layer — the deterministic
    hyperplanes as literals, bucket bits folded with the same
    left-to-right order as the Spark expressions, bucket ids summed to
    BIGINT. One text, two consumers (`_knn_lsh_oracle` here and the
    MaxSim rerank oracle in operators/retrieval.py) so the replayed
    bit convention can never fork from itself."""
    rows = ",\n            ".join(
        f"({j}, {plane!r})" for j, plane in enumerate(_hyperplanes())
    )
    return f"""planes AS (
        SELECT * FROM (VALUES
            {rows}
        ) p(j, plane)
    ),
    e AS (
        SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    bits AS (
        SELECT e.vec_id, p.j,
               list_reduce(list_prepend(0.0,
                   list_transform(list_zip(e.v, p.plane), z -> z[1] * z[2])),
                   (a, x) -> a + x) >= 0 AS bit
        FROM e CROSS JOIN planes p
    ),
    buckets AS (
        SELECT vec_id,
               CAST(SUM(CASE WHEN bit THEN 1 << j ELSE 0 END) AS BIGINT) AS bucket
        FROM bits GROUP BY 1
    )"""


def _knn_lsh_oracle() -> str:
    """DuckDB oracle for the SRP-LSH probe: the shared SRP CTE block,
    then the single-query multiprobe + exact cosine top-k."""
    return f"""
    WITH {srp_cte_block()},
    qb AS (SELECT bucket AS qbucket FROM buckets WHERE vec_id = {QUERY_VEC_ID}),
    probes AS (
        SELECT qbucket AS pb FROM qb
        UNION
        SELECT xor(qbucket, CAST(1 << j AS BIGINT)) FROM qb CROSS JOIN planes
    ),
    q AS (SELECT v AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}),
    cand AS (
        SELECT e.vec_id, e.label, e.v
        FROM e JOIN buckets b USING (vec_id)
        WHERE b.bucket IN (SELECT pb FROM probes) AND e.vec_id <> {QUERY_VEC_ID}
    )
    SELECT c.vec_id, c.label,
           round(
             list_reduce(list_prepend(0.0,
                 list_transform(list_zip(c.v, q.qv), z -> z[1] * z[2])), (a, x) -> a + x)
             / (sqrt(list_reduce(list_prepend(0.0,
                    list_transform(c.v, x -> x * x)), (a, x) -> a + x))
                * sqrt(list_reduce(list_prepend(0.0,
                    list_transform(q.qv, x -> x * x)), (a, x) -> a + x))), 9)
               AS cosine_sim
    FROM cand c CROSS JOIN q
    ORDER BY cosine_sim DESC, vec_id
    LIMIT {TOP_K}
    """


@register("knn_lsh_cosine", oracle=_knn_lsh_oracle(), tags=("similarity", "ann-lsh"))
def knn_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via SRP-LSH bucket probing. The oracle
    recomputes the ENTIRE probe in DuckDB — hyperplane literals, bucket
    bits, hamming-1 multiprobe, exact cosine on the candidate set —
    so the approximation itself is hash-checked, not just its recall
    (which tests/test_similarity.py measures against brute force)."""
    return knn_lsh(spark, sf_dir)


_NEARDUP_ORACLE = """
WITH e AS (
    SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings WHERE vec_id < 300
),
pairs AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(
             list_reduce(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]), (acc, x) -> acc + x)
             / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (acc, x) -> acc + x))
                * sqrt(list_reduce(list_transform(b.v, x -> x * x), (acc, x) -> acc + x))), 9)
               AS cosine_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cosine_sim
FROM pairs
WHERE cosine_sim >= 0.4
ORDER BY vec_a, vec_b
"""


@register("embedding_neardup_pairs", oracle=_NEARDUP_ORACLE, tags=("dedup", "embedding-cosine"))
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold 0.4), exact over
    a bounded id range so the oracle stays brute-force-checkable; the
    unbounded path pre-filters through SRP buckets (same math)."""
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    emb = F.col("embedding").cast("array<double>")
    a = e.select(F.col("vec_id").alias("vec_a"), emb.alias("va"))
    b = e.select(F.col("vec_id").alias("vec_b"), emb.alias("vb"))
    sim = _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", F.round(sim, 9).alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= 0.4)
    )


# ---------------------------------------------------------------------------
# IVF variant: k-means coarse quantizer (pyspark.ml), probe nearest cells.
# ---------------------------------------------------------------------------

IVF_CELLS = 16
IVF_PROBES = 4

# Index memo: an IVF quantizer is BUILT ONCE and amortized over every
# query against it (offline index build vs online probe — the defining
# trade of ANN serving). Keyed by (applicationId, sf_dir, k); holds the
# persisted assignment table + centroids.
_IVF_INDEX: dict[tuple[str, str, int], tuple[DataFrame, list]] = {}


def ivf_assignments(spark: SparkSession, sf_dir: str, k: int = IVF_CELLS):
    """(assignments DataFrame, centers list): k-means cells over the
    corpus (seeded — deterministic given the data), the IVF coarse
    quantizer. At 100 TB the model is trained on a sample and the
    corpus is written partitioned by cell id; probing then prunes to
    `IVF_PROBES/IVF_CELLS` of the partitions. Built once per
    (session, corpus); subsequent queries reuse the persisted index."""
    key = (spark.sparkContext.applicationId, sf_dir, k)
    if key in _IVF_INDEX:
        return _IVF_INDEX[key]
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    e = table(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id", "label", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    model = KMeans(k=k, seed=42, maxIter=20).fit(vecs)
    assigned = model.transform(vecs).select(
        "vec_id", "label", F.col("prediction").alias("cell")
    ).persist()
    centers = [c.tolist() for c in model.clusterCenters()]
    _IVF_INDEX[key] = (assigned, centers)
    return assigned, centers


def knn_ivf(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = QUERY_VEC_ID,
    k: int = TOP_K,
    probes: int = IVF_PROBES,
) -> DataFrame:
    """ANN top-k via IVF: score only vectors in the `probes` cells whose
    centroids are closest to the query."""
    e = table(spark, sf_dir, "embeddings")
    emb = F.col("embedding").cast("array<double>")
    q = query_vec(sf_dir, query_vec_id)
    assigned, centers = ivf_assignments(spark, sf_dir)

    def dist2(c):
        return sum((a - b) ** 2 for a, b in zip(q, c))

    probe_cells = sorted(range(len(centers)), key=lambda i: dist2(centers[i]))[:probes]

    qlit = F.array(*[F.lit(float(v)) for v in q])
    sim = _dot(emb, qlit) / (_norm(emb) * _norm(qlit))
    candidates = e.join(
        F.broadcast(assigned.filter(F.col("cell").isin(probe_cells)).select("vec_id")),
        "vec_id",
    )
    return (
        candidates.filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", "label", F.round(sim, 9).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(k)
    )


@register(
    "knn_ivf_cosine",
    oracle=f"""
    SELECT CAST({TOP_K} AS BIGINT) AS k,
           CAST({TOP_K} AS BIGINT) AS n_returned,
           CAST({IVF_PROBES} AS BIGINT) AS n_probes,
           TRUE AS recall_ok,
           TRUE AS scores_exact
    """,
    tags=("similarity", "ann-ivf"),
)
def knn_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-quality audit, driver-checkable. The raw IVF top-k
    depends on the k-means quantizer (seeded Spark ML — deterministic,
    but not replayable in SQL), so the declared query SELF-AUDITS: it
    runs the IVF probe AND the brute-force exact top-k in one job and
    emits the invariants an index owner monitors — result count,
    recall@k against exact (floor 0.2, same as the unit tests), and
    that every IVF score equals the exact cosine for that vector (IVF
    prunes candidates, never alters scores). The oracle pins all of
    them, so a quantizer or probe regression is a driver-visible hash
    mismatch. tests/test_similarity.py keeps the per-vector checks;
    `knn_ivf` is the raw-results API."""
    ivf = knn_ivf(spark, sf_dir).select(
        F.col("vec_id"), F.col("cosine_sim").alias("ivf_sim")
    )
    brute = cosine_topk(spark, sf_dir).select(
        F.col("vec_id"), F.col("cosine_sim").alias("exact_sim")
    )
    joined = ivf.join(brute, "vec_id", "full_outer")
    return joined.agg(
        F.lit(TOP_K).cast("long").alias("k"),
        F.count("ivf_sim").alias("n_returned"),
        F.lit(IVF_PROBES).cast("long").alias("n_probes"),
        (
            F.sum(
                F.when(
                    F.col("ivf_sim").isNotNull() & F.col("exact_sim").isNotNull(), 1
                ).otherwise(0)
            )
            >= int(0.2 * TOP_K)
        ).alias("recall_ok"),
        F.coalesce(
            F.min(
                F.when(
                    F.col("ivf_sim").isNotNull() & F.col("exact_sim").isNotNull(),
                    F.col("ivf_sim") == F.col("exact_sim"),
                )
            ),
            F.lit(True),
        ).alias("scores_exact"),
    )


N_BATCH_QUERIES = 8
BATCH_TOP_K = 3


@register(
    "knn_multi_query",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        FROM embeddings WHERE vec_id < {N_BATCH_QUERIES}
    ),
    corpus AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
        FROM embeddings WHERE vec_id >= {N_BATCH_QUERIES}
    ),
    scored AS (
        SELECT q.query_id, c.vec_id, c.label,
               round(
                 list_reduce(list_transform(list_zip(c.ev, q.qv), p -> p[1] * p[2]),
                             (acc, x) -> acc + x)
                 / (sqrt(list_reduce(list_transform(c.ev, x -> x * x), (acc, x) -> acc + x))
                    * sqrt(list_reduce(list_transform(q.qv, x -> x * x), (acc, x) -> acc + x))), 9)
                 AS cosine_sim
        FROM corpus c, q
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id ASC
        ) AS rk
        FROM scored
    )
    SELECT query_id, vec_id, label, cosine_sim
    FROM ranked WHERE rk <= {BATCH_TOP_K}
    ORDER BY query_id, cosine_sim DESC, vec_id
    """,
    tags=("similarity", "knn-batch"),
)
def knn_multi_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch KNN: top-3 exact cosine neighbors for a whole SET of
    query vectors in one corpus pass — the realistic retrieval shape
    (embedding-dedup audits, eval-set scoring) where per-query jobs
    would rescan the corpus N times.

    Scale shape: the query set broadcasts (it is dim-bounded and tiny
    next to the corpus); `BroadcastNestedLoopJoin` fans each corpus
    partition over all queries with zero shuffle of corpus rows; the
    only exchange is the per-query ranking on `query_id` — cardinality
    = |queries|, independent of corpus size. At 1000 executors the
    corpus scan stays embarrassingly parallel."""
    e = table(spark, sf_dir, "embeddings")
    emb = F.col("embedding").cast("array<double>")
    queries = e.filter(F.col("vec_id") < N_BATCH_QUERIES).select(
        F.col("vec_id").alias("query_id"), emb.alias("qv")
    )
    corpus = e.filter(F.col("vec_id") >= N_BATCH_QUERIES).select(
        "vec_id", "label", emb.alias("ev")
    )
    sim = _dot(F.col("ev"), F.col("qv")) / (_norm(F.col("ev")) * _norm(F.col("qv")))
    scored = corpus.crossJoin(F.broadcast(queries)).select(
        "query_id", "vec_id", "label", F.round(sim, 9).alias("cosine_sim")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= BATCH_TOP_K)
        .select("query_id", "vec_id", "label", "cosine_sim")
    )


@register(
    "embedding_int8_quantization",
    oracle="""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    s AS (
        SELECT vec_id, e,
               greatest(list_max(list_transform(e, x -> abs(x))) / 127.0, 1e-30) AS scale
        FROM e
    ),
    q AS (
        SELECT vec_id, e, scale,
               list_transform(e, x -> greatest(-127.0, least(127.0, floor(x / scale + 0.5)))) AS q
        FROM s
    ),
    d AS (
        SELECT vec_id, e, scale, q,
               list_transform(q, v -> v * scale) AS deq
        FROM q
    )
    SELECT vec_id,
           round(scale, 9) AS scale,
           CAST(list_sum(q) AS BIGINT) AS q_sum,
           CAST(list_min(q) AS BIGINT) AS q_min,
           CAST(list_max(q) AS BIGINT) AS q_max,
           round(list_max(list_transform(range(1, len(e) + 1), i -> abs(e[i] - deq[i]))), 9)
               AS max_abs_err,
           round(
               list_reduce(list_prepend(0.0, list_transform(range(1, len(e) + 1),
                   i -> e[i] * deq[i])), (a, x) -> a + x)
               / (sqrt(list_reduce(list_prepend(0.0, list_transform(e, x -> x * x)),
                       (a, x) -> a + x))
                  * sqrt(list_reduce(list_prepend(0.0, list_transform(deq, x -> x * x)),
                         (a, x) -> a + x))),
               9) AS cos_fidelity
    FROM d
    ORDER BY vec_id
    """,
    tags=("similarity", "quantization", "training-pipeline"),
)
def embedding_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding corpus — the memory
    path every large ANN deployment takes (4× smaller vectors, SIMD int8
    dot products). Per vector: ``scale = max|x|/127``,
    ``q_i = clamp(floor(x_i/scale + 0.5), ±127)``, plus the two numbers
    an index builder actually monitors: max absolute dequantization
    error and cosine fidelity between the original and dequantized
    vector.

    Pure per-row map over the corpus (no shuffle, no UDF — all
    higher-order JVM expressions), so at 100 TB it parallelizes
    perfectly and pipelines into the parquet write of the quantized
    index. ``floor(x + 0.5)`` is used instead of ``round`` so Spark and
    DuckDB share one deterministic rounding convention; folds are
    left-to-right in both engines for bit-identical doubles."""
    M = 1e-30
    e_arr = F.col("embedding").cast("array<double>")
    base = parallel_table(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id", e_arr.alias("e")
    )
    scale = F.greatest(
        F.array_max(F.transform(F.col("e"), lambda x: F.abs(x))) / 127.0, F.lit(M)
    )
    with_scale = base.select("vec_id", "e", scale.alias("scale"))
    q = F.transform(
        F.col("e"),
        lambda x: F.greatest(
            F.lit(-127.0), F.least(F.lit(127.0), F.floor(x / F.col("scale") + 0.5))
        ),
    )
    with_q = with_scale.select("vec_id", "e", "scale", q.alias("q"))
    deq = F.transform(F.col("q"), lambda v: v * F.col("scale"))
    with_deq = with_q.select("vec_id", "e", "scale", "q", deq.alias("deq"))
    dot = F.aggregate(
        F.zip_with(F.col("e"), F.col("deq"), lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    norm_e = F.sqrt(F.aggregate(F.col("e"), F.lit(0.0), lambda a, x: a + x * x))
    norm_d = F.sqrt(F.aggregate(F.col("deq"), F.lit(0.0), lambda a, x: a + x * x))
    return with_deq.select(
        "vec_id",
        F.round(F.col("scale"), 9).alias("scale"),
        F.aggregate(F.col("q"), F.lit(0.0), lambda a, x: a + x).cast("long").alias("q_sum"),
        F.array_min("q").cast("long").alias("q_min"),
        F.array_max("q").cast("long").alias("q_max"),
        F.round(
            F.array_max(F.zip_with(F.col("e"), F.col("deq"), lambda x, y: F.abs(x - y))), 9
        ).alias("max_abs_err"),
        F.round(dot / (norm_e * norm_d), 9).alias("cos_fidelity"),
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's compression half): 8-byte codes + ADC.
# ---------------------------------------------------------------------------

PQ_M = 8          # subspaces (64-dim vectors -> 8 sub-vectors of 8 dims)
PQ_C = 16         # centroids per subspace codebook
PQ_SUB = 8        # dims per subspace
PQ_TOP_K = 10

_PQ_ORACLE = f"""
WITH e AS (
    SELECT vec_id, label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
ms AS (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m),
sub AS (
    SELECT e.vec_id, ms.m,
           list_slice(e.v, ms.m * {PQ_SUB} + 1, ms.m * {PQ_SUB} + {PQ_SUB}) AS sv
    FROM e, ms
),
csub AS (
    SELECT e.vec_id AS cid, ms.m,
           list_slice(e.v, ms.m * {PQ_SUB} + 1, ms.m * {PQ_SUB} + {PQ_SUB}) AS cs
    FROM e, ms
    WHERE e.vec_id < {PQ_C}
),
d2 AS (
    SELECT sub.vec_id, sub.m, csub.cid,
           round(list_reduce(
                   list_transform(list_zip(sub.sv, csub.cs),
                                  p -> (p[1] - p[2]) * (p[1] - p[2])),
                   (a, x) -> a + x), 9) AS d
    FROM sub JOIN csub ON sub.m = csub.m
),
codes AS (
    SELECT vec_id, m, cid AS code
    FROM (SELECT vec_id, m, cid,
                 row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn
          FROM d2)
    WHERE rn = 1
),
qd AS (SELECT m, cid, d FROM d2 WHERE vec_id = {QUERY_VEC_ID}),
adc AS (
    SELECT c.vec_id,
           CAST(SUM(CAST(qd.d AS DECIMAL(28, 9))) AS DOUBLE) AS adc_dist
    FROM codes c JOIN qd ON qd.m = c.m AND qd.cid = c.code
    GROUP BY 1
)
SELECT a.vec_id, e.label, a.adc_dist
FROM adc a JOIN e USING (vec_id)
WHERE a.vec_id <> {QUERY_VEC_ID}
ORDER BY a.adc_dist, a.vec_id
LIMIT {PQ_TOP_K}
"""


def _pq_sub(col_name: str, m: int) -> Column:
    return _pq_sub_from(F.col(col_name), m)


def _pq_d2(sub_col: Column, cent_col: Column) -> Column:
    """Rounded squared L2 between two sub-vectors (sequential fold)."""
    return F.round(
        F.aggregate(
            F.zip_with(sub_col, cent_col, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
        9,
    )


def pq_codes_dir(spark: SparkSession, sf_dir: str) -> str:
    """PQ index build (fingerprint-cached per sf_dir, same accounting
    as the IVF/z-order builds): encode every vector as PQ_M codes —
    argmin centroid per subspace — and persist (vec_id, label, codes).
    The build is explode-shaped so the distance work spreads across
    rows and tasks instead of one 128-fold mega-expression per row
    (measured 8.8 s -> sub-second at sf0.1 for the query side):
    posexplode the 8 sub-vectors, broadcast-join the 128-row codebook,
    one fold per row, argmin per (vec, m), re-assemble the code array.
    """
    import os

    from kamiyo_hive_spark.sources.sinks import SCRATCH, ensure_staging

    out = f"{SCRATCH}/pq_codes_{os.path.basename(sf_dir)}"
    source = os.path.join(sf_dir, "embeddings.parquet")
    e = table(spark, sf_dir, "embeddings")
    emb = F.col("embedding").cast("array<double>")
    # 128-row codebook relation from the seed vectors (broadcast)
    seeds = e.filter(F.col("vec_id") < PQ_C).select("vec_id", emb.alias("v"))
    cents = seeds.select(
        F.col("vec_id").alias("cid"),
        F.posexplode(F.array(*[_pq_sub("v", m) for m in range(PQ_M)])).alias(
            "m", "cs"
        ),
    )
    subs = e.select(
        "vec_id",
        "label",
        F.posexplode(
            F.array(*[_pq_sub_from(emb, m) for m in range(PQ_M)])
        ).alias("m", "sv"),
    )
    d2 = _pq_d2(F.col("sv"), F.col("cs"))
    codes = (
        subs.join(F.broadcast(cents), "m")
        .select("vec_id", "label", "m", d2.alias("d"), "cid")
        .groupBy("vec_id", "label", "m")
        .agg(F.min(F.struct(F.col("d"), F.col("cid").alias("c"))).alias("best"))
        .groupBy("vec_id", "label")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("m"), F.col("best.c").alias("c")))
                ),
                lambda s: s["c"],
            ).alias("codes")
        )
    )
    return ensure_staging(
        out, source, lambda tmp: codes.write.mode("overwrite").parquet(tmp)
    )


def _pq_sub_from(arr: Column, m: int) -> Column:
    return F.slice(arr, m * PQ_SUB + 1, PQ_SUB)


@register("knn_pq_adc", oracle=_PQ_ORACLE, tags=("similarity", "ann-pq"))
def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation —
    the compression half of IVF-PQ, which is how billion-vector indexes
    actually fit in memory: each 64-dim float vector (256 B) becomes
    8 one-byte codes (argmin centroid per 8-dim subspace), and query
    time scans CODES ONLY, looking each one up in an 8x16 table of
    precomputed query-to-centroid distances.

    Codebooks are deterministic seed vectors (vec_id < 16, the same
    seeding convention as `semantic_dedup_embeddings`) rather than
    trained k-means, which keeps the whole operator replayable as SQL
    on both engines; a production index swaps in trained centroids and
    changes nothing structural.

    Scale shape — encode is an offline INDEX BUILD (`pq_codes_dir`,
    fingerprint-cached, explode + broadcast-codebook join + argmin);
    the query is one scan OF THE CODES with zero shuffles: the ADC
    look-up table (query-to-centroid distances, computed by the SAME
    explode-join plan on the one query row — a first cut computed it
    as 128 separate fold columns and paid seconds of ANALYZER time per
    run) is collected and baked in as 8 sixteen-element literal
    arrays, so per-row work is 8 `element_at` lookups + a DECIMAL
    fold, and the top-k is a per-partition heap + driver merge
    (TakeOrderedAndProject). At 100 TB the scan reads ~9 bytes/vector
    instead of 256 — the whole point of PQ.

    Float discipline: sub-distances are sequential folds rounded to
    9 dp at build AND query side; the 8-term ADC sum runs in DECIMAL
    so accumulation order cannot move the hash.
    """
    # Query-side ADC table, DRIVER-SIDE (r9): the codebook seeds and
    # the query vector are request/index metadata — pyarrow row-group-
    # pruned reads, the module's standing convention (`query_vecs`) —
    # and the 128 sub-distances are computed in pure Python with the
    # EXACT engine op sequence: float32→float widening (same as the
    # array<double> cast), left-to-right IEEE fold of (x−y)² (same as
    # `F.aggregate`), and HALF_UP 9-dp rounding on the shortest-repr
    # decimal (same as `F.round`; Decimal(repr(x)) ≡
    # BigDecimal.valueOf) — asserted bit-identical to the old
    # explode-join job in tests. The old Spark job cost two corpus
    # scans + a collect per probe for a 128-value table
    # (0.74 → 0.35 s at sf0.1).
    from decimal import ROUND_HALF_UP, Decimal

    seeds = query_vecs(sf_dir, PQ_C)
    qv = query_vec(sf_dir, QUERY_VEC_ID)
    # Fixture contract: the codebook is seeded from the first PQ_C
    # vectors and every embedding must split into PQ_M×PQ_SUB dims. A
    # regenerated fixture that violates either would otherwise surface
    # as a bare KeyError / null-slice deep in the LUT loop (ADVICE r2).
    if len(seeds) != PQ_C or any(
        len(v) != PQ_M * PQ_SUB for _, v in seeds
    ) or len(qv) != PQ_M * PQ_SUB:
        raise ValueError(
            f"PQ codebook incomplete: {len(seeds)} seed vectors, "
            f"expected PQ_C={PQ_C}. The embeddings fixture must "
            f"contain vec_id 0..{PQ_C - 1} as codebook seeds plus query vector "
            f"{QUERY_VEC_ID}, each with {PQ_M * PQ_SUB}-dim embeddings."
        )

    def _d2(a: list, b: list) -> float:
        acc = 0.0
        for x, y in zip(a, b):  # left-to-right, the F.aggregate fold
            acc = acc + (x - y) * (x - y)
        return float(
            Decimal(repr(acc)).quantize(
                Decimal("1e-9"), rounding=ROUND_HALF_UP
            )
        )

    qd = {
        (m, cid): _d2(
            qv[m * PQ_SUB : (m + 1) * PQ_SUB],
            v[m * PQ_SUB : (m + 1) * PQ_SUB],
        )
        for cid, v in seeds
        for m in range(PQ_M)
    }

    codes = _staged_index_df(spark, pq_codes_dir(spark, sf_dir))
    adc = None
    for m in range(PQ_M):
        lut = F.array(*[F.lit(float(qd[(m, c)])) for c in range(PQ_C)])
        term = F.element_at(
            lut, (F.element_at(F.col("codes"), m + 1) + 1).cast("int")
        ).cast("decimal(28,9)")
        adc = term if adc is None else adc + term

    return (
        codes.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", adc.cast("double").alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(PQ_TOP_K)
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style): cluster embeddings, drop near-copies
# within each cluster.
# ---------------------------------------------------------------------------

SEMDEDUP_K = 32      # deterministic seed centroids: vec_id 0..K-1.
                     # SemDeDup wants cluster count to GROW with corpus
                     # size (pairwise work is N²/K); 32 keeps the
                     # within-cluster stage ~400k pairs at sf0.1.
SEMDEDUP_TAU = 0.25  # near-copy threshold (synthetic corpus is near-
                     # orthogonal, max pairwise cosine ~0.51 — real text
                     # embeddings would use ~0.95+)
SEMDEDUP_CELL_CAP = 256  # max vectors per pair-stage cell: clusters
                     # above the cap split into ceil(n/cap) deterministic
                     # shards, bounding Σcell² to ~n·cap (linear). At
                     # the test scale factors every cluster is under the
                     # cap (shards = 1 → exact SemDeDup semantics); the
                     # cap only engages where the quadratic term would.

_SEMDEDUP_ORACLE = f"""
WITH raw AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
d AS (
    SELECT vec_id,
           list_transform(
               v, x -> x / sqrt(list_reduce(list_transform(v, y -> y * y),
                                            (acc, y) -> acc + y))) AS nv
    FROM raw
),
c AS (SELECT vec_id AS cid, nv AS cv FROM d WHERE vec_id < {SEMDEDUP_K}),
scored AS (
    SELECT d.vec_id, c.cid,
           round(list_reduce(list_transform(list_zip(d.nv, c.cv), p -> p[1] * p[2]),
                             (acc, x) -> acc + x), 9) AS sim
    FROM d, c
),
assigned0 AS (
    SELECT vec_id, cid
    FROM (SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
          FROM scored)
    WHERE rn = 1
),
sizes AS (SELECT cid, count(*) AS n FROM assigned0 GROUP BY 1),
assigned AS (
    SELECT a.vec_id, a.cid,
           CAST(concat('0x', substr(md5(concat(CAST(a.vec_id AS VARCHAR), ':7')), 1, 15))
                AS BIGINT)
               % ((s.n + {SEMDEDUP_CELL_CAP} - 1) // {SEMDEDUP_CELL_CAP}) AS shard
    FROM assigned0 a JOIN sizes s USING (cid)
),
pairs AS (
    SELECT b.vec_id AS dup_id
    FROM assigned a
    JOIN assigned b
      ON b.cid = a.cid AND b.shard = a.shard AND b.vec_id > a.vec_id
    JOIN d da ON da.vec_id = a.vec_id
    JOIN d db ON db.vec_id = b.vec_id
    WHERE round(list_reduce(list_transform(list_zip(da.nv, db.nv), p -> p[1] * p[2]),
                            (acc, x) -> acc + x), 9) >= {SEMDEDUP_TAU}
),
dups AS (SELECT DISTINCT dup_id FROM pairs)
SELECT a.cid AS cluster_id,
       count(*) AS n_vecs,
       CAST(SUM(CASE WHEN dups.dup_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dups,
       CAST(SUM(CASE WHEN dups.dup_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept
FROM assigned a LEFT JOIN dups ON dups.dup_id = a.vec_id
GROUP BY 1
ORDER BY cluster_id
"""


@register(
    "semantic_dedup_embeddings",
    oracle=_SEMDEDUP_ORACLE,
    tags=("dedup", "semantic", "embedding"),
)
def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: assign every embedding to its
    nearest seed centroid (deterministic seeds: vec_id < K, cosine
    argmax with lowest-centroid tie-break), then inside each cluster
    mark a vector as a semantic duplicate if ANY earlier (lower vec_id)
    cluster member is within cosine >= tau. Reported per cluster.

    The declarative "earlier in-cluster neighbor" rule (rather than the
    greedy keep-chain) is what makes the operator replayable as plain
    SQL on both engines; on near-duplicate CLUSTERS the two rules pick
    the same survivors (the lowest-id member survives either way).

    Scale posture: centroids are a broadcast literal-sized relation, so
    assignment is a map-side crossJoin (K comparisons/vector, no
    shuffle); the pairwise stage self-joins WITHIN bounded cells only.
    The r4 change (VERDICT task 3): cells are bounded BY DEFAULT —
    clusters above SEMDEDUP_CELL_CAP split into ceil(n/cap)
    deterministic shards (portable id hash), so pair work is
    Σ cluster²/S ≈ n·cap (linear), not Σ cluster² (the 59.9×-at-10×
    quadratic the r3 tiling measured). At the test scale factors every
    cluster is under the cap, so shards = 1 and the semantics are
    EXACT SemDeDup; the oracle replays the adaptive sharding rule
    end-to-end either way. Two measured perf rules baked in
    (8.9s → 2.5s at sf0.1, with K=32): vectors are L2-NORMALIZED once up front so
    every pairwise cosine is a single dot fold instead of dot + two
    norm folds, and `assigned` is materialized (localCheckpoint) — it
    feeds three consumers, which would otherwise re-run the crossJoin
    lineage per consumer. Float discipline as above: double-cast,
    sequential folds, round(9) before any comparison, and the
    normalization is the same structural formula on both engines."""
    from pyspark.sql import Window

    from kamiyo_hive_spark.operators.dedup import _portable_hash

    # materialize=False on purpose: the self-join's two sides share an
    # identical subtree, so Catalyst's exchange reuse computes the
    # assignment once inside the single final job — a persist adds a
    # cache fill + CacheManager bookkeeping for nothing (A/B at sf0.1:
    # 1.68 s persisted vs 1.30 s with reuse) and leaves an orphaned
    # cache block for the session to clean (ADVICE r3).
    # ONE explicit cid exchange feeds the whole query (r8): hash(cid)
    # satisfies the window's clustering, BOTH sides of the pair
    # self-join on (cid, shard) (subset rule; exchange reuse shares the
    # scan), the dup-count aggregation AND the sizes aggregation — so
    # EnsureRequirements inserts nothing further and the lazy return
    # drops the eager width-pin checkpoint job (A/B best-of-4 at
    # sf0.1: 1.37 s -> 0.72 s, identical rows). Width 8 is
    # centroid-scale (K=32 clusters); a warehouse run keys it to K.
    base = assign_to_seed_centroids(spark, sf_dir, SEMDEDUP_K).repartition(
        8, F.col("cid")
    )
    # adaptive cell split: one window count over the (entity-scale)
    # assignment — rides the explicit cid exchange above
    n_in_cluster = F.count("*").over(Window.partitionBy("cid"))
    n_shards = (
        (n_in_cluster + F.lit(SEMDEDUP_CELL_CAP - 1))
        / F.lit(SEMDEDUP_CELL_CAP)
    ).cast("long")
    assigned = base.withColumn(
        "shard",
        F.pmod(_portable_hash(F.col("vec_id").cast("string"), 7), n_shards),
    )
    a = assigned.alias("a")
    b = assigned.alias("b")
    sim_p = F.round(_dot(F.col("a.nv"), F.col("b.nv")), 9)
    # Per-cluster dup counts straight off the pair join: the join
    # already hash-partitioned by cid, so the count-distinct reuses
    # that partitioning with no extra exchange — replacing the former
    # global DISTINCT + row-level left join + re-aggregation.
    dup_counts = (
        a.join(
            b,
            (F.col("b.cid") == F.col("a.cid"))
            & (F.col("b.shard") == F.col("a.shard"))
            & (F.col("b.vec_id") > F.col("a.vec_id")),
        )
        .filter(sim_p >= SEMDEDUP_TAU)
        .groupBy(F.col("a.cid").alias("cluster_id"))
        .agg(F.countDistinct(F.col("b.vec_id")).alias("n_dups"))
    )
    sizes = assigned.groupBy(F.col("cid").alias("cluster_id")).agg(
        F.count("*").alias("n_vecs")
    )
    out = sizes.join(dup_counts, "cluster_id", "left").select(
        "cluster_id",
        "n_vecs",
        F.coalesce(F.col("n_dups"), F.lit(0)).cast("long").alias("n_dups"),
        (F.col("n_vecs") - F.coalesce(F.col("n_dups"), F.lit(0))).cast("long").alias("n_kept"),
    )
    # lazy return (r8): the explicit cid repartition above is the only
    # wide exchange left, so the former width-pin checkpoint job is gone
    return out


SEMDEDUP_SHARDS = 4  # pair-stage cells per cluster (scale knob)

_SEMDEDUP_SHARDED_ORACLE = f"""
WITH raw AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
d AS (
    SELECT vec_id,
           list_transform(
               v, x -> x / sqrt(list_reduce(list_transform(v, y -> y * y),
                                            (acc, y) -> acc + y))) AS nv
    FROM raw
),
c AS (SELECT vec_id AS cid, nv AS cv FROM d WHERE vec_id < {SEMDEDUP_K}),
scored AS (
    SELECT d.vec_id, c.cid,
           round(list_reduce(list_transform(list_zip(d.nv, c.cv), p -> p[1] * p[2]),
                             (acc, x) -> acc + x), 9) AS sim
    FROM d, c
),
assigned AS (
    SELECT vec_id, cid,
           CAST(concat('0x', substr(md5(concat(CAST(vec_id AS VARCHAR), ':7')), 1, 15))
                AS BIGINT) % {SEMDEDUP_SHARDS} AS shard
    FROM (SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
          FROM scored)
    WHERE rn = 1
),
pairs AS (
    SELECT b.vec_id AS dup_id
    FROM assigned a
    JOIN assigned b
      ON b.cid = a.cid AND b.shard = a.shard AND b.vec_id > a.vec_id
    JOIN d da ON da.vec_id = a.vec_id
    JOIN d db ON db.vec_id = b.vec_id
    WHERE round(list_reduce(list_transform(list_zip(da.nv, db.nv), p -> p[1] * p[2]),
                            (acc, x) -> acc + x), 9) >= {SEMDEDUP_TAU}
),
dups AS (SELECT DISTINCT dup_id FROM pairs)
SELECT a.cid AS cluster_id,
       count(*) AS n_vecs,
       CAST(SUM(CASE WHEN dups.dup_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dups,
       CAST(SUM(CASE WHEN dups.dup_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept
FROM assigned a LEFT JOIN dups ON dups.dup_id = a.vec_id
GROUP BY 1
ORDER BY cluster_id
"""


@register(
    "semantic_dedup_sharded",
    oracle=_SEMDEDUP_SHARDED_ORACLE,
    tags=("dedup", "semantic", "embedding", "sharded"),
)
def semantic_dedup_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded-cell scale path for semantic dedup, as its own
    oracle-checked operator. The 10× tiling measurement
    (docs/BENCH_NOTES round 4) demonstrated what the SemDeDup docstring
    only asserted: at a fixed cluster count the within-cluster pair
    term grows quadratically (59.9× at 10× vectors). Production bounds
    the CELL, not the corpus: each cluster is split into
    SEMDEDUP_SHARDS deterministic shards (portable id hash), and a
    vector is a dup iff an EARLIER member of its own (cluster, shard)
    cell is within tau. Pair work is Σ(cluster/S)²·S = Σcluster²/S —
    choose S ∝ cluster size and the stage is linear; recall loss is
    cross-shard pairs only, and real deployments run extra rounds with
    rotated shard seeds (or re-cluster with larger K) to recover them.
    The declared semantics are replayed end-to-end by the DuckDB
    oracle, shard hash included."""
    from kamiyo_hive_spark.operators.dedup import _portable_hash

    # same ONE-explicit-cid-exchange shape as semantic_dedup_embeddings
    # (hash(cid) satisfies the join sides and both aggregations; the
    # former width-pin checkpoint job is gone with the lazy return)
    assigned = assign_to_seed_centroids(
        spark, sf_dir, SEMDEDUP_K
    ).repartition(8, F.col("cid")).withColumn(
        "shard",
        F.pmod(_portable_hash(F.col("vec_id").cast("string"), 7), F.lit(SEMDEDUP_SHARDS)),
    )
    a = assigned.alias("a")
    b = assigned.alias("b")
    sim_p = F.round(_dot(F.col("a.nv"), F.col("b.nv")), 9)
    dup_counts = (
        a.join(
            b,
            (F.col("b.cid") == F.col("a.cid"))
            & (F.col("b.shard") == F.col("a.shard"))
            & (F.col("b.vec_id") > F.col("a.vec_id")),
        )
        .filter(sim_p >= SEMDEDUP_TAU)
        .groupBy(F.col("a.cid").alias("cluster_id"))
        .agg(F.countDistinct(F.col("b.vec_id")).alias("n_dups"))
    )
    sizes = assigned.groupBy(F.col("cid").alias("cluster_id")).agg(
        F.count("*").alias("n_vecs")
    )
    out = sizes.join(dup_counts, "cluster_id", "left").select(
        "cluster_id",
        "n_vecs",
        F.coalesce(F.col("n_dups"), F.lit(0)).cast("long").alias("n_dups"),
        (F.col("n_vecs") - F.coalesce(F.col("n_dups"), F.lit(0))).cast("long").alias("n_kept"),
    )
    return out


def lsh_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """SRP-LSH index as a bucket-PARTITIONED parquet layout
    (fingerprint-cached per sf_dir): every vector written under its
    bucket's directory. This is the physical form the `knn_lsh`
    docstring promises at 100 TB — and `knn_lsh_partitioned` proves
    the probe actually partition-prunes against it."""
    import os

    from kamiyo_hive_spark.sources.sinks import SCRATCH, ensure_staging

    out = f"{SCRATCH}/embeddings_lsh_{os.path.basename(sf_dir)}"
    source = os.path.join(sf_dir, "embeddings.parquet")
    e = table(spark, sf_dir, "embeddings")
    emb = F.col("embedding").cast("array<double>")
    return ensure_staging(
        out,
        source,
        # DISTRIBUTE BY bucket before the 2^NBITS-directory write: the
        # per-dir file creation parallelizes across the pool instead of
        # running serially in the scan's task (3.3 s -> 1.3 s at sf0.1),
        # layout unchanged (one file per bucket)
        lambda tmp: e.withColumn("bucket", srp_bucket("CAST(embedding AS ARRAY<DOUBLE>)", _hyperplanes()))
        .repartition(F.col("bucket"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(tmp),
    )


ANN_UPSERT_MOD = 25  # delta slice: vec_id % MOD == RES arrives "today"
ANN_UPSERT_RES = 7
ANN_UPSERT_WRITER = "ann_delta_merge"  # commit tag: the merge landed


def ann_upsert_table(spark: SparkSession, sf_dir: str) -> str:
    """Txlog TABLE whose version 0 is the bucket-partitioned index over
    the corpus MINUS the delta slice (vec_id % ANN_UPSERT_MOD ==
    ANN_UPSERT_RES held out) — "yesterday's index", the starting state
    for the incremental upsert. Fingerprint-cached staging like the
    other index pools; MOD/RES are encoded in the table root so a test
    that overrides the residue gets its OWN table and can never poison
    the real one's cache (ADVICE r7 medium)."""
    import os

    from kamiyo_hive_spark.sources.sinks import SCRATCH, ensure_txlog

    out = (
        f"{SCRATCH}/ann_upsert_tx_{ANN_UPSERT_MOD}_{ANN_UPSERT_RES}_"
        f"{os.path.basename(sf_dir)}"
    )
    source = os.path.join(sf_dir, "embeddings.parquet")
    e = table(spark, sf_dir, "embeddings")

    def build(log) -> None:
        base = e.filter(
            F.pmod(F.col("vec_id"), F.lit(ANN_UPSERT_MOD)) != ANN_UPSERT_RES
        ).select("vec_id", "label", "embedding")
        log.append_partitioned(
            base,
            layout=srp_bucket("CAST(embedding AS ARRAY<DOUBLE>)", _hyperplanes()),
            spec="bucket",
            writer="ann_base_load",
        )

    return ensure_txlog(out, source, build).root


def _ann_upsert_merged_log(spark: SparkSession, sf_dir: str):
    """The staged ANN txlog table WITH the delta merge applied — the
    merge-once gate shared by the probe and the CDF audit: writer-tag
    scan of the (tiny) commit history under the same cross-process
    lock discipline as the stagings, so two sessions racing here
    serialize and the loser sees the tag and skips straight to its
    read.

    Lock nesting (ADVICE r8 low): the merge holds the table's STAGING
    lock as well as its own merge gate — `ensure_staging` rebuilds and
    swap-renames the table root under `{root}.lock`, which the old
    merge-only gate did not exclude, so a testdata-regeneration rebuild
    in another session could rename the root mid-merge and split the
    merge's staged files and commit JSON across generations. Order is
    staging-then-merge everywhere; `staging_current` is re-checked
    under the locks and the whole sequence retried if a rebuild won
    the race (the delta commit on a pure-insert slice is idempotent at
    the row level, but a fresh generation must get its OWN merge)."""
    import os

    from kamiyo_hive_spark.sources.sinks import _staging_lock, staging_current
    from kamiyo_hive_spark.sources.txlog import TxLog

    source = os.path.join(sf_dir, "embeddings.parquet")
    while True:
        root = ann_upsert_table(spark, sf_dir)
        with _staging_lock(root), _staging_lock(f"{root}.merge"):
            if not staging_current(root, source):
                continue  # a rebuild swapped generations under us; retry
            log = TxLog(root)
            merged = any(c.writer == ANN_UPSERT_WRITER for c in log.history())
            if not merged:
                e = table(spark, sf_dir, "embeddings")
                delta = e.filter(
                    F.pmod(F.col("vec_id"), F.lit(ANN_UPSERT_MOD))
                    == ANN_UPSERT_RES
                ).select("vec_id", "label", "embedding")
                log.merge_partitioned(
                    spark,
                    delta,
                    layout=srp_bucket(
                        "CAST(embedding AS ARRAY<DOUBLE>)", _hyperplanes()
                    ),
                    spec="bucket",
                    keys=["vec_id"],
                    writer=ANN_UPSERT_WRITER,
                )
            return log


@register(
    "ann_index_upsert_probe",
    oracle=_knn_lsh_oracle(),  # the upserted index must equal the full corpus
    tags=("similarity", "ann-lsh", "index-maintenance", "incremental"),
)
def ann_index_upsert_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance — the serving-side story the
    partitioned layout implies, routed through the repo's txlog ACID
    layer (VERDICT r7 Next 3): a delta batch of new embeddings
    (vec_id % {MOD} == {RES}, withheld from the table's version-0 base
    load) is MERGEd into the bucket-partitioned index as ONE
    serializable commit that rewrites ONLY the buckets the delta lands
    in; every file of an untouched bucket stays referenced as-is —
    same file, same inode, zero data movement (tests pin this). The
    returned probe runs against the post-merge snapshot and must equal
    the full-corpus `knn_lsh_cosine` answer — the completeness proof
    that no delta row was lost and no base row clobbered.

    Plan shape, stage by stage:
    - base: `ann_upsert_table` version 0 (fingerprint-cached staging)
      — "the production index as of yesterday". No copytree: the merge
      commits AGAINST the staged table, it never clones it.
    - merge: `TxLog.merge_partitioned` — touched buckets discovered
      from the delta via the same `srp_bucket` expression that built
      the index (one convention, one code path); existing rows of
      touched buckets come from a metadata-pruned file list (the read
      is delta-sized, not corpus-sized); the commit's adds/removes are
      exactly the touched buckets' files. Idempotent per staging
      generation: the `{WRITER}` commit tag is checked under the
      cross-process staging lock, so re-runs and concurrent sessions
      serve reads instead of re-merging — at 100 TB this IS MERGE INTO
      on a table format, and the cost tracks the delta, not the index.
    - probe: the standard hamming-1 multiprobe as a file-list-pruned
      snapshot read (`TxLog.read_pruned`) — only the ~9 probe buckets'
      files reach the scan, and the file set is an immutable committed
      snapshot, so a concurrent re-run can never rmtree a directory
      out from under the read (the r7 probe-read race is structurally
      impossible: nothing is ever rewritten in place).

    Reference anchor: the indexer's incremental account-update path
    (`lib/indexer.ts:45-62` consumes deltas, not snapshots)."""
    log = _ann_upsert_merged_log(spark, sf_dir)
    qlit, probes = _query_probe(spark, sf_dir)
    idx = log.read_pruned(spark, "bucket", probes)
    v = F.col("embedding").cast("array<double>")
    sim = _dot(v, qlit) / (_norm(v) * _norm(qlit))
    return (
        idx.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", F.round(sim, 9).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


ANN_STREAM_BATCHES = 3
ANN_STREAM_WRITER = "ann-stream-merge"


def _ann_delta_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """The upsert delta slice staged as {N} id-ranged files so the file
    stream source (maxFilesPerTrigger=1) delivers a genuine multi-
    micro-batch delta feed — the same staging idiom as
    `streaming.jobs._multibatch_events_dir`, mtimes pinned ascending so
    arrival order is deterministic."""
    import glob
    import os
    import time

    from kamiyo_hive_spark.sources.sinks import SCRATCH, ensure_staging

    out = (
        f"{SCRATCH}/ann_delta_stream_{ANN_UPSERT_MOD}_{ANN_UPSERT_RES}_"
        f"{os.path.basename(sf_dir)}"
    )
    source = os.path.join(sf_dir, "embeddings.parquet")
    e = table(spark, sf_dir, "embeddings")

    def build(tmp: str) -> None:
        e.filter(
            F.pmod(F.col("vec_id"), F.lit(ANN_UPSERT_MOD)) == ANN_UPSERT_RES
        ).select("vec_id", "embedding", "label").repartitionByRange(
            ANN_STREAM_BATCHES, "vec_id"
        ).write.mode("overwrite").parquet(tmp)
        base = time.time() - 3600
        for i, path in enumerate(sorted(glob.glob(os.path.join(tmp, "part-*")))):
            os.utime(path, (base + i, base + i))

    return ensure_staging(out, source, build)


def _knn_oracle_with_versions(n_versions: int) -> str:
    # outer ORDER BY (ADVICE r8 low): SQL does not guarantee the
    # subquery's Top-N order survives the outer projection — DuckDB
    # happens to preserve it today, but the registry's determinism
    # contract ("any LIMIT/top-K is preceded by a total order") must
    # hold on the final result, not on an implementation accident.
    return (
        f"SELECT q.*, CAST({n_versions} AS BIGINT) AS n_versions FROM ("
        + _knn_lsh_oracle()
        + ") q ORDER BY cosine_sim DESC, vec_id"
    )


@register(
    "streaming_ann_index_merge",
    oracle=_knn_oracle_with_versions(ANN_STREAM_BATCHES + 1),
    tags=(
        "streaming",
        "similarity",
        "ann-lsh",
        "index-maintenance",
        "foreachBatch",
        "exactly-once",
        "acid",
    ),
)
def streaming_ann_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN index maintenance end-to-end (NEW r8): the delta
    slice arrives as a {B}-micro-batch file stream and each batch is
    MERGEd into the bucket-partitioned txlog index through
    foreachBatch — one `merge_partitioned` rewrite commit per batch,
    exactly-once by the Delta `txn` recipe (writer tag
    `{W}-b<batchId>` checked before merging, so a crash-recovery
    replay is recognized and skipped; the query re-asserts the
    batch-0 replay skip on EVERY run). After the stream drains, the
    probe must equal the full-corpus `knn_lsh_cosine` answer AND the
    pinned version count (1 base load + {B} merges) — a double-merge,
    a lost batch, or a clobbered base row all break the oracle hash.

    The ingest (base load + streamed merges) is a fingerprint-cached
    staging like every other index build in this module: it runs once
    per testdata generation, and re-runs serve reads from the merged
    table — the same cost-tracks-the-delta convention as
    `ann_index_upsert_probe` (a production stream merges a batch
    exactly once; queries hit the table).

    This is the composition the three subsystems were built for: the
    live-feed story of `ann_index_upsert_probe` (whose single-batch
    MERGE algebra it reuses verbatim), running through the streaming
    engine's recovery contract, committing through the ACID layer. At
    100 TB: readStream from the message bus -> foreachBatch MERGE INTO
    the index table; cost per batch tracks the delta's touched
    buckets, never the index.

    Reference anchor: the indexer's incremental account-update path
    consumes a subscription feed, not snapshots
    (`lib/indexer.ts:45-62`, `ws-server.ts` stream fan-in)."""
    import os
    import shutil

    from kamiyo_hive_spark.sources.sinks import SCRATCH, ensure_txlog
    from kamiyo_hive_spark.sources.txlog import TxLog
    from kamiyo_hive_spark.streaming.jobs import drain, streaming_run

    out_root = (
        f"{SCRATCH}/ann_stream_tx_{ANN_UPSERT_MOD}_{ANN_UPSERT_RES}_"
        f"{os.path.basename(sf_dir)}"
    )
    source = os.path.join(sf_dir, "embeddings.parquet")
    src = _ann_delta_stream_dir(spark, sf_dir)
    layout = srp_bucket("CAST(embedding AS ARRAY<DOUBLE>)", _hyperplanes())
    cols = ["vec_id", "label", "embedding"]
    schema = "vec_id long, embedding array<float>, label int"

    def merge_batch(log: TxLog, df: DataFrame, bid: int) -> bool:
        writer = f"{ANN_STREAM_WRITER}-b{bid}"
        if any(c.writer == writer for c in log.history()):
            return False  # already committed: replay after crash/restart
        log.merge_partitioned(
            spark, df.select(*cols), layout=layout, spec="bucket",
            keys=["vec_id"], writer=writer,
        )
        return True

    def build(log: TxLog) -> None:
        ckpt = log.root + ".ckpt"
        shutil.rmtree(ckpt, ignore_errors=True)
        e = table(spark, sf_dir, "embeddings")
        base = e.filter(
            F.pmod(F.col("vec_id"), F.lit(ANN_UPSERT_MOD)) != ANN_UPSERT_RES
        ).select(*cols)
        log.append_partitioned(
            base, layout=layout, spec="bucket", writer="ann_base_load"
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        try:
            with streaming_run(stream, "append", 8) as writer:
                drain(
                    writer.foreachBatch(lambda df, bid: merge_batch(log, df, bid))
                    .option("checkpointLocation", ckpt)
                    .start()
                )
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)

    log = ensure_txlog(out_root, source, build)

    # crash-recovery replay of batch 0 on EVERY run: recognized,
    # skipped, log untouched — the exactly-once contract, in-protocol
    v_before = log.version()
    if merge_batch(log, spark.read.schema(schema).parquet(src), 0):
        raise RuntimeError("replayed batch 0 was merged twice")
    if log.version() != v_before:
        raise RuntimeError("replay changed the log")
    n_versions = log.version() + 1
    if n_versions != ANN_STREAM_BATCHES + 1:
        raise RuntimeError(
            f"expected {ANN_STREAM_BATCHES + 1} versions, got {n_versions}"
        )

    qlit, probes = _query_probe(spark, sf_dir)
    idx = log.read_pruned(spark, "bucket", probes)
    v = F.col("embedding").cast("array<double>")
    sim = _dot(v, qlit) / (_norm(v) * _norm(qlit))
    return (
        idx.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", F.round(sim, 9).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(TOP_K)
        .withColumn("n_versions", F.lit(n_versions).cast("long"))
    )


def _ann_diff_oracle() -> str:
    return f"""
    WITH {srp_cte_block()},
    per_bucket AS (
        SELECT b.bucket,
               SUM(CASE WHEN b.vec_id % {ANN_UPSERT_MOD} = {ANN_UPSERT_RES}
                        THEN 1 ELSE 0 END) AS n_delta,
               SUM(CASE WHEN b.vec_id % {ANN_UPSERT_MOD} = {ANN_UPSERT_RES}
                        THEN 0 ELSE 1 END) AS n_base
        FROM buckets b
        GROUP BY 1
    )
    SELECT bucket,
           CAST(n_base + n_delta AS BIGINT) AS n_inserted,
           CAST(n_base AS BIGINT) AS n_deleted,
           CAST(n_delta AS BIGINT) AS n_net
    FROM per_bucket
    WHERE n_delta > 0
    ORDER BY bucket
    """


@register(
    "ann_index_version_diff",
    oracle=_ann_diff_oracle(),
    tags=("similarity", "ann-lsh", "index-maintenance", "cdf", "acid", "audit"),
)
def ann_index_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed AUDIT of the incremental ANN merge (NEW r8):
    `read_changes` over the upsert table's version range (base load →
    merge) yields the file-granular CDF — every row of a touched
    bucket surfaces as a delete (old file) plus an insert (replacement
    file), delta rows as pure inserts — and the per-bucket
    insert/delete/net accounting must equal the delta's TRUE bucket
    histogram, which the oracle recomputes from scratch through the
    shared SRP CTE block. A merge that dropped a base row, duplicated
    a delta row, or touched an extra bucket breaks the hash.

    This is the operational readback of the MERGE story: a downstream
    consumer (replica index, cache invalidator) processes exactly the
    day's touched-bucket delta, never the table — the Delta-CDF
    incremental-consumption shape on the ANN index.

    Scale posture: manifest diff is metadata work; only CHANGED files
    are read (delta-sized, not index-sized); the bucket recompute is
    the same one-expression srp_bucket fold the index was built with;
    one partial-agg exchange over changed rows.

    Reference anchor: the indexer's incremental account-update path
    (`lib/indexer.ts:45-62`) plus its audit log readback."""
    from kamiyo_hive_spark.sources.txlog import read_changes

    log = _ann_upsert_merged_log(spark, sf_dir)
    ch = read_changes(log, spark, 0, log.version()).withColumn(
        "bucket",
        srp_bucket("CAST(embedding AS ARRAY<DOUBLE>)", _hyperplanes()),
    )
    ins = F.when(F.col("_change_type") == "insert", 1).otherwise(0)
    dele = F.when(F.col("_change_type") == "delete", 1).otherwise(0)
    out = (
        ch.groupBy("bucket")
        .agg(
            F.sum(ins).cast("long").alias("n_inserted"),
            F.sum(dele).cast("long").alias("n_deleted"),
        )
        .withColumn("n_net", (F.col("n_inserted") - F.col("n_deleted")).cast("long"))
        .orderBy("bucket")
    )
    from kamiyo_hive_spark.catalog import input_sized_shuffle

    with input_sized_shuffle(spark, sf_dir, "embeddings"):
        return out.localCheckpoint()


ANN_COMPACT_SLICES = 3  # incremental ingest slices that fragment buckets


def _knn_oracle_compacted() -> str:
    return (
        f"SELECT q.*, CAST({ANN_COMPACT_SLICES + 2} AS BIGINT) AS n_versions, "
        "CAST(1 AS BIGINT) AS max_files_per_bucket FROM ("
        + _knn_lsh_oracle()
        + ") q ORDER BY cosine_sim DESC, vec_id"
    )


@register(
    "ann_index_compaction",
    oracle=_knn_oracle_compacted(),
    tags=(
        "similarity",
        "ann-lsh",
        "index-maintenance",
        "compaction",
        "acid",
    ),
)
def ann_index_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction closes the ANN maintenance loop (VERDICT r8 Next 2):
    incremental ingest fragments the hot buckets — the base load plus
    {S} delta-slice partitioned appends leave every delta-touched
    bucket with one extra file per slice — and `optimize_partitioned`
    bin-packs each fragmented bucket back to ONE file in a single
    conflict-checked rewrite commit WITHOUT collapsing the partition
    layout (probes keep pruning). The build asserts, before trusting
    anything: fragmentation actually occurred; every healthy
    (single-file) bucket survives compaction with the SAME path and
    SAME inode (not read, not rewritten, absent from the commit); and
    vacuum GC's the fragments. The returned probe must equal the
    full-corpus `knn_lsh_cosine` answer — compaction must be a pure
    re-layout — with the version count (1 base + {S} appends +
    1 rewrite) and the post-compaction max-files-per-bucket pinned IN
    the oracle hash, both recomputed from the live manifest at query
    time.

    At 100 TB this is the nightly OPTIMIZE on the serving index:
    merge → CDF audit → compact, all through one ACID layer; victim
    selection is manifest metadata and the rewrite reads fragment
    bytes only, so the cost tracks fragmentation, never the index.

    Reference anchor: the indexer's incremental account-update path
    (`lib/indexer.ts:45-62`) — its store compacts segments the same
    way after absorbing update batches."""
    import os

    from kamiyo_hive_spark.sources.sinks import SCRATCH, ensure_txlog
    from kamiyo_hive_spark.sources.txlog import (
        TxLog,
        optimize_partitioned,
        vacuum,
    )

    out_root = (
        f"{SCRATCH}/ann_compact_tx_{ANN_UPSERT_MOD}_{ANN_UPSERT_RES}_"
        f"{os.path.basename(sf_dir)}"
    )
    source = os.path.join(sf_dir, "embeddings.parquet")
    layout = srp_bucket("CAST(embedding AS ARRAY<DOUBLE>)", _hyperplanes())
    cols = ["vec_id", "label", "embedding"]

    def per_bucket_files(log: TxLog) -> dict[str, list[str]]:
        by: dict[str, list[str]] = {}
        for f in log.snapshot_files():
            b = next(
                p.partition("=")[2]
                for p in f.split(os.sep)
                if p.partition("=")[0] == "bucket"
            )
            by.setdefault(b, []).append(f)
        return by

    def build(log: TxLog) -> None:
        e = table(spark, sf_dir, "embeddings")
        base = e.filter(
            F.pmod(F.col("vec_id"), F.lit(ANN_UPSERT_MOD)) != ANN_UPSERT_RES
        ).select(*cols)
        log.append_partitioned(
            base, layout=layout, spec="bucket", writer="ann_base_load"
        )
        delta = e.filter(
            F.pmod(F.col("vec_id"), F.lit(ANN_UPSERT_MOD)) == ANN_UPSERT_RES
        ).select(*cols)
        for i in range(ANN_COMPACT_SLICES):
            log.append_partitioned(
                delta.filter(
                    F.pmod(
                        F.floor(F.col("vec_id") / ANN_UPSERT_MOD),
                        F.lit(ANN_COMPACT_SLICES),
                    )
                    == i
                ),
                layout=layout,
                spec="bucket",
                writer=f"ann_ingest_slice_{i}",
            )
        before = per_bucket_files(log)
        if not any(len(fs) > 1 for fs in before.values()):
            raise RuntimeError("ingest produced no fragmentation to compact")
        healthy = {
            fs[0]: os.stat(os.path.join(log.root, fs[0])).st_ino
            for fs in before.values()
            if len(fs) == 1
        }
        v = optimize_partitioned(
            log, spark, "bucket", target_files_per_partition=1
        )
        if v != ANN_COMPACT_SLICES + 1:
            raise RuntimeError(
                f"compaction landed at v{v}, expected {ANN_COMPACT_SLICES + 1}"
            )
        live = set(log.snapshot_files())
        rewrite = log.history()[v]
        touched = set(rewrite.adds) | set(rewrite.removes)
        for f, ino in healthy.items():
            if f not in live or f in touched:
                raise RuntimeError(f"healthy bucket file was rewritten: {f}")
            if os.stat(os.path.join(log.root, f)).st_ino != ino:
                raise RuntimeError(f"healthy bucket file changed inode: {f}")
        if vacuum(log, retain_versions=1, retain_seconds=0.0) < 1:
            raise RuntimeError("vacuum collected no fragments")

    log = ensure_txlog(out_root, source, build)
    n_versions = log.version() + 1
    max_files = max(len(fs) for fs in per_bucket_files(log).values())

    qlit, probes = _query_probe(spark, sf_dir)
    idx = log.read_pruned(spark, "bucket", probes)
    v = F.col("embedding").cast("array<double>")
    sim = _dot(v, qlit) / (_norm(v) * _norm(qlit))
    return (
        idx.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", F.round(sim, 9).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(TOP_K)
        .withColumn("n_versions", F.lit(n_versions).cast("long"))
        .withColumn("max_files_per_bucket", F.lit(max_files).cast("long"))
    )


_IDX_DF_CACHE: dict[tuple[int, str, str], DataFrame] = {}
_IDX_SESSIONS: dict = {}  # applicationId -> weakref.ref(SparkContext)


def _session_dead(appid: str) -> bool:
    """True iff the session that cached under ``appid`` is provably
    gone: its context was garbage-collected or stopped (pyspark nulls
    `_jsc` on stop). Unknown appids are treated as dead — they can
    only appear if the registry was cleared, and their plans are
    unusable anyway."""
    ref = _IDX_SESSIONS.get(appid)
    if ref is None:
        return True
    sc = ref()
    return sc is None or sc._jsc is None


def lsh_index_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached DataFrame over the bucket-partitioned SRP index.

    `spark.read.parquet` on a 256-directory layout pays file listing +
    schema inference (~0.7 s measured at sf0.1) on EVERY call; a
    catalog table would amortize that in sharedState's cached file
    index. This module-level cache is the same idea for the staged
    path-based index: the resolved relation (and its InMemoryFileIndex)
    is reused across probes in a session. Keyed by the staged dir's
    recorded source fingerprint, so a driver-side testdata regeneration
    (which rebuilds the staging in place) invalidates stale entries."""
    return _staged_index_df(spark, lsh_index_dir(spark, sf_dir))


def _staged_index_df(spark: SparkSession, d: str) -> DataFrame:
    """The cache body shared by every staged-index reader (full index,
    upsert base): keyed by (applicationId, dir, recorded fingerprint).

    Eviction is scoped (VERDICT r8 nit 4): a miss evicts only THIS
    session's superseded entries for THIS dir (older fingerprint after
    a testdata regeneration) plus any entry whose owning session is
    provably dead (context stopped or collected, tracked by weakref) —
    never a live sibling session's entries, so two concurrent
    SparkSessions can't thrash each other's cached relations."""
    import os
    import weakref

    with open(os.path.join(d, "_SOURCE_FINGERPRINT")) as fh:
        fp = fh.read()
    appid = spark.sparkContext.applicationId
    key = (appid, d, fp)
    df = _IDX_DF_CACHE.get(key)
    if df is None:
        _IDX_SESSIONS[appid] = weakref.ref(spark.sparkContext)
        for k in [
            k
            for k in _IDX_DF_CACHE
            if (k[0] == appid and k[1] == d) or _session_dead(k[0])
        ]:
            del _IDX_DF_CACHE[k]
        df = spark.read.parquet(d)
        _IDX_DF_CACHE[key] = df
    return df


@register(
    "knn_lsh_partitioned",
    oracle=_knn_lsh_oracle(),
    tags=("similarity", "ann-lsh", "partition-pruning"),
)
def knn_lsh_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `knn_lsh_cosine` probe against the bucket-PARTITIONED index
    layout: the probe set (query bucket + hamming-1 neighbors, computed
    driver-side from the deterministic hyperplanes) reaches the scan as
    PartitionFilters, so Spark lists and reads ONLY the ~9 of 256
    bucket directories the probe names — the other 96.5% of the corpus
    is never opened. Same oracle as the expression-filter variant
    (results must be identical; only the I/O changes), and
    tests/test_similarity.py asserts the plan carries the partition
    filter and that both variants agree row-for-row.

    At 100 TB this layout IS the ANN serving story: a probe's cost
    tracks its bucket sizes, not the corpus."""
    qlit, probes = _query_probe(spark, sf_dir)

    idx = lsh_index_df(spark, sf_dir)
    v = F.col("embedding").cast("array<double>")
    sim = _dot(v, qlit) / (_norm(v) * _norm(qlit))
    return (
        idx.filter(F.col("bucket").isin(probes))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", F.round(sim, 9).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


CPM_ANCHORS = 100   # anchor slice for the oracle-bounded self-test
CPM_TAU_POS = 0.15  # positives must clear this cosine

_CPM_ORACLE = f"""
WITH raw AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
d AS (
    SELECT vec_id,
           list_transform(
               v, x -> x / sqrt(list_reduce(list_transform(v, y -> y * y),
                                            (acc, y) -> acc + y))) AS nv
    FROM raw
),
c AS (SELECT vec_id AS cid, nv AS cv FROM d WHERE vec_id < {SEMDEDUP_K}),
scored AS (
    SELECT d.vec_id, c.cid,
           round(list_reduce(list_transform(list_zip(d.nv, c.cv), p -> p[1] * p[2]),
                             (acc, x) -> acc + x), 9) AS sim
    FROM d, c
),
assigned AS (
    SELECT vec_id, cid
    FROM (SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
          FROM scored)
    WHERE rn = 1
),
pairs AS (
    SELECT a.vec_id AS anchor, b.vec_id AS cand,
           (ca.cid = cb.cid) AS same_cluster,
           round(list_reduce(list_transform(list_zip(da.nv, db.nv), p -> p[1] * p[2]),
                             (acc, x) -> acc + x), 9) AS sim
    FROM d a
    JOIN d b ON b.vec_id <> a.vec_id
    JOIN assigned ca ON ca.vec_id = a.vec_id
    JOIN assigned cb ON cb.vec_id = b.vec_id
    JOIN d da ON da.vec_id = a.vec_id
    JOIN d db ON db.vec_id = b.vec_id
    WHERE a.vec_id < {CPM_ANCHORS}
),
pos AS (
    SELECT anchor, cand AS positive_id, sim AS pos_sim
    FROM (SELECT anchor, cand, sim,
                 row_number() OVER (PARTITION BY anchor
                                    ORDER BY sim DESC, cand) AS rn
          FROM pairs WHERE same_cluster AND sim >= {CPM_TAU_POS})
    WHERE rn = 1
),
neg AS (
    SELECT anchor, cand AS negative_id, sim AS neg_sim
    FROM (SELECT anchor, cand, sim,
                 row_number() OVER (PARTITION BY anchor
                                    ORDER BY sim DESC, cand) AS rn
          FROM pairs WHERE NOT same_cluster)
    WHERE rn = 1
)
SELECT p.anchor, p.positive_id, p.pos_sim, n.negative_id, n.neg_sim
FROM pos p JOIN neg n USING (anchor)
ORDER BY p.anchor
"""


@register(
    "contrastive_pair_mining",
    oracle=_CPM_ORACLE,
    tags=("similarity", "contrastive", "hard-negative", "training-pipeline"),
)
def contrastive_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining over the embedding corpus: for
    each anchor, the POSITIVE is its most-similar same-cluster
    neighbor clearing tau, and the HARD NEGATIVE is its most-similar
    cross-cluster vector — the standard in-batch/hard-negative recipe
    for embedding-model training (anchors whose cluster offers no
    positive above tau drop out, matching the oracle's inner join).

    Scale posture: anchors are a bounded slice (a training BATCH — at
    100 TB you mine per shuffled batch, not per corpus), so the
    candidate join is |batch| × corpus partitioned on the candidate
    side; the per-anchor argmaxes are one aggregation keyed by anchor.
    Production narrows the negative scan with the ANN bucket index
    (same `lsh_index_dir` layout) — the brute scan here is the recall
    oracle. Same normalize-once / round(9) / lowest-id tie-break float
    discipline as every cosine operator in this module."""
    assigned = assign_to_seed_centroids(
        spark, sf_dir, SEMDEDUP_K, materialize=True
    )
    anchors = assigned.filter(F.col("vec_id") < CPM_ANCHORS).select(
        F.col("vec_id").alias("anchor"),
        F.col("nv").alias("anv"),
        F.col("cid").alias("acid"),
    )
    cands = assigned.select(
        F.col("vec_id").alias("cand"),
        F.col("nv").alias("cnv"),
        F.col("cid").alias("ccid"),
    )
    sim = F.round(_dot(F.col("anv"), F.col("cnv")), 9)
    pairs = (
        anchors.join(cands, F.col("cand") != F.col("anchor"))
        .select(
            "anchor",
            "cand",
            (F.col("acid") == F.col("ccid")).alias("same_cluster"),
            sim.alias("sim"),
        )
    )
    # BOTH argmaxes in ONE conditional aggregation over ONE pass of the
    # pair scan (r8): the former pos/neg filter->groupBy->join shape ran
    # the anchor x corpus non-equi join TWICE (once per consumer) and
    # paid a third exchange for the join; conditional max(when(...))
    # skips non-qualifying pairs exactly like the filters did (max
    # ignores NULLs), and anchors lacking a qualifying positive or
    # negative drop via the NOT NULL filter exactly like the former
    # inner join. argmax via max(struct): (sim desc, cand asc) ==
    # struct(sim, -cand). Measured 1.6 s -> ~0.6 s at sf0.1.
    cand_struct = F.struct(F.col("sim"), (-F.col("cand")).alias("nc"))
    fused = pairs.groupBy("anchor").agg(
        F.max(
            F.when(
                F.col("same_cluster") & (F.col("sim") >= CPM_TAU_POS),
                cand_struct,
            )
        ).alias("pb"),
        F.max(F.when(~F.col("same_cluster"), cand_struct)).alias("nb"),
    )
    return (
        fused.filter(F.col("pb").isNotNull() & F.col("nb").isNotNull())
        .select(
            "anchor",
            (-F.col("pb.nc")).cast("long").alias("positive_id"),
            F.col("pb.sim").alias("pos_sim"),
            (-F.col("nb.nc")).cast("long").alias("negative_id"),
            F.col("nb.sim").alias("neg_sim"),
        )
    )
