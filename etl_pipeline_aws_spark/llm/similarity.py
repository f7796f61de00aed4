"""Similarity search over ``embeddings`` (BASELINE.json north star:
approximate-nearest-neighbor over an embedding column).

Three tiers, per the scale ladder:

- **brute force** (oracle-checked): broadcast the query set, one scan of
  the candidates, window top-k.  Exact, and the dot-product fold is
  bit-identical to DuckDB's ``list_sum(list_transform(...))`` (verified),
  so even similarity VALUES are value-hashed.
- **IVF** (rows-only): coarse-quantize the corpus with a seeded k-means
  fit, route each query to its nearest centroid cells, search only there.
  At 100 TB the cell column is the Parquet partition key ⇒ partition
  pruning turns ANN into a scan of nprobe/ncells of the data.
- **random-hyperplane LSH** (rows-only): sign-bit signature via a fixed
  seeded hyperplane matrix (Pandas UDF, Arrow-vectorized numpy matmul),
  bucket join, search within buckets.

Recall of both approximate tiers is pinned against brute force in
tests/test_llm.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_pipeline_aws_spark.catalog import bare_tables, cpu_parallel, load_table
from etl_pipeline_aws_spark.registry import query, rows_only_query

N_QUERIES = 10  # vec_id < 10 are the query set
TOP_K = 5
LSH_TABLES = 8  # L independent tables: recall 1-(1-p^bits)^L
LSH_BITS = 4  # bits per table signature
LSH_SEED = 42
# nprobe/ncells is THE recall-vs-cost knob.  The driver's embeddings are
# uniform random 64-d vectors — the adversarial case for any coarse
# quantizer (neighbors are near-orthogonal, cells carry little signal) —
# and 8/16 measures 0.84 recall there; clustered real-world embeddings
# reach the same recall at a far smaller fraction.
IVF_NPROBE = 8
IVF_NCELLS = 16
IVF_SEED = 7


def _normed(emb: DataFrame) -> DataFrame:
    """vec_id, v (double array), nrm — shared by all tiers."""
    return emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).withColumn(
        "nrm",
        F.sqrt(
            F.aggregate(
                F.transform("v", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
            )
        ),
    )


def _cosine(a_v, b_v, a_nrm, b_nrm):
    dot = F.aggregate(
        F.zip_with(a_v, b_v, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return dot / (a_nrm * b_nrm)


BRUTEFORCE_ORACLE = f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), n AS (
        SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e
    ), q AS (
        SELECT * FROM n WHERE vec_id < {N_QUERIES}
    ), sims AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]))
                   / (q.nrm * c.nrm) AS cosine
        FROM q JOIN n c ON c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rn
          FROM sims)
    WHERE rn <= {TOP_K}
"""


@query("similarity_topk_bruteforce", oracle=BRUTEFORCE_ORACLE)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast queries × one candidate scan; top-k
    via per-query window (WindowGroupLimit — no global sort)."""
    e = _normed(load_table(spark, sf_dir, "embeddings"))
    q = F.broadcast(
        e.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
        )
    )
    sims = (
        q.join(e, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cosine(F.col("qv"), F.col("v"), F.col("qnrm"), F.col("nrm")).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
    )


RANGE_SEARCH_TAU = 0.3  # cosine radius for range search


RANGE_SEARCH_ORACLE = f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), n AS (
        SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e
    ), q AS (
        SELECT * FROM n WHERE vec_id < {N_QUERIES}
    )
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]))
               / (q.nrm * c.nrm) AS cosine
    FROM q JOIN n c ON c.vec_id <> q.vec_id
    WHERE list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]))
              / (q.nrm * c.nrm) >= {RANGE_SEARCH_TAU}
"""


@query("similarity_range_search", oracle=RANGE_SEARCH_ORACLE)
def similarity_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) similarity search: every corpus vector within cosine
    ≥ τ of each query — the retrieval primitive when the caller wants "all
    sufficiently similar", not a fixed k (e.g. building candidate pools
    for dedup review or RAG filtering).

    Same physical shape as the top-k brute force (broadcast query set ×
    one candidate scan), but with NO window stage at all: the radius
    predicate filters inside the joined projection, so the plan is a
    single BroadcastNestedLoopJoin + Filter — embarrassingly parallel over
    candidate splits, no shuffle whatsoever.  At 100 TB the scan side
    partitions freely; the scale variant routes through the LSH tables
    first (similarity_topk_lsh's bucketing) to skip far cells, exactly as
    for top-k."""
    e = _normed(load_table(spark, sf_dir, "embeddings"))
    q = F.broadcast(
        e.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
        )
    )
    return (
        q.join(e, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cosine(F.col("qv"), F.col("v"), F.col("qnrm"), F.col("nrm")).alias("cosine"),
        )
        .filter(F.col("cosine") >= RANGE_SEARCH_TAU)
    )


@rows_only_query("similarity_topk_ivf")
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with REAL coarse quantization: cells come from a seeded
    k-means fit (``pyspark.ml.clustering.KMeans``) over the corpus, so
    cell boundaries follow the data's geometry instead of an arbitrary
    metadata column; each query searches only its IVF_NPROBE nearest
    cells by centroid cosine.  Same output schema as brute force; recall
    vs brute force is pinned ≥ 0.8 in tests/test_llm.py.

    At 100 TB: the fit runs on a sample (k-means cost is per-point ×
    iterations; a 1% sample fixes the same centroids), `cell` becomes the
    Parquet partition key, centroids are a tiny broadcast table, and each
    query reads ~nprobe/ncells of the corpus via partition pruning.  The
    fit is a one-time index build — the per-query plan touches only the
    probed cells."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    e = _normed(load_table(spark, sf_dir, "embeddings"))
    fv = e.withColumn("fv", array_to_vector("v"))
    model = KMeans(
        k=IVF_NCELLS, seed=IVF_SEED, featuresCol="fv", predictionCol="cell", maxIter=20
    ).fit(fv)
    assigned = model.transform(fv).select("vec_id", "v", "nrm", "cell")
    cent = (
        spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
            "cell int, cv array<double>",
        )
        .withColumn(
            "cnrm",
            F.sqrt(
                F.aggregate(
                    F.transform("cv", lambda x: x * x),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
        )
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    # route each query to its 2 nearest centroids
    qc = q.crossJoin(F.broadcast(cent)).select(
        "query_id",
        "qv",
        "qnrm",
        "cell",
        _cosine(F.col("qv"), F.col("cv"), F.col("qnrm"), F.col("cnrm")).alias("ccos"),
    )
    wq = W.partitionBy("query_id").orderBy(F.col("ccos").desc(), "cell")
    probes = qc.withColumn("crank", F.row_number().over(wq)).filter(
        F.col("crank") <= IVF_NPROBE
    )
    # search only within the probed cells
    sims = (
        probes.join(
            assigned, (assigned.cell == probes.cell) & (assigned.vec_id != probes.query_id)
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cosine(F.col("qv"), F.col("v"), F.col("qnrm"), F.col("nrm")).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
    )


@rows_only_query("similarity_topk_lsh")
def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN, multi-table: L=8 independent tables of
    4 sign bits each (recall 1-(1-p^4)^8 ≈ 0.67 even for the ~72° gaps of
    random vectors); candidates are the union over tables, dedup'd, then
    exactly reranked.  The signature step is an Arrow-vectorized Pandas
    UDF (one numpy matmul per batch for ALL tables) — the pattern for any
    embedding-heavy kernel."""
    planes = np.random.RandomState(LSH_SEED).randn(64, LSH_TABLES * LSH_BITS)

    @F.pandas_udf("array<long>")
    def signatures(vs: pd.Series) -> pd.Series:
        mat = np.stack(vs.to_numpy())  # (batch, 64)
        bits = (mat @ planes) > 0  # (batch, tables*bits)
        weights = 1 << np.arange(LSH_BITS)
        sigs = bits.reshape(len(mat), LSH_TABLES, LSH_BITS).dot(weights)
        return pd.Series(list(sigs.astype("int64")))

    e = _normed(load_table(spark, sf_dir, "embeddings")).withColumn(
        "sigs", signatures("v")
    )
    tabs = e.select(
        "vec_id",
        "v",
        "nrm",
        F.posexplode("sigs").alias("table_id", "bucket"),
    )
    q = tabs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        F.col("table_id").alias("qtable"),
        F.col("bucket").alias("qbucket"),
    )
    candidates = (
        q.join(
            tabs,
            (tabs.table_id == q.qtable)
            & (tabs.bucket == q.qbucket)
            & (tabs.vec_id != q.query_id),
        )
        .select("query_id", "qv", "qnrm", "vec_id", "v", "nrm")
        .dropDuplicates(["query_id", "vec_id"])
    )
    sims = candidates.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cosine(F.col("qv"), F.col("v"), F.col("qnrm"), F.col("nrm")).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
    )


PROJ_DIMS = 8  # output sketch dimensions
PROJ_IN_DIMS = 64  # embedding dimensionality
PROJ_SCALE = 1000  # quantization: component -> round(x * 1000) integer


def _proj_sign_sql(i: str, j: int) -> str:
    """Deterministic ±1 sign matrix entry — a fixed pseudo-random pattern
    expressible identically in Spark SQL and DuckDB."""
    return f"(CASE WHEN ({i} * 73 + {j} * 151) % 7 < 4 THEN 1 ELSE -1 END)"


@query(
    "embedding_quantized_projection",
    oracle=f"""
    SELECT vec_id,
           {", ".join(
               f'''CAST(list_sum(list_transform(range(0, {PROJ_IN_DIMS}),
                   i -> CAST(ROUND(CAST(embedding[i + 1] AS DOUBLE)
                                   * {PROJ_SCALE}) AS BIGINT)
                        * {_proj_sign_sql("i", j)})) AS BIGINT) AS p{j}'''
               for j in range(PROJ_DIMS))}
    FROM embeddings
    """,
)
def embedding_quantized_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss-style signed random projection, 64-d -> 8-d,
    as the dimensionality-reduction sketch an ANN pipeline stores beside
    raw embeddings: p_j = sum_i q_i * s(i, j) with a FIXED deterministic
    ±1 sign matrix and components quantized to integers
    (round(x * 1000)), so the fold is exact integer arithmetic —
    bit-identical across engines where a float dot product could never
    hash-match.

    Entirely built-in expression API (``aggregate`` over ``sequence`` —
    whole-stage codegen, no Python): a narrow per-row map with zero
    shuffles, which is what makes it free to compute inline during a
    100 TB ingest; distance computations then run on 8 longs instead of
    64 floats (the sketch preserves relative distances within the JL
    bound for any fixed sign matrix that is sign-balanced per output
    dim, which {PROJ_DIMS}x{PROJ_IN_DIMS} at 4/7 positive density is
    close enough to for bucketing work)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cols = [
        F.expr(
            f"CAST(aggregate(sequence(0, {PROJ_IN_DIMS - 1}), 0L, (acc, i) -> "
            f"acc + CAST(ROUND(CAST(element_at(embedding, i + 1) AS DOUBLE)"
            f" * {PROJ_SCALE}) AS BIGINT) * {_proj_sign_sql('i', j)}) AS BIGINT)"
        ).alias(f"p{j}")
        for j in range(PROJ_DIMS)
    ]
    return emb.select("vec_id", *cols)


MIPS_ORACLE = f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), q AS (
        SELECT * FROM e WHERE vec_id < {N_QUERIES}
    ), sims AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]))
                   AS dot
        FROM q JOIN e c ON c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, dot, CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY dot DESC, neighbor_id) AS rn
          FROM sims)
    WHERE rn <= {TOP_K}
"""


@query("similarity_topk_dot", oracle=MIPS_ORACLE)
def similarity_topk_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product search (MIPS) top-k — the retrieval scoring
    used when embedding MAGNITUDE carries signal (recommendation models,
    unnormalized two-tower outputs), where cosine's normalization would
    erase it.  Same exact-tier plan as the cosine brute force: broadcast
    query set, one candidate scan, per-query WindowGroupLimit top-k; the
    LSH/IVF scale tiers apply after the standard reduction of MIPS to
    cosine by norm augmentation ([x; sqrt(M²-|x|²)] — documented, not
    needed at the exact tier).  Left-to-right zip_with fold matches
    DuckDB's list_sum element order, so dot VALUES hash-match."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    q = F.broadcast(
        e.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
        )
    )
    sims = q.join(e, F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.aggregate(
            F.zip_with(F.col("qv"), F.col("v"), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("dot"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("dot").desc(), "neighbor_id")
    return sims.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= TOP_K
    )


PQ_SUBSPACES = 8  # 64-d split into 8 sub-vectors of 8 dims
PQ_CODES = 32  # shared codebook size (5 bits/subspace -> 5 bytes/vector)
PQ_SEED = 11
PQ_SHORTLIST = 50  # ADC candidates re-ranked exactly


@rows_only_query("similarity_topk_pq")
def similarity_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with ADC shortlist + exact re-rank — the
    memory-compression tier of the ladder (brute force / IVF / LSH / PQ):
    each 64-d float vector compresses to 8 codebook codes (5 bits each),
    so the scan that scores candidates reads ~5 BYTES per vector instead
    of 256.

    Pipeline: (1) slice vectors into 8 sub-vectors; (2) fit ONE seeded
    k-means (k=32) over the pooled sub-vectors — the shared-codebook PQ
    variant: one fit instead of 8, at a small distortion cost vs
    per-subspace books (the right trade when training cost matters);
    (3) encode the corpus: per (vec_id, subspace) the nearest code;
    (4) per query, build the 8x32 asymmetric-distance lookup table
    (query sub-vector x centroid partial dots = 2.5k rows, broadcast);
    (5) ADC score = sum of 8 LUT lookups per candidate — a codes-scan
    join, linear in corpus; (6) take the top-PQ_SHORTLIST by ADC and
    re-rank those few EXACTLY (fetch their full vectors, true cosine) —
    the standard two-stage PQ serving shape, which recovers most recall
    lost to quantization.  Recall vs brute force pinned in tests.

    100 TB posture: the codebook fit runs once (on a sample in
    production); the per-query cost is the code-table scan (bytes per
    vector) + exact fetch of 50 candidates — the full float vectors are
    touched only for the shortlist.  Output schema matches brute force:
    (query_id, neighbor_id, cosine, rank) with cosine EXACT."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    e = _normed(load_table(spark, sf_dir, "embeddings"))
    # (vec_id, sub_id, subv): 8 rows per vector, each an 8-d slice
    slices = F.array(
        *[F.slice("v", s * 8 + 1, 8) for s in range(PQ_SUBSPACES)]
    )
    subs = e.select(
        "vec_id", F.posexplode(slices).alias("sub_id", "subv")
    ).withColumn("fv", array_to_vector("subv"))
    subs = subs.persist()
    # Fit the shared codebook on a deterministic QUARTER sample (vec_id
    # hash-mod, no RNG) — the production PQ shape: codebooks train on a
    # sample, the full corpus only gets ENCODED.  Cuts the k-means fit
    # (the operator's dominant cost) ~4x; recall vs brute force stays
    # pinned by tests/test_llm.py.
    model = KMeans(
        k=PQ_CODES, seed=PQ_SEED, featuresCol="fv", predictionCol="code", maxIter=10
    ).fit(subs.filter(F.col("vec_id") % 4 == 0).select("fv"))
    codes = model.transform(subs).select("vec_id", "sub_id", "code")
    cent = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "code int, cv array<double>",
    )
    # per-query LUT: partial dot of each query sub-vector with each centroid
    qsubs = subs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "sub_id", "subv"
    )
    lut = qsubs.crossJoin(F.broadcast(cent)).select(
        "query_id",
        "sub_id",
        "code",
        F.aggregate(
            F.zip_with("subv", "cv", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("part"),
    )
    # ADC pass: one scan of the code table, 8 LUT adds per (query, vector)
    adc = (
        codes.join(F.broadcast(lut), ["sub_id", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("part").alias("adc_score"))
    )
    ws = W.partitionBy("query_id").orderBy(F.col("adc_score").desc(), "vec_id")
    shortlist = (
        adc.withColumn("srank", F.row_number().over(ws))
        .filter(F.col("srank") <= PQ_SHORTLIST)
        .select("query_id", "vec_id")
    )
    # exact re-rank of the shortlist only
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    cand = shortlist.join(e, "vec_id").join(F.broadcast(q), "query_id")
    sims = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cosine(F.col("qv"), F.col("v"), F.col("qnrm"), F.col("nrm")).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    # The persist served the KMeans fit's iterations (an action that
    # already ran); drop it so the cached sub-vector table doesn't stay
    # pinned in executor memory for the rest of the session — the one
    # downstream scan recomputes the narrow slice projection instead.
    subs.unpersist()
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
    )


RERANK_SHORTLIST = TOP_K * 4  # coarse candidates kept per query for stage 2


TWO_STAGE_ORACLE = f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), m AS (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) AS ma,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM e
    ), z AS (
        SELECT vec_id, v, nrm,
               list_transform(v, x -> CASE WHEN ma = 0 THEN 0
                   ELSE CAST(floor(127 * x / ma + 0.5) AS BIGINT) END) AS q8
        FROM m
    ), q AS (
        SELECT * FROM z WHERE vec_id < {N_QUERIES}
    ), coarse AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               q.v AS qv, q.nrm AS qnrm, c.v AS cv, c.nrm AS cnrm,
               list_sum(list_transform(range(1, len(q.q8) + 1),
                                       i -> q.q8[i] * c.q8[i])) AS score
        FROM q JOIN z c ON c.vec_id <> q.vec_id
    ), short AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY score DESC, neighbor_id) AS srank
            FROM coarse)
        WHERE srank <= {RERANK_SHORTLIST}
    ), rr AS (
        SELECT query_id, neighbor_id,
               list_sum(list_transform(range(1, len(qv) + 1),
                                       i -> qv[i] * cv[i])) / (qnrm * cnrm)
                   AS cosine
        FROM short
    )
    SELECT query_id, neighbor_id, cosine, CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rn
          FROM rr)
    WHERE rn <= {TOP_K}
"""


@query("similarity_two_stage_rerank", oracle=TWO_STAGE_ORACLE)
def similarity_two_stage_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION retrieval shape: a cheap QUANTIZED coarse pass
    shortlists candidates, then exact cosine re-ranks only the shortlist
    — the two-stage pattern every deployed ANN system uses (SQ/PQ/IVF
    shortlist, float32 rerank), here with int8 scalar quantization as
    the coarse tier.

    Stage 1 scores with INTEGER dot products over per-vector symmetric
    int8 codes (scale = 127/max|x|; half-up via floor(x+0.5), because
    round() rounds half-even on one engine and half-away on the other)
    — ~4x less memory traffic than float and EXACTLY reproducible, which
    is what makes this tier, unlike IVF/LSH/PQ, fully ORACLE-BACKED: the
    shortlist cut is on integer scores with a pinned tie-break, so both
    engines keep identical candidates, and stage 2 is the established
    bit-identical cosine fold.  Stage-2 cost is |queries| x SHORTLIST
    (20) instead of |queries| x |corpus| — the 100 TB win: the corpus-
    sized pass touches only int8 codes (1/4 the bytes, SIMD-friendly),
    and the exact floats are read for 20 rows per query.

    Recall vs similarity_topk_bruteforce additionally pinned in
    tests/test_llm.py (int8 shortlists at 4x depth essentially never
    miss a true top-5 neighbor)."""
    e = _normed(load_table(spark, sf_dir, "embeddings"))
    z = e.withColumn(
        "ma",
        F.aggregate(
            F.transform("v", lambda x: F.abs(x)),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, x),
        ),
    ).withColumn(
        "q8",
        F.transform(
            "v",
            lambda x: F.when(F.col("ma") == 0, F.lit(0).cast("long")).otherwise(
                F.floor(F.lit(127) * x / F.col("ma") + F.lit(0.5)).cast("long")
            ),
        ),
    )
    q = F.broadcast(
        z.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
            F.col("q8").alias("qq8"),
        )
    )
    coarse = q.join(z, F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "qv",
        "qnrm",
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
        F.aggregate(
            F.zip_with("qq8", "q8", lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("score"),
    )
    ws = W.partitionBy("query_id").orderBy(F.col("score").desc(), "neighbor_id")
    short = coarse.withColumn("srank", F.row_number().over(ws)).filter(
        F.col("srank") <= RERANK_SHORTLIST
    )
    rr = short.select(
        "query_id",
        "neighbor_id",
        _cosine(F.col("qv"), F.col("cv"), F.col("qnrm"), F.col("cnrm")).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return rr.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= TOP_K
    )


SIM_HIST_BIN = 20  # cosine in [-1, 1] -> 20 bins of 0.1


@query(
    "embedding_similarity_histogram",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), n AS (
        SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e
    ), q AS (
        SELECT * FROM n WHERE vec_id < {N_QUERIES}
    ), sims AS (
        SELECT list_sum(list_transform(range(1, len(q.v) + 1),
                                       i -> q.v[i] * c.v[i]))
                   / (q.nrm * c.nrm) AS cosine
        FROM q JOIN n c ON c.vec_id <> q.vec_id
    )
    SELECT CAST(FLOOR((cosine + 1.0) * 10.0) AS BIGINT) AS sim_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           MIN(cosine) AS min_cosine,
           MAX(cosine) AS max_cosine
    FROM sims GROUP BY 1
    """,
)
def embedding_similarity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-distribution QC over the query set: histogram of
    query-to-corpus cosines in 0.1 bins — the one chart that predicts
    whether ANN will work on this embedding space at all (a healthy
    space is a near-orthogonal bulk with a thin high-sim tail; a
    collapsed space piles mass near 1.0 and every ANN tier degrades to
    brute force).  Read it before choosing IVF_NPROBE / LSH band
    budgets; the r5-documented "uniform vectors are the adversarial
    case" note comes from exactly this distribution.

    Cost is |queries| x corpus — the bruteforce scan shape with a
    bounded (21-bucket) output; bucketing floor((cos+1)*10) applies one
    identical double op to the bit-identical cosine fold, so bucket
    membership can't diverge cross-engine."""
    e = _normed(load_table(spark, sf_dir, "embeddings"))
    q = F.broadcast(
        e.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
        )
    )
    sims = q.join(e, F.col("vec_id") != F.col("query_id")).select(
        _cosine(F.col("qv"), F.col("v"), F.col("qnrm"), F.col("nrm")).alias("cosine")
    )
    return sims.groupBy(
        F.floor((F.col("cosine") + F.lit(1.0)) * F.lit(10.0))
        .cast("long")
        .alias("sim_bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.min("cosine").alias("min_cosine"),
        F.max("cosine").alias("max_cosine"),
    )


MMR_SHORTLIST = 10  # relevance shortlist per query (the rerank window)
MMR_LAMBDA_E3 = 700  # relevance weight, thousandths; 1-lambda penalizes redundancy
MMR_K = 3  # greedy selections (unrolled, so the whole query is oracle-backed)

_MMR_DOT = (
    "list_sum(list_transform(range(1, len({a}.v) + 1), i -> {a}.v[i] * {b}.v[i]))"
    " / ({a}.nrm * {b}.nrm)"
)


def _mmr_oracle() -> str:
    lam, inv = MMR_LAMBDA_E3, 1000 - MMR_LAMBDA_E3
    qc = _MMR_DOT.format(a="q", b="c")
    ab = _MMR_DOT.format(a="a", b="b")
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), n AS (
        SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e
    ), q AS (
        SELECT * FROM n WHERE vec_id < {N_QUERIES}
    ), rel AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand,
               CAST(FLOOR(({qc}) * 1000000) AS BIGINT) AS rel_ppm
        FROM q JOIN n c ON c.vec_id <> q.vec_id
    ), shortlist AS (
        SELECT query_id, cand, rel_ppm,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY rel_ppm DESC, cand) AS rn
        FROM rel QUALIFY rn <= {MMR_SHORTLIST}
    ), pair AS (
        SELECT s1.query_id, s1.cand AS ca, s2.cand AS cb,
               CAST(FLOOR(({ab}) * 1000000) AS BIGINT) AS sim_ppm
        FROM shortlist s1
        JOIN shortlist s2 ON s2.query_id = s1.query_id AND s2.cand <> s1.cand
        JOIN n a ON a.vec_id = s1.cand
        JOIN n b ON b.vec_id = s2.cand
    ), pick1 AS (
        SELECT query_id, cand, {lam} * rel_ppm AS objective
        FROM shortlist WHERE rn = 1
    ), score2 AS (
        SELECT s.query_id, s.cand,
               {lam} * s.rel_ppm - {inv} * p.sim_ppm AS objective,
               ROW_NUMBER() OVER (PARTITION BY s.query_id
                   ORDER BY {lam} * s.rel_ppm - {inv} * p.sim_ppm DESC, s.cand) AS rn2
        FROM shortlist s
        JOIN pick1 k ON k.query_id = s.query_id AND s.cand <> k.cand
        JOIN pair p ON p.query_id = s.query_id AND p.ca = s.cand AND p.cb = k.cand
    ), pick2 AS (
        SELECT query_id, cand, objective FROM score2 WHERE rn2 = 1
    ), score3 AS (
        SELECT s.query_id, s.cand,
               {lam} * s.rel_ppm
                   - {inv} * GREATEST(p1.sim_ppm, p2.sim_ppm) AS objective,
               ROW_NUMBER() OVER (PARTITION BY s.query_id
                   ORDER BY {lam} * s.rel_ppm
                            - {inv} * GREATEST(p1.sim_ppm, p2.sim_ppm) DESC,
                            s.cand) AS rn3
        FROM shortlist s
        JOIN pick1 k1 ON k1.query_id = s.query_id AND s.cand <> k1.cand
        JOIN pick2 k2 ON k2.query_id = s.query_id AND s.cand <> k2.cand
        JOIN pair p1 ON p1.query_id = s.query_id AND p1.ca = s.cand AND p1.cb = k1.cand
        JOIN pair p2 ON p2.query_id = s.query_id AND p2.ca = s.cand AND p2.cb = k2.cand
    )
    SELECT query_id, CAST(1 AS INT) AS mmr_rank, cand AS vec_id, objective
    FROM pick1
    UNION ALL
    SELECT query_id, CAST(2 AS INT), cand, objective FROM pick2
    UNION ALL
    SELECT query_id, CAST(3 AS INT), cand, objective
    FROM score3 WHERE rn3 = 1
    """


@query("similarity_mmr_rerank", oracle=_mmr_oracle)
def similarity_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance rerank — the diversification stage
    production retrieval runs AFTER top-k: greedily pick the candidate
    maximizing lambda*rel(c) - (1-lambda)*max_sim(c, selected), so the
    result set covers the query's neighborhood instead of returning
    {MMR_K} near-duplicates (the failure mode of raw cosine top-k on a
    corpus with duplicate clusters — exactly what RAG dedup cares
    about).  Completes the retrieval ladder: brute/IVF/LSH/PQ find, the
    two-stage rerank sharpens, MMR diversifies.

    The greedy loop is UNROLLED to {MMR_K} fixed selections (pick1 →
    score2 → pick2 → score3), so the entire operator is one static
    plan and — unlike iterative MMR implementations — fully
    oracle-backed: relevance and pairwise similarities are floor-ppm
    BIGINTs (FLOOR is toward -inf in both engines, safe on negative
    cosines; the dot-product fold order is the verified shared
    sequential fold), objectives are integer arithmetic, and every
    argmax is a deterministic (objective DESC, cand) window pick.

    Scale: relevance is the broadcast-query-set scan (the bruteforce
    design, allowlisted); everything after operates on
    |queries| x {MMR_SHORTLIST} rows — the pairwise stage is
    {MMR_SHORTLIST}^2 per query regardless of corpus size, which is
    the point of shortlist-then-rerank."""
    lam, inv = MMR_LAMBDA_E3, 1000 - MMR_LAMBDA_E3
    e = _normed(load_table(spark, sf_dir, "embeddings"))
    q = F.broadcast(
        e.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
        )
    )
    rel = q.join(e, F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("cand"),
        F.floor(
            _cosine(F.col("qv"), F.col("v"), F.col("qnrm"), F.col("nrm")) * 1_000_000
        )
        .cast("long")
        .alias("rel_ppm"),
    )
    wq = W.partitionBy("query_id").orderBy(F.col("rel_ppm").desc(), "cand")
    shortlist = (
        rel.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= MMR_SHORTLIST)
        .localCheckpoint()  # tiny (|queries| x shortlist); reused by 5 branches
    )
    vecs = F.broadcast(
        shortlist.select("cand").distinct().join(e, F.col("vec_id") == F.col("cand"))
        .select("cand", "v", "nrm")
    )
    a = vecs.select(
        F.col("cand").alias("ca"), F.col("v").alias("av"), F.col("nrm").alias("anrm")
    )
    b = vecs.select(
        F.col("cand").alias("cb"), F.col("v").alias("bv"), F.col("nrm").alias("bnrm")
    )
    s1 = shortlist.alias("s1")
    s2 = shortlist.alias("s2")
    pair = (
        s1.join(
            s2,
            (F.col("s2.query_id") == F.col("s1.query_id"))
            & (F.col("s2.cand") != F.col("s1.cand")),
        )
        .select(
            F.col("s1.query_id").alias("query_id"),
            F.col("s1.cand").alias("ca"),
            F.col("s2.cand").alias("cb"),
        )
        .join(F.broadcast(a), "ca")
        .join(F.broadcast(b), "cb")
        .select(
            "query_id",
            "ca",
            "cb",
            F.floor(
                _cosine(F.col("av"), F.col("bv"), F.col("anrm"), F.col("bnrm"))
                * 1_000_000
            )
            .cast("long")
            .alias("sim_ppm"),
        )
        .localCheckpoint()
    )
    pick1 = shortlist.filter(F.col("rn") == 1).select(
        "query_id",
        F.col("cand").alias("k1"),
        (F.lit(lam) * F.col("rel_ppm")).alias("objective"),
    )
    s2c = (
        shortlist.join(
            pick1.select("query_id", "k1"), "query_id"
        )
        .filter(F.col("cand") != F.col("k1"))
        .join(
            pair.select(
                "query_id", F.col("ca").alias("cand"), F.col("cb").alias("k1x"),
                "sim_ppm",
            ),
            ["query_id", "cand"],
        )
        .filter(F.col("k1x") == F.col("k1"))
        .withColumn(
            "objective", F.lit(lam) * F.col("rel_ppm") - F.lit(inv) * F.col("sim_ppm")
        )
    )
    w2 = W.partitionBy("query_id").orderBy(F.col("objective").desc(), "cand")
    pick2 = (
        s2c.withColumn("rn2", F.row_number().over(w2))
        .filter(F.col("rn2") == 1)
        .select("query_id", F.col("cand").alias("k2"), "objective")
    )
    s3c = (
        shortlist.join(pick1.select("query_id", "k1"), "query_id")
        .join(pick2.select("query_id", "k2"), "query_id")
        .filter((F.col("cand") != F.col("k1")) & (F.col("cand") != F.col("k2")))
        .join(
            pair.select(
                "query_id", F.col("ca").alias("cand"), F.col("cb").alias("p1c"),
                F.col("sim_ppm").alias("sim1"),
            ),
            ["query_id", "cand"],
        )
        .filter(F.col("p1c") == F.col("k1"))
        .join(
            pair.select(
                "query_id", F.col("ca").alias("cand"), F.col("cb").alias("p2c"),
                F.col("sim_ppm").alias("sim2"),
            ),
            ["query_id", "cand"],
        )
        .filter(F.col("p2c") == F.col("k2"))
        .withColumn(
            "objective",
            F.lit(lam) * F.col("rel_ppm")
            - F.lit(inv) * F.greatest(F.col("sim1"), F.col("sim2")),
        )
    )
    w3 = W.partitionBy("query_id").orderBy(F.col("objective").desc(), "cand")
    pick3 = (
        s3c.withColumn("rn3", F.row_number().over(w3))
        .filter(F.col("rn3") == 1)
        .select("query_id", F.col("cand").alias("vec_id"), "objective")
    )
    out1 = pick1.select(
        "query_id", F.lit(1).alias("mmr_rank"), F.col("k1").alias("vec_id"), "objective"
    )
    out2 = pick2.select(
        "query_id", F.lit(2).alias("mmr_rank"), F.col("k2").alias("vec_id"), "objective"
    )
    out3 = pick3.select("query_id", F.lit(3).alias("mmr_rank"), "vec_id", "objective")
    return out1.unionByName(out2).unionByName(out3)


MRL_DIMS = (16, 32, 64)  # Matryoshka truncation tiers (64 = full, sanity row)


def _mrl_oracle() -> str:
    per_dim = []
    for d in MRL_DIMS:
        per_dim.append(f"""
    sims_{d} AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(FLOOR(
                   list_sum(list_transform(range(1, {d} + 1),
                                           i -> q.v[i] * c.v[i]))
                   / (sqrt(list_sum(list_transform(list_slice(q.v, 1, {d}),
                                                   x -> x * x)))
                      * sqrt(list_sum(list_transform(list_slice(c.v, 1, {d}),
                                                     x -> x * x))))
                   * 1000000) AS BIGINT) AS cos_ppm
        FROM q JOIN n c ON c.vec_id <> q.vec_id
    ), top_{d} AS (
        SELECT query_id, neighbor_id
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cos_ppm DESC, neighbor_id) AS rn
              FROM sims_{d})
        WHERE rn <= {TOP_K}
    )""")
    hits = " UNION ALL ".join(
        f"""SELECT {d} AS trunc_dim, CAST(COUNT(*) AS BIGINT) AS n_hits
            FROM top_{d} t JOIN top_{MRL_DIMS[-1]} f
              ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id"""
        for d in MRL_DIMS
    )
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), n AS (
        SELECT vec_id, v FROM e
    ), q AS (
        SELECT * FROM n WHERE vec_id < {N_QUERIES}
    ), {",".join(per_dim)}
    SELECT trunc_dim, n_hits,
           CAST(n_hits * 1000000 / ({N_QUERIES} * {TOP_K}) AS BIGINT)
               AS recall_ppm
    FROM ({hits})
    """


@query("embedding_matryoshka_recall", oracle=_mrl_oracle)
def embedding_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation evaluation — the dimension-vs-recall table
    behind MRL-style embedding deployment: serve the first d
    coordinates (a prefix slice, no re-embedding) and measure top-{TOP_K}
    recall against the full-dimension ranking.  This is the decision
    input for "can retrieval run at 16 of 64 dims" — a 4x index-size
    and dot-product saving if recall holds — and the evaluation loop a
    training-data platform owes its embedding consumers.

    Exactness: per-tier cosines use the prefix dot AND prefix norms
    (truncated vectors are re-normalized, the MRL convention), floored
    to ppm so rankings cut identically; top-{TOP_K} picks break ties by
    neighbor id; recall is an exact integer ratio.  The d=64 row is the
    full ranking against itself — pinned at recall 1e6 by construction
    (the built-in sanity check that the tiers share one code path).

    Scale: each tier is the broadcast-query-set scan (bruteforce
    design, allowlisted) — at corpus scale the truncated tier is the
    one you'd ANN-index; the eval itself only needs the query panel."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    q = F.broadcast(
        e.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
        )
    )
    pairs = q.join(e, F.col("vec_id") != F.col("query_id")).localCheckpoint()

    def topk(d: int) -> DataFrame:
        def pnorm(col):
            return F.sqrt(
                F.aggregate(
                    F.transform(F.slice(col, 1, d), lambda x: x * x),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            )

        dot = F.aggregate(
            F.zip_with(
                F.slice(F.col("qv"), 1, d), F.slice(F.col("v"), 1, d),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sims = pairs.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.floor(dot / (pnorm(F.col("qv")) * pnorm(F.col("v"))) * 1_000_000)
            .cast("long")
            .alias("cos_ppm"),
        )
        w = W.partitionBy("query_id").orderBy(F.col("cos_ppm").desc(), "neighbor_id")
        return (
            sims.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= TOP_K)
            .select("query_id", "neighbor_id")
        )

    full = topk(MRL_DIMS[-1]).localCheckpoint()
    out = None
    for d in MRL_DIMS:
        t = topk(d) if d != MRL_DIMS[-1] else full
        hits = (
            t.join(full, ["query_id", "neighbor_id"])
            .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
            .select(F.lit(d).alias("trunc_dim"), "n_hits")
        )
        out = hits if out is None else out.unionByName(hits)
    return out.select(
        "trunc_dim",
        "n_hits",
        (F.col("n_hits") * 1_000_000 / F.lit(N_QUERIES * TOP_K))
        .cast("long")
        .alias("recall_ppm"),
    )


KNN_EVAL_PANEL = 500  # LOO panel size: eval cost is panel x corpus, not corpus^2


_KNN_EVAL_ORACLE = f"""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), n AS (
        SELECT vec_id, label, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM e
    ), panel AS (
        SELECT * FROM n WHERE vec_id < {KNN_EVAL_PANEL}
    ), sims AS (
        SELECT a.vec_id, a.label AS true_label, b.label AS nb_label,
               CAST(FLOOR(
                   list_sum(list_transform(range(1, len(a.v) + 1),
                                           i -> a.v[i] * b.v[i]))
                   / (a.nrm * b.nrm) * 1000000) AS BIGINT) AS cos_ppm,
               b.vec_id AS nb_id
        FROM panel a JOIN n b ON b.vec_id <> a.vec_id
    ), top1 AS (
        SELECT true_label, nb_label
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                  ORDER BY cos_ppm DESC, nb_id) AS rn
              FROM sims)
        WHERE rn = 1
    )
    SELECT true_label AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN nb_label = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN nb_label = true_label THEN 1 ELSE 0 END) * 10000
                // COUNT(*) AS BIGINT) AS accuracy_bp
    FROM top1 GROUP BY true_label
"""


@query("embedding_knn_label_eval", oracle=_KNN_EVAL_ORACLE)
def embedding_knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 1-NN label agreement — the standard intrinsic
    evaluation of an embedding SPACE (not a retrieval index): for every
    vector, does its nearest neighbor carry the same label?  Per-label
    accuracy separates "the space clusters label A tightly" from "label
    B is smeared" — the readout that decides whether embeddings are
    good enough to drive dedup_embedding_cosine / similarity routing
    before any ANN tier is tuned.  (On this fixture's uniform-random
    synthetic vectors the expected accuracy is the label-marginal
    baseline — the eval exists to MEASURE that honestly, and the test
    pins agreement with the brute-force ranking.)

    Exactness: floor-ppm cosines over the verified shared fold,
    deterministic (cos DESC, vec_id) top-1 pick, integer counts and
    floor-bp accuracy.

    Scale: the evaluated side is a FIXED deterministic panel
    (vec_id < KNN_EVAL_PANEL), so cost is panel x corpus — linear in
    the corpus, not quadratic (the unbounded LOO measured 947 s at the
    10x replica; the panel is the unit of evaluation).  The shape is
    the allowlisted bruteforce design.

    r12 (guide §2.5/§2.3, the dedup_embedding_cosine fixes applied
    here): the panel×corpus cosine kernel is CPU-bound interpreted HOF
    work whose parallelism was capped by the SCAN's split count — the
    single-row-group fixture table evaluated ALL panel×corpus cosines
    in ONE task; cpu_parallel spreads the stream side (a no-op at
    scale).  And the top-1 pick is max_by (same (cos DESC, nb_id) total
    order, map-side combinable) instead of a row_number sort window
    over the full panel×corpus frame — measured 9.5 → 0.9 s at sf0.1."""
    e = _normed(cpu_parallel(load_table(spark, sf_dir, "embeddings")))
    a = _normed(load_table(spark, sf_dir, "embeddings")).filter(
        F.col("vec_id") < KNN_EVAL_PANEL
    ).select(
        F.col("vec_id").alias("aid"), F.col("label").alias("true_label"),
        F.col("v").alias("av"), F.col("nrm").alias("anrm"),
    )
    sims = F.broadcast(a).join(e, F.col("vec_id") != F.col("aid")).select(
        "aid",
        "true_label",
        F.col("label").alias("nb_label"),
        F.col("vec_id").alias("nb_id"),
        F.floor(
            _cosine(F.col("av"), F.col("v"), F.col("anrm"), F.col("nrm")) * 1_000_000
        )
        .cast("long")
        .alias("cos_ppm"),
    )
    # top-1 per panel row: max over the lexicographic (cos_ppm, -nb_id)
    # key == the window's (cos_ppm DESC, nb_id ASC) first row; nb_id is
    # unique per aid so the key is tie-free
    top1 = sims.groupBy("aid").agg(
        F.max_by(
            F.struct("true_label", "nb_label"),
            F.struct(F.col("cos_ppm"), (-F.col("nb_id")).alias("neg_id")),
        ).alias("b")
    ).select(F.col("b.true_label").alias("true_label"), F.col("b.nb_label").alias("nb_label"))
    agg = top1.groupBy(F.col("true_label").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum(F.when(F.col("nb_label") == F.col("true_label"), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
    )
    # floor basis points via integer division (Spark casts double->long by
    # TRUNCATION while DuckDB rounds — the documented cross-engine trap)
    return agg.select(
        "label", "n_vectors", "n_correct",
        F.expr("n_correct * 10000 DIV n_vectors").alias("accuracy_bp"),
    )


CONTRASTIVE_PANEL = 100  # anchors mined per run (panel x corpus cost)


_CONTRASTIVE_ORACLE = f"""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), n AS (
        SELECT vec_id, label, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM e
    ), anchors AS (
        SELECT * FROM n WHERE vec_id < {CONTRASTIVE_PANEL}
    ), sims AS (
        SELECT a.vec_id AS anchor_id, a.label,
               b.vec_id AS cand_id,
               CASE WHEN b.label = a.label THEN 1 ELSE 0 END AS is_same,
               CAST(FLOOR(
                   list_sum(list_transform(range(1, len(a.v) + 1),
                                           i -> a.v[i] * b.v[i]))
                   / (a.nrm * b.nrm) * 1000000) AS BIGINT) AS cos_ppm
        FROM anchors a JOIN n b ON b.vec_id <> a.vec_id
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id, is_same
                                     ORDER BY cos_ppm DESC, cand_id) AS rn
        FROM sims
    )
    SELECT anchor_id, label,
           MAX(CASE WHEN is_same = 1 THEN cand_id END) AS pos_id,
           MAX(CASE WHEN is_same = 1 THEN cos_ppm END) AS pos_cos_ppm,
           MAX(CASE WHEN is_same = 0 THEN cand_id END) AS neg_id,
           MAX(CASE WHEN is_same = 0 THEN cos_ppm END) AS neg_cos_ppm,
           MAX(CASE WHEN is_same = 1 THEN cos_ppm END)
               - MAX(CASE WHEN is_same = 0 THEN cos_ppm END) AS margin_ppm
    FROM ranked WHERE rn = 1
    GROUP BY anchor_id, label
"""


@query("embedding_contrastive_pairs", oracle=_CONTRASTIVE_ORACLE)
def embedding_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining — the construction step behind
    every embedding fine-tune (SimCSE/InfoNCE-style): for each anchor,
    the nearest SAME-label vector (the positive) and the nearest
    DIFFERENT-label vector (the HARD negative — random negatives teach
    nothing once the space is half-decent; the nearest wrong-label
    point is where the loss gradient lives).  The margin_ppm column
    (positive cosine minus hard-negative cosine, often NEGATIVE on an
    untrained space) is the curriculum key: training loops consume
    pairs hardest-first.

    Exactness: floor-ppm cosines on the verified shared fold; one
    window partitioned by (anchor, same-label flag) with deterministic
    ties; the pivot to one row per anchor is exact MAX(CASE) over the
    two rn=1 rows.

    Scale: panel x corpus like embedding_knn_label_eval (the
    measured-and-documented fix there); mining MORE pairs raises the
    panel, never the exponent — and at corpus scale the candidate side
    routes through the ANN tiers.

    r12 (the knn_label_eval fixes applied here): cpu_parallel spreads
    the single-row-group corpus scan across cores (the panel×corpus
    cosine kernel otherwise runs in ONE task), and the per-(anchor,
    side) top-1 is a conditional max over the lexicographic
    (cos_ppm, -cand_id) struct — the window's (cos DESC, cand ASC)
    first row, map-side combinable, no panel×corpus sort."""
    e = _normed(cpu_parallel(load_table(spark, sf_dir, "embeddings")))
    a = _normed(load_table(spark, sf_dir, "embeddings")).filter(
        F.col("vec_id") < CONTRASTIVE_PANEL
    ).select(
        F.col("vec_id").alias("anchor_id"), F.col("label").alias("a_label"),
        F.col("v").alias("av"), F.col("nrm").alias("anrm"),
    )
    sims = F.broadcast(a).join(e, F.col("vec_id") != F.col("anchor_id")).select(
        "anchor_id",
        F.col("a_label").alias("label"),
        F.col("vec_id").alias("cand_id"),
        F.when(F.col("label") == F.col("a_label"), 1).otherwise(0).alias("is_same"),
        F.floor(
            _cosine(F.col("av"), F.col("v"), F.col("anrm"), F.col("nrm")) * 1_000_000
        )
        .cast("long")
        .alias("cos_ppm"),
    )
    # best candidate per side: max over (cos_ppm, -cand_id) == the old
    # (anchor, is_same)-window's rn=1 row; cand_id unique => tie-free
    def best(side: int):
        return F.max(
            F.when(
                F.col("is_same") == side,
                F.struct(F.col("cos_ppm"), (-F.col("cand_id")).alias("ni"), "cand_id"),
            )
        )

    return sims.groupBy("anchor_id", "label").agg(
        best(1)["cand_id"].alias("pos_id"),
        best(1)["cos_ppm"].alias("pos_cos_ppm"),
        best(0)["cand_id"].alias("neg_id"),
        best(0)["cos_ppm"].alias("neg_cos_ppm"),
        (best(1)["cos_ppm"] - best(0)["cos_ppm"]).alias("margin_ppm"),
    )


RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
RRF_POOL = 20  # candidates taken from each ranker
RRF_TOP = 10  # fused results returned

_HYBRID_FUSED_CTES = f"""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avgdl
        FROM base
    ), postings AS (
        SELECT b.doc_id, len(b.toks) AS dl, t.term
        FROM base b, unnest(b.toks) AS t(term)
        WHERE t.term IN ('hash', 'join', 'vector')
    ), tfc AS (
        SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM postings GROUP BY doc_id, dl, term
    ), dfc AS (
        SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM postings GROUP BY term
    ), bm25 AS (
        SELECT doc_id,
               CAST(SUM(CAST(FLOOR(
                   CAST((n_docs * 1000) // df AS DOUBLE)
                   * (CAST(tf AS DOUBLE) * (1.2 + 1))
                   / (CAST(tf AS DOUBLE)
                      + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
                   * 1000) AS BIGINT)) AS BIGINT) AS milli
        FROM tfc JOIN dfc USING (term) CROSS JOIN stats
        GROUP BY doc_id
    ), r_text AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY milli DESC, doc_id) AS BIGINT)
                   AS r_text
        FROM bm25
        QUALIFY r_text <= {RRF_POOL}
    ), e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), n AS (
        SELECT vec_id, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM e
    ), q AS (SELECT * FROM n WHERE vec_id = 0),
    sims AS (
        SELECT c.vec_id AS doc_id,
               list_sum(list_transform(range(1, len(q.v) + 1),
                                       i -> q.v[i] * c.v[i]))
                   / (q.nrm * c.nrm) AS cosine
        FROM q JOIN n c ON c.vec_id <> q.vec_id
    ), r_vec AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS BIGINT)
                   AS r_vec
        FROM sims
        QUALIFY r_vec <= {RRF_POOL}
    ), fused AS (
        SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id,
               COALESCE(t.r_text, 0) AS r_text,
               COALESCE(v.r_vec, 0) AS r_vec,
               COALESCE(1.0 / ({RRF_K} + t.r_text), 0.0)
                   + COALESCE(1.0 / ({RRF_K} + v.r_vec), 0.0) AS rrf_score
        FROM r_text t FULL OUTER JOIN r_vec v ON t.doc_id = v.doc_id
    )"""

_HYBRID_RRF_ORACLE = _HYBRID_FUSED_CTES + f"""
    SELECT doc_id, CAST(r_text AS BIGINT) AS r_text,
           CAST(r_vec AS BIGINT) AS r_vec, rrf_score
    FROM fused
    ORDER BY rrf_score DESC, doc_id
    LIMIT {RRF_TOP}
"""


@query("search_hybrid_rrf", oracle=_HYBRID_RRF_ORACLE)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector search fused by Reciprocal Rank Fusion —
    the retrieval architecture RAG stacks actually deploy: a BM25 ranker
    (llm/text.py's shared core, terms 'hash join vector') and a
    dense-vector ranker (cosine to the vec_id-0 query embedding; the
    documents and embeddings fixtures share the id space) each nominate
    their top {RRF_POOL}, and the fused score is Σ 1/({RRF_K}+rank) —
    rank-space fusion needs NO score calibration between rankers whose
    raw scores aren't comparable (integer milli-BM25 vs cosine), which
    is exactly why RRF beats score-blending in practice.

    Determinism: both ranks are integer row numbers over deterministic
    orderings (integer-milli BM25; cosine doubles that are bit-identical
    cross-engine by the ordered zip_with fold); the fused score is two
    exact divisions added in one fixed written order; absent ranks
    contribute 0 and are REPORTED as 0 (a NULL rank would surface as a
    dtype-unstable NaN in the driver canonicalizer).

    Plan shape: the BM25 side touches posting lists only (inverted-index
    discipline); the vector side is one broadcast query row against the
    corpus scan with TakeOrdered top-{RRF_POOL} (no global sort, no
    corpus-wide window); the fusion is a {RRF_POOL}×{RRF_POOL} full
    outer join — constant-size regardless of corpus.  At 100 TB each
    ranker is its own index lookup; fusion cost never grows."""
    fused = rrf_fused_frame(spark, sf_dir)
    return fused.orderBy(F.col("rrf_score").desc(), "doc_id").limit(RRF_TOP)


def rrf_fused_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared RRF fusion core: the un-truncated fused candidate frame
    (doc_id, r_text, r_vec, rrf_score) that search_hybrid_rrf top-10s
    and pipeline_hybrid_search_e2e re-ranks after dup suppression.  See
    search_hybrid_rrf for determinism and plan rationale."""
    from etl_pipeline_aws_spark.llm.text import bm25_scored_milli

    docs = load_table(spark, sf_dir, "documents")
    r_text = (
        bm25_scored_milli(docs)
        .orderBy(F.col("bm25_score_milli").desc(), "doc_id")
        .limit(RRF_POOL)
        .select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.col("bm25_score_milli").desc(), "doc_id"))
            .cast("long")
            .alias("r_text"),
        )
    )
    e = _normed(load_table(spark, sf_dir, "embeddings"))
    q = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(
            F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
        )
    )
    sims = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .select(
            F.col("vec_id").alias("doc_id"),
            _cosine(F.col("qv"), F.col("v"), F.col("qnrm"), F.col("nrm")).alias(
                "cosine"
            ),
        )
    )
    r_vec = (
        sims.orderBy(F.col("cosine").desc(), "doc_id")
        .limit(RRF_POOL)
        .select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.col("cosine").desc(), "doc_id"))
            .cast("long")
            .alias("r_vec"),
        )
    )
    return (
        r_text.join(r_vec, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce(F.col("r_text"), F.lit(0)).cast("long").alias("r_text"),
            F.coalesce(F.col("r_vec"), F.lit(0)).cast("long").alias("r_vec"),
            (
                F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("r_text")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("r_vec")), F.lit(0.0))
            ).alias("rrf_score"),
        )
    )


METRIC_AGREE_POOL = 100  # cosine top pool whose ordering is compared


def _metric_agreement_sql(unnest_expr: str) -> str:
    """Shared cosine-vs-dot Kendall tau-b text; per-dialect pair-index
    generator (the stat_kendall_tau explode+equi-join rewrite)."""
    return f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), n AS (
    SELECT vec_id, v,
           sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
    FROM e
), q AS (SELECT * FROM n WHERE vec_id = 0),
sims AS (
    SELECT c.vec_id,
           list_sum(list_transform(range(1, len(q.v) + 1),
                                   i -> q.v[i] * c.v[i])) AS dot,
           list_sum(list_transform(range(1, len(q.v) + 1),
                                   i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm)
               AS cosine
    FROM q JOIN n c ON c.vec_id <> q.vec_id
), pool AS (
    SELECT vec_id, dot, cosine,
           CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS BIGINT) - 1
               AS i
    FROM sims
    QUALIFY i < {METRIC_AGREE_POOL}
), lefts AS (
    SELECT i AS j, dot AS dj, cosine AS cj, {unnest_expr} AS i_left
    FROM pool WHERE i > 0
), pairs AS (
    SELECT CASE WHEN (l.cj - r.cosine) * (l.dj - r.dot) > 0 THEN 1 ELSE 0 END
               AS conc,
           CASE WHEN (l.cj - r.cosine) * (l.dj - r.dot) < 0 THEN 1 ELSE 0 END
               AS disc,
           CASE WHEN l.cj = r.cosine THEN 1 ELSE 0 END AS tie_c,
           CASE WHEN l.dj = r.dot THEN 1 ELSE 0 END AS tie_d
    FROM lefts l JOIN pool r ON l.i_left = r.i
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(conc) AS BIGINT) AS concordant,
       CAST(SUM(disc) AS BIGINT) AS discordant,
       CAST(SUM(conc) - SUM(disc) AS DOUBLE)
           / (SQRT(CAST(COUNT(*) - SUM(tie_c) AS DOUBLE))
              * SQRT(CAST(COUNT(*) - SUM(tie_d) AS DOUBLE))) AS tau_b
FROM pairs
"""


_METRIC_AGREE_ORACLE = _metric_agreement_sql("unnest(range(0, i))")


@query("similarity_metric_agreement", oracle=_METRIC_AGREE_ORACLE)
def similarity_metric_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does METRIC CHOICE matter on this embedding space?  Kendall tau-b
    between the cosine ordering and the raw dot-product ordering of the
    query's top-{METRIC_AGREE_POOL} cosine pool — the pre-deployment QC
    that decides whether an index built for inner-product search (most
    ANN libraries' native metric) can serve cosine queries unmodified:
    tau ≈ 1 means norms are uniform enough that the rankings coincide;
    low tau says normalize first or rebuild the index.  Complements
    embedding_similarity_histogram (score SPREAD) with ranking
    STABILITY across metrics.

    Exactness: both scores per candidate are ordered-fold doubles
    (bit-identical cross-engine); every pair contributes integer
    concordance/tie flags from sign tests on those doubles; tau-b is
    the one shared closing formula (the stat_kendall_tau discipline).

    Scale: one broadcast-query scan ranks the pool (TakeOrdered);
    pair enumeration is the explode+equi-join rewrite bounded at
    {METRIC_AGREE_POOL}²/2 pairs — constant, corpus-independent."""
    from pyspark.sql.window import Window

    e = _normed(load_table(spark, sf_dir, "embeddings"))
    q = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(
            F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
        )
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    sims = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .select(
            "vec_id",
            dot.alias("dot"),
            (dot / (F.col("qnrm") * F.col("nrm"))).alias("cosine"),
        )
    )
    pool = (
        sims.orderBy(F.col("cosine").desc(), "vec_id")
        .limit(METRIC_AGREE_POOL)
        .select(
            "dot",
            "cosine",
            (
                F.row_number().over(
                    Window.orderBy(F.col("cosine").desc(), "vec_id")
                ).cast("long")
                - 1
            ).alias("i"),
        )
    )
    lefts = pool.filter(F.col("i") > 0).select(
        F.col("i").alias("j"),
        F.col("dot").alias("dj"),
        F.col("cosine").alias("cj"),
        F.explode(F.expr("sequence(CAST(0 AS BIGINT), i - 1)")).alias("i_left"),
    )
    r = pool.select(
        F.col("i").alias("i_r"), F.col("dot").alias("dr"), F.col("cosine").alias("cr")
    )
    pairs = lefts.join(r, F.col("i_left") == F.col("i_r")).select(
        F.when((F.col("cj") - F.col("cr")) * (F.col("dj") - F.col("dr")) > 0, 1)
        .otherwise(0)
        .alias("conc"),
        F.when((F.col("cj") - F.col("cr")) * (F.col("dj") - F.col("dr")) < 0, 1)
        .otherwise(0)
        .alias("disc"),
        F.when(F.col("cj") == F.col("cr"), 1).otherwise(0).alias("tie_c"),
        F.when(F.col("dj") == F.col("dr"), 1).otherwise(0).alias("tie_d"),
    )
    n = F.count(F.lit(1))
    return pairs.agg(
        n.cast("long").alias("n_pairs"),
        F.sum("conc").cast("long").alias("concordant"),
        F.sum("disc").cast("long").alias("discordant"),
        (
            (F.sum("conc") - F.sum("disc")).cast("double")
            / (
                F.sqrt((n - F.sum("tie_c")).cast("double"))
                * F.sqrt((n - F.sum("tie_d")).cast("double"))
            )
        ).alias("tau_b"),
    )


def _hybrid_e2e_oracle() -> str:
    from etl_pipeline_aws_spark.llm.dedup import NGRAM_JACCARD_ORACLE

    return (
        _HYBRID_FUSED_CTES.replace("    WITH base AS (", "    WITH RECURSIVE base AS (")
        + f"""
    , pairs AS ({NGRAM_JACCARD_ORACLE})
    , dedges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ), reach(src, dst) AS (
        SELECT src, dst FROM dedges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN dedges e ON r.dst = e.src
    ), dups AS (
        SELECT src AS doc_id FROM reach
        GROUP BY src HAVING src > LEAST(src, MIN(dst))
    ), survivors AS (
        SELECT f.* FROM fused f
        WHERE f.doc_id NOT IN (SELECT doc_id FROM dups)
    )
    SELECT s.doc_id, d.lang, d.source,
           CAST(s.r_text AS BIGINT) AS r_text,
           CAST(s.r_vec AS BIGINT) AS r_vec,
           s.rrf_score,
           CAST(ROW_NUMBER() OVER (ORDER BY s.rrf_score DESC, s.doc_id)
                AS BIGINT) AS final_rank
    FROM survivors s JOIN documents d ON d.doc_id = s.doc_id
    ORDER BY final_rank
    LIMIT {RRF_TOP}
"""
    )


@query("pipeline_hybrid_search_e2e", oracle=_hybrid_e2e_oracle())
def pipeline_hybrid_search_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hybrid search SERVING pipeline end-to-end, as one declarative
    query: BM25 + dense-vector rankers → reciprocal-rank fusion →
    NEAR-DUP SUPPRESSION (a result that is a non-keeper of an
    exact-Jaccard duplicate cluster is removed — returning three copies
    of one boilerplate page is the classic search-quality failure) →
    the final top-{RRF_TOP} slate re-ranked and joined to document
    metadata.  This is the composition a retrieval stack actually
    serves; the registry's pieces (search_hybrid_rrf,
    dedup_cluster_keepers, dedup_ngram_jaccard) are its unit tests.

    Suppression keeps cluster KEEPERS (smallest doc_id), so a
    fully-duplicated result set still returns one representative —
    drop-all would silently censor boilerplate-heavy corpora.  The
    oracle recomputes the WHOLE composition including the
    recursive-CTE transitive closure of the duplicate graph.

    Scale: each stage inherits its parent operator's documented plan
    (posting-list BM25, broadcast-query vector scan, banded-LSH pair
    generation with exact-Jaccard verification feeding the component
    labels — no quadratic shingle join anywhere, probe-measured);
    fusion, suppression, and the final rank all run on pool-sized
    frames (≤ 2×{RRF_POOL} rows)."""
    from etl_pipeline_aws_spark.llm.dedup import (
        min_label_components,
        minhash_feature_table,
        minhash_lsh_pairs,
    )

    fused = rrf_fused_frame(spark, sf_dir)
    # Pair source is the SCALE path: banded LSH candidates verified by
    # exact Jaccard (the dedup_cluster_keepers discipline) — the first
    # cut used the exact all-pairs shingle join and the 10x probe
    # measured 11.8 s → 114 s (the replica's duplicate texts make the
    # shingle self-join quadratic); the oracle still recomputes the
    # EXACT closure, so passing certifies the banded path found every
    # ≥-threshold edge.
    feats = minhash_feature_table(
        load_table(spark, sf_dir, "documents")
    ).persist()
    pairs = minhash_lsh_pairs(feats)
    labels = min_label_components(pairs)
    dups = labels.filter(F.col("label") != F.col("doc_id")).select("doc_id")
    survivors = fused.join(F.broadcast(dups), "doc_id", "left_anti")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    from pyspark.sql.window import Window

    ranked = (
        survivors.orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(RRF_TOP)
        .join(docs, "doc_id")
        .withColumn(
            "final_rank",
            F.row_number()
            .over(Window.orderBy(F.col("rrf_score").desc(), "doc_id"))
            .cast("long"),
        )
    )
    return ranked.select(
        "doc_id", "lang", "source", "r_text", "r_vec", "rrf_score", "final_rank"
    )


# --------------------------------------------------------------------------
# embedding_quantization_error_histogram — int8 rounding-error profile
# --------------------------------------------------------------------------


def _quant_err_sql(unnest_expr: str, idiv: str) -> str:
    """Shared int8 symmetric-quantization error histogram; per-dialect
    array explode and integer division."""
    return f"""
WITH x AS (
    SELECT vec_id, {unnest_expr} AS v FROM {{embeddings}}
), m AS (
    SELECT vec_id, MAX(ABS(v)) AS mx FROM x GROUP BY vec_id
), e AS (
    SELECT CAST(FLOOR(ABS(x.v * 127e0 / m.mx
                          - ROUND(x.v * 127e0 / m.mx)) * 20e0) AS BIGINT)
               AS err_bucket
    FROM x JOIN m ON x.vec_id = m.vec_id
    WHERE m.mx > 0
)
SELECT err_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_components,
       CAST(COUNT(*) * 1000000 {idiv} SUM(COUNT(*)) OVER () AS BIGINT)
           AS share_ppm
FROM e GROUP BY err_bucket
"""


_QERR_ORACLE = _quant_err_sql("unnest(CAST(embedding AS DOUBLE[]))", "//")
_QERR_SPARK = _quant_err_sql(
    "explode(transform(embedding, t -> CAST(t AS DOUBLE)))", "DIV"
)


@query("embedding_quantization_error_histogram", oracle=bare_tables(_QERR_ORACLE))
def embedding_quantization_error_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Component-level ROUNDING-ERROR histogram of int8 symmetric
    per-vector quantization (q = round(x·127/max|x|)) in twentieths of
    a quantization step — the error-budget evidence behind the
    compressed ANN tiers: embedding_quantized_projection and the
    two-stage reranker ASSUME int8 loses little; this table SHOWS the
    loss distribution (uniform over [0, 0.5) steps ⟹ healthy;
    mass piled at 0.5 ⟹ heavy-tailed components and per-CHANNEL scales
    or PQ should replace the per-vector scale; the
    embedding_cka_quantization op then scores downstream geometry).

    Exactness: the per-vector max is an exact fold; each relative
    error is one shared IEEE expression on identical doubles (round
    ties cannot arise from binary inputs at 127/max scales), floored
    into 11 integer buckets; shares are integer ppm.

    Scale: one explode + vec-keyed max fold + value join back (all
    partial-aggregated, shuffle on vec_id only), 11-row output; the
    share window runs over those 11 rows."""
    return spark.sql(_QERR_SPARK, embeddings=load_table(spark, sf_dir, "embeddings"))


_QREC_ORACLE = f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), m AS (
    SELECT vec_id, v,
           list_max(list_transform(v, x -> abs(x))) AS ma,
           sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
    FROM e
), z AS (
    SELECT vec_id, v, nrm,
           list_transform(v, x -> CASE WHEN ma = 0 THEN 0
               ELSE CAST(floor(127 * x / ma + 0.5) AS BIGINT) END) AS q8
    FROM m
), q AS (
    SELECT * FROM z WHERE vec_id < {N_QUERIES}
), pairs AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           list_sum(list_transform(range(1, len(q.v) + 1),
                                   i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm)
               AS cosine,
           list_sum(list_transform(range(1, len(q.q8) + 1),
                                   i -> q.q8[i] * c.q8[i])) AS score
    FROM q JOIN z c ON c.vec_id <> q.vec_id
), exact AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rn
        FROM pairs) t WHERE rn <= {TOP_K}
), quant AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) AS rn
        FROM pairs) t WHERE rn <= {TOP_K}
)
SELECT e.query_id,
       CAST({TOP_K} AS BIGINT) AS k,
       CAST(COUNT(qn.neighbor_id) AS BIGINT) AS n_overlap,
       CAST(COUNT(qn.neighbor_id) * 1000000 // {TOP_K} AS BIGINT)
           AS recall_ppm
FROM exact e LEFT JOIN quant qn
  ON qn.query_id = e.query_id AND qn.neighbor_id = e.neighbor_id
GROUP BY e.query_id
"""


@query("similarity_quantized_recall", oracle=_QREC_ORACLE)
def similarity_quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of the PURE int8 ranking against the exact float
    ranking, per query — the eval that prices the compressed tier ON
    ITS OWN (similarity_two_stage_rerank shows int8+rerank recovers
    exactness; this measures what you lose if you skip the rerank and
    serve int8 end to end, the memory-bound deployment some stacks
    choose).  Completes the compression-eval trio:
    embedding_quantization_error_histogram (component-level error),
    embedding_matryoshka_recall (dimension truncation), this
    (rank-level fidelity of scalar quantization).

    Fully oracle-backed where IVF/LSH/PQ recall evals cannot be: both
    rankings are deterministic (exact cosine with pinned tie-breaks;
    INTEGER dot products over the half-up int8 codes), so the overlap
    count is exact on both engines.

    Scale: the pair scan is the broadcast-query-set design (the
    bruteforce/two-stage posture — the corpus-sized side streams once);
    both rankings are per-query windows over that query-bounded frame;
    the overlap join is {N_QUERIES}x{TOP_K} rows."""
    e = _normed(load_table(spark, sf_dir, "embeddings"))
    z = e.withColumn(
        "ma",
        F.aggregate(
            F.transform("v", lambda x: F.abs(x)),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, x),
        ),
    ).withColumn(
        "q8",
        F.transform(
            "v",
            lambda x: F.when(F.col("ma") == 0, F.lit(0).cast("long")).otherwise(
                F.floor(F.lit(127) * x / F.col("ma") + F.lit(0.5)).cast("long")
            ),
        ),
    )
    q = F.broadcast(
        z.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
            F.col("q8").alias("qq8"),
        )
    )
    pairs = q.join(z, F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cosine(F.col("qv"), F.col("v"), F.col("qnrm"), F.col("nrm")).alias(
            "cosine"
        ),
        F.aggregate(
            F.zip_with("qq8", "q8", lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("score"),
    ).persist()
    we = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    wq = W.partitionBy("query_id").orderBy(F.col("score").desc(), "neighbor_id")
    exact = (
        pairs.withColumn("rn", F.row_number().over(we))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    quant = (
        pairs.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= TOP_K)
        .select(
            F.col("query_id").alias("q_id"),
            F.col("neighbor_id").alias("n_id"),
        )
    )
    joined = exact.join(
        quant,
        (F.col("query_id") == F.col("q_id"))
        & (F.col("neighbor_id") == F.col("n_id")),
        "left",
    )
    return joined.groupBy("query_id").agg(
        F.lit(TOP_K).cast("long").alias("k"),
        F.count(F.col("n_id")).cast("long").alias("n_overlap"),
        F.expr(f"CAST(COUNT(n_id) * 1000000 DIV {TOP_K} AS BIGINT)").alias(
            "recall_ppm"
        ),
    )


# --------------------------------------------------------------------------
# similarity_ivf_nprobe_recall — the recall-vs-cost dial, measured
# --------------------------------------------------------------------------

IVF_EVAL_CELLS = 8  # deterministic eval cells: the 8 lowest vec_ids' vectors
IVF_EVAL_NPROBES = (1, 2, 4)


def _ivf_nprobe_oracle() -> str:
    probes = ",".join(f"({p})" for p in IVF_EVAL_NPROBES)
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), n AS (
        SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM e
    ), c AS (
        SELECT vec_id AS cl, v AS cv, nrm AS cnrm FROM n
        WHERE vec_id < {IVF_EVAL_CELLS}
    ), asg AS (
        SELECT vec_id, cl FROM (
            SELECT n.vec_id, c.cl,
                   ROW_NUMBER() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY list_sum(list_transform(
                           range(1, len(n.v) + 1),
                           i -> (n.v[i] - c.cv[i]) * (n.v[i] - c.cv[i]))), c.cl
                   ) AS rn
            FROM n, c) t
        WHERE rn = 1
    ), q AS (
        SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n
        WHERE vec_id < {N_QUERIES}
    ), qc AS (
        SELECT query_id, cl,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY list_sum(list_transform(
                       range(1, len(qv) + 1), i -> qv[i] * cv[i]))
                       / (qnrm * cnrm) DESC, cl
               ) AS crank
        FROM q, c
    ), exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, nb.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY list_sum(list_transform(
                           range(1, len(q.qv) + 1), i -> q.qv[i] * nb.v[i]))
                           / (q.qnrm * nb.nrm) DESC, nb.vec_id
                   ) AS rn
            FROM q JOIN n nb ON nb.vec_id <> q.query_id) t
        WHERE rn <= {TOP_K}
    ), allc AS (
        SELECT qc.query_id, qc.crank, nb.vec_id AS neighbor_id,
               list_sum(list_transform(
                   range(1, len(q.qv) + 1), i -> q.qv[i] * nb.v[i]))
                   / (q.qnrm * nb.nrm) AS cosine
        FROM qc
        JOIN asg a ON a.cl = qc.cl AND a.vec_id <> qc.query_id
        JOIN n nb ON nb.vec_id = a.vec_id
        JOIN q ON q.query_id = qc.query_id
    ), per_np AS (
        SELECT np, query_id, neighbor_id FROM (
            SELECT u.np, ac.query_id, ac.neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY u.np, ac.query_id
                       ORDER BY ac.cosine DESC, ac.neighbor_id) AS rn
            FROM allc ac JOIN (VALUES {probes}) u(np) ON ac.crank <= u.np) t
        WHERE rn <= {TOP_K}
    )
    SELECT CAST(p.np AS BIGINT) AS nprobe,
           CAST(SUM(CASE WHEN ex.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS hits,
           CAST(SUM(CASE WHEN ex.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / {N_QUERIES * TOP_K} AS recall
    FROM per_np p
    LEFT JOIN exact ex ON ex.query_id = p.query_id
                      AND ex.neighbor_id = p.neighbor_id
    GROUP BY p.np
    """


@query("similarity_ivf_nprobe_recall", oracle=_ivf_nprobe_oracle())
def similarity_ivf_nprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tier's OPERATING CURVE: recall@{TOP_K} of cell-restricted
    search against exact cosine truth as a function of nprobe (1, 2, 4)
    — the single table an ANN capacity plan reads ("how many cells must
    each query touch for the recall the product needs?").  Complements
    similarity_quantized_recall (rank fidelity of the int8 tier) and
    embedding_matryoshka_recall (dimension truncation) with the third
    axis every vector index trades on: probe fan-out.

    Fully deterministic twin of the production IVF (similarity_topk_ivf
    uses a seeded k-means fit, so it is rows-only): cells are one
    E-step from the {IVF_EVAL_CELLS} lowest vec_ids (the kmeans/semdedup
    convention), assignment argmin rides the slim min_by shape (the r10
    E-step rewrite — only (vec_id, cl, dist) triples shuffle), query
    cell ranking and all cosine folds gather terms in position order,
    and every rank breaks ties on the id — bit-identical on both
    engines, so recall here is EXACT, not estimated.

    Scale: centroids and the 3-row nprobe fan are broadcasts; the
    candidate join is an equi-join on cell id (pair volume =
    sum over probed cells of |cell|, the IVF contract); the exact-truth
    pass is the allowlisted broadcast-query brute tier that exists to
    anchor evals like this one.  All windows partition by query."""
    e = _normed(load_table(spark, sf_dir, "embeddings")).persist()
    cents = e.filter(F.col("vec_id") < IVF_EVAL_CELLS).select(
        F.col("vec_id").alias("cl"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )
    dist = F.aggregate(
        F.zip_with("v", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    asg = (
        e.select("vec_id", "v")
        .crossJoin(F.broadcast(cents.select("cl", "cv")))
        .select("vec_id", "cl", dist.alias("d"))
        .groupBy("vec_id")
        .agg(F.expr("min_by(cl, struct(d, cl))").alias("cl"))
    )
    nb = asg.join(e, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cl").alias("ncl"),
        F.col("v").alias("nv"),
        F.col("nrm").alias("nnrm"),
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    qc = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "qv",
            "qnrm",
            "cl",
            _cosine(F.col("qv"), F.col("cv"), F.col("qnrm"), F.col("cnrm")).alias(
                "ccos"
            ),
        )
        .withColumn(
            "crank",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(F.col("ccos").desc(), "cl")
            ),
        )
        .select("query_id", "qv", "qnrm", "cl", "crank")
    )
    ex_sims = e.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cosine(F.col("qv"), F.col("v"), F.col("qnrm"), F.col("nrm")).alias(
            "cosine"
        ),
    )
    exact = (
        ex_sims.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(
                    F.col("cosine").desc(), "neighbor_id"
                )
            ),
        )
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    allc = qc.join(
        nb,
        (F.col("ncl") == F.col("cl")) & (F.col("neighbor_id") != F.col("query_id")),
    ).select(
        "query_id",
        "crank",
        "neighbor_id",
        _cosine(F.col("qv"), F.col("nv"), F.col("qnrm"), F.col("nnrm")).alias(
            "cosine"
        ),
    )
    nps = spark.createDataFrame([(p,) for p in IVF_EVAL_NPROBES], "np int")
    ivf_top = (
        allc.join(F.broadcast(nps), F.col("crank") <= F.col("np"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("np", "query_id").orderBy(
                    F.col("cosine").desc(), "neighbor_id"
                )
            ),
        )
        .filter(F.col("rn") <= TOP_K)
        .select("np", "query_id", "neighbor_id")
    )
    per = ivf_top.join(exact, ["query_id", "neighbor_id"], "left")
    return per.groupBy(F.col("np").cast("long").alias("nprobe")).agg(
        F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("hits"),
        (
            F.sum(F.coalesce("hit", F.lit(0))).cast("double")
            / F.lit(N_QUERIES * TOP_K)
        ).alias("recall"),
    )


# --------------------------------------------------------------------------
# similarity_knn_classify — k-NN label classification with holdout accuracy
# --------------------------------------------------------------------------

KNN_K = 5  # neighbors per test vector
KNN_HOLDOUT_MOD = 20  # vec_id % 20 == 0 -> test split (5% holdout)
# The eval panel is BOUNDED: holdout members with vec_id below this cap.
# Both fixtures sit fully under it (every vec_id qualifies), while at
# corpus scale the panel stops growing with the data — the unit-of-
# evaluation lesson embedding_knn_label_eval's unbounded-LOO probe
# taught (947 s at the 10x replica before its panel was capped).
KNN_HOLDOUT_CAP = 10_000


_KNN_CLASSIFY_ORACLE = f"""
WITH e AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), n AS (
    SELECT vec_id, label, v,
           sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
    FROM e
), t AS (
    SELECT * FROM n
    WHERE vec_id % {KNN_HOLDOUT_MOD} = 0 AND vec_id < {KNN_HOLDOUT_CAP}
), tr AS (
    SELECT * FROM n WHERE vec_id % {KNN_HOLDOUT_MOD} <> 0
), sims AS (
    SELECT t.vec_id AS test_id, t.label AS true_label,
           tr.vec_id AS cand_id, tr.label AS cand_label,
           list_sum(list_transform(range(1, len(t.v) + 1),
                                   i -> t.v[i] * tr.v[i]))
               / (t.nrm * tr.nrm) AS cosine
    FROM t, tr
), knn AS (
    SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY test_id
                                     ORDER BY cosine DESC, cand_id) AS rn
        FROM sims)
    WHERE rn <= {KNN_K}
), votes AS (
    SELECT test_id, true_label, cand_label, COUNT(*) AS c
    FROM knn GROUP BY test_id, true_label, cand_label
), pred AS (
    SELECT test_id, true_label, cand_label AS pred_label FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY test_id
                                     ORDER BY c DESC, cand_label) AS rn2
        FROM votes)
    WHERE rn2 = 1
)
SELECT CAST(true_label AS BIGINT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
           / COUNT(*) AS accuracy
FROM pred GROUP BY true_label
"""


@query("similarity_knn_classify", oracle=_KNN_CLASSIFY_ORACLE)
def similarity_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification over the embedding column with a deterministic
    holdout: vectors with vec_id % {KNN_HOLDOUT_MOD} == 0 are the test
    split, each classified by majority vote of its KNN_K nearest
    training vectors under exact cosine (ties: vote count DESC then
    label ASC — a total order, so the prediction is reproducible).
    Output: per-class test count, correct count, and accuracy — the
    classifier complement to embedding_knn_label_eval (which asks the
    SPACE question via leave-one-out 1-NN agreement; this op asks the
    MODEL question: k-vote generalization from a train split to a
    disjoint holdout).

    Determinism: the cosine fold is the engine's bit-identical
    dot-product discipline (similarity_topk_bruteforce's verified
    left-to-right fold, same on DuckDB); ranks break ties by cand_id;
    vote counts and correctness are exact BIGINTs; accuracy is the one
    int/int double division (identical IEEE result on both engines).

    Scale: the broadcast test split is a BOUNDED panel (holdout members
    under KNN_HOLDOUT_CAP — both fixtures qualify in full, a 100 TB
    corpus caps at the same few-hundred evaluated vectors), so cost is
    panel x corpus — LINEAR in the train side, never quadratic; the
    train side streams through one scan, the bruteforce design.  At
    100 TB the exact scan additionally swaps for the IVF route
    (similarity_topk_ivf): classify against nprobe/ncells of the
    corpus, identical vote/rollup tail since the vote input is
    (test_id, label, rank) metadata either way.

    r12: cpu_parallel on the train side — the panel×train cosine kernel
    is CPU-bound interpreted HOF work and the single-row-group fixture
    scan ran it in ONE task (the knn_label_eval fix; no-op at scale)."""
    e = _normed(cpu_parallel(load_table(spark, sf_dir, "embeddings")))
    test = F.broadcast(
        _normed(load_table(spark, sf_dir, "embeddings")).filter(
            (F.col("vec_id") % KNN_HOLDOUT_MOD == 0)
            & (F.col("vec_id") < KNN_HOLDOUT_CAP)
        ).select(
            F.col("vec_id").alias("test_id"),
            F.col("label").alias("true_label"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
        )
    )
    train = e.filter(F.col("vec_id") % KNN_HOLDOUT_MOD != 0)
    sims = test.join(train, F.col("vec_id") % KNN_HOLDOUT_MOD != 0).select(
        "test_id",
        "true_label",
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("cand_label"),
        _cosine(F.col("qv"), F.col("v"), F.col("qnrm"), F.col("nrm")).alias(
            "cosine"
        ),
    )
    knn = (
        sims.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("test_id").orderBy(F.col("cosine").desc(), "cand_id")
            ),
        )
        .filter(F.col("rn") <= KNN_K)
    )
    votes = knn.groupBy("test_id", "true_label", "cand_label").agg(
        F.count("*").alias("c")
    )
    pred = (
        votes.withColumn(
            "rn2",
            F.row_number().over(
                W.partitionBy("test_id").orderBy(F.col("c").desc(), "cand_label")
            ),
        )
        .filter(F.col("rn2") == 1)
        .select("test_id", "true_label", F.col("cand_label").alias("pred_label"))
    )
    correct = F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
    return pred.groupBy(F.col("true_label").cast("long").alias("label")).agg(
        F.count("*").cast("long").alias("n_test"),
        F.sum(correct).cast("long").alias("n_correct"),
        (F.sum(correct).cast("double") / F.count("*")).alias("accuracy"),
    )
