"""Training-corpus construction operators over ``documents`` /
``embeddings`` — the steps between "filtered documents" and "training
batches" in an LLM data pipeline: sequence packing, repetition filtering
(Gopher-style), stratified sampling, data-mix rebalancing, and per-class
embedding centroids.

Everything is built-in expression API on the hot path (split / transform /
window / explode — JVM-side, codegen'd).  Scale notes per operator; the
common theme is one narrow scan plus at most one small-key shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_aws_spark.catalog import load_table, register_views
from etl_pipeline_aws_spark.functions.fixpoint import fixpoint
from etl_pipeline_aws_spark.registry import query

SEQ_LEN = 512  # tokens per packed training sequence


@query(
    "text_pack_offsets",
    oracle=f"""
    SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens,
           CAST(cum - n_tokens AS BIGINT) AS start_offset,
           CAST((cum - n_tokens) // {SEQ_LEN} AS BIGINT) AS seq_first,
           CAST((cum - 1) // {SEQ_LEN} AS BIGINT) AS seq_last
    FROM (
        SELECT doc_id, source,
               len(string_split(text, ' ')) AS n_tokens,
               SUM(len(string_split(text, ' ')))
                   OVER (PARTITION BY source ORDER BY doc_id) AS cum
        FROM documents
    )
    """,
)
def text_pack_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are concatenated in
    doc_id order WITHIN each source shard and cut every SEQ_LEN tokens;
    each doc gets its global token offset and the [first, last] training
    sequence indices it lands in (a doc may straddle a cut).

    This is the standard pretraining packing layout (pack per shard, never
    globally): the running offset is a window prefix-sum partitioned by
    ``source``, so at 100 TB each shard's cumsum is an independent
    partition task — no global single-task ordering exists anywhere.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " "))
    w = Window.partitionBy("source").orderBy("doc_id")
    cum = F.sum(n_tokens).over(w)
    start = (cum - n_tokens).cast("long")
    end = (cum - 1).cast("long")
    return docs.select(
        "doc_id",
        "source",
        n_tokens.alias("n_tokens"),
        start.alias("start_offset"),
        F.floor(start / SEQ_LEN).cast("long").alias("seq_first"),
        F.floor(end / SEQ_LEN).cast("long").alias("seq_last"),
    )


REPETITION_MAX_DUP_FRAC = 0.2


@query(
    "text_repetition_filter",
    oracle=f"""
    WITH g AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 3
                    THEN list_transform(range(1, len(toks) - 1),
                                        i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
                    ELSE CAST([] AS VARCHAR[]) END AS tg
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    )
    SELECT doc_id,
           CAST(len(tg) AS INT) AS n_trigrams,
           CASE WHEN len(tg) > 0
                THEN 1.0 - CAST(len(list_distinct(tg)) AS DOUBLE) / len(tg)
                ELSE 0.0 END AS dup_trigram_frac,
           (CASE WHEN len(tg) > 0
                 THEN 1.0 - CAST(len(list_distinct(tg)) AS DOUBLE) / len(tg)
                 ELSE 0.0 END) <= {REPETITION_MAX_DUP_FRAC} AS keep
    FROM g
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: fraction of within-document
    duplicate word trigrams; docs above REPETITION_MAX_DUP_FRAC are
    flagged for drop.  Entirely array expressions per row (shingle,
    distinct, ratio) — a single narrow scan, no shuffle, no Python.

    Both engines compute ``1.0 - double(int)/int`` from identical integer
    operands, so even the double VALUES are bit-identical (IEEE ops are
    deterministic given identical operands)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    tg = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(1), n - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i),
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    dup_frac = F.when(
        F.size(F.col("tg")) > 0,
        F.lit(1.0) - F.size(F.array_distinct("tg")) / F.size("tg"),
    ).otherwise(F.lit(0.0))
    return (
        docs.select("doc_id", tg.alias("tg"))
        .select(
            "doc_id",
            F.size("tg").alias("n_trigrams"),
            dup_frac.alias("dup_trigram_frac"),
        )
        .withColumn("keep", F.col("dup_trigram_frac") <= REPETITION_MAX_DUP_FRAC)
    )


STRATIFIED_FRAC = 0.2


@query(
    "sample_stratified",
    oracle=f"""
    SELECT doc_id, lang
    FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM documents
    )
    WHERE rn <= CAST(CEIL({STRATIFIED_FRAC} * n) AS BIGINT)
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: exactly ceil(frac·|stratum|) docs
    per language, lowest doc_id first — reproducible across runs/engines
    (no RNG).

    Scale tier: rank-per-stratum sorts each stratum; with a handful of
    bounded strata (languages) that is a few large parallel sorts — fine.
    For huge or unbounded strata the registry's hash-mod sampler
    (sample_deterministic_mod) is the constant-memory path: approximate
    per-stratum counts, zero sorts."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("doc_id")
    wc = Window.partitionBy("lang")
    return (
        docs.select(
            "doc_id",
            "lang",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("n"),
        )
        .filter(F.col("rn") <= F.ceil(STRATIFIED_FRAC * F.col("n")).cast("long"))
        .select("doc_id", "lang")
    )


@query(
    "corpus_mix_equalize",
    oracle="""
    WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
         cap AS (SELECT MIN(n) AS cap FROM c),
         r AS (SELECT doc_id, lang,
                      ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
               FROM documents)
    SELECT r.doc_id, r.lang FROM r, cap WHERE r.rn <= cap.cap
    """,
)
def corpus_mix_equalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mix rebalancing: downsample every language to the size of the
    smallest one (equal-weight mix), deterministically (lowest doc_id
    first).  The cap is a single-row global aggregate broadcast to the
    filter — the q11 scalar-threshold pattern — so the only real work is
    one rank window per (bounded-cardinality) stratum."""
    docs = load_table(spark, sf_dir, "documents")
    cap = F.broadcast(
        docs.groupBy("lang").count().agg(F.min("count").alias("cap"))
    )
    w = Window.partitionBy("lang").orderBy("doc_id")
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .crossJoin(cap)
        .filter(F.col("rn") <= F.col("cap"))
        .select("doc_id", "lang")
    )


@query(
    "embedding_centroids",
    oracle="""
    WITH x AS (
        SELECT label, vec_id,
               unnest(CAST(embedding AS DOUBLE[])) AS val,
               unnest(range(1, len(embedding) + 1)) AS pos
        FROM embeddings
    )
    SELECT label, CAST(pos AS BIGINT) AS pos,
           list_sum(list(val ORDER BY vec_id)) / COUNT(*) AS centroid,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM x GROUP BY label, pos
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean-embedding centroids (the k-means M-step / class
    prototype table ANN routing builds on): posexplode to (label, pos,
    val), aggregate per dimension.

    Output shape: LONG form — one row per (label, dimension) with the
    centroid component as a plain double.  Emitting the vector as an
    ArrayType column is not canonicalizer-sortable on the driver side,
    and string-joining doubles would make the comparison hostage to
    float-formatting differences between engines; the long form keeps
    every value a scalar double compared exactly.  Consumers gather with
    ``collect_list(struct(pos, centroid))`` per label (bounded by dim).

    Determinism across engines: double summation is order-sensitive, so
    each (label, pos) group's values are gathered sorted by vec_id and
    folded left-to-right — both engines then add the same doubles in the
    same order, making even the centroid VALUES bit-identical (same trick
    as dedup_embedding_cosine's dot product).  At scale the gather is
    bounded by group size (rows per label), and the whole job is one
    shuffle on the small (label, pos) key."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "label",
        "vec_id",
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "pos", "val"
        ),
    )
    per = e.groupBy("label", "pos").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("vec_id", "val"))),
                lambda s: s["val"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    # posexplode is 0-based; the oracle's range(1, len+1) is 1-based.
    return per.select(
        "label",
        (F.col("pos") + 1).cast("long").alias("pos"),
        F.expr("s / n").alias("centroid"),
        F.col("n").alias("n_members"),
    )


MIX_TARGET_TOTAL = 1000  # documents the temperature-mixed corpus keeps
MIX_WEIGHT_SCALE = 1_000_000  # sqrt weights quantized to integers


@query(
    "corpus_mix_temperature",
    oracle=f"""
    WITH c AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang
    ), w AS (
        SELECT lang, CAST(ROUND(sqrt(n) * {MIX_WEIGHT_SCALE}) AS BIGINT) AS wt
        FROM c
    ), s AS (
        SELECT CAST(SUM(wt) AS BIGINT) AS st FROM w
    ), t AS (
        SELECT lang, CAST(({MIX_TARGET_TOTAL} * wt) // st AS BIGINT) AS target
        FROM w, s
    ), r AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        FROM documents
    )
    SELECT r.doc_id, r.lang FROM r JOIN t USING (lang) WHERE r.rn <= t.target
    """,
)
def corpus_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based data mixing (tau = 0.5): per-language sampling
    weights proportional to count^tau — the standard LLM-corpus recipe
    that upsamples tail languages relative to their raw share without
    flattening to uniform (corpus_mix_equalize is the tau -> 0 limit).

    Determinism discipline: sqrt(count) is quantized to an integer weight
    (ROUND(sqrt(n) * 1e6) — sqrt is bit-identical across engines, unlike
    summed doubles), the weight sum and per-language targets are then
    pure integer arithmetic, and document selection is the rank-window
    pick on doc_id.  Scale: weights/targets are #langs rows (broadcast);
    the rank window is the exact-count oracle tier — at 100 TB the same
    targets drive hash-mod thinning (the sample_deterministic_mod
    pattern) so no single-language partition ever sorts alone."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    weights = counts.select(
        "lang",
        F.round(F.sqrt("n") * MIX_WEIGHT_SCALE).cast("long").alias("wt"),
    )
    total = weights.agg(F.sum("wt").alias("st"))
    targets = (
        weights.crossJoin(F.broadcast(total))
        .select("lang", F.expr(f"({MIX_TARGET_TOTAL} * wt) div st").alias("target"))
    )
    ranked = docs.select(
        "doc_id",
        "lang",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy("doc_id"))
        .alias("rn"),
    )
    return (
        ranked.join(F.broadcast(targets), "lang")
        .filter(F.col("rn") <= F.col("target"))
        .select("doc_id", "lang")
    )


@query(
    "pipeline_corpus_e2e",
    oracle="""
    WITH gated AS (
        SELECT doc_id, lang, text,
               len(string_split(text, ' ')) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS diversity,
               MIN(doc_id) OVER (PARTITION BY sha256(text)) AS keeper_id
        FROM documents
    ), kept AS (
        SELECT doc_id, lang, n_tokens
        FROM gated
        WHERE doc_id = keeper_id
          AND n_tokens BETWEEN 20 AND 1000 AND diversity > 0.05
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM((n_tokens + 49) // 50) AS BIGINT) AS n_training_chunks
    FROM kept
    GROUP BY lang
    """,
)
def pipeline_corpus_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-corpus pipeline as ONE declarative query —
    the user story this engine exists for: raw documents → exact-dup
    keeper gate → quality screen (token range + lexical diversity) →
    per-language corpus report (kept docs, token budget, and the
    50-token training-chunk count the packer will emit).

    Composition costs nothing extra: the dedup window and the quality
    scalars share one scan, the rollup adds one tiny-key shuffle — the
    whole curation pass over a 100 TB corpus is a scan, a content-hash
    exchange, and a #langs-row aggregate.  Every stage reuses the
    semantics its standalone operator pinned (corpus_curation_gate,
    dedup_exact, text_chunk_windows), so this query is the integration
    test of the family, oracle-checked end to end."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    diversity = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    keeper_id = F.min("doc_id").over(Window.partitionBy(F.sha2("text", 256)))
    kept = (
        docs.select(
            "doc_id",
            "lang",
            n_tokens.alias("n_tokens"),
            diversity.alias("diversity"),
            keeper_id.alias("keeper_id"),
        )
        .filter(
            (F.col("doc_id") == F.col("keeper_id"))
            & F.col("n_tokens").between(20, 1000)
            & (F.col("diversity") > 0.05)
        )
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum(F.expr("(n_tokens + 49) div 50")).alias("n_training_chunks"),
    )


TOKEN_BUDGET_PER_LANG = 20_000


@query(
    "corpus_token_budget_fill",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ), running AS (
        SELECT doc_id, lang, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM sized
    )
    SELECT doc_id, lang, n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM running
    WHERE cum_tokens <= {TOKEN_BUDGET_PER_LANG}
    """,
)
def corpus_token_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted corpus assembly: fill each language's slice up to a
    {TOKEN_BUDGET_PER_LANG}-token budget, taking documents in a
    deterministic priority order (doc_id here; any precomputed quality
    rank drops in) until the NEXT document would not fit — the greedy
    selection every "train on N tokens per language" recipe runs.

    One running-sum window per language over (doc_id, n_tokens) rows —
    token counting is a narrow scalar, the window input is metadata
    (two longs per doc, never text), and the cumulative-sum filter is
    exactly the prefix the budget admits.  Exact integer token counts
    make the cut deterministic: no float drift can flip the boundary
    document."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        sized.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET_PER_LANG)
        .select("doc_id", "lang", "n_tokens", "cum_tokens")
    )


# Leakage-safe split: Fibonacci-hash the CLUSTER representative, so every
# near-dup cluster lands wholly in one split.  Integer thresholds (0.8 /
# 0.1 / 0.1 of 2^32) keep the assignment exact on both engines.
SPLIT_HASH_K = 2654435761  # Knuth multiplicative constant
SPLIT_MOD = 1 << 32
SPLIT_TRAIN_LT = 3435973836  # floor(0.8 * 2^32)
SPLIT_VAL_LT = 3865470566  # floor(0.9 * 2^32)


def _split_oracle() -> str:
    from etl_pipeline_aws_spark.llm.dedup import NGRAM_JACCARD_ORACLE

    return f"""
    WITH RECURSIVE pairs AS ({NGRAM_JACCARD_ORACLE}),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    keepers AS (
        SELECT src AS doc_id, LEAST(src, MIN(dst)) AS keeper FROM reach GROUP BY src
    ),
    assigned AS (
        SELECT d.doc_id,
               COALESCE(k.keeper, d.doc_id) AS cluster_rep,
               (COALESCE(k.keeper, d.doc_id) * {SPLIT_HASH_K}) % {SPLIT_MOD} AS h
        FROM documents d LEFT JOIN keepers k ON d.doc_id = k.doc_id
    )
    SELECT doc_id, cluster_rep,
           CASE WHEN h < {SPLIT_TRAIN_LT} THEN 'train'
                WHEN h < {SPLIT_VAL_LT} THEN 'val'
                ELSE 'test' END AS split
    FROM assigned
    """


@query("corpus_split_leakage_safe", oracle=_split_oracle())
def corpus_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: near-duplicate documents must
    never straddle a split boundary (a val doc whose near-copy sits in
    train is silent eval contamination), so the split key is the
    CLUSTER representative, not the document — every member of a dup
    cluster hashes identically and lands in the same split.

    Composition: the LSH-verified duplicate graph's connected components
    (dedup_cluster_keepers — banded candidates, exact-Jaccard verified,
    min-label propagation) give each clustered doc its keeper; singleton
    docs represent themselves.  The assignment is a Fibonacci hash of the
    representative against fixed integer thresholds (80/10/10 of 2^32) —
    pure bigint arithmetic, no RNG, identical on any engine.

    Scale: one broadcast-size keeper table at bench SF; at 100 TB the
    keeper table is itself doc_id-partitioned output of the CC pass and
    this becomes one equi-join on doc_id plus a narrow projection — no new
    shuffle shape beyond what dedup already paid.  The oracle replays the
    recursive-CTE closure over the EXACT all-pairs graph, certifying both
    the clustering and the arithmetic."""
    from etl_pipeline_aws_spark.llm.dedup import dedup_cluster_keepers

    docs = load_table(spark, sf_dir, "documents")
    keepers = dedup_cluster_keepers(spark, sf_dir).select(
        "doc_id", F.col("keeper_doc_id").alias("keeper")
    )
    rep = F.coalesce(F.col("keeper"), F.col("doc_id"))
    h = (rep * F.lit(SPLIT_HASH_K)) % F.lit(SPLIT_MOD)
    return (
        docs.join(keepers, "doc_id", "left")
        .select(
            "doc_id",
            rep.alias("cluster_rep"),
            F.when(h < SPLIT_TRAIN_LT, "train")
            .when(h < SPLIT_VAL_LT, "val")
            .otherwise("test")
            .alias("split"),
        )
    )


# Deterministic weighted Bernoulli sampling: P(keep) proportional to a
# per-doc quality weight, decided by pure integer arithmetic so the sample
# is reproducible and exactly oracle-checkable (no RNG on either engine).
WSAMPLE_CAP_TOKENS = 200  # weight = min(n_tokens, cap) / cap


@query(
    "corpus_weighted_sample",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS n_tokens,
               (doc_id * {SPLIT_HASH_K}) % {SPLIT_MOD} AS h
        FROM documents
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(LEAST(n_tokens, {WSAMPLE_CAP_TOKENS}) AS DOUBLE)
               / {WSAMPLE_CAP_TOKENS} AS weight
    FROM sized
    WHERE h * {WSAMPLE_CAP_TOKENS} < LEAST(n_tokens, {WSAMPLE_CAP_TOKENS}) * {SPLIT_MOD}
    """,
)
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Bernoulli corpus sampling: keep each document with
    probability proportional to a quality weight (here: capped token
    count — longer docs up to the cap are likelier to survive), the
    standard "value-weighted downsample" step when a corpus must shrink
    without uniform thinning.

    The keep decision is exact integer math: keep ⇔ hash(doc_id)/2^32 <
    weight, cross-multiplied to ``h·cap < min(tokens,cap)·2^32`` so no
    division or float ever decides a boundary.  Fibonacci hashing gives a
    uniform, reproducible [0,2^32) draw per doc_id — re-running the
    sample on any engine, any partitioning, yields byte-identical
    membership.  Narrow scan → filter; no shuffle at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " ")).cast("long")
    h = (F.col("doc_id") * F.lit(SPLIT_HASH_K)) % F.lit(SPLIT_MOD)
    return (
        docs.select(
            "doc_id",
            "lang",
            n_tokens.alias("n_tokens"),
            h.alias("h"),
        )
        .filter(
            F.col("h") * WSAMPLE_CAP_TOKENS
            < F.least(F.col("n_tokens"), F.lit(WSAMPLE_CAP_TOKENS)) * F.lit(SPLIT_MOD)
        )
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            (
                F.least(F.col("n_tokens"), F.lit(WSAMPLE_CAP_TOKENS)).cast("double")
                / WSAMPLE_CAP_TOKENS
            ).alias("weight"),
        )
    )


BUCKET_LADDER = (16, 32, 64, 128, 256, 512, 1024, 2048, 4096)  # context lengths


def _bucket_case_sql() -> str:
    expr = "CASE "
    for b in BUCKET_LADDER:
        expr += f"WHEN len(string_split(text, ' ')) <= {b} THEN {b} "
    return expr + f"ELSE {BUCKET_LADDER[-1] * 2} END"


@query(
    "corpus_length_bucketing",
    oracle=f"""
    WITH t AS (
        SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               CAST({_bucket_case_sql()} AS BIGINT) AS bucket
        FROM documents
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(bucket - n_tok) AS BIGINT) AS padding_waste,
           CAST(SUM(bucket - n_tok) * 10000 // SUM(bucket) AS BIGINT) AS waste_bp
    FROM t GROUP BY bucket
    """,
)
def corpus_length_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length bucketing for batched inference/training: each
    document is assigned the smallest power-of-two context bucket that
    holds its token count, and the report prices the padding — tokens
    wasted per bucket and the waste rate in basis points.  This is the
    decision input for bucket ladders (too few buckets → padding waste;
    too many → small, inefficient batches) — the same economics that
    motivates sequence packing (text_pack_offsets), measured rather than
    assumed.

    Exact integers throughout (token counts, bucket caps, floor-division
    basis points).  One narrow scan + a ≤10-key rollup — no joins, no
    windows; at 100 TB the rollup is a pure map-side-combine shuffle of
    ten partials per task."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " ")).cast("long")
    bucket = F.lit(BUCKET_LADDER[-1] * 2).cast("long")
    for b in reversed(BUCKET_LADDER):
        bucket = F.when(n_tok <= b, F.lit(b).cast("long")).otherwise(bucket)
    t = docs.select(n_tok.alias("n_tok"), bucket.alias("bucket"))
    return t.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.sum(F.col("bucket") - F.col("n_tok")).cast("long").alias("padding_waste"),
        F.expr("sum(bucket - n_tok) * 10000 div sum(bucket)")
        .cast("long")
        .alias("waste_bp"),
    )


OUTLIER_TOP_K = 3  # worst vectors reported per label


@query(
    "embedding_outlier_detection",
    oracle=f"""
    WITH x AS (
        SELECT label, vec_id,
               unnest(CAST(embedding AS DOUBLE[])) AS val,
               unnest(range(1, len(embedding) + 1)) AS pos
        FROM embeddings
    ), per AS (
        SELECT label, pos,
               list_sum(list(val ORDER BY vec_id)) AS s,
               COUNT(*) AS n
        FROM x GROUP BY label, pos
    ), cen AS (
        SELECT label, list(s / n ORDER BY pos) AS c FROM per GROUP BY label
    ), d AS (
        SELECT e.label, e.vec_id,
               list_sum(list_transform(range(1, len(e.embedding) + 1),
                   i -> (CAST(e.embedding[i] AS DOUBLE) - cen.c[i])
                      * (CAST(e.embedding[i] AS DOUBLE) - cen.c[i]))) AS dist2
        FROM embeddings e JOIN cen ON e.label = cen.label
    )
    SELECT label, vec_id, dist2, CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY label
                                       ORDER BY dist2 DESC, vec_id) AS rn
          FROM d)
    WHERE rn <= {OUTLIER_TOP_K}
    """,
)
def embedding_outlier_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space quality control: the {OUTLIER_TOP_K} vectors
    farthest (squared L2) from their own label's centroid, per label —
    the mislabeled/corrupt-vector screen run before a labeled embedding
    set is trusted for retrieval or training.

    Determinism: the centroid is embedding_centroids' exact ordered-fold
    mean; each distance is a zip_with fold in dimension order, so both
    engines square and add the same doubles in the same sequence.  Plan:
    centroid build (two small-key shuffles) → #labels-row broadcast join
    back onto one embeddings scan → per-label WindowGroupLimit top-k.
    Nothing is pairwise; cost is linear in vectors × dims."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "label",
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    e = emb.select("label", "vec_id", F.posexplode("v").alias("pos", "val"))
    per = e.groupBy("label", "pos").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("vec_id", "val"))),
                lambda s: s["val"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    cen = per.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", F.expr("s / n").alias("m")))),
            lambda s: s["m"],
        ).alias("c")
    )
    d = emb.join(F.broadcast(cen), "label").select(
        "label",
        "vec_id",
        F.aggregate(
            F.zip_with(F.col("v"), F.col("c"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("dist2"),
    )
    w = Window.partitionBy("label").orderBy(F.col("dist2").desc(), "vec_id")
    return d.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= OUTLIER_TOP_K
    )


@query(
    "corpus_version_manifest",
    oracle="""
    WITH h AS (
        SELECT source, lang, sha256(text) AS hh, LENGTH(text) AS n
        FROM documents
    )
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS total_chars,
           MIN(hh) AS min_hash,
           MAX(hh) AS max_hash,
           sha256(string_agg(hh, '' ORDER BY hh)) AS manifest_hash
    FROM h GROUP BY source, lang
    """,
)
def corpus_version_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset version manifest: per (source, lang) shard, doc count,
    total size, and a content checksum — the reproducibility anchor a
    training run records so "the same corpus" is a verifiable claim, not
    a directory name.  Any added/removed/edited document changes the
    shard's manifest_hash; unchanged shards keep byte-identical lines, so
    two snapshots diff shard-by-shard.

    The checksum is order-insensitive by construction: per-doc sha256
    hashes are SORTED before being folded into the shard digest, so
    partition order / scan order cannot leak in (both engines hash the
    same canonical string).  At fixture scale the sort-and-concat per
    shard is exact; the 100 TB variant folds the same per-doc hashes with
    a commutative XOR/ADD over fixed-width words (no gather) — same
    contract, constant state.  One scan + one shard-key shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "source",
        "lang",
        F.sha2(F.col("text"), 256).alias("hh"),
        F.length("text").alias("n"),
    )
    return h.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("total_chars"),
        F.min("hh").alias("min_hash"),
        F.max("hh").alias("max_hash"),
        F.sha2(F.concat_ws("", F.array_sort(F.collect_list("hh"))), 256).alias(
            "manifest_hash"
        ),
    )


_MINMAX_ORACLE = """
    WITH flat AS (
        SELECT vec_id, i AS dim, CAST(embedding[i + 1] AS DOUBLE) AS x
        FROM embeddings, unnest(range(0, len(embedding))) AS t(i)
    ), ext AS (
        SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM flat GROUP BY dim
    )
    SELECT f.vec_id,
           f.dim,
           CASE WHEN e.hi = e.lo THEN 0.0
                ELSE (f.x - e.lo) / (e.hi - e.lo) END AS scaled
    FROM flat f JOIN ext e USING (dim)
    WHERE f.vec_id < 50
"""


@query("embedding_minmax_scale", oracle=_MINMAX_ORACLE)
def embedding_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension min-max feature scaling of the embedding corpus —
    the preprocessing step distance-based methods need when dimensions
    carry different ranges.  Deterministic by construction: extrema are
    order-insensitive exact elements, and each scaled value is two IEEE
    ops on exact operands ((x - lo) / (hi - lo)) — no accumulation, so
    Spark and DuckDB emit bit-identical doubles (the same discipline as
    embedding_centroids' ordered folds, which this complements on the
    min-max side).

    Shape: one posexplode to (vec_id, dim, x), one 64-group extrema
    aggregate broadcast back onto the flat stream.  At 100 TB the
    extrema table is dims-sized (tiny) and the scan is narrow — the
    scaled output would re-gather to arrays via the same groupBy
    array_sort(collect_list) used in embedding_centroids; emitted flat
    here (vec_id < 50) to keep the oracle's unnest join bounded."""
    e = load_table(spark, sf_dir, "embeddings")
    flat = e.select(
        "vec_id",
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "dim", "x"
        ),
    )
    ext = flat.groupBy("dim").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    return (
        flat.filter(F.col("vec_id") < 50)
        .join(F.broadcast(ext), "dim")
        .select(
            "vec_id",
            "dim",
            # constant dimension (hi = lo): emit 0.0 rather than the
            # engine-divergent 0/0 (Spark NULL / ANSI error vs DuckDB inf)
            F.when(F.col("hi") == F.col("lo"), F.lit(0.0))
            .otherwise((F.col("x") - F.col("lo")) / (F.col("hi") - F.col("lo")))
            .alias("scaled"),
        )
    )


_N_SHARDS = 8

_SHARD_INTERLEAVE_ORACLE = f"""
    WITH numbered AS (
        SELECT doc_id, source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        FROM documents
    )
    SELECT CAST((rn - 1) % {_N_SHARDS} AS BIGINT) AS shard,
           source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM numbered
    GROUP BY 1, 2
"""


@query("corpus_shard_interleave", oracle=_SHARD_INTERLEAVE_ORACLE)
def corpus_shard_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified training-shard assignment: number each source's docs
    deterministically (by doc_id) and deal them round-robin into N
    shards, so EVERY shard carries the same source mix (±1 doc) — the
    property that makes any shard prefix an unbiased sample of the
    training mixture, which sequential trainers and curriculum resume
    both depend on.  A global hash-partition gets the mix right only in
    expectation; the per-source round-robin makes it exact.

    The report is the audit: per (shard, source) doc and char counts —
    the per-shard mix a data-loading manifest records.  Exactness: pure
    integer window/modulo arithmetic, no hashing, no RNG.

    Scale: one shuffle on source for the numbering window (at 100 TB:
    number within (source, date-bucket) sub-partitions and offset by
    per-bucket prefix counts — same two-level prefix-sum trick as the
    concurrent-sessions sweep — so no single source serializes), then
    the rollup carries counts only."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    numbered = docs.select(
        "source",
        "n_chars",
        ((F.row_number().over(w) - 1) % _N_SHARDS).cast("long").alias("shard"),
    )
    return numbered.groupBy("shard", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


_EPOCH_CAP = 3  # no source may repeat more than this many times

_EPOCH_UPSAMPLE_ORACLE = f"""
    WITH per_source AS (
        SELECT source,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ), quota AS (
        SELECT MIN({_EPOCH_CAP} * n_tokens) AS q FROM per_source
    )
    SELECT p.source,
           p.n_tokens,
           CAST(q.q AS BIGINT) AS quota_tokens,
           CAST(q.q AS DOUBLE) / p.n_tokens AS repeat_factor,
           CAST(q.q // p.n_tokens AS BIGINT) AS n_full_epochs,
           CAST(q.q % p.n_tokens AS BIGINT) AS remainder_tokens
    FROM per_source p, quota q
"""


@query("corpus_epoch_upsampling", oracle=_EPOCH_UPSAMPLE_ORACLE)
def corpus_epoch_upsampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-capped equal-share mixing plan: given per-source token
    counts and a hard repeat cap (no source may be seen more than
    _EPOCH_CAP times — the over-repetition degradation bound from the
    data-scaling literature), compute the largest per-source quota
    achievable with an EQUAL token share: quota = min over sources of
    cap x tokens(source).  Each source's plan is then (full epochs,
    remainder tokens) — exact integer floor-div/mod, so the plan is a
    reproducible manifest, not a sampling hope; the only double is the
    audit-friendly repeat factor (one exact int/int division).

    This is the planning complement to corpus_mix_temperature (which
    reweights) and corpus_shard_interleave (which lays out): weights →
    plan → shards.

    Scale: one token-count rollup per source (map-side combined), a
    1-row global min broadcast back — the q11 scalar pattern."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens")
    )
    quota = F.broadcast(
        per_source.agg(F.min(F.lit(_EPOCH_CAP) * F.col("n_tokens")).alias("q"))
    )
    return per_source.crossJoin(quota).select(
        "source",
        "n_tokens",
        F.col("q").cast("long").alias("quota_tokens"),
        (F.col("q").cast("double") / F.col("n_tokens")).alias("repeat_factor"),
        (F.col("q") / F.col("n_tokens")).cast("long").alias("n_full_epochs"),
        (F.col("q") % F.col("n_tokens")).cast("long").alias("remainder_tokens"),
    )


_STANDARDIZE_ORACLE = """
    WITH flat AS (
        SELECT vec_id,
               unnest(range(0, len(embedding))) AS dim,
               unnest(CAST(embedding AS DOUBLE[])) AS x
        FROM embeddings
    ), stats AS (
        SELECT dim,
               list_sum(list(x ORDER BY vec_id)) / COUNT(*) AS mu,
               list_sum(list(x * x ORDER BY vec_id)) / COUNT(*) AS ex2,
               COUNT(*) AS n
        FROM flat GROUP BY dim
    )
    SELECT f.vec_id, f.dim,
           (f.x - s.mu) / sqrt(s.ex2 - s.mu * s.mu) AS z
    FROM flat f JOIN stats s USING (dim)
    WHERE f.vec_id < 50
"""


@query("embedding_standardize", oracle=_STANDARDIZE_ORACLE)
def embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score standardization (diagonal whitening) of the
    embedding corpus — the scale-equalizing transform distance methods
    need when dimensions carry different variances; complements
    embedding_minmax_scale (range) with the moment-based form.

    Determinism: per-dim mean and E[x²] use the ordered-fold discipline
    (gather by vec_id, fold left-to-right — embedding_centroids'
    pattern), so both engines add identical doubles in identical order;
    variance is the same pinned expression E[x²] − µ²; sqrt is IEEE-
    exact given an identical operand (the one transcendental that is
    safe cross-engine, unlike ln/log).  The output is LONG form
    (vec_id, dim, z), scalar doubles only.

    Scale: stats are dims-sized (broadcast); the ordered gather is the
    exact-tier cost — at 100 TB the same query runs with decimal-binned
    streaming moments or a numerically-compensated sum, same plan
    shape."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id",
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "dim", "x"
        ),
    )
    folded = flat.groupBy("dim").agg(
        F.array_sort(F.collect_list(F.struct("vec_id", "x"))).alias("_s"),
        F.count(F.lit(1)).alias("n"),
    )
    stats = folded.select(
        "dim",
        (
            F.aggregate(
                F.expr("transform(_s, e -> e.x)"),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            / F.col("n")
        ).alias("mu"),
        (
            F.aggregate(
                F.expr("transform(_s, e -> e.x * e.x)"),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            / F.col("n")
        ).alias("ex2"),
    )
    return (
        flat.filter(F.col("vec_id") < 50)
        .join(F.broadcast(stats), "dim")
        .select(
            "vec_id",
            "dim",
            (
                (F.col("x") - F.col("mu"))
                / F.sqrt(F.col("ex2") - F.col("mu") * F.col("mu"))
            ).alias("z"),
        )
    )


_PRETRAIN_SHARDS_ORACLE = f"""
    WITH kept AS (
        SELECT doc_id, source,
               len(string_split(text, ' ')) AS n_tokens
        FROM (
            SELECT doc_id, source, text,
                   MIN(doc_id) OVER (PARTITION BY sha256(text)) AS keeper_id,
                   len(string_split(text, ' ')) AS nt,
                   CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                       / len(string_split(text, ' ')) AS diversity
            FROM documents
        )
        WHERE doc_id = keeper_id AND nt BETWEEN 20 AND 1000 AND diversity > 0.05
    ), dealt AS (
        SELECT source, n_tokens,
               (ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1)
                   % {_N_SHARDS} AS shard
        FROM kept
    )
    SELECT CAST(shard AS BIGINT) AS shard, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM dealt GROUP BY 1, 2
"""


@query("pipeline_pretraining_shards_e2e", oracle=_PRETRAIN_SHARDS_ORACLE)
def pipeline_pretraining_shards_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pretraining data BUILD as one declarative query: raw
    documents → exact-dup keeper gate → quality screen (token range +
    lexical diversity) → stratified round-robin shard assignment → the
    per-(shard, source) manifest a training launcher consumes.  Where
    pipeline_corpus_e2e REPORTS the curated corpus, this one LAYS IT
    OUT: the output is the shard manifest itself, with the exact-mix
    property corpus_shard_interleave pins (every shard carries every
    surviving source's docs within ±1).

    Composition: the dedup window and quality scalars share one scan,
    the deal window re-numbers only SURVIVORS (dedup before layout —
    dealing raw docs then filtering would break the ±1 mix), and the
    rollup is a tiny-key shuffle.  Whole pass = one scan, one content-
    hash exchange, one source-window, one rollup — unchanged at 100 TB.

    Every stage's semantics are pinned by its standalone operator
    (dedup_exact, corpus_curation_gate, corpus_shard_interleave);
    end-to-end value hash certifies the composition."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    diversity = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    keeper_id = F.min("doc_id").over(Window.partitionBy(F.sha2("text", 256)))
    kept = docs.select(
        "doc_id",
        "source",
        n_tokens.alias("n_tokens"),
        diversity.alias("diversity"),
        keeper_id.alias("keeper_id"),
    ).filter(
        (F.col("doc_id") == F.col("keeper_id"))
        & F.col("n_tokens").between(20, 1000)
        & (F.col("diversity") > 0.05)
    )
    deal = Window.partitionBy("source").orderBy("doc_id")
    dealt = kept.select(
        "source",
        "n_tokens",
        ((F.row_number().over(deal) - 1) % _N_SHARDS).cast("long").alias("shard"),
    )
    return dealt.groupBy("shard", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )


_PI_ITERATIONS = 3


def _pi_oracle() -> str:
    """Unrolled power-iteration oracle: every sum is an ordered-fold list
    sum, so DuckDB adds the same doubles in the same order as Spark."""
    sql = """
    WITH flat AS (
        SELECT vec_id,
               unnest(range(0, len(embedding))) AS dim,
               unnest(CAST(embedding AS DOUBLE[])) AS x
        FROM embeddings
    ), v0 AS (
        SELECT DISTINCT dim, CASE WHEN dim = 0 THEN 1.0 ELSE 0.0 END AS v
        FROM flat
    )"""
    prev = "v0"
    for i in range(1, _PI_ITERATIONS + 1):
        sql += f""", d{i} AS (
        SELECT f.vec_id,
               list_sum(list(f.x * p.v ORDER BY f.dim)) AS dot
        FROM flat f JOIN {prev} p USING (dim)
        GROUP BY f.vec_id
    ), v{i} AS (
        SELECT f.dim,
               list_sum(list(f.x * d.dot ORDER BY f.vec_id)) AS v
        FROM flat f JOIN d{i} d USING (vec_id)
        GROUP BY f.dim
    )"""
        prev = f"v{i}"
    return sql + f"""
    SELECT CAST(dim AS BIGINT) AS dim,
           v / (SELECT sqrt(list_sum(list(v * v ORDER BY dim)))
                FROM {prev}) AS component
    FROM {prev}
    """



def _pc1_flat(emb) -> "DataFrame":
    """Long-form (vec_id, dim, x) explode of the embedding column,
    localCheckpointed once — the shared input of the power-iteration
    family (embedding_power_iteration_pc1 and its explained-variance
    companion reuse ONE explode instead of each paying it)."""
    return emb.select(
        "vec_id",
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "dim", "x"
        ),
    ).localCheckpoint()


def _pc1_unit(flat: "DataFrame") -> "DataFrame":
    """Power-iteration unit vector (dim, component) from an
    already-checkpointed long-form matrix — the shared kernel of
    embedding_power_iteration_pc1 / embedding_pc1_explained_variance.
    Ordered folds throughout (bit-exact across engines); normalization
    once at the end; the fixpoint driver's per-round checkpoint keeps the
    plan flat."""
    v0 = flat.select("dim").distinct().select(
        "dim",
        F.when(F.col("dim") == 0, F.lit(1.0)).otherwise(F.lit(0.0)).alias("v"),
    )

    def iterate(v: "DataFrame", _: int) -> "DataFrame":
        dots = (
            flat.join(F.broadcast(v), "dim")
            .groupBy("vec_id")
            .agg(
                F.aggregate(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("dim", (F.col("x") * F.col("v")).alias("p"))
                            )
                        ),
                        lambda s: s["p"],
                    ),
                    F.lit(0.0),
                    lambda acc, p: acc + p,
                ).alias("dot")
            )
        )
        return (
            flat.join(dots, "vec_id")
            .groupBy("dim")
            .agg(
                F.aggregate(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    "vec_id", (F.col("x") * F.col("dot")).alias("p")
                                )
                            )
                        ),
                        lambda s: s["p"],
                    ),
                    F.lit(0.0),
                    lambda acc, p: acc + p,
                ).alias("v")
            )
        )

    v = fixpoint(v0, iterate, _PI_ITERATIONS)
    norm = F.broadcast(
        v.agg(
            F.sqrt(
                F.aggregate(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("dim", (F.col("v") * F.col("v")).alias("p"))
                            )
                        ),
                        lambda s: s["p"],
                    ),
                    F.lit(0.0),
                    lambda acc, p: acc + p,
                )
            ).alias("nrm")
        )
    )
    return v.crossJoin(norm).select(
        F.col("dim").cast("long").alias("dim"),
        (F.col("v") / F.col("nrm")).alias("component"),
    )


@query("embedding_power_iteration_pc1", oracle=_pi_oracle())
def embedding_power_iteration_pc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First principal direction of the embedding corpus by POWER
    ITERATION — _PI_ITERATIONS (3) fixed rounds of v ← Xᵀ(Xv) from the deterministic
    seed e₀ — the iterative-linear-algebra workload (PCA, spectral
    embedding, eigencentrality) expressed as DataFrame joins: each round
    is one (vec join) for the dot products and one (dim join) for the
    update, the matrix never materialized.

    Bit-exactness across engines for ITERATED float math: every sum is
    an ordered fold (dots fold x·v sorted by dim; updates fold
    contributions sorted by vec_id — the embedding_centroids
    discipline), so both engines chain IDENTICAL IEEE operations through
    all rounds; normalization happens ONCE at the end (sqrt is safe;
    per-round rescaling would add per-round divisions for no semantic
    gain at 3 rounds).  Output is the long-form unit vector (dim,
    component).

    Scale: per round, one shuffle on vec_id and one on dim; state is one
    dims-sized vector (broadcast).  The gathers are bounded by dims
    (dot) and corpus/dim (update) — the update fold is the exact-tier
    cost, replaced by compensated streaming sums at 100 TB with the
    same plan shape.  Rounds are checkpointed (functions/fixpoint.py) so
    the final plan is flat."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _pc1_unit(_pc1_flat(emb))


def _pi_ev_oracle() -> str:
    """Explained-variance oracle: the unrolled power iteration (same CTEs
    as embedding_power_iteration_pc1), then lambda1 = ||X v̂||² via the
    ordered dot fold and trace = ordered fold of all x² — one row."""
    sql = _pi_oracle().rsplit("SELECT CAST(dim AS BIGINT)", 1)[0]
    last = f"v{_PI_ITERATIONS}"
    return sql + f""", unit AS (
        SELECT dim,
               v / (SELECT sqrt(list_sum(list(v * v ORDER BY dim)))
                    FROM {last}) AS u
        FROM {last}
    ), proj AS (
        SELECT f.vec_id,
               list_sum(list(f.x * u.u ORDER BY f.dim)) AS dot
        FROM flat f JOIN unit u USING (dim)
        GROUP BY f.vec_id
    ), lam AS (
        SELECT list_sum(list(dot * dot ORDER BY vec_id)) AS lambda1
        FROM proj
    ), tr AS (
        SELECT list_sum(list(x * x ORDER BY vec_id, dim)) AS trace
        FROM flat
    )
    SELECT lambda1, trace, lambda1 / trace AS explained_ratio
    FROM lam, tr
    """


@query("embedding_pc1_explained_variance", oracle=_pi_ev_oracle())
def embedding_pc1_explained_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much of the corpus' total (uncentered) second moment the first
    principal direction captures: λ₁ = ‖X·v̂‖² against trace(XᵀX) — the
    one-number answer to "is this embedding space effectively
    one-dimensional" that decides whitening, dimension reduction, and
    ANN routing budgets.  Companion to embedding_power_iteration_pc1
    (which emits the direction; this emits its weight).

    Same bit-exactness discipline, now through FOUR chained fold stages
    (3 iteration rounds + projection): every sum an ordered fold, sqrt
    at the single normalization, the final ratio one division of two
    exactly-reproduced doubles.

    Scale: adds one broadcast-v projection pass and two global folds to
    the iteration's cost; the trace fold is the exact-tier form of a
    plain sum-of-squares aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = _pc1_flat(emb)
    unit = _pc1_unit(flat).select("dim", F.col("component").alias("u"))
    proj = (
        flat.join(F.broadcast(unit), "dim")
        .groupBy("vec_id")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("dim", (F.col("x") * F.col("u")).alias("p"))
                        )
                    ),
                    lambda s: s["p"],
                ),
                F.lit(0.0),
                lambda acc, p: acc + p,
            ).alias("dot")
        )
    )
    lam = proj.agg(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("vec_id", (F.col("dot") * F.col("dot")).alias("p"))
                    )
                ),
                lambda s: s["p"],
            ),
            F.lit(0.0),
            lambda acc, p: acc + p,
        ).alias("lambda1")
    )
    tr = flat.agg(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("vec_id", "dim", (F.col("x") * F.col("x")).alias("p"))
                    )
                ),
                lambda s: s["p"],
            ),
            F.lit(0.0),
            lambda acc, p: acc + p,
        ).alias("trace")
    )
    return lam.crossJoin(tr).select(
        "lambda1", "trace", (F.col("lambda1") / F.col("trace")).alias("explained_ratio")
    )


@query(
    "embedding_dimension_stats",
    oracle="""
    WITH x AS (
        SELECT vec_id,
               unnest(CAST(embedding AS DOUBLE[])) AS val,
               unnest(range(1, len(embedding) + 1)) AS pos
        FROM embeddings
    ), agg AS (
        SELECT pos,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               list_sum(list(val ORDER BY vec_id)) AS s1,
               list_sum(list(val * val ORDER BY vec_id)) AS s2,
               MIN(val) AS min_val,
               MAX(val) AS max_val
        FROM x GROUP BY pos
    )
    SELECT CAST(pos AS BIGINT) AS pos, n_vecs,
           s1 / n_vecs AS mean_val,
           sqrt(greatest(s2 / n_vecs - (s1 / n_vecs) * (s1 / n_vecs), 0))
               AS std_val,
           min_val, max_val
    FROM agg
    """,
)
def embedding_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION distribution profile of the embedding space: count,
    mean, std, min, max for every coordinate — the whitening/QC
    diagnostic read before choosing normalization (embedding_standardize
    consumes exactly these moments), quantization ranges
    (embedding_quantized_projection's clip bounds), and dead-dimension
    pruning (std ~ 0 coordinates carry no signal and waste ANN budget).

    Long-form output (one row per dimension), every value a scalar —
    the embedding_centroids shape contract.  Bit-exact determinism: both
    moments are ordered folds (values gathered sorted by vec_id, summed
    left-to-right), and the variance is the EXPLICIT two-moment formula
    computed with the identical expression on both engines (engine-
    internal variance accumulators are order-sensitive and never match
    cross-engine; sqrt of the same double is safe).

    Scale: one shuffle on the dims-sized (pos) key; the gather is
    corpus/dim per group — the exact-tier fold, swapped for compensated
    streaming partials at 100 TB with the same plan shape (the
    embedding_power_iteration_pc1 note)."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        F.posexplode(F.transform("embedding", lambda v: v.cast("double"))).alias(
            "pos", "val"
        ),
    )

    def fold(expr: str) -> F.Column:
        return F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("vec_id", F.expr(expr).alias("v")))),
                lambda s: s["v"],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    agg = x.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        fold("val").alias("s1"),
        fold("val * val").alias("s2"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )
    return agg.select(
        (F.col("pos") + 1).cast("long").alias("pos"),
        F.col("n_vecs").cast("long").alias("n_vecs"),
        F.expr("s1 / n_vecs").alias("mean_val"),
        F.expr("sqrt(greatest(s2 / n_vecs - (s1 / n_vecs) * (s1 / n_vecs), 0d))").alias(
            "std_val"
        ),
        "min_val",
        "max_val",
    )


PACK_BIN_CAPACITY = 256  # tokens per padded training bin (~4-5 fixture docs)

_NEXT_FIT_ORACLE = f"""
    WITH RECURSIVE docs AS (
        SELECT source, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
               CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
                    AS BIGINT) AS idx
        FROM documents
    ), walk AS (
        SELECT source, idx, tok,
               CAST(1 AS BIGINT) AS bin_idx, tok AS fill
        FROM docs WHERE idx = 1
        UNION ALL
        SELECT d.source, d.idx, d.tok,
               CASE WHEN w.fill + d.tok <= {PACK_BIN_CAPACITY}
                    THEN w.bin_idx ELSE w.bin_idx + 1 END,
               CASE WHEN w.fill + d.tok <= {PACK_BIN_CAPACITY}
                    THEN w.fill + d.tok ELSE d.tok END
        FROM walk w JOIN docs d ON d.source = w.source AND d.idx = w.idx + 1
    )
    SELECT source, CAST(bin_idx AS BIGINT) AS bin_idx,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS fill_tokens
    FROM walk GROUP BY source, bin_idx
"""


@query("corpus_pack_next_fit", oracle=_NEXT_FIT_ORACLE)
def corpus_pack_next_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-boundary-preserving bin packing (NEXT-FIT): walk each
    source's documents in doc_id order, filling {PACK_BIN_CAPACITY}-token
    training bins; a document that would overflow the open bin starts a
    new one (an oversized document occupies a bin alone).  This is the
    packing strategy for recipes where documents must NOT straddle
    sequence boundaries (instruction tuning, contrastive batches) —
    text_pack_offsets is the complementary concat-and-chunk form that
    splits documents; next-fit trades padding waste for boundary
    integrity and is the 2-approximation-with-one-pass packer.

    Spark shape: the greedy recurrence (bin of doc i depends on the
    running fill after doc i-1) is inherently sequential WITHIN a
    source, so it runs as applyInPandas — one Arrow batch per source,
    linear scan inside, parallel ACROSS sources.  That matches the
    production layout: a 100 TB corpus is sharded, and packing
    parallelism comes from shard count (here: the source key; at scale,
    (source, shard) — same plan, finer key).  The only pre-pass is a
    narrow projection to (source, doc_id, token count) — text never
    enters the Python worker, so the Arrow transfer is a few bytes per
    document.  Oracle: the identical walk as a recursive CTE advancing
    all sources in lockstep.

    Output is per-bin exact integers: the (source, bin) manifest a
    batch loader consumes, and the padding-waste audit falls out as
    capacity − fill."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.size(F.split("text", " ")).cast("long").alias("tok")
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        out: list[tuple[str, int, int, int]] = []
        bin_idx, fill, n_docs = 0, 0, 0
        source = pdf["source"].iloc[0]
        for tok in pdf["tok"]:
            if bin_idx == 0 or fill + tok > PACK_BIN_CAPACITY:
                if bin_idx > 0:
                    out.append((source, bin_idx, n_docs, fill))
                bin_idx += 1
                fill, n_docs = 0, 0
            fill += int(tok)
            n_docs += 1
        if bin_idx > 0:
            out.append((source, bin_idx, n_docs, fill))
        return pd.DataFrame(
            out, columns=["source", "bin_idx", "n_docs", "fill_tokens"]
        )

    return docs.groupBy("source").applyInPandas(
        pack, "source string, bin_idx long, n_docs long, fill_tokens long"
    )


KM_K = 4  # clusters; init = the K lowest vec_ids' vectors
KM_ROUNDS = 2  # assignment rounds (update between them)


def _kmeans_oracle() -> str:
    """Unrolled Lloyd iterations as chained CTEs: a{i} = per-(vec,
    cluster) squared L2 (ordered fold over pos), asg{i} = argmin with
    cluster-id tie-break, c{i} = per-dimension mean update (ordered
    fold over vec_id) — the Spark builder round for round."""
    sql = f"""
    WITH x AS (
        SELECT vec_id,
               unnest(CAST(embedding AS DOUBLE[])) AS val,
               unnest(range(1, len(embedding) + 1)) AS pos
        FROM embeddings
    ), c1 AS (
        SELECT vec_id AS cl, pos, val AS cv FROM x WHERE vec_id < {KM_K}
    )"""
    for i in range(1, KM_ROUNDS + 1):
        sql += f""", a{i} AS (
        SELECT x.vec_id, c.cl,
               list_sum(list((x.val - c.cv) * (x.val - c.cv)
                             ORDER BY x.pos)) AS dist
        FROM x JOIN c{i} c ON c.pos = x.pos
        GROUP BY x.vec_id, c.cl
    ), asg{i} AS (
        SELECT vec_id, cl, dist FROM (
            SELECT vec_id, cl, dist,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cl) AS rn
            FROM a{i}) t
        WHERE rn = 1
    )"""
        if i < KM_ROUNDS:
            sql += f""", c{i + 1} AS (
        SELECT g.cl, x.pos,
               list_sum(list(x.val ORDER BY x.vec_id)) / COUNT(*) AS cv
        FROM x JOIN asg{i} g ON g.vec_id = x.vec_id
        GROUP BY g.cl, x.pos
    )"""
    return sql + f"""
    SELECT CAST(cl AS BIGINT) AS cluster,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           list_sum(list(dist ORDER BY vec_id)) AS inertia,
           CAST(MIN(vec_id) AS BIGINT) AS min_vec_id
    FROM asg{KM_ROUNDS} GROUP BY cl"""


@query("embedding_kmeans_lloyd", oracle=_kmeans_oracle())
def embedding_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means clustering by {KM_ROUNDS} fixed Lloyd rounds (k = {KM_K},
    init = the {KM_K} lowest vec_ids' vectors — deterministic, no RNG):
    the E-step assigns every vector to its nearest centroid by squared
    L2 (ties to the lowest cluster id), the M-step recomputes
    per-dimension means, and the report is per-cluster size, inertia,
    and the smallest member id.  This is the iterative-ML workload
    (quantizer training, IVF coarse codebooks — similarity_topk_ivf and
    _pq CONSUME exactly these centroids) expressed as DataFrame joins:
    the vector matrix never materializes, fixed round count, unrolled
    CTE oracle — the PageRank discipline applied to Lloyd's algorithm.

    Cross-engine exactness for FLOAT math: every double summation (the
    64-term squared-distance fold, the M-step component sums, the
    inertia rollup) gathers its terms sorted (by pos / vec_id) and folds
    left-to-right, so both engines add identical doubles in identical
    order (the embedding_centroids trick); argmin compares those
    bit-identical distances with an integer tie-break.  No transcendental
    ever appears.

    Scale: per round, the E-step is a k-row centroid-ARRAY broadcast
    against the vector scan — each row folds k zip_with distances, no
    exploded n×k×dim intermediate (the round-6 10x probe measured the
    exploded form at 87 s vs ~4 s for this one); the M-step is one
    (cluster, pos) reduction over a single exploded twin.
    At 100 TB with large k: centroids stay a broadcast until k·dim
    outgrows memory, then the E-step becomes the IVF-style blocked join;
    the fixpoint driver checkpoints each round's assignment, so the
    branched lineage (M-step, next E-step) never re-runs prior rounds."""
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", F.transform("embedding", lambda v: v.cast("double")).alias("v")
    )
    vecs = vecs.persist()
    # Exploded twin, used ONLY by the k-sized M-step reduction; the n×k
    # E-step stays on array columns (round-6 probe: the explode+gather
    # E-step measured 87 s at the 10x replica, the zip_with fold form
    # removes the n×k×dim row blowup entirely).
    x = vecs.select(
        "vec_id", F.posexplode("v").alias("pos0", "val")
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), "val")
    x = x.persist()
    x.count()

    def ordered_fold(order_col: str, term):
        """Σ term, gathered sorted by order_col, folded left-to-right."""
        return F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col(order_col), term.alias("t")))),
                lambda s: s["t"],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    # zip_with preserves element order, so the squared-distance fold adds
    # the same doubles in the same pos order as the oracle's ORDER BY pos.
    dist_expr = F.aggregate(
        F.zip_with("v", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    def assign(c: DataFrame) -> DataFrame:
        """E-step: each vector's nearest centroid (cl) and its distance."""
        a = vecs.crossJoin(F.broadcast(c)).select(
            "vec_id", "cl", dist_expr.alias("dist")
        )
        # r11 (the SemDeDup E-step rewrite applied here, guide §2.3): the
        # argmin is min(struct(dist, cl)) — the same (dist, cl) total
        # order as the former row_number window, but map-side combinable:
        # the broadcast cross join keeps each vec's k rows in one input
        # partition, so the partial aggregate emits ONE row per vector
        # and the exchange moves n rows, not n×k through a sort window.
        return (
            a.groupBy("vec_id")
            .agg(F.min(F.struct("dist", "cl")).alias("m"))
            .select("vec_id", F.col("m.cl").alias("cl"), F.col("m.dist").alias("dist"))
        )

    def lloyd_round(asg: DataFrame, _: int) -> DataFrame:
        """M-step from the previous assignment, then the next E-step."""
        c = (
            x.join(asg.select("vec_id", "cl"), "vec_id")
            .groupBy("cl", "pos")
            .agg((ordered_fold("vec_id", F.col("val")) / F.count(F.lit(1))).alias("cv1"))
            .groupBy("cl")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cv1"))),
                    lambda st: st["cv1"],
                ).alias("cv")
            )
        )
        return assign(c)

    # round 1 assigns to the KM_K lowest vec_ids' vectors
    c0 = vecs.filter(F.col("vec_id") < KM_K).select(
        F.col("vec_id").alias("cl"), F.col("v").alias("cv")
    )
    asg = fixpoint(assign(c0), lloyd_round, KM_ROUNDS - 1)
    return asg.groupBy(F.col("cl").cast("long").alias("cluster")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        ordered_fold("vec_id", F.col("dist")).alias("inertia"),
        F.min("vec_id").cast("long").alias("min_vec_id"),
    )


_SILHOUETTE_ORACLE = """
    WITH x AS (
        SELECT label, vec_id,
               unnest(CAST(embedding AS DOUBLE[])) AS val,
               unnest(range(1, len(embedding) + 1)) AS pos
        FROM embeddings
    ), cent AS (
        SELECT label AS cl, pos,
               list_sum(list(val ORDER BY vec_id)) / COUNT(*) AS cv
        FROM x GROUP BY label, pos
    ), d AS (
        SELECT x.vec_id, x.label, c.cl,
               sqrt(list_sum(list((x.val - c.cv) * (x.val - c.cv)
                                  ORDER BY x.pos))) AS dist
        FROM x JOIN cent c ON c.pos = x.pos
        GROUP BY x.vec_id, x.label, c.cl
    ), ab AS (
        SELECT vec_id, label,
               MAX(CASE WHEN cl = label THEN dist END) AS a,
               MIN(CASE WHEN cl <> label THEN dist END) AS b
        FROM d GROUP BY vec_id, label
    ), s AS (
        SELECT vec_id, label, (b - a) / GREATEST(a, b) AS sil
        FROM ab
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           list_sum(list(sil ORDER BY vec_id)) / COUNT(*) AS mean_silhouette,
           MIN(sil) AS worst_silhouette
    FROM s GROUP BY label
"""


@query("embedding_silhouette_centroid", oracle=_SILHOUETTE_ORACLE)
def embedding_silhouette_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based silhouette score per labeled cluster: for every
    vector, a = L2 distance to its OWN label's centroid, b = distance to
    the nearest OTHER centroid, s = (b−a)/max(a,b) ∈ [−1, 1] — the
    cluster-quality number that says whether the labeling is geometric
    reality or wishful metadata, read before trusting labels for
    retrieval eval (embedding_knn_label_eval) or per-label routing.
    This is the "simplified silhouette" (centroid distances instead of
    the classic all-pairs mean) — THE standard scale substitution: exact
    silhouette is O(n²) by definition; the centroid form is O(n·k) and
    monotone-consistent with it for compact clusters.

    Exactness: centroids are ordered folds (the embedding_centroids
    trick); each vector-to-centroid distance is an ordered fold over pos
    under an IEEE sqrt; s is one shared division/greatest expression;
    per-label mean-s is an ordered fold by vec_id.  No transcendentals,
    no accumulation-order ambiguity anywhere.

    Scale: one (label, pos) reduction builds the k×dim centroid table
    (always broadcastable); the distance pass is a broadcast join on
    pos against the exploded vectors with a (vec, cl) reduction; the
    report is k rows.  100 TB: identical plan — the n×k distance
    matrix exists only as a streamed aggregation, never materialized."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "label",
        "vec_id",
        F.posexplode(F.transform("embedding", lambda v: v.cast("double"))).alias(
            "pos0", "val"
        ),
    ).select("label", "vec_id", (F.col("pos0") + 1).alias("pos"), "val")

    def ordered_fold(order_col: str, term):
        return F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col(order_col), term.alias("t")))
                ),
                lambda s: s["t"],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    cent = x.groupBy(F.col("label").alias("cl"), "pos").agg(
        (ordered_fold("vec_id", F.col("val")) / F.count(F.lit(1))).alias("cv")
    )
    d2 = (F.col("val") - F.col("cv")) * (F.col("val") - F.col("cv"))
    d = (
        x.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "label", "cl")
        .agg(F.sqrt(ordered_fold("pos", d2)).alias("dist"))
    )
    ab = d.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("cl") == F.col("label"), F.col("dist"))).alias("a"),
        F.min(F.when(F.col("cl") != F.col("label"), F.col("dist"))).alias("b"),
    )
    s = ab.select(
        "vec_id",
        "label",
        ((F.col("b") - F.col("a")) / F.greatest("a", "b")).alias("sil"),
    )
    return s.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        (ordered_fold("vec_id", F.col("sil")) / F.count(F.lit(1))).alias(
            "mean_silhouette"
        ),
        F.min("sil").alias("worst_silhouette"),
    )


_SHARD_GINI_ORACLE = f"""
    WITH assigned AS (
        SELECT source,
               CAST((ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
                     - 1) % {_N_SHARDS} AS BIGINT) AS shard
        FROM documents
    ), cells AS (
        SELECT shard, source, CAST(COUNT(*) AS BIGINT) AS n
        FROM assigned GROUP BY shard, source
    ), tots AS (
        SELECT shard, CAST(SUM(n) AS BIGINT) AS n_shard,
               CAST(SUM(n * n) AS BIGINT) AS sum_sq,
               CAST(COUNT(*) AS BIGINT) AS n_sources
        FROM cells GROUP BY shard
    )
    SELECT shard, n_shard, n_sources,
           1 - CAST(sum_sq AS DOUBLE) / (CAST(n_shard AS DOUBLE) * n_shard)
               AS gini_impurity
    FROM tots
"""


@query("corpus_shard_mix_gini", oracle=_SHARD_GINI_ORACLE)
def corpus_shard_mix_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard source-mix impurity audit: Gini impurity 1 − Σp² of
    each training shard's source distribution — the one-number balance
    check on corpus_shard_interleave's stratification promise (every
    shard should score ≈ the corpus-wide impurity; a shard whose score
    drops is source-collapsed and will bias any run that consumes
    shards sequentially).  Gini impurity, not entropy, DELIBERATELY:
    the diversity literature's entropy needs ln() (the documented
    cross-engine trap) while 1 − Σp² is exact rational arithmetic —
    same monotone "how mixed" reading (it is entropy's Tsallis q=2
    sibling, the events_diversity_simpson discipline on a different
    axis).

    Exactness: Σn² and n are exact BIGINTs per shard; one shared
    closing division.  Scale: the assignment window partitions by
    source (the interleave's own plan), then two tiny-key reductions —
    report is {_N_SHARDS} rows at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    assigned = docs.select(
        "source",
        ((F.row_number().over(w) - 1) % _N_SHARDS).cast("long").alias("shard"),
    )
    cells = assigned.groupBy("shard", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tots = cells.groupBy("shard").agg(
        F.sum("n").cast("long").alias("n_shard"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("sum_sq"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
    )
    return tots.select(
        "shard",
        "n_shard",
        "n_sources",
        (
            F.lit(1)
            - F.col("sum_sq").cast("double")
            / (F.col("n_shard").cast("double") * F.col("n_shard"))
        ).alias("gini_impurity"),
    )


def _ivf_balance_oracle() -> str:
    """One Lloyd assignment round (the kmeans oracle's a1/asg1 CTEs) +
    the posting-balance rollup."""
    base = _kmeans_oracle()
    prefix = base[: base.index("\n    SELECT CAST(cl AS BIGINT) AS cluster")]
    return prefix + f"""
    , cells AS (
        SELECT cl, CAST(COUNT(*) AS BIGINT) AS n_vectors
        FROM asg1 GROUP BY cl
    )
    SELECT cl AS cell, n_vectors,
           CAST(SUM(n_vectors) OVER () AS BIGINT) AS n_total,
           CAST(n_vectors AS DOUBLE)
               / (CAST(SUM(n_vectors) OVER () AS DOUBLE) / COUNT(*) OVER ())
               AS balance_ratio
    FROM cells
"""


@query("embedding_ivf_cell_balance", oracle=_ivf_balance_oracle())
def embedding_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-build health report: assign every vector to its nearest
    coarse centroid (one Lloyd E-step over the deterministic {KM_K}-seed
    codebook — the round-1 assignment embedding_kmeans_lloyd refines)
    and report per-cell posting-list sizes and the balance ratio
    (cell size ÷ perfect share).  This is the number that decides
    whether an IVF index will work: a cell at 10× its share makes every
    probe of it 10× slower, and the fix (re-train, split, or spill the
    hot cell) happens at BUILD time — similarity_topk_ivf's query cost
    is only as good as this table.

    Exactness: assignment reuses the kmeans discipline (zip_with
    squared-L2 folds, integer tie-break), counts are exact; the ratio
    is one shared division over window totals (cells-sized window, no
    extra join).

    Scale: one k-row centroid broadcast E-step over the corpus scan +
    a k-cell reduction — the cheapest possible pass over the vectors;
    at real k the report is still |cells| rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", F.transform("embedding", lambda v: v.cast("double")).alias("v")
    )
    c = vecs.filter(F.col("vec_id") < KM_K).select(
        F.col("vec_id").alias("cl"), F.col("v").alias("cv")
    )
    dist_expr = F.aggregate(
        F.zip_with("v", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    a = vecs.crossJoin(F.broadcast(c)).select(
        "vec_id", "cl", dist_expr.alias("dist")
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "cl")
    asg = (
        a.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    cells = asg.groupBy("cl").agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    wall = Window.partitionBy()
    return cells.select(
        F.col("cl").alias("cell"),
        "n_vectors",
        F.sum("n_vectors").over(wall).cast("long").alias("n_total"),
        (
            F.col("n_vectors").cast("double")
            / (
                F.sum("n_vectors").over(wall).cast("double")
                / F.count(F.lit(1)).over(wall)
            )
        ).alias("balance_ratio"),
    )


_TRAINING_BUILD_ORACLE = f"""
    WITH RECURSIVE gated AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
        FROM (
            SELECT doc_id, lang, text,
                   len(string_split(text, ' ')) AS n_tokens,
                   CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                       / len(string_split(text, ' ')) AS diversity,
                   MIN(doc_id) OVER (PARTITION BY sha256(text)) AS keeper_id
            FROM documents
        ) f
        WHERE doc_id = keeper_id
          AND n_tokens BETWEEN 20 AND 1000 AND diversity > 0.05
    ), docs AS (
        SELECT lang, doc_id, tok,
               CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id)
                    AS BIGINT) AS idx
        FROM gated
    ), walk AS (
        SELECT lang, idx, tok,
               CAST(1 AS BIGINT) AS bin_idx, tok AS fill
        FROM docs WHERE idx = 1
        UNION ALL
        SELECT d.lang, d.idx, d.tok,
               CASE WHEN w.fill + d.tok <= {PACK_BIN_CAPACITY}
                    THEN w.bin_idx ELSE w.bin_idx + 1 END,
               CASE WHEN w.fill + d.tok <= {PACK_BIN_CAPACITY}
                    THEN w.fill + d.tok ELSE d.tok END
        FROM walk w JOIN docs d ON d.lang = w.lang AND d.idx = w.idx + 1
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS n_tokens,
           CAST(MAX(bin_idx) AS BIGINT) AS n_bins,
           CAST((MAX(bin_idx) * {PACK_BIN_CAPACITY} - SUM(tok)) * 10000
                // (MAX(bin_idx) * {PACK_BIN_CAPACITY}) AS BIGINT)
               AS padding_waste_bp
    FROM walk GROUP BY lang
"""


@query("pipeline_training_build_e2e", oracle=_TRAINING_BUILD_ORACLE)
def pipeline_training_build_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data BUILD as one declarative job: exact-dup
    keeper gate + quality screen (corpus_curation_gate's exact
    criteria) → boundary-preserving NEXT-FIT packing per language
    (corpus_pack_next_fit's greedy, now over the CURATED stream) →
    the per-language manifest a batch loader consumes (docs, tokens,
    bins, padding waste in basis points).  This is the capstone that
    strings the session's packing operator into the established
    curation chain — the e2e family member where documents must NOT
    straddle bins (instruction-tuning layout), beside the
    concat-and-chunk build (pipeline_pretraining_shards_e2e).

    Execution split as in corpus_pack_next_fit: the sequential packing
    recurrence runs as applyInPandas per language partition (token
    counts only cross Arrow); the oracle replays the ENTIRE composition
    — gate, curation, and the greedy walk — as one recursive CTE, so
    the driver hash certifies the whole pipeline, not its pieces.

    Scale: gate + quality are one content-hash window over the scan;
    packing parallelism = language count here, (lang, shard) at 100 TB
    (same plan, finer key); the manifest is |langs| rows."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    f = docs.select(
        "doc_id",
        "lang",
        F.size(toks).cast("long").alias("tok"),
        (
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
        ).alias("diversity"),
        F.min("doc_id").over(
            Window.partitionBy(F.sha2(F.col("text"), 256))
        ).alias("keeper_id"),
    )
    gated = f.filter(
        (F.col("doc_id") == F.col("keeper_id"))
        & F.col("tok").between(20, 1000)
        & (F.col("diversity") > 0.05)
    ).select("lang", "doc_id", "tok")

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        lang = pdf["lang"].iloc[0]
        n_docs, n_tokens, bin_idx, fill = 0, 0, 0, 0
        for tok in pdf["tok"]:
            if bin_idx == 0 or fill + tok > PACK_BIN_CAPACITY:
                bin_idx += 1
                fill = 0
            fill += int(tok)
            n_docs += 1
            n_tokens += int(tok)
        waste_bp = (
            (bin_idx * PACK_BIN_CAPACITY - n_tokens) * 10000
            // (bin_idx * PACK_BIN_CAPACITY)
            if bin_idx
            else 0
        )
        return pd.DataFrame(
            [(lang, n_docs, n_tokens, bin_idx, waste_bp)],
            columns=["lang", "n_docs", "n_tokens", "n_bins", "padding_waste_bp"],
        )

    return gated.groupBy("lang").applyInPandas(
        pack,
        "lang string, n_docs long, n_tokens long, n_bins long,"
        " padding_waste_bp long",
    )


# --------------------------------------------------------------------------
# corpus_dsir_importance_weights — DSIR-style domain selection
# --------------------------------------------------------------------------

DSIR_TARGET_SOURCE = "src0"  # the "target domain" exemplar slice
DSIR_TOP_K = 100  # documents selected for the target-domain mix

_DSIR_ORACLE = f"""
    WITH u AS (
        SELECT doc_id, source,
               unnest(string_split(text, ' ')) AS w,
               unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
        FROM documents
    ), b AS (
        SELECT doc_id, source,
               w || '|' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos)
                   AS bg
        FROM u
    ), cw AS (
        SELECT doc_id, source, bg, CAST(COUNT(*) AS BIGINT) AS n
        FROM b WHERE bg IS NOT NULL GROUP BY doc_id, source, bg
    ), raw_lm AS (
        SELECT bg, CAST(SUM(n) AS BIGINT) AS cnt_r FROM cw GROUP BY bg
    ), tgt_lm AS (
        SELECT bg, CAST(SUM(n) AS BIGINT) AS cnt_t
        FROM cw WHERE source = '{DSIR_TARGET_SOURCE}' GROUP BY bg
    ), scalars AS (
        SELECT CAST(SUM(cnt_r) AS BIGINT) AS tot_r,
               CAST(COUNT(*) AS BIGINT) AS v,
               (SELECT CAST(SUM(cnt_t) AS BIGINT) FROM tgt_lm) AS tot_t
        FROM raw_lm
    ), lm AS (
        SELECT r.bg,
               CAST(FLOOR(LN(CAST(COALESCE(t.cnt_t, 0) + 1 AS DOUBLE)
                             / CAST(s.tot_t + s.v AS DOUBLE)) * 1000000)
                    AS BIGINT)
               - CAST(FLOOR(LN(CAST(r.cnt_r + 1 AS DOUBLE)
                               / CAST(s.tot_r + s.v AS DOUBLE)) * 1000000)
                      AS BIGINT) AS delta_unat
        FROM raw_lm r LEFT JOIN tgt_lm t ON r.bg = t.bg, scalars s
    ), weights AS (
        SELECT c.doc_id, c.source,
               CAST(SUM(c.n) AS BIGINT) AS n_bigrams,
               CAST(SUM(c.n * l.delta_unat) AS BIGINT) AS w_unat
        FROM cw c JOIN lm l ON c.bg = l.bg
        GROUP BY c.doc_id, c.source
    ), ranked AS (
        SELECT source, w_unat,
               ROW_NUMBER() OVER (ORDER BY w_unat DESC, doc_id) AS rk
        FROM weights
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rk <= {DSIR_TOP_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_selected,
           CAST(SUM(w_unat) // COUNT(*) AS BIGINT) AS avg_w_unat,
           CAST(MAX(w_unat) AS BIGINT) AS max_w_unat
    FROM ranked GROUP BY source
"""


@query("corpus_dsir_importance_weights", oracle=_DSIR_ORACLE)
def corpus_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document by
    the log importance ratio log p_target(x) − log p_raw(x) under two
    add-one-smoothed BIGRAM language models — target trained on the
    '{DSIR_TARGET_SOURCE}' slice (the domain exemplar), raw on the whole
    corpus — then take the top {DSIR_TOP_K} documents as the
    target-domain training mix.  Reported per source: how many of its
    docs the selector kept and the weight distribution — the "which
    sources actually look like my target domain" answer that
    temperature mixing (corpus_mix_temperature) needs as its input.
    (DSIR proper hashes n-grams into a fixed bucket space; this corpus'
    bigram vocabulary is already bounded, so the hash step is an
    identity — feature_hashed_bow demonstrates the hashing mechanics.)

    Determinism: both LMs are exact integer count tables; each bigram's
    log-ratio is two LNs of exact rationals floor-scaled to µnats
    (vocabulary-sized table, one pair of libm calls per TYPE, not per
    token); per-doc weights are then exact integer dot products, and
    selection is an integer-rank cut with doc_id tie-break.

    Scale: the bigram TF shuffle (doc-partitioned lead window) is the
    corpus-sized cost, shared shape with text_gopher_repetition; both
    LM folds are map-side combinable to |V| rows; the LM join is a
    broadcast; the global top-K rank over per-doc weights is the one
    scale pinch — at fact scale swap the ROW_NUMBER for a TakeOrdered /
    approx-threshold cut (the documented orders_pareto_frontier
    pattern), which changes no semantics for a fixed K."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    cw = dsir_bigram_counts(docs)
    lm = dsir_lm_table(cw)
    weights = dsir_doc_weights(cw, lm)
    return dsir_selection_report(weights)


def dsir_bigram_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, source, bg, n) bigram term counts — the stateless per-doc
    stage shared by the batch selector and its streaming twin
    (streaming/stream_queries.py:stream_dsir_scoring): a doc's bigram
    counts depend only on that doc, so ANY micro-batch split yields the
    batch answer.

    r11 (guide §2.4): bigrams are ADJACENT elements of the split array —
    row-local, no posexplode + doc-partitioned lead window (that spelling
    exchanged every token once just to look one position ahead).  The
    token array binds once in a transform lambda; docs with < 2 tokens
    yield an empty array and vanish in the explode, exactly the old
    lead-IS-NOT-NULL filter.  One exchange (the count groupBy) remains."""
    bgs = F.expr("""
        transform(array(split(text, ' ')), ws ->
            CASE WHEN size(ws) >= 2 THEN
                transform(sequence(1, size(ws) - 1),
                    i -> concat(element_at(ws, i), '|', element_at(ws, i + 1)))
            ELSE array() END)[0]
    """)
    b = docs.select("doc_id", "source", F.explode(bgs).alias("bg"))
    return b.groupBy("doc_id", "source", "bg").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def dsir_lm_table(cw: DataFrame) -> DataFrame:
    """(bg, delta_unat) importance-ratio table from the corpus bigram
    counts — the FROZEN model both the batch selector and the stream
    scorer broadcast."""
    raw_lm = cw.groupBy("bg").agg(F.sum("n").cast("long").alias("cnt_r"))
    tgt_lm = (
        cw.filter(F.col("source") == DSIR_TARGET_SOURCE)
        .groupBy("bg")
        .agg(F.sum("n").cast("long").alias("cnt_t"))
    )
    scalars = raw_lm.crossJoin(
        F.broadcast(tgt_lm.agg(F.sum("cnt_t").cast("long").alias("tot_t")))
    ).agg(
        F.sum("cnt_r").cast("long").alias("tot_r"),
        F.count(F.lit(1)).cast("long").alias("v"),
        F.max("tot_t").cast("long").alias("tot_t"),
    )
    lm = (
        raw_lm.join(tgt_lm, "bg", "left")
        .crossJoin(F.broadcast(scalars))
        .select(
            "bg",
            (
                F.floor(
                    F.log(
                        (F.coalesce(F.col("cnt_t"), F.lit(0)) + 1).cast("double")
                        / (F.col("tot_t") + F.col("v")).cast("double")
                    )
                    * 1_000_000
                ).cast("long")
                - F.floor(
                    F.log(
                        (F.col("cnt_r") + 1).cast("double")
                        / (F.col("tot_r") + F.col("v")).cast("double")
                    )
                    * 1_000_000
                ).cast("long")
            ).alias("delta_unat"),
        )
    )
    return lm


def dsir_doc_weights(cw: DataFrame, lm: DataFrame) -> DataFrame:
    """(doc_id, source, n_bigrams, w_unat) per-doc importance weights —
    a stateless exact integer dot product against the broadcast frozen
    LM, so the stream scorer applies it per micro-batch unchanged."""
    return (
        cw.join(F.broadcast(lm), "bg")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("n").cast("long").alias("n_bigrams"),
            F.sum(F.col("n") * F.col("delta_unat")).cast("long").alias("w_unat"),
        )
    )


def dsir_selection_report(weights: DataFrame) -> DataFrame:
    """Global top-K cut + per-source census over the per-doc weights."""
    rk = Window.orderBy(F.col("w_unat").desc(), F.col("doc_id"))
    ranked = weights.select(
        "source", "w_unat", F.row_number().over(rk).alias("rk")
    )
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("rk") <= DSIR_TOP_K, 1).otherwise(0))
        .cast("long")
        .alias("n_selected"),
        F.expr("sum(w_unat) div count(*)").cast("long").alias("avg_w_unat"),
        F.max("w_unat").cast("long").alias("max_w_unat"),
    )


# --------------------------------------------------------------------------
# embedding_pc2_deflation — second principal direction via deflation
# --------------------------------------------------------------------------


def _pc2_oracle() -> str:
    """PC1 unrolled power iteration → normalize → deflate (x₂ = x −
    ⟨x,v̂₁⟩·v̂₁) → second unrolled power iteration → normalize.  Every
    sum is an ordered-fold list sum so both engines add identical
    doubles in identical order."""
    sql = """
    WITH flat AS (
        SELECT vec_id,
               unnest(range(0, len(embedding))) AS dim,
               unnest(CAST(embedding AS DOUBLE[])) AS x
        FROM embeddings
    ), v0 AS (
        SELECT DISTINCT dim, CASE WHEN dim = 0 THEN 1.0 ELSE 0.0 END AS v
        FROM flat
    )"""
    prev = "v0"
    for i in range(1, _PI_ITERATIONS + 1):
        sql += f""", d{i} AS (
        SELECT f.vec_id,
               list_sum(list(f.x * p.v ORDER BY f.dim)) AS dot
        FROM flat f JOIN {prev} p USING (dim)
        GROUP BY f.vec_id
    ), v{i} AS (
        SELECT f.dim,
               list_sum(list(f.x * d.dot ORDER BY f.vec_id)) AS v
        FROM flat f JOIN d{i} d USING (vec_id)
        GROUP BY f.dim
    )"""
        prev = f"v{i}"
    sql += f""", v1n AS (
        SELECT dim,
               v / (SELECT sqrt(list_sum(list(v * v ORDER BY dim)))
                    FROM {prev}) AS v
        FROM {prev}
    ), proj AS (
        SELECT f.vec_id,
               list_sum(list(f.x * p.v ORDER BY f.dim)) AS dot
        FROM flat f JOIN v1n p USING (dim)
        GROUP BY f.vec_id
    ), flat2 AS (
        SELECT f.vec_id, f.dim, f.x - pr.dot * p.v AS x
        FROM flat f
        JOIN proj pr USING (vec_id)
        JOIN v1n p USING (dim)
    ), w0 AS (
        SELECT DISTINCT dim, CASE WHEN dim = 0 THEN 1.0 ELSE 0.0 END AS v
        FROM flat2
    )"""
    prev = "w0"
    for i in range(1, _PI_ITERATIONS + 1):
        sql += f""", e{i} AS (
        SELECT f.vec_id,
               list_sum(list(f.x * p.v ORDER BY f.dim)) AS dot
        FROM flat2 f JOIN {prev} p USING (dim)
        GROUP BY f.vec_id
    ), w{i} AS (
        SELECT f.dim,
               list_sum(list(f.x * e.dot ORDER BY f.vec_id)) AS v
        FROM flat2 f JOIN e{i} e USING (vec_id)
        GROUP BY f.dim
    )"""
        prev = f"w{i}"
    return sql + f"""
    SELECT CAST(dim AS BIGINT) AS dim,
           v / (SELECT sqrt(list_sum(list(v * v ORDER BY dim)))
                FROM {prev}) AS component
    FROM {prev}
    """


@query("embedding_pc2_deflation", oracle=_pc2_oracle())
def embedding_pc2_deflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second principal direction by HOTELLING DEFLATION: compute v̂₁
    with the shared power-iteration kernel, project it out of every
    vector (x₂ = x − ⟨x,v̂₁⟩·v̂₁), and power-iterate again on the
    deflated matrix — the minimal full-distributed step from "1-D
    spread" (embedding_power_iteration_pc1) to a 2-D PCA map, which is
    what cluster visualization, whitening, and IVF cell shaping
    actually consume.  The same deflate-and-repeat loop yields PC-k
    without ever materializing the d×d covariance.

    Determinism: the PC1 kernel, the projection fold, and both
    normalizations are ordered folds (bit-exact across engines); the
    deflation is one elementwise double FMA-free expression (x −
    dot·v) evaluated identically on both sides.

    Scale: deflation is a narrow map over the long-form matrix (one
    broadcast of the d-row v̂₁ and a vec-keyed join of per-vector
    dots) — the iteration cost simply doubles versus PC1; each round
    stays the matrix-vector product whose 100 TB variant is the
    pre-bucketed exchange-free shape documented on the iterative
    family (operators/graph.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = _pc1_flat(emb)
    v1 = _pc1_unit(flat)  # normalized (dim, component)
    proj = (
        flat.join(F.broadcast(v1), "dim")
        .groupBy("vec_id")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "dim", (F.col("x") * F.col("component")).alias("p")
                            )
                        )
                    ),
                    lambda s: s["p"],
                ),
                F.lit(0.0),
                lambda acc, p: acc + p,
            ).alias("dot")
        )
    )
    flat2 = (
        flat.join(proj, "vec_id")
        .join(F.broadcast(v1), "dim")
        .select(
            "vec_id",
            "dim",
            (F.col("x") - F.col("dot") * F.col("component")).alias("x"),
        )
        .localCheckpoint()
    )
    return _pc2_unit_from(flat2)


def _pc2_unit_from(flat2: "DataFrame") -> "DataFrame":
    """The PC1 kernel applied to an already-deflated long-form matrix."""
    return _pc1_unit(flat2)


# --------------------------------------------------------------------------
# embedding_cka_quantization — representation fidelity under quantization
# --------------------------------------------------------------------------

CKA_QUANT_SCALE = 10  # coarse 1-decimal quantization: visible fidelity loss

_CKA_ORACLE = f"""
    WITH flat AS (
        SELECT vec_id,
               unnest(range(0, len(embedding))) AS dim,
               unnest(CAST(embedding AS DOUBLE[])) AS x
        FROM embeddings
    ), q AS (
        SELECT vec_id, dim, x,
               ROUND(x * {CKA_QUANT_SCALE}) / {CKA_QUANT_SCALE}.0 AS y
        FROM flat
    ), means AS (
        SELECT dim,
               list_sum(list(x ORDER BY vec_id)) / COUNT(*) AS mx,
               list_sum(list(y ORDER BY vec_id)) / COUNT(*) AS my
        FROM q GROUP BY dim
    ), c AS (
        SELECT q.vec_id, q.dim, q.x - m.mx AS xc, q.y - m.my AS yc
        FROM q JOIN means m ON q.dim = m.dim
    ), gram AS (
        SELECT a.dim AS i, b.dim AS j,
               list_sum(list(a.xc * b.xc ORDER BY a.vec_id)) AS cxx,
               list_sum(list(a.yc * b.yc ORDER BY a.vec_id)) AS cyy,
               list_sum(list(a.xc * b.yc ORDER BY a.vec_id)) AS cxy
        FROM c a JOIN c b ON a.vec_id = b.vec_id
        GROUP BY a.dim, b.dim
    ), frob AS (
        SELECT list_sum(list(cxx * cxx ORDER BY i, j)) AS sxx,
               list_sum(list(cyy * cyy ORDER BY i, j)) AS syy,
               list_sum(list(cxy * cxy ORDER BY i, j)) AS sxy,
               CAST(COUNT(*) AS BIGINT) AS n_cells
        FROM gram
    ), err AS (
        SELECT list_sum(list((x - y) * (x - y) ORDER BY vec_id, dim))
                   AS sq_err,
               CAST(COUNT(*) AS BIGINT) AS n_elems
        FROM q
    )
    SELECT (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) FROM flat)
               AS n_vecs,
           f.n_cells,
           f.sxy / (SQRT(f.sxx) * SQRT(f.syy)) AS cka,
           e.sq_err / e.n_elems AS quant_mse
    FROM frob f, err e
"""


@query("embedding_cka_quantization", oracle=_CKA_ORACLE)
def embedding_cka_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear CKA (Kornblith et al. 2019, "Similarity of Neural Network
    Representations Revisited") between the raw embedding space and its
    1/{CKA_QUANT_SCALE}-step quantized twin — the "how much geometry did
    quantization destroy" scalar that decides whether the int-quantized
    tier (embedding_quantized_projection, the two-stage rerank's coarse
    pass) is safe to route on: CKA compares the full CENTERED Gram
    structure, so it sees exactly the relative-distance distortion that
    per-vector MSE (also reported) cannot — two spaces can have tiny
    MSE and broken neighborhoods, or large MSE and identical geometry
    (CKA is scale-invariant).

    Determinism: every Gram entry and both Frobenius folds are ordered
    list folds (the PC1 kernel discipline — bit-identical addition
    order on both engines); the only other ops are elementwise products
    and two correctly-rounded SQRTs.

    Scale: the d×d Gram trio reduces 500×64 long-form rows through one
    vec-keyed self-join — at corpus scale this is the standard
    d²-bounded representation-similarity fold (d² cells regardless of
    row count), the same shape as a distributed covariance; the final
    folds run on d² = {64 * 64} cells.  For d in the thousands, swap
    the exact fold for decimal-rounded partial sums (the chi-square
    discipline)."""
    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        WITH flat AS (
            SELECT vec_id, posexplode(CAST(embedding AS ARRAY<DOUBLE>))
                       AS (dim, x)
            FROM embeddings
        ), q AS (
            SELECT vec_id, dim, x,
                   ROUND(x * {CKA_QUANT_SCALE}) / {CKA_QUANT_SCALE}.0D AS y
            FROM flat
        ), means AS (
            SELECT dim,
                   aggregate(transform(array_sort(collect_list(
                       struct(vec_id, x))), s -> s.x), 0.0D,
                       (acc, v) -> acc + v) / COUNT(*) AS mx,
                   aggregate(transform(array_sort(collect_list(
                       struct(vec_id, y))), s -> s.y), 0.0D,
                       (acc, v) -> acc + v) / COUNT(*) AS my
            FROM q GROUP BY dim
        ), c AS (
            SELECT q.vec_id, q.dim, q.x - m.mx AS xc, q.y - m.my AS yc
            FROM q JOIN means m ON q.dim = m.dim
        ), gram AS (
            SELECT a.dim AS i, b.dim AS j,
                   aggregate(transform(array_sort(collect_list(
                       struct(a.vec_id AS v, a.xc * b.xc AS p))),
                       s -> s.p), 0.0D, (acc, v) -> acc + v) AS cxx,
                   aggregate(transform(array_sort(collect_list(
                       struct(a.vec_id AS v, a.yc * b.yc AS p))),
                       s -> s.p), 0.0D, (acc, v) -> acc + v) AS cyy,
                   aggregate(transform(array_sort(collect_list(
                       struct(a.vec_id AS v, a.xc * b.yc AS p))),
                       s -> s.p), 0.0D, (acc, v) -> acc + v) AS cxy
            FROM c a JOIN c b ON a.vec_id = b.vec_id
            GROUP BY a.dim, b.dim
        ), frob AS (
            SELECT aggregate(transform(array_sort(collect_list(
                       struct(i, j, cxx * cxx AS p))), s -> s.p),
                       0.0D, (acc, v) -> acc + v) AS sxx,
                   aggregate(transform(array_sort(collect_list(
                       struct(i, j, cyy * cyy AS p))), s -> s.p),
                       0.0D, (acc, v) -> acc + v) AS syy,
                   aggregate(transform(array_sort(collect_list(
                       struct(i, j, cxy * cxy AS p))), s -> s.p),
                       0.0D, (acc, v) -> acc + v) AS sxy,
                   CAST(COUNT(*) AS BIGINT) AS n_cells
            FROM gram
        ), err AS (
            SELECT aggregate(transform(array_sort(collect_list(
                       struct(vec_id, dim, (x - y) * (x - y) AS p))),
                       s -> s.p), 0.0D, (acc, v) -> acc + v) AS sq_err,
                   CAST(COUNT(*) AS BIGINT) AS n_elems
            FROM q
        ), nv AS (
            SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_vecs
            FROM flat
        )
        SELECT nv.n_vecs, f.n_cells,
               f.sxy / (SQRT(f.sxx) * SQRT(f.syy)) AS cka,
               e.sq_err / e.n_elems AS quant_mse
        FROM frob f JOIN err e JOIN nv
        """
    )


# --------------------------------------------------------------------------
# embedding_centroid_drift — snapshot-to-snapshot class-prototype drift
# --------------------------------------------------------------------------


@query(
    "embedding_centroid_drift",
    oracle="""
    WITH x AS (
        SELECT label, vec_id, vec_id % 2 AS half,
               unnest(CAST(embedding AS DOUBLE[])) AS val,
               unnest(range(1, len(embedding) + 1)) AS pos
        FROM embeddings
    ), per AS (
        SELECT label, pos,
               list_sum(list(CASE WHEN half = 0 THEN val ELSE 0e0 END
                             ORDER BY vec_id)) AS sa,
               list_sum(list(CASE WHEN half = 1 THEN val ELSE 0e0 END
                             ORDER BY vec_id)) AS sb,
               CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
               CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
        FROM x GROUP BY label, pos
    ), terms AS (
        SELECT label, pos, na, nb,
               (sa / na) * (sb / nb) AS ab,
               (sa / na) * (sa / na) AS aa,
               (sb / nb) * (sb / nb) AS bb
        FROM per
    ), folds AS (
        SELECT label,
               list_sum(list(ab ORDER BY pos)) AS dot,
               list_sum(list(aa ORDER BY pos)) AS qa,
               list_sum(list(bb ORDER BY pos)) AS qb,
               MAX(na) AS n_a, MAX(nb) AS n_b
        FROM terms GROUP BY label
    )
    SELECT label, n_a, n_b,
           dot / (SQRT(qa) * SQRT(qb)) AS centroid_cosine,
           SQRT(qa) / SQRT(qb) AS norm_ratio
    FROM folds
    """,
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid DRIFT between two embedding snapshots (here
    the deterministic even/odd vec_id split; production keys on
    model-version or ingest epoch): cosine between each label's old and
    new class prototype plus the norm ratio — the embedding-space
    monitoring table that catches silent encoder drift BEFORE ANN
    recall degrades (cosine < 1 − ε ⟹ the prototype rotated: re-index;
    norm ratio far from 1 ⟹ the scale moved: recalibrate similarity
    thresholds).  Complements embedding_dimension_stats (per-dim
    marginals can all match while the class STRUCTURE rotates — this
    catches exactly that).

    Determinism: both per-(label,pos) half-sums are ordered folds by
    vec_id (non-members contribute exact +0.0 no-ops, so both engines
    add the same doubles in the same order — the centroids trick,
    conditionally), and the dim-level dot/norm folds are ordered by
    pos; SQRT and the two closing divisions are bit-specified on equal
    operands.

    Scale: one (label,pos)-keyed shuffle whose gather is bounded by
    rows-per-label, then a |labels|×dim frame folding to |labels| rows.
    No join anywhere."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "label",
        "vec_id",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.transform("embedding", lambda v: v.cast("double"))).alias(
            "pos0", "val"
        ),
    ).select("label", "vec_id", "half", (F.col("pos0") + 1).alias("pos"), "val")

    def ordered_fold(order_col: str, term):
        return F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col(order_col), term.alias("t")))
                ),
                lambda s: s["t"],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    half_a = F.when(F.col("half") == 0, F.col("val")).otherwise(F.lit(0.0))
    half_b = F.when(F.col("half") == 1, F.col("val")).otherwise(F.lit(0.0))
    per = x.groupBy("label", "pos").agg(
        ordered_fold("vec_id", half_a).alias("sa"),
        ordered_fold("vec_id", half_b).alias("sb"),
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("long").alias("nb"),
    )
    terms = per.select(
        "label",
        "pos",
        "na",
        "nb",
        ((F.col("sa") / F.col("na")) * (F.col("sb") / F.col("nb"))).alias("ab"),
        ((F.col("sa") / F.col("na")) * (F.col("sa") / F.col("na"))).alias("aa"),
        ((F.col("sb") / F.col("nb")) * (F.col("sb") / F.col("nb"))).alias("bb"),
    )
    folds = terms.groupBy("label").agg(
        ordered_fold("pos", F.col("ab")).alias("dot"),
        ordered_fold("pos", F.col("aa")).alias("qa"),
        ordered_fold("pos", F.col("bb")).alias("qb"),
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
    )
    return folds.select(
        "label",
        "n_a",
        "n_b",
        (F.col("dot") / (F.sqrt("qa") * F.sqrt("qb"))).alias("centroid_cosine"),
        (F.sqrt("qa") / F.sqrt("qb")).alias("norm_ratio"),
    )


# --------------------------------------------------------------------------
# corpus_domain_reweight_entropy — deterministic DoReMi-flavored mix weights
# --------------------------------------------------------------------------

DOREMI_STEPS = 8  # exponential temperature buckets (boost = 2^k, k in 0..8)


def _domain_reweight_sql(tok_src: str, idiv: str) -> str:
    """Shared reweight text; token-explode fragment and integer division
    differ per dialect, every fold below them is identical."""
    return f"""
WITH toks AS (
    {tok_src}
), cells AS (
    SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
    FROM toks WHERE w <> '' GROUP BY source, w
), src_tot AS (
    SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens FROM cells GROUP BY source
), terms AS (
    SELECT c.source,
           CAST(FLOOR(-(CAST(c.c AS DOUBLE) / CAST(t.n_tokens AS DOUBLE))
                * LOG2(CAST(c.c AS DOUBLE) / CAST(t.n_tokens AS DOUBLE))
                * 1000000000e0) AS BIGINT) AS term_e9
    FROM cells c JOIN src_tot t ON c.source = t.source
), ent AS (
    SELECT source, CAST(SUM(term_e9) AS BIGINT) AS h_e9
    FROM terms GROUP BY source
), joined AS (
    SELECT t.source, t.n_tokens, e.h_e9
    FROM src_tot t JOIN ent e ON t.source = e.source
), fences AS (
    SELECT CAST(MIN(h_e9) AS BIGINT) AS hmin,
           CAST(MAX(h_e9) AS BIGINT) AS hmax
    FROM joined
), boosted AS (
    SELECT source, n_tokens, h_e9,
           CAST(({DOREMI_STEPS} * (h_e9 - (SELECT hmin FROM fences)))
                {idiv} GREATEST(CAST(1 AS BIGINT),
                                (SELECT hmax - hmin FROM fences))
               AS BIGINT) AS boost_exp
    FROM joined
), raw AS (
    SELECT source, n_tokens, h_e9, boost_exp,
           CAST(n_tokens * CAST(ROUND(POWER(2e0, CAST(boost_exp AS DOUBLE)), 0)
                                AS BIGINT) AS BIGINT) AS w_raw
    FROM boosted
)
SELECT source, n_tokens, h_e9, boost_exp,
       CAST(w_raw AS DOUBLE) * 1000000e0
           / CAST((SELECT CAST(SUM(w_raw) AS BIGINT) FROM raw) AS DOUBLE)
           AS weight_ppm
FROM raw
"""


_DOMAIN_REWEIGHT_ORACLE = _domain_reweight_sql(
    "SELECT source, unnest(string_split(text, ' ')) AS w FROM documents",
    "//",
)

# Spark side, r11: only the corpus-scale prefix (toks -> cells -> src_tot
# -> terms -> ent -> joined).  The old full-SQL spelling referenced the
# `fences` and `raw` CTEs through THREE distinct scalar subqueries, and
# Spark's ReuseSubquery only dedups IDENTICAL subqueries — the plan
# re-derived the whole token-explode aggregation pipeline once per
# subquery (~4 corpus passes; 9 parquet scans / 74 Exchanges in the
# before plan).  The |sources|-row `joined` core is now checkpointed and
# the fence/boost/ppm arithmetic runs as 1-row broadcast folds over it —
# ONE corpus pass at any scale.  The arithmetic below is textually the
# same as the oracle's; only the plumbing changed.
_DOMAIN_REWEIGHT_JOINED_SPARK = """
WITH toks AS (
    SELECT source, explode(split(text, ' ')) AS w FROM documents
), cells AS (
    SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
    FROM toks WHERE w <> '' GROUP BY source, w
), src_tot AS (
    SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens FROM cells GROUP BY source
), terms AS (
    SELECT c.source,
           CAST(FLOOR(-(CAST(c.c AS DOUBLE) / CAST(t.n_tokens AS DOUBLE))
                * LOG2(CAST(c.c AS DOUBLE) / CAST(t.n_tokens AS DOUBLE))
                * 1000000000e0) AS BIGINT) AS term_e9
    FROM cells c JOIN src_tot t ON c.source = t.source
), ent AS (
    SELECT source, CAST(SUM(term_e9) AS BIGINT) AS h_e9
    FROM terms GROUP BY source
)
SELECT t.source, t.n_tokens, e.h_e9
FROM src_tot t JOIN ent e ON t.source = e.source
"""


@query("corpus_domain_reweight_entropy", oracle=_DOMAIN_REWEIGHT_ORACLE)
def corpus_domain_reweight_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix REWEIGHTING from a per-source difficulty proxy — the
    DoReMi idea (arXiv 2305.10429: upweight domains where the proxy
    model's excess loss is high) with the engine's deterministic
    substitution: the proxy signal is each source's unigram token
    entropy (higher entropy = more diverse/harder text, the same signal
    text_source_token_entropy reports), and the softmax temperature is
    replaced by BUCKETED EXPONENTIAL boosts — k = steps·(H−Hmin)/(Hmax−
    Hmin) in pure integer arithmetic, boost = 2^k exactly — so the whole
    reweight is reproducible bit-for-bit across engines (a float softmax
    whose exp() last-ulp differs between libms could flip a mix share;
    the docstring of the continuous variant belongs in a training run's
    own stack).  Output: per source, token count, entropy (nano-bits),
    boost exponent, and final mix weight in ppm.

    Determinism: entropy terms are the established one-libm-call-per-
    bounded-cell pattern (floor-scaled e9 BEFORE summation); fences,
    boost exponents, and raw weights are exact BIGINTs; the single
    weight_ppm division is the only raw-double op.

    Scale (r11 rewrite, guide §2.4): ONE documents scan exploded to
    tokens (map-side combinable groupBy to |sources|×|V| cells), a
    |V|-bounded entropy fold, then the |sources|-row core is
    localCheckpoint'ed and the fence/boost/ppm arithmetic runs as 1-row
    broadcast folds over it.  The former scalar-subquery spelling
    re-derived the corpus pipeline once per distinct subquery (~4 corpus
    passes — ReuseSubquery only dedups identical subqueries); the
    checkpointed core makes it exactly one pass at any scale."""
    register_views(spark, sf_dir)
    joined = spark.sql(_DOMAIN_REWEIGHT_JOINED_SPARK).localCheckpoint()
    fences = joined.agg(
        F.min("h_e9").cast("long").alias("hmin"),
        F.max("h_e9").cast("long").alias("hmax"),
    )
    raw = joined.crossJoin(F.broadcast(fences)).select(
        "source",
        "n_tokens",
        "h_e9",
        F.expr(
            f"CAST(({DOREMI_STEPS} * (h_e9 - hmin))"
            " DIV GREATEST(CAST(1 AS BIGINT), hmax - hmin) AS BIGINT)"
        ).alias("boost_exp"),
    ).withColumn(
        "w_raw",
        F.expr(
            "CAST(n_tokens * CAST(ROUND(POWER(2e0, CAST(boost_exp AS DOUBLE)), 0)"
            " AS BIGINT) AS BIGINT)"
        ),
    )
    tot = raw.agg(F.sum("w_raw").cast("long").alias("w_tot"))
    return raw.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        "h_e9",
        "boost_exp",
        F.expr(
            "CAST(w_raw AS DOUBLE) * 1000000e0 / CAST(w_tot AS DOUBLE)"
        ).alias("weight_ppm"),
    )


# --------------------------------------------------------------------------
# corpus_curriculum_phases — difficulty-ordered curriculum schedule
# --------------------------------------------------------------------------

CURRICULUM_PHASES = 4  # quartile phases: warmup -> hard tail


_CURRICULUM_ORACLE = f"""
WITH sized AS (
    SELECT doc_id, n_chars,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           (n_chars * 1000) // len(string_split(text, ' ')) AS difficulty
    FROM documents
), pv AS (
    SELECT difficulty, CAST(COUNT(*) AS BIGINT) AS c
    FROM sized GROUP BY difficulty
), cumv AS (
    SELECT difficulty,
           CAST(SUM(c) OVER (ORDER BY difficulty ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_c,
           CAST(SUM(c) OVER () AS BIGINT) AS n_total
    FROM pv
), phased AS (
    SELECT difficulty,
           ({CURRICULUM_PHASES} * cum_c - 1) // n_total + 1 AS phase
    FROM cumv
)
SELECT CAST(p.phase AS BIGINT) AS phase,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(s.n_tokens) AS BIGINT) AS sum_tokens,
       CAST(MIN(s.difficulty) AS BIGINT) AS min_difficulty,
       CAST(MAX(s.difficulty) AS BIGINT) AS max_difficulty
FROM sized s JOIN phased p ON s.difficulty = p.difficulty
GROUP BY p.phase
"""


@query("corpus_curriculum_phases", oracle=_CURRICULUM_ORACLE)
def corpus_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning schedule (Bengio et al. 2009: present easy
    examples first): order the corpus by a difficulty proxy — mean
    characters per token in exact permille, the cheap surrogate for
    lexical complexity — and cut it into {CURRICULUM_PHASES} ECDF
    quartile phases, reporting each phase's document count, token mass,
    and difficulty span (the manifest a staged training run consumes).

    Phases are VALUE-COHESIVE: every document sharing one difficulty
    score lands in one phase (phase = ceil(P·cum/N) at the score's
    inclusive ECDF position, exact integer arithmetic) — unlike NTILE,
    which splits tied scores by arbitrary row order and is therefore
    not reproducible across engines or partitionings.

    Scale: difficulty is two-long metadata per doc (never text); the
    per-score histogram is a map-side-combinable groupBy to a
    |distinct-scores|-sized frame; the ECDF rides the two-phase
    ranked_prefix_sum (functions/prefix.py — no unpartitioned window);
    the score→phase map is score-count-sized and broadcast back onto
    the metadata frame for the final per-phase rollup."""
    from etl_pipeline_aws_spark.functions.prefix import ranked_prefix_sum

    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " ")).cast("long")
    sized = docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.expr("(n_chars * 1000) div size(split(text, ' '))").alias("difficulty"),
    )
    pv = sized.groupBy("difficulty").agg(F.count("*").cast("long").alias("c"))
    ranked, totals = ranked_prefix_sum(pv, [F.asc("difficulty")], ["c"])
    n_total = int(totals["c"])
    phased = ranked.select(
        "difficulty",
        F.expr(f"({CURRICULUM_PHASES} * cum_c - 1) div {n_total} + 1").alias("phase"),
    )
    return (
        sized.join(F.broadcast(phased), "difficulty")
        .groupBy(F.col("phase").cast("long").alias("phase"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.min("difficulty").cast("long").alias("min_difficulty"),
            F.max("difficulty").cast("long").alias("max_difficulty"),
        )
    )


# --------------------------------------------------------------------------
# corpus_quality_quota_trim — per-source quality-ranked token quota
# --------------------------------------------------------------------------

QUALITY_QUOTA_TOKENS = 600  # token budget per source shard


_QUALITY_QUOTA_ORACLE = f"""
WITH scored AS (
    SELECT doc_id, source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           (len(list_distinct(string_split(text, ' '))) * 1000)
               // len(string_split(text, ' ')) AS quality
    FROM documents
), ranked AS (
    SELECT doc_id, source, n_tokens, CAST(quality AS BIGINT) AS quality,
           SUM(n_tokens) OVER (PARTITION BY source
                               ORDER BY quality DESC, doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum_tokens
    FROM scored
)
SELECT doc_id, source, n_tokens, quality,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM ranked
WHERE cum_tokens <= {QUALITY_QUOTA_TOKENS}
"""


@query("corpus_quality_quota_trim", oracle=_QUALITY_QUOTA_ORACLE)
def corpus_quality_quota_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked per-source token quota — the selection complement
    to corpus_token_budget_fill (which fills in ARRIVAL order): rank each
    source's documents by a quality proxy (type-token ratio in exact
    permille — distinct tokens per token, the cheap lexical-diversity
    screen) and keep the BEST documents until the next one would breach
    the {QUALITY_QUOTA_TOKENS}-token source quota.  This is the "cap
    every domain, keep its highest-quality slice" recipe that stops one
    crawl domain from flooding the mix while keeping its best mass.

    Determinism: quality and the running token sum are exact BIGINTs;
    the order (quality DESC, doc_id) is total, so the cut document is
    the same on both engines — no float score can flip a boundary.

    Scale: token/distinct counts are a narrow per-doc scalar pass (the
    window input is three longs per doc, never text); the running sum is
    a window PARTITIONED by source — each of the ~10^4 domains of a real
    crawl is an independent task, no global order exists anywhere."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    scored = docs.select(
        "doc_id",
        "source",
        F.size(toks).cast("long").alias("n_tokens"),
        F.expr(
            "(size(array_distinct(split(text, ' '))) * 1000)"
            " div size(split(text, ' '))"
        ).alias("quality"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("quality").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        scored.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= QUALITY_QUOTA_TOKENS)
        .select("doc_id", "source", "n_tokens", "quality", "cum_tokens")
    )
