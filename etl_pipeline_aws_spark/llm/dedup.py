"""Deduplication operators over ``documents`` (BASELINE.json north star:
exact, MinHash+LSH, SimHash, n-gram Jaccard).

Design for 100 TB (the reason each variant exists):

- **exact**: hash-groupBy on sha256(normalized text) — one shuffle of
  (64-byte hash, doc_id), never the text itself.
- **n-gram Jaccard (exact pairwise)**: explode distinct shingles →
  self-join on shingle → count intersections.  Exact but the join fans out
  quadratically on hot shingles — the correctness oracle, not the scale
  path.
- **MinHash+LSH**: fixed-size signature (16 hashes) per doc regardless of
  length; band-bucket join only pairs candidates that share a band.  The
  scale path: shuffle volume is O(docs × bands), candidate verification is
  exact Jaccard on the (tiny) candidate set.
- **SimHash**: one 64-bit signature per doc; near-dups differ in ≤ k bits.
  Bucketing on 16-bit bands finds all pairs within Hamming ≤ 3 (pigeonhole:
  4 bands, ≤3 flipped bits leave ≥1 band intact).

All hashing is xxhash64/sha2 — deterministic, seed-controlled, no RNG at
runtime.  The LSH/SimHash variants are rows-only for the driver (their
internals are not SQL-expressible) but pinned by recall tests against the
exact pairs in tests/test_llm.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_aws_spark.catalog import bare_tables, cpu_parallel, load_table
from etl_pipeline_aws_spark.functions.fixpoint import CHANGED, fixpoint
from etl_pipeline_aws_spark.registry import query, rows_only_query

N_MINHASH = 16
N_BANDS = 4  # 4 rows per band
JACCARD_THRESHOLD = 0.5


def _shingles(df: DataFrame, n: int = 3) -> DataFrame:
    """doc_id → exploded distinct n-word shingles (guarded for short docs)."""
    toks = df.withColumn("ws", F.split(F.lower(F.trim(F.col("text"))), " "))
    sh = F.when(
        F.size("ws") >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice("ws", i, n)),
            )
        ),
    ).otherwise(F.array())
    return toks.select("doc_id", F.explode(sh).alias("shingle"))


@query(
    "dedup_exact",
    oracle="""
    -- simulated re-crawl: the corpus unioned with itself under shifted ids
    -- => every text has exactly one duplicate to collapse
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents
    )
    SELECT sha256(lower(trim(text))) AS content_hash,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM corpus
    GROUP BY sha256(lower(trim(text)))
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy: keeper = smallest doc_id.
    The shuffle carries (hash, doc_id) pairs only — at 100 TB the text
    stays columnar in the scan and never crosses the wire."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    recrawl = docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    corpus = docs.unionByName(recrawl)
    return (
        corpus.select("doc_id", F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


NGRAM_JACCARD_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents
    ), sh AS (
        SELECT doc_id,
               CASE WHEN len(ws) >= 3
                    THEN list_distinct([array_to_string(ws[i:i+2], ' ')
                                        for i in range(1, len(ws) - 1)])
                    ELSE [] END AS s
        FROM toks
    ), ex AS (
        SELECT doc_id, unnest(s) AS shingle FROM sh
    ), sizes AS (
        SELECT doc_id, len(s) AS sz FROM sh
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= {JACCARD_THRESHOLD}
"""


@query("dedup_ngram_jaccard", oracle=NGRAM_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise 3-gram Jaccard ≥ 0.5: explode distinct shingles,
    self-join on shingle, count intersections, divide by the exact union.
    Integer-ratio division → bit-identical across engines."""
    docs = load_table(spark, sf_dir, "documents")
    ex = _shingles(docs).persist()
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = ex.alias("a")
    b = ex.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common").cast("double")
                / (F.col("sa.sz") + F.col("sb.sz") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )
    return jac.filter(F.col("jaccard") >= JACCARD_THRESHOLD)


CONTAINMENT_THRESHOLD = 0.8


@query(
    "dedup_containment_ngram",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents
    ), sh AS (
        SELECT doc_id,
               CASE WHEN len(ws) >= 3
                    THEN list_distinct([array_to_string(ws[i:i+2], ' ')
                                        for i in range(1, len(ws) - 1)])
                    ELSE [] END AS s
        FROM toks
    ), ex AS (
        SELECT doc_id, unnest(s) AS shingle FROM sh
    ), sizes AS (
        SELECT doc_id, len(s) AS sz FROM sh
    ), inter AS (
        SELECT a.doc_id AS contained_doc, b.doc_id AS container_doc,
               COUNT(*) AS n_common
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT contained_doc, container_doc,
           CAST(n_common AS DOUBLE) / sa.sz AS containment
    FROM inter
    JOIN sizes sa ON contained_doc = sa.doc_id
    WHERE CAST(n_common AS DOUBLE) / sa.sz >= {CONTAINMENT_THRESHOLD}
    """,
)
def dedup_containment_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment C(A→B) = |A∩B| / |A| ≥ 0.8: finds
    docs whose shingle set is (almost) a subset of another's — quotes,
    excerpts, and boilerplate-wrapped copies that symmetric Jaccard misses
    when the container is much longer (J = |A∩B|/|A∪B| shrinks with |B|,
    containment does not).

    Same plan skeleton as dedup_ngram_jaccard (explode distinct shingles →
    shingle equi-join → count → divide by the contained side's set size),
    and the same scale posture: this exact tier is the oracle path; the
    banded scale twin is the MinHash route (a permutation minimum is a
    uniform sample of A∪B, so sig agreement estimates J; containment
    follows as J·(|A|+|B|)/(|A|·(1+J)) from the stored set sizes).
    Integer-ratio division — one exact double per pair on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    ex = _shingles(docs).persist()
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = ex.alias("a")
    b = ex.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") != F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("contained_doc"), F.col("b.doc_id").alias("container_doc"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "contained_doc"), "contained_doc")
        .select(
            "contained_doc",
            "container_doc",
            (F.col("n_common").cast("double") / F.col("sz")).alias("containment"),
        )
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
    )


# Permutation family for MinHash: the classic universal hash
# h_i(x) = (a_i*x + b_i) mod p over the Mersenne prime p = 2^31-1, with
# constants derived from splitmix64 of the permutation index — fixed, no
# runtime RNG.
_MERSENNE_P = (1 << 31) - 1


def _splitmix64(i: int) -> int:
    z = (i + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return z ^ (z >> 31)


_PERM_A = [_splitmix64(2 * i) % (_MERSENNE_P - 1) + 1 for i in range(N_MINHASH)]
_PERM_B = [_splitmix64(2 * i + 1) % _MERSENNE_P for i in range(N_MINHASH)]


def _minhash_features(n: int = 3, n_hashes: int = N_MINHASH):
    """Arrow-batched kernel: text → (distinct shingle-hash set, MinHash
    signature) in one pass.  This replaced an expression-tree version
    (HOF transform/sequence + explode + 16-column groupBy-min): Spark's
    higher-order functions run interpreted (CodegenFallback), and the
    measured cost was ~0.9 ms/doc — 11 s of a 35 s bench at sf0.1.  The
    numpy version hashes the flat token array elementwise
    (`pd.util.hash_array`, vectorized siphash), builds shingle hashes as
    three wrapping multiply-XORs over the whole flat token array (windows
    that straddle a doc boundary masked out), dedups per doc with one
    lexsort + first-occurrence mask, and computes all 16 universal-hash
    minima for every doc in one (16, n_shingles) matrix + segmented
    ``np.minimum.reduceat`` — no per-doc Python loop; per-element cost is
    pure C.  Same scale posture as before: narrow map over the scan,
    per-doc output is one bounded array of 8-byte ints; nothing here
    shuffles.

    Short docs (< n tokens) return an empty shset and a NULL signature —
    they drop out of banding via an ordinary (codegen-able) IsNotNull
    filter, never a HOF predicate."""
    @F.pandas_udf("shset array<bigint>, sig array<bigint>")
    def features(texts: pd.Series) -> pd.DataFrame:
        return _minhash_batch(texts, n)

    return features


def _minhash_batch(texts: pd.Series, n: int = 3) -> pd.DataFrame:
    """Pure numpy batch kernel behind ``_minhash_features`` — importable
    without a SparkSession so the vectorization is unit-testable against a
    straight per-doc reference (tests/test_llm.py)."""
    a_perm = np.asarray(_PERM_A, dtype=np.uint64)[:, None]
    b_perm = np.asarray(_PERM_B, dtype=np.uint64)[:, None]
    p = np.uint64(_MERSENNE_P)
    mask31 = np.uint64(0x7FFFFFFF)
    c = [np.uint64(m) for m in (0x9E3779B97F4A7C15, 0xBF58476D1CE4E5B9, 0x94D049BB133111EB)]
    toks = [("" if t is None else t).strip(" ").lower().split(" ") for t in texts]
    ndocs = len(toks)
    lens = np.fromiter((len(t) for t in toks), dtype=np.int64, count=ndocs)
    flat = (
        np.concatenate([np.asarray(t, dtype=object) for t in toks])
        if ndocs
        else np.asarray([], dtype=object)
    )
    # hash_array is elementwise (siphash per string), so hashing the flat
    # token array directly is bit-identical to unique→hash→gather and skips
    # an O(N log N) *string* argsort that dominated the kernel profile
    flat_hash = (
        pd.util.hash_array(flat).astype(np.uint64)
        if len(flat)
        else np.asarray([], dtype=np.uint64)
    )
    offsets = np.concatenate(([0], np.cumsum(lens)))
    with np.errstate(over="ignore"):
        # shingle hashes over the whole flat token array in one shot,
        # then mask out windows that straddle a doc boundary: window at
        # flat position i belongs to doc d iff pos_in_doc(i) <= len(d)-n
        nflat = len(flat_hash)
        if nflat >= n:
            sh_all = (
                flat_hash[: -(n - 1)] * c[0]
                ^ flat_hash[1 : nflat - (n - 2)] * c[1]
                ^ flat_hash[n - 1 :] * c[2]
            )
        else:
            sh_all = np.asarray([], dtype=np.uint64)
        tok_doc = np.repeat(np.arange(ndocs, dtype=np.int64), lens)
        win_doc = tok_doc[: len(sh_all)]
        pos = np.arange(len(sh_all), dtype=np.int64) - offsets[win_doc]
        valid = pos <= lens[win_doc] - n
        sh = sh_all[valid]
        sh_doc = win_doc[valid]
        # per-doc distinct, ascending (same order np.unique produced in
        # the per-doc version): lexsort by (doc, hash), keep firsts
        order = np.lexsort((sh, sh_doc))
        sh = sh[order]
        sh_doc = sh_doc[order]
        if len(sh):
            keep = np.ones(len(sh), dtype=bool)
            keep[1:] = (sh[1:] != sh[:-1]) | (sh_doc[1:] != sh_doc[:-1])
            sh = sh[keep]
            sh_doc = sh_doc[keep]
        counts = np.bincount(sh_doc, minlength=ndocs)
        sh_off = np.concatenate(([0], np.cumsum(counts)))
        # all 16 universal hashes over every distinct shingle at once,
        # then per-doc segmented minima via one reduceat per batch
        x = sh & mask31  # < 2^31 ⇒ a*x+b < 2^62: no wraparound in the mod
        hmat = (a_perm * x[None, :] + b_perm) % p
        nz = np.flatnonzero(counts)
        sigs: list = [None] * ndocs
        if len(nz):
            mins = np.minimum.reduceat(hmat, sh_off[:-1][nz], axis=1).astype(np.int64)
            for j, d in enumerate(nz):
                sigs[d] = mins[:, j]
    shsets = np.split(sh.view(np.int64), sh_off[1:-1])
    return pd.DataFrame({"shset": shsets, "sig": sigs})


def minhash_feature_table(docs: DataFrame) -> DataFrame:
    """doc_id → (shset, sig): one narrow Arrow-batched projection over the
    scan.  Shared by the LSH pair finder and the keeper scale path.

    The kernel is CPU-bound per batch, so its parallelism is capped by the
    SCAN's split count.  A small corpus arrives as one Parquet file = one
    partition = one Python worker; ``cpu_parallel`` repartitions up to the
    cluster's parallelism ONLY in that under-split case — at 100 TB the
    scan already carries thousands of splits and no shuffle is added."""
    feat = _minhash_features()
    return cpu_parallel(docs).select("doc_id", feat("text").alias("f")).select(
        "doc_id", F.col("f.shset").alias("shset"), F.col("f.sig").alias("sig")
    )


def _band_table(feats: DataFrame) -> DataFrame:
    """(doc_id, sig) -> one row per LSH band: (doc_id, band_id, band_hash).
    Shared by the full-corpus pair finder and the incremental batch probe
    so band boundaries and hashing can never diverge between them."""
    rows_per_band = N_MINHASH // N_BANDS
    return (
        feats.filter(F.col("sig").isNotNull())
        .select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band_id"),
                            F.xxhash64(
                                F.lit(b),
                                *[
                                    F.element_at("sig", b * rows_per_band + r + 1)
                                    for r in range(rows_per_band)
                                ],
                            ).alias("band_hash"),
                        )
                        for b in range(N_BANDS)
                    ]
                )
            ).alias("band"),
        )
        .select("doc_id", "band.band_id", "band.band_hash")
    )


def minhash_lsh_pairs(feats: DataFrame) -> DataFrame:
    """(doc_id, shset, sig) → verified near-dup pairs (doc_a, doc_b,
    jaccard ≥ JACCARD_THRESHOLD): band-bucket join → candidates →
    exact-Jaccard verification on the compact hash sets.

    Scale shape (the only shuffles are the two that are inherent):
    1. per-doc work (the signature) happened upstream in one narrow
       Arrow-batched projection — no explode, no groupBy;
    2. the band self-join shuffles O(docs × bands) rows of
       (band_hash, doc_id) — 16 bytes each, regardless of doc length;
    3. verification joins the candidate pairs back to the compact
       shingle-hash arrays and computes exact Jaccard via array_intersect
       per pair — work proportional to candidates, not corpus²."""
    bands = _band_table(feats)
    a = bands.alias("a")
    b = bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # exact-Jaccard verification on the compact hash sets, one row per pair
    sa = feats.select(F.col("doc_id").alias("doc_a"), F.col("shset").alias("set_a"))
    sb = feats.select(F.col("doc_id").alias("doc_b"), F.col("shset").alias("set_b"))
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size("set_a") + F.size("set_b") - inter
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


@rows_only_query("dedup_minhash_lsh")
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs: Arrow-batched signature kernel →
    band-bucket join → exact-Jaccard verification at the 0.5 threshold
    (see minhash_feature_table / minhash_lsh_pairs for the plan shape).

    Output schema matches dedup_ngram_jaccard; recall/precision vs the
    exact pairs is pinned in tests/test_llm.py (planted dups sit at
    J≈0.95+ where 4-band×4-row detection probability ≈ 1)."""
    docs = load_table(spark, sf_dir, "documents")
    # the compact (doc_id, shset, sig) table feeds three subtrees: banding
    # and both verification sides.  persist() computes the kernel once; at
    # 100 TB the same role is a Parquet stage table (spillable,
    # cluster-wide), not executor cache.  Cache ownership: freed by
    # clear_caches() between registry runs (session.py), since the result
    # is lazy and the cache must outlive this builder.
    feats = minhash_feature_table(docs).persist()
    return minhash_lsh_pairs(feats)


@rows_only_query("dedup_simhash")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 64-bit signature = sign of per-bit vote sums
    over token hashes; candidate pairs share one of four 16-bit bands
    (pigeonhole ⇒ complete for Hamming distance ≤ 3); verified by exact
    popcount.  Pure integer/bitwise expressions, fully deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("token"),
    ).withColumn("h", F.xxhash64("token"))
    # per-bit votes: +1 if bit set else -1; simhash bit i = 1 iff sum > 0
    votes = tokens.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(64)
        ]
    )
    # bit 63 is the two's-complement sign bit: adding Long.MIN_VALUE sets it
    # (1 << 63 would overflow the signed long literal)
    bit_terms = [
        F.when(
            F.col(f"v{i}") > 0,
            F.lit(1 << i if i < 63 else -(1 << 63)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for i in range(64)
    ]
    sim = votes.select(
        "doc_id",
        sum(bit_terms[1:], bit_terms[0]).alias("simhash"),
    )
    bands = sim.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bnd).alias("band_id"),
                        F.shiftright(F.col("simhash"), bnd * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("band_val"),
                    )
                    for bnd in range(4)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_id", "band.band_val")
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int").alias("hamming"),
    ).filter(F.col("hamming") <= 3)


COSINE_DEDUP_THRESHOLD = 0.45

EMBEDDING_COSINE_ORACLE = f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ), n AS (
        SELECT vec_id, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM e
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
               / (a.nrm * b.nrm) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
              / (a.nrm * b.nrm) >= {COSINE_DEDUP_THRESHOLD}
"""


@query("dedup_embedding_cosine", oracle=EMBEDDING_COSINE_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.45), brute force.
    Both engines fold the dot product left-to-right in double — verified
    bit-identical — so even the cosine VALUES hash-match.

    Physical shape: O(n²) pairwise cosine is CPU-bound (interpreted HOF
    dot per pair), so the stream side is cpu_parallel'd — without it a
    single-row-group scan evaluates every pair in ONE task — and the
    build side carries an explicit broadcast so the non-equi join plans
    as BroadcastNestedLoop with |stream| tasks, not a partition-pair
    cartesian (32×32 tasks of nothing at bench SF).  Broadcasting the
    corpus is inherent to brute force — this is the ORACLE path; the
    scale path for the same semantics is LSH bucketing in similarity.py."""

    def normed(df: DataFrame) -> DataFrame:
        return df.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        ).withColumn(
            "nrm",
            F.sqrt(
                F.aggregate(
                    F.transform("v", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
                )
            ),
        )

    a = normed(cpu_parallel(load_table(spark, sf_dir, "embeddings"))).alias("a")
    b = F.broadcast(normed(load_table(spark, sf_dir, "embeddings"))).alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(COSINE_DEDUP_THRESHOLD))
    )


# Random-hyperplane LSH for the embedding-dedup SCALE tier: L tables of
# `bits` sign bits each.  More bits ⇒ finer buckets (bucket-join cost is
# Σ|bucket|², so bits should grow with log n); more tables ⇒ recall.
# The fixture's qualifying pairs sit exactly AT the 0.45 cosine threshold
# (θ ≈ 60°, per-bit collision ≈ 0.67): 12 tables × 4 bits gives detection
# 1-(1-0.67⁴)¹² ≈ 0.93 at the boundary and ≈ 1 for anything closer.  At
# larger corpora raise bits (bucket-join cost is Σ|bucket|²) and tables
# together — recall 1-(1-p^bits)^tables is the closed-form dial.
EMB_LSH_TABLES = 12
EMB_LSH_BITS = 4
EMB_LSH_SEED = 1337
# Above this corpus size the all-pairs broadcast tier is off the table:
# the build side stops fitting comfortably in executor memory and the
# pair count crosses 10^9.
BRUTE_FORCE_MAX_ROWS = 32_768


def _normed_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        .withColumn(
            "nrm",
            F.sqrt(
                F.aggregate(
                    F.transform("v", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
                )
            ),
        )
    )


@rows_only_query("dedup_embedding_lsh")
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, LSH-bucketed — the 100 TB tier
    behind the ``dedup_embedding`` facade.

    Random-hyperplane signatures (fixed seeded matrix, Arrow-vectorized
    numpy matmul — one kernel call per batch covers all L tables), then a
    band-style self-join per (table, bucket), then exact-cosine
    verification of the candidate set at the same threshold as the brute
    force.  Shuffle volume is O(rows × L) 16-byte (bucket, vec_id) pairs;
    pair work is Σ|bucket|² per table, controlled by EMB_LSH_BITS, never
    corpus².  Recall vs the exact pairs is pinned in tests/test_llm.py
    (high-cosine planted dups collide with probability ≈ 1 across 8
    tables)."""
    planes = np.random.RandomState(EMB_LSH_SEED).randn(64, EMB_LSH_TABLES * EMB_LSH_BITS)
    weights = 1 << np.arange(EMB_LSH_BITS)

    @F.pandas_udf("array<long>")
    def signatures(vs: pd.Series) -> pd.Series:
        mat = np.stack(vs.to_numpy())  # (batch, dim)
        bits = (mat @ planes) > 0  # (batch, tables*bits)
        sigs = bits.reshape(len(mat), EMB_LSH_TABLES, EMB_LSH_BITS).dot(weights)
        return pd.Series(list(sigs.astype("int64")))

    e = _normed_embeddings(spark, sf_dir).withColumn("sigs", signatures("v")).persist()
    tabs = e.select("vec_id", F.posexplode("sigs").alias("table_id", "bucket"))
    a = tabs.alias("a")
    b = tabs.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    va = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("av"), F.col("nrm").alias("anrm"))
    vb = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("bv"), F.col("nrm").alias("bnrm"))
    dot = F.aggregate(
        F.zip_with("av", "bv", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        candidates.join(va, "vec_a")
        .join(vb, "vec_b")
        .select("vec_a", "vec_b", (dot / (F.col("anrm") * F.col("bnrm"))).alias("cosine"))
        .filter(F.col("cosine") >= F.lit(COSINE_DEDUP_THRESHOLD))
    )


@query("dedup_embedding", oracle=EMBEDDING_COSINE_ORACLE)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-dedup routing facade: the ONE entry point callers use, so
    nobody reaches the O(n²) broadcast tier by accident.  Dispatches on
    the corpus row count (Parquet footer metadata — no data scan):

    - ≤ BRUTE_FORCE_MAX_ROWS → exact all-pairs (dedup_embedding_cosine),
      which is also the DuckDB-checked oracle twin;
    - larger → LSH-bucketed tier (dedup_embedding_lsh), whose shuffle and
      pair volumes stay bounded at any corpus size.

    The oracle certifies the facade in the regime the oracle itself can
    run (fixture scale routes to the exact tier); the scale tier's quality
    is pinned separately by the recall test in tests/test_llm.py."""
    n_rows = load_table(spark, sf_dir, "embeddings").count()
    if n_rows <= BRUTE_FORCE_MAX_ROWS:
        return dedup_embedding_cosine(spark, sf_dir)
    return dedup_embedding_lsh(spark, sf_dir)


def min_label_components(pairs: DataFrame) -> DataFrame:
    """Connected components by iterative min-label propagation over an
    undirected pair set (doc_a, doc_b) -> (doc_id, label) with label =
    the component's smallest doc_id.  Shared kernel of
    dedup_cluster_keepers and pipeline_dedup_e2e.

    Log-bounded DataFrame joins, not driver-side graph state: each round
    every node takes the min label among itself and its neighbors; the
    fixpoint driver materializes each round and probes convergence with
    one 1-row job.  Rounds = graph diameter (duplicate
    clusters are shallow — 2-3 in practice)."""
    # r11 (guide §2.3): symmetrize via one explode, not a two-branch
    # union — the union form evaluated the UPSTREAM PAIR PIPELINE once
    # per branch inside the cache-materialization job (for the
    # MinHash-LSH callers that is the whole band join + Jaccard verify:
    # measured 9.7 s -> ~2 s for the loop stage of dedup_cluster_keepers
    # at sf0.1).
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                    F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .persist()
    )
    # r12: SEED with the closed-form round-1 fold — label0 = least(node,
    # min neighbor) is a plain aggregation over the cached edges (no
    # join); pair/triple clusters then converge in ONE loop round (the
    # probe round) instead of two.  Fixpoint unchanged: the monotone
    # min-update converges to component minima under any schedule.
    labels = (
        edges.groupBy(F.col("src").alias("doc_id"))
        .agg(F.min("dst").alias("mn"))
        .select("doc_id", F.least(F.col("doc_id"), F.col("mn")).alias("label"))
    )

    def propagate(labels: DataFrame, _: int) -> DataFrame:
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("label").alias("nmin"))
        )
        # the change flag is computed IN the label join (r9 trim: the old
        # spelling re-joined new labels against old ones purely to detect
        # convergence — one whole extra join+shuffle per round)
        return labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least(F.col("label"), F.coalesce("nmin", "label")).alias("label"),
            (F.coalesce("nmin", "label") < F.col("label")).alias(CHANGED),
        )

    # diameter bound; real clusters converge in 1-2 rounds
    labels = fixpoint(labels, propagate, 20)
    edges.unpersist()
    return labels


@query(
    "dedup_cluster_keepers",
    oracle=f"""
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
    )
    SELECT src AS doc_id,
           LEAST(src, MIN(dst)) AS keeper_doc_id,
           src > LEAST(src, MIN(dst)) AS is_dup
    FROM reach
    GROUP BY src
    """,
)
def dedup_cluster_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → keeper assignment: connected components over the
    duplicate graph via iterative min-label propagation, keeper =
    smallest doc_id in the component (``is_dup`` marks the rows a dedup
    pass drops).

    The pair source is the SCALE path — MinHash-LSH candidates verified
    by exact Jaccard at the same 0.5 threshold (minhash_lsh_pairs), so no
    quadratic shingle self-join appears anywhere in this plan
    (tests/test_plans.py pins that).  The oracle is DuckDB's
    recursive-CTE transitive closure over the *exact* all-pairs graph:
    passing it certifies the banded path found every ≥-threshold edge on
    the fixture (planted dups sit at J≈0.95+, where 4×4-band detection
    probability ≈ 1 — and the recall test in tests/test_llm.py pins
    LSH == exact pairwise).

    The loop is log-bounded DataFrame joins, not driver-side graph state:
    each round every node takes the min label among itself and its
    neighbors; the propagated-label table persists per round and the
    previous round unpersists.  Rounds = graph diameter — duplicate
    clusters are shallow (pairs/triples), so 2-3 rounds in practice; at
    adversarial diameters the same loop carries (or switch the label
    exchange to the Hash-to-Min variant for O(log n) rounds).  Every
    round is one shuffle on doc_id — no collect of anything but the
    1-row convergence check."""
    feats = minhash_feature_table(load_table(spark, sf_dir, "documents")).persist()
    pairs = minhash_lsh_pairs(feats).select("doc_a", "doc_b")
    labels = min_label_components(pairs)
    feats.unpersist()
    return labels.select(
        "doc_id",
        F.col("label").alias("keeper_doc_id"),
        (F.col("doc_id") > F.col("label")).alias("is_dup"),
    )


@query(
    "dedup_soft_weights",
    oracle=f"""
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
    comp AS (
        SELECT src AS doc_id, LEAST(src, MIN(dst)) AS label
        FROM reach GROUP BY src
    ),
    sizes AS (SELECT label, COUNT(*) AS csz FROM comp GROUP BY label),
    w AS (
        SELECT d.source,
               COALESCE(s.csz, 1) AS csz,
               1000000 // COALESCE(s.csz, 1) AS w_ppm
        FROM documents d
        LEFT JOIN comp c ON c.doc_id = d.doc_id
        LEFT JOIN sizes s ON s.label = c.label
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN csz > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_members,
           CAST(SUM(w_ppm) AS BIGINT) AS weight_sum_ppm,
           CAST(SUM(w_ppm) AS DOUBLE) / (COUNT(*) * 1000000) AS retention
    FROM w GROUP BY source
    """,
)
def dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT deduplication — down-weight instead of drop: every document
    gets sampling weight 1/|near-dup cluster| (ppm-exact integer), so a
    training run sees each duplicated CONTENT once in expectation while
    keeping every surface form available — the standard soft alternative
    when hard dedup (dedup_cluster_keepers' keeper-only filter) would
    discard formatting/boilerplate variation a model still needs some
    exposure to.  Reported per source: docs, duplicate-cluster members,
    the exact weight mass (ppm), and the retention ratio — the
    "effective dataset size after duplicate-aware weighting" number a
    mixing recipe consumes alongside corpus_domain_reweight_entropy.

    Same scale path as every CC consumer: banded MinHash-LSH candidates
    verified by exact Jaccard feed min-label components (no quadratic
    shingle join; the plan guard pins it), cluster sizes are one
    label-keyed count, and the weight join is docs ⋈ labels ⋈ sizes on
    ids.  Integer arithmetic end to end (1e6 DIV size matches DuckDB //
    for positive ints); the single retention division is the one float.
    Oracle: DuckDB's recursive-CTE transitive closure over the exact
    all-pairs graph — passing certifies the banded path found every
    ≥-threshold edge, the dedup_cluster_keepers discipline."""
    feats = minhash_feature_table(load_table(spark, sf_dir, "documents")).persist()
    pairs = minhash_lsh_pairs(feats).select("doc_a", "doc_b")
    labels = min_label_components(pairs)
    feats.unpersist()
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("csz"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    w = (
        docs.join(labels, "doc_id", "left")
        .join(sizes, "label", "left")
        .select(
            "source",
            F.coalesce("csz", F.lit(1)).alias("csz"),
            F.expr("CAST(1000000 DIV COALESCE(csz, 1) AS BIGINT)").alias("w_ppm"),
        )
    )
    return w.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("csz") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_members"),
        F.sum("w_ppm").cast("long").alias("weight_sum_ppm"),
        (
            F.sum("w_ppm").cast("double")
            / (F.count(F.lit(1)) * F.lit(1000000))
        ).alias("retention"),
    )


@query(
    "dedup_normalized_text",
    oracle="""
    -- aggressive canonicalization before exact dedup: case, punctuation,
    -- and whitespace runs carry no identity
    WITH normed AS (
        SELECT doc_id,
               sha256(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                          ' +', ' ', 'g'))) AS norm_hash
        FROM documents
    )
    SELECT norm_hash,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM normed
    GROUP BY norm_hash
    HAVING COUNT(*) > 1
    """,
)
def dedup_normalized_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-keyed dedup: lowercase → strip non-alphanumerics →
    collapse whitespace runs → sha256, then collapse clusters (keeper =
    min doc_id), emitting only genuine duplicate clusters.

    The canonicalization catches trivially-reformatted copies exact
    hashing misses (case/punctuation/spacing variants — the most common
    web-crawl duplication mode after byte-identity).  Same scale shape as
    dedup_exact: the shuffle carries (hash, doc_id) only."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    return (
        docs.select("doc_id", F.sha2(norm, 256).alias("norm_hash"))
        .groupBy("norm_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


@query(
    "dedup_incremental_snapshot",
    oracle="""
    WITH corpus AS (
        SELECT sha256(text) AS h FROM documents WHERE doc_id % 5 <> 4
    ), batch AS (
        SELECT doc_id, sha256(text) AS h FROM documents WHERE doc_id % 5 = 4
    )
    SELECT b.doc_id, b.h AS content_hash
    FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = b.h)
    """,
)
def dedup_incremental_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: a NEW batch of documents (every 5th
    doc_id models the day's arrivals) is deduplicated against the
    already-indexed corpus by exact content hash, admitting only
    never-seen content — the cheapest and first tier of a continuously
    fed training-data pipeline (near-dup tiers run after this gate).

    The anti join carries (hash, doc_id) pairs only — 40 bytes/doc, not
    documents — so at 100 TB the shuffle is ~0.04% of corpus bytes; in
    steady state the corpus side is a PERSISTED hash index that never
    rescans raw text, and the day's batch is the only scanned data.
    A bloom pre-prune (the join_bloom_pruned pattern over the batch's
    hash buckets) drops the corpus-index scan further when the batch is
    small relative to the index."""
    docs = load_table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % 5 == 4
    corpus = docs.filter(~is_batch).select(F.sha2("text", 256).alias("content_hash"))
    batch = docs.filter(is_batch).select(
        "doc_id", F.sha2("text", 256).alias("content_hash")
    )
    return batch.join(corpus, "content_hash", "left_anti").select(
        "doc_id", "content_hash"
    )


@query(
    "dedup_cluster_size_histogram",
    oracle="""
    WITH clusters AS (
        SELECT sha256(lower(trim(text))) AS h,
               CAST(COUNT(*) AS BIGINT) AS n_copies
        FROM documents GROUP BY 1
    )
    SELECT n_copies,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(n_copies) AS BIGINT) AS n_docs
    FROM clusters GROUP BY n_copies
    """,
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution — the report a dedup run is
    judged by: how many content clusters exist at each multiplicity,
    and how many documents they account for (n_copies=1 is the unique
    mass; the tail is the dedup opportunity).  Two stacked
    aggregations, both map-side combined, keyed first on the content
    hash then on the tiny multiplicity domain — the histogram of a
    100 TB corpus costs one hash shuffle, and the same query run
    before/after a dedup pass is the acceptance check that the pass
    actually removed the tail."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = docs.groupBy(
        F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("h")
    ).agg(F.count(F.lit(1)).alias("n_copies"))
    return clusters.groupBy("n_copies").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("n_copies").alias("n_docs"),
    )


@rows_only_query("dedup_minhash_incremental")
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup: the day's batch (doc_id % 5 == 4) probes the
    indexed corpus' LSH band table instead of re-banding the world —
    the fuzzy tier of the incremental-ingest gate
    (dedup_incremental_snapshot is the exact tier).  Candidates are
    batch×corpus band-bucket collisions only; verification is the same
    exact-Jaccard pass on the compact shingle sets.

    Steady-state cost at 100 TB: the corpus side is a PERSISTED band
    index (16 bytes x bands per doc, written once at ingest); a batch
    probe shuffles only the batch's bands against it and verifies only
    cross collisions — work scales with the batch and its match rate,
    never with corpus size.  Rows-only (LSH is probabilistic);
    tests/test_llm.py pins this against the full-corpus pair set
    restricted to cross pairs."""
    docs = load_table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % 5 == 4
    feats = minhash_feature_table(docs).persist()
    corpus_bands = _band_table(feats.filter(~is_batch))
    batch_bands = _band_table(feats.filter(is_batch))
    candidates = (
        batch_bands.alias("b")
        .join(
            corpus_bands.alias("c"),
            (F.col("b.band_id") == F.col("c.band_id"))
            & (F.col("b.band_hash") == F.col("c.band_hash")),
        )
        .select(
            F.col("b.doc_id").alias("batch_doc"),
            F.col("c.doc_id").alias("corpus_doc"),
        )
        .distinct()
    )
    sb = feats.select(F.col("doc_id").alias("batch_doc"), F.col("shset").alias("set_b"))
    sc = feats.select(F.col("doc_id").alias("corpus_doc"), F.col("shset").alias("set_c"))
    inter = F.size(F.array_intersect("set_b", "set_c"))
    union = F.size("set_b") + F.size("set_c") - inter
    return (
        candidates.join(sb, "batch_doc")
        .join(sc, "corpus_doc")
        .select(
            "batch_doc",
            "corpus_doc",
            (inter.cast("double") / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


PREFIX_BLOCK_CHARS = 32  # containment-candidate blocking key length


@query(
    "dedup_prefix_containment",
    oracle=f"""
    SELECT a.doc_id AS contained_doc, b.doc_id AS container_doc,
           CAST(LENGTH(a.text) AS BIGINT) AS contained_len,
           CAST(LENGTH(b.text) AS BIGINT) AS container_len
    FROM documents a JOIN documents b
      ON substring(a.text, 1, {PREFIX_BLOCK_CHARS})
             = substring(b.text, 1, {PREFIX_BLOCK_CHARS})
     AND a.doc_id <> b.doc_id
     AND LENGTH(a.text) < LENGTH(b.text)
    WHERE starts_with(b.text, a.text)
    """,
)
def dedup_prefix_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup: documents whose FULL text is a prefix of a
    longer document (truncated re-crawls, partial re-uploads — the dup
    class Jaccard under-scores because the length mismatch dilutes the
    union).  Blocked on the first {PREFIX_BLOCK_CHARS} characters:
    candidate generation is a hash join on the block key, the
    startswith check runs only within blocks, and the strict length
    ordering keeps each containment pair directional and met once.
    At 100 TB the block key is stored at ingest (it is substring(text)
    — free) and hot prefixes (boilerplate headers) are the documented
    skew risk: widen the block or salt exactly as for any hot join
    key."""
    docs = load_table(spark, sf_dir, "documents")
    block = F.substring("text", 1, PREFIX_BLOCK_CHARS)
    sides = docs.select(
        "doc_id", "text", F.length("text").alias("n"), block.alias("blk")
    )
    a, b = sides.alias("a"), sides.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (F.col("a.n") < F.col("b.n")),
        )
        .filter(F.col("b.text").startswith(F.col("a.text")))
        .select(
            F.col("a.doc_id").alias("contained_doc"),
            F.col("b.doc_id").alias("container_doc"),
            F.col("a.n").cast("long").alias("contained_len"),
            F.col("b.n").cast("long").alias("container_len"),
        )
    )


CHUNK_TOKENS = 20  # sub-document dedup granularity
CHUNK_DUP_PPM = 500_000  # drop threshold: >50% duplicated chunks

_CHUNK_DEDUP_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), chunks AS (
        SELECT doc_id,
               sha256(array_to_string(
                   ws[{CHUNK_TOKENS} * i + 1 : {CHUNK_TOKENS} * (i + 1)], ' ')) AS h
        FROM toks, unnest(range(0, len(ws) // {CHUNK_TOKENS})) AS t(i)
    ), dup AS (
        SELECT h FROM chunks GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT c.doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_chunks,
           CAST(SUM(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS dup_ppm,
           SUM(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) * 1000000
               > {CHUNK_DUP_PPM} * COUNT(*) AS drop_doc
    FROM chunks c LEFT JOIN dup d USING (h)
    GROUP BY c.doc_id
"""


@query("dedup_paragraph_chunks", oracle=_CHUNK_DEDUP_ORACLE)
def dedup_paragraph_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUB-document deduplication — the granularity whole-doc dedup
    misses: boilerplate paragraphs (headers, license blocks, navigation)
    repeated across otherwise-distinct documents.  Text splits into
    non-overlapping {CHUNK_TOKENS}-token chunks; a chunk is duplicated
    when its hash appears in >= 2 DISTINCT documents; each doc reports
    its duplicated-chunk fraction (exact integer ppm) and a drop verdict
    past 50% — the RefinedWeb-style curation rule, complementing
    text_repetition_filter (WITHIN-doc repetition) with the cross-doc
    axis.

    Plan: one narrow chunk explode (bounded: tokens/{CHUNK_TOKENS} rows
    per doc), one hash-key aggregation to find shared chunks, one join
    back on the 32-byte hash, one per-doc rollup — every stage keyed and
    map-side combinable.  At 100 TB the dup-hash table is the only
    intermediate that grows with corpus redundancy, and it shrinks as
    dedup improves — a self-limiting cost.  Fractions stay in integer
    cross-multiplication (ppm vs threshold x count), no float boundary."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    # guard: Spark's sequence(0, -1) DESCENDS instead of being empty, so
    # docs shorter than one full chunk must take the empty-array branch
    # (same discipline as _shingles)
    chunk_hashes = F.when(
        F.size(ws) >= CHUNK_TOKENS,
        F.transform(
            F.sequence(F.lit(0), (F.size(ws) / CHUNK_TOKENS).cast("int") - 1),
            lambda i: F.sha2(
                F.concat_ws(" ", F.slice(ws, i * CHUNK_TOKENS + 1, CHUNK_TOKENS)),
                256,
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # persist: the chunk explode (split + one sha256 per chunk, the
    # query's CPU cost) feeds BOTH the dup-hash aggregation and the join
    # side below — without the cache it is computed twice.  Cleared by
    # clear_caches at the query boundary (the builder-persist convention).
    chunks = docs.select("doc_id", F.explode(chunk_hashes).alias("h")).persist()
    dup = (
        chunks.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h", F.lit(1).alias("_dup"))
    )
    joined = chunks.join(dup, "h", "left")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("_dup").isNotNull(), 1).otherwise(0)).alias(
                "n_dup_chunks"
            ),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            F.expr("n_dup_chunks * 1000000 div n_chunks").alias("dup_ppm"),
            (F.col("n_dup_chunks") * 1_000_000 > CHUNK_DUP_PPM * F.col("n_chunks")).alias(
                "drop_doc"
            ),
        )
    )


_DUP_RATE_ORACLE = """
    WITH keepers AS (
        SELECT doc_id, source,
               MIN(doc_id) OVER (PARTITION BY sha256(text)) AS keeper_id
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN doc_id <> keeper_id THEN 1 END) AS BIGINT)
               AS n_duplicates,
           CAST(COUNT(CASE WHEN doc_id <> keeper_id THEN 1 END) AS DOUBLE)
               / COUNT(*) AS dup_rate
    FROM keepers
    GROUP BY source
"""


@query("dedup_rate_by_source", oracle=_DUP_RATE_ORACLE)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication rate per SOURCE — the curation dashboard that tells
    you WHERE the duplicates come from (a crawler recrawling itself, a
    vendor double-delivering), which the corpus-wide dedup counts can't
    localize.  A doc is a duplicate when it is not its content-hash
    group's keeper (min doc_id — the dedup_exact convention); the
    report is per-source doc counts, duplicate counts, and the rate
    that decides which feed gets fixed first.

    One content-hash window + one source rollup; exact integers with a
    single int/int division for the rate."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    keepers = docs.select(
        "doc_id",
        "source",
        F.min("doc_id").over(Window.partitionBy(F.sha2("text", 256))).alias(
            "keeper_id"
        ),
    )
    return keepers.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("doc_id") != F.col("keeper_id"), 1).otherwise(0))
        .cast("long")
        .alias("n_duplicates"),
        (
            F.sum(
                F.when(F.col("doc_id") != F.col("keeper_id"), 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("dup_rate"),
    )


_DEDUP_E2E_ORACLE = f"""
    WITH RECURSIVE normed AS (
        SELECT doc_id, source,
               sha256(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS h
        FROM documents
    ), exact_keep AS (
        SELECT doc_id, source, h,
               MIN(doc_id) OVER (PARTITION BY h) AS keeper
        FROM normed
    ), pairs0 AS ({NGRAM_JACCARD_ORACLE}),
    pairs AS (
        SELECT doc_a, doc_b FROM pairs0
        JOIN exact_keep ea ON pairs0.doc_a = ea.doc_id AND ea.doc_id = ea.keeper
        JOIN exact_keep eb ON pairs0.doc_b = eb.doc_id AND eb.doc_id = eb.keeper
    ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ), reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ), labels AS (
        SELECT src AS doc_id, LEAST(src, MIN(dst)) AS label
        FROM reach GROUP BY src
    ), verdicts AS (
        SELECT e.source,
               (e.doc_id <> e.keeper) AS exact_dup,
               (e.doc_id = e.keeper
                AND COALESCE(l.label, e.doc_id) <> e.doc_id) AS near_dup
        FROM exact_keep e LEFT JOIN labels l ON e.doc_id = l.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN exact_dup THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact_dups,
           CAST(SUM(CASE WHEN near_dup THEN 1 ELSE 0 END) AS BIGINT)
               AS n_near_dups,
           CAST(SUM(CASE WHEN NOT exact_dup AND NOT near_dup
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
           CAST(SUM(CASE WHEN NOT exact_dup AND NOT near_dup
                         THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
               AS survival_ppm
    FROM verdicts GROUP BY source
"""


@query("pipeline_dedup_e2e", oracle=_DEDUP_E2E_ORACLE)
def pipeline_dedup_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL DEDUP FUNNEL as one pipeline — the flagship shape of a
    production corpus-dedup run, end-to-end and value-certified:

      normalize -> exact dedup (canonical-hash keepers)
                -> near-dup on the survivors (MinHash-LSH candidates,
                   exact-Jaccard verified — the banded scale path, no
                   quadratic shingle join anywhere in the plan)
                -> connected components (shared min-label kernel)
                -> per-source funnel report.

    Each stage is individually registered (dedup_normalized_text,
    dedup_minhash_lsh, dedup_cluster_keepers); this entry certifies the
    COMPOSITION — stage ordering (near-dup sees only exact-keepers, so
    identical-text clusters can't double-count), keeper precedence, and
    the survivorship arithmetic — against a single recursive-CTE oracle
    that recomputes the whole funnel from the raw table, exact Jaccard
    closure included.  Survival rate is ppm by integer floor division
    (no float drift).

    Scale: stage 1 shuffles (hash, doc_id); stage 2 is the banded LSH
    join over the deduped survivor set (already smaller by the exact-dup
    rate — the reason production funnels order exact before near); CC
    touches only nodes with >= 1 edge.  The report is sources-sized."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9 ]", ""),
            r" +",
            " ",
        )
    )
    from pyspark.sql.window import Window

    # narrow (doc_id, source, hash) table BEFORE the keeper window — the
    # dedup_exact discipline: text never rides a dedup shuffle; the one
    # text shuffle in this pipeline is the survivor semi-join feeding the
    # MinHash features
    hashed = docs.select("doc_id", "source", F.sha2(norm, 256).alias("h"))
    keepered = hashed.withColumn(
        "keeper", F.min("doc_id").over(Window.partitionBy("h"))
    )
    survivor_ids = keepered.filter(F.col("doc_id") == F.col("keeper")).select("doc_id")
    feats = minhash_feature_table(
        docs.join(survivor_ids, "doc_id").select("doc_id", "text")
    ).persist()
    pairs = minhash_lsh_pairs(feats).select("doc_a", "doc_b")
    labels = min_label_components(pairs)
    feats.unpersist()
    verdicts = keepered.join(labels, "doc_id", "left").select(
        "source",
        (F.col("doc_id") != F.col("keeper")).alias("exact_dup"),
        (
            (F.col("doc_id") == F.col("keeper"))
            & (F.coalesce("label", "doc_id") != F.col("doc_id"))
        ).alias("near_dup"),
    )
    survivor = ~F.col("exact_dup") & ~F.col("near_dup")
    return verdicts.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("exact_dup"), 1).otherwise(0)).cast("long").alias("n_exact_dups"),
        F.sum(F.when(F.col("near_dup"), 1).otherwise(0)).cast("long").alias("n_near_dups"),
        F.sum(F.when(survivor, 1).otherwise(0)).cast("long").alias("n_survivors"),
        F.expr(
            "cast(sum(case when not exact_dup and not near_dup then 1 else 0 end)"
            " * 1000000 div count(1) as bigint)"
        ).alias("survival_ppm"),
    )


@rows_only_query("dedup_minhash_eval")
def dedup_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-generation QUALITY REPORT for the MinHash-LSH tier:
    band-bucket candidate pairs scored against the exact 3-gram-Jaccard
    truth set (dedup_ngram_jaccard at the same ≥{JACCARD_THRESHOLD}
    threshold) — recall (what fraction of true near-dup pairs the bands
    surfaced) and precision (what fraction of surfaced candidates are
    true).  This is the eval every LSH deployment runs on a sample
    BEFORE trusting the banding budget at corpus scale: band/row counts
    trade recall against candidate volume, and this table is the
    evidence for that dial (the pytest recall pin in tests/test_llm.py
    checks the same contract; this op makes it a runnable, reportable
    artifact).

    Rows-only by design (the MinHash side is an Arrow kernel, not
    SQL); the join of truth vs candidates is a full outer on the pair
    key so all three counts come from ONE aggregation — no 1×1
    cartesian, no driver collect.  At 100 TB you run this on a sampled
    partition: both sides' costs are the documented costs of their
    parent operators."""
    docs = load_table(spark, sf_dir, "documents")
    feats = minhash_feature_table(docs).persist()
    bands = _band_table(feats)
    a, b = bands.alias("a"), bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .withColumn("is_cand", F.lit(1))
    )
    truth = dedup_ngram_jaccard(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("is_true")
    )
    j = truth.join(candidates, ["doc_a", "doc_b"], "full_outer")
    return j.agg(
        F.sum(F.coalesce(F.col("is_true"), F.lit(0))).cast("long").alias("n_true"),
        F.sum(F.coalesce(F.col("is_cand"), F.lit(0))).cast("long").alias("n_candidates"),
        F.sum(
            F.coalesce(F.col("is_true"), F.lit(0))
            * F.coalesce(F.col("is_cand"), F.lit(0))
        )
        .cast("long")
        .alias("n_detected"),
        (
            F.sum(
                F.coalesce(F.col("is_true"), F.lit(0))
                * F.coalesce(F.col("is_cand"), F.lit(0))
            ).cast("double")
            / F.greatest(F.sum(F.coalesce(F.col("is_true"), F.lit(0))), F.lit(1))
        ).alias("recall"),
        (
            F.sum(
                F.coalesce(F.col("is_true"), F.lit(0))
                * F.coalesce(F.col("is_cand"), F.lit(0))
            ).cast("double")
            / F.greatest(F.sum(F.coalesce(F.col("is_cand"), F.lit(0))), F.lit(1))
        ).alias("precision"),
    )


_THRESHOLD_SWEEP_ORACLE = f"""
    WITH pairs AS ({NGRAM_JACCARD_ORACLE}),
    taus AS (SELECT CAST(unnest(range(5, 10)) AS INT) AS tau_x10)
    SELECT t.tau_x10,
           CAST(SUM(CASE WHEN p.jaccard * 10 >= t.tau_x10
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
    FROM taus t CROSS JOIN pairs p
    GROUP BY t.tau_x10
"""


@query("dedup_threshold_sensitivity", oracle=_THRESHOLD_SWEEP_ORACLE)
def dedup_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold sensitivity of the near-dup decision: how many pairs
    survive at Jaccard ≥ 0.5, 0.6, … 0.9 — the one-table answer to
    "how much does the dedup volume swing if we move the knob", read
    BEFORE committing a threshold corpus-wide (a cliff between 0.5 and
    0.6 means the corpus has a mid-similarity boilerplate band and the
    choice is consequential; a flat curve means any τ serves).
    Complements dedup_minhash_eval (which scores the CANDIDATE
    GENERATOR at one τ) by sweeping the decision itself.

    Exactness: jaccard values are exact integer ratios (the
    dedup_ngram_jaccard discipline), and jaccard·10 ≥ τ compares
    identically computed doubles against exact integers; pair counts
    are exact.  The τ fan is 5 rows against the (already ≥0.5) pair
    set — constant-size cross, the permutation-fan shape.

    Scale: the pair source IS the banded-LSH path (candidates verified
    by exact Jaccard — the dedup_cluster_keepers discipline; the first
    cut consumed the exact all-pairs shingle join and the 10x probe
    measured 8.9 s → 214 s on the duplicate-heavy replica); the oracle
    still sweeps the EXACT pair set, so passing certifies banding found
    every ≥0.5 edge before the knob analysis."""
    feats = minhash_feature_table(load_table(spark, sf_dir, "documents")).persist()
    pairs = minhash_lsh_pairs(feats)
    taus = spark.range(5, 10).select(F.col("id").cast("int").alias("tau_x10"))
    return (
        taus.crossJoin(pairs)
        .groupBy("tau_x10")
        .agg(
            F.sum(
                F.when(F.col("jaccard") * 10 >= F.col("tau_x10"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_pairs")
        )
    )


# --------------------------------------------------------------------------
# dedup_source_overlap_matrix — which sources mirror each other
# --------------------------------------------------------------------------

_SOURCE_OVERLAP_ORACLE = """
    WITH toks AS (
        SELECT source, string_split(lower(trim(text)), ' ') AS ws FROM documents
    ), sh AS (
        SELECT source,
               unnest(CASE WHEN len(ws) >= 3
                           THEN list_distinct([array_to_string(ws[i:i+2], ' ')
                                               for i in range(1, len(ws) - 1)])
                           ELSE [] END) AS shingle
        FROM toks
    ), ss AS (
        SELECT DISTINCT source, shingle FROM sh
    ), sizes AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS sz FROM ss GROUP BY source
    ), inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS shared_shingles
        FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT i.source_a, i.source_b, i.shared_shingles,
           CAST(i.shared_shingles * 1000000
                // (sa.sz + sb.sz - i.shared_shingles) AS BIGINT) AS jaccard_ppm
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
"""


@query("dedup_source_overlap_matrix", oracle=_SOURCE_OVERLAP_ORACLE)
def dedup_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE content-overlap matrix: for every source pair, the
    Jaccard similarity (floor-scaled ppm) of their distinct 3-word
    shingle SETS — the provenance census that catches mirror sites,
    re-crawled feeds, and scraper duplication BEFORE doc-level dedup
    runs (dedup_rate_by_source reports within-source duplication; this
    is the between-source map that says which source pairs to dedup
    against each other, and which are disjoint and can be sharded
    apart).

    Integer-exact: shared/size counts are BIGINTs from distinct-set
    groupBys; the only division is one floor-scaled ppm per pair.

    Scale: the shingle→source census is one distinct over (shingle,
    source) — the same shuffle dedup_ngram_jaccard already pays, but
    grouped to |sources| rows per shingle instead of doc pairs.  The
    self-join fan-out per shingle is bounded by |sources|² (a catalog
    constant, not a data size), and the output is |sources|²/2 rows.
    At 100 TB this is strictly cheaper than any doc-level near-dup
    pass, which is why it runs first in a curation funnel."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    toks = docs.withColumn("ws", F.split(F.lower(F.trim(F.col("text"))), " "))
    sh = F.when(
        F.size("ws") >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - 2),
                lambda i: F.concat_ws(" ", F.slice("ws", i, 3)),
            )
        ),
    ).otherwise(F.array())
    ss = toks.select("source", F.explode(sh).alias("shingle")).distinct()
    sizes = ss.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    inter = (
        ss.alias("a")
        .join(
            ss.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_shingles"))
    )
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("source").alias("source_a"), F.col("sz").alias("sza"))),
            "source_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("source_b"), F.col("sz").alias("szb"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "shared_shingles",
            F.expr("shared_shingles * 1000000 div (sza + szb - shared_shingles)")
            .cast("long")
            .alias("jaccard_ppm"),
        )
    )


# --------------------------------------------------------------------------
# dedup_lsh_banding_planner — (bands, rows) S-curve design table
# --------------------------------------------------------------------------

LSH_PLANNER_CONFIGS = ((2, 8), (4, 4), (8, 2), (16, 1), (8, 4), (16, 2))

_LSH_PLANNER_ORACLE = f"""
    WITH cfg(b, r) AS (
        VALUES {", ".join(f"({b}, {r})" for b, r in LSH_PLANNER_CONFIGS)}
    ), j(j_x10) AS (
        SELECT unnest(range(1, 10))
    )
    SELECT CAST(b AS INT) AS b, CAST(r AS INT) AS r,
           CAST(b * r AS INT) AS signature_size,
           CAST(j_x10 AS INT) AS j_x10,
           CAST(FLOOR((1 - POW(1 - POW(j_x10 / 10.0, r), b)) * 1000000)
                AS BIGINT) AS p_detect_ppm
    FROM cfg, j
"""


@query("dedup_lsh_banding_planner", oracle=_LSH_PLANNER_ORACLE)
def dedup_lsh_banding_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH BANDING PLANNER: the S-curve P(candidate | jaccard) =
    1 − (1 − j^r)^b tabulated for every (bands, rows-per-band) config a
    team would consider, at Jaccard 0.1..0.9 — the design table that
    turns "pick b and r" from folklore into a read-off (the engine's
    own production choice, {4}×{4} in dedup_minhash_lsh, shows its
    knee at j≈0.5 = JACCARD_THRESHOLD; a (16,1) row shows why
    single-row bands flood the verifier with low-j candidates).
    Companion to dedup_threshold_sensitivity: that op sweeps the
    verify-side τ on REAL pairs; this plans the generate-side hash
    budget before any data is touched.

    Determinism: the fan is a VALUES table (zero scan); each row takes
    two POWs of exact rationals and is immediately floor-scaled to ppm
    (the libm-boundary argument of the LN family — a last-ulp pow
    difference cannot move a ppm floor except on a measure-zero tie).

    Scale: scale-free by construction — |configs|×9 rows regardless of
    corpus; it runs before the corpus is even mounted."""
    cfg_rows = ", ".join(f"({b}, {r})" for b, r in LSH_PLANNER_CONFIGS)
    return spark.sql(
        f"""
        SELECT CAST(b AS INT) AS b, CAST(r AS INT) AS r,
               CAST(b * r AS INT) AS signature_size,
               CAST(j_x10 AS INT) AS j_x10,
               CAST(FLOOR((1 - POW(1 - POW(j_x10 / 10.0, r), b)) * 1000000)
                    AS BIGINT) AS p_detect_ppm
        FROM (VALUES {cfg_rows}) AS cfg(b, r)
        LATERAL VIEW explode(sequence(1, 9)) AS j_x10
        """
    )


# --------------------------------------------------------------------------
# dedup_url_canonical — crawl-frontier URL canonicalization dedup
# --------------------------------------------------------------------------


def _url_canonical_sql(idiv: str) -> str:
    """Shared URL-canonicalization text; integer division per dialect.
    The messy URL is synthesized deterministically from doc metadata
    (the scalar_url_parsing convention) with doc_id DIV 2 in the path,
    so adjacent ids are true duplicates once the cosmetic variance
    (scheme/host case, default port, utm params, fragment, trailing
    slash) is canonicalized away."""
    return f"""
WITH raw AS (
    -- identity components (host site id, path) derive from doc_id DIV 2,
    -- so each adjacent id pair names the SAME resource; cosmetic variance
    -- (case, port, utm, fragment, slash) derives from doc_id itself
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://' ELSE 'https://' END
           || CASE WHEN doc_id % 2 = 0
                   THEN 'SITE' || CAST((doc_id {idiv} 2) % 20 AS STRING)
                   ELSE 'site' || CAST((doc_id {idiv} 2) % 20 AS STRING) END
           || '.example.com'
           || CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END
           || '/docs/' || CAST(doc_id {idiv} 2 AS STRING)
           || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
           || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed' ELSE '' END
           || CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END AS url
    FROM {{documents}}
), canon AS (
    SELECT doc_id, url,
           REGEXP_REPLACE(
             REGEXP_REPLACE(
               REGEXP_REPLACE(
                 REGEXP_REPLACE(
                   LOWER(REGEXP_EXTRACT(url, '^[A-Za-z]+://[^/?#]+', 0))
                   || SUBSTRING(url, LENGTH(REGEXP_EXTRACT(url, '^[A-Za-z]+://[^/?#]+', 0)) + 1),
                   -- port strip needs no anchor: ':' cannot occur outside
                   -- the authority in these URLs (and backreference
                   -- replacement syntax is NOT dialect-shared: Java $1 vs
                   -- RE2 \1 — production uses a parser here)
                   ':443', ''),
                 '#.*$', ''),
               '[?]utm_[^#]*', ''),
             '/$', '') AS canonical_url
    FROM raw
)
SELECT canonical_url,
       CAST(COUNT(*) AS BIGINT) AS n_variants,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
FROM canon
GROUP BY canonical_url
"""


@query("dedup_url_canonical", oracle=bare_tables(_url_canonical_sql("//")))
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the ZERO-FETCH dedup tier of a web
    crawl pipeline, upstream of every content-based tier in this
    module: before fetching (or embedding) anything, collapse URL
    variants that differ only cosmetically — scheme/host case, the
    protocol's default port, tracking parameters (utm_*), fragments,
    trailing slashes — and keep one representative per canonical URL.
    On a crawl frontier this removes a large slice of candidate fetches
    for pure string-processing cost; content tiers (exact sha, MinHash)
    then catch what URL identity cannot.

    The messy URLs are synthesized deterministically from doc metadata
    (the scalar_url_parsing convention) with ~2 docs per canonical
    target, so the oracle can rebuild and canonicalize them
    independently; canonicalization itself is the honest path — parse
    and rewrite the STRING, not the parts it was built from.  Both
    engines run the identical regex chain (patterns chosen inside the
    Java-regex ∩ RE2 common dialect, the BPE_PRETOKEN_PATTERN
    discipline — and BACKSLASH-FREE, because the engines' SQL string
    literals disagree on backslash escaping: Spark consumes it, DuckDB
    keeps it; '[?]' spells a literal '?' in both).

    Scale: a narrow codegen'd per-row map (five regexes) plus ONE
    groupBy on the canonical key — the cheapest shuffle in the dedup
    ladder; output is |canonical| rows with variant counts and the
    deterministic min-id keeper."""
    return spark.sql(
        _url_canonical_sql("DIV"),
        documents=load_table(spark, sf_dir, "documents"),
    )


# --------------------------------------------------------------------------
# dedup_winnowing_pairs — MOSS-style shared-fingerprint pair census
# --------------------------------------------------------------------------

WINNOW_PAIR_MIN_SHARED = 2  # fingerprints a pair must share to be reported
# Hot-posting cap: winnowing's minimum-selection concentrates globally small
# hash values, so a fingerprint carried by a common span can be shared by
# hundreds of docs — and pairs per posting grow QUADRATICALLY in its length
# (measured 116 s at sf0.1 uncapped).  A fingerprint on more than this many
# docs is boilerplate, not plagiarism (text_boilerplate_ngrams is the
# detector for THAT); keep the deterministic lowest doc_ids.
WINNOW_POSTING_CAP = 16

_WINNOW_PAIRS_ORACLE = """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), grams AS (
    SELECT doc_id,
           CASE WHEN len(ws) >= 3
                THEN list_transform(
                    range(1, len(ws) - 1),
                    i -> CAST(('0x' || substring(md5(
                             array_to_string(ws[i:i+2], ' ')),
                             1, 8)) AS BIGINT))
                ELSE CAST([] AS BIGINT[]) END AS hs
    FROM toks
), picked AS (
    SELECT doc_id,
           CASE WHEN len(hs) >= 4
                THEN list_distinct(list_transform(
                    range(1, len(hs) - 2),
                    i -> list_min(hs[i:i+3])))
                ELSE list_distinct(
                    CASE WHEN len(hs) > 0 THEN [list_min(hs)]
                         ELSE CAST([] AS BIGINT[]) END) END AS fps
    FROM grams
), posting_all AS (
    SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps, unnest(fps) AS fp
    FROM picked
), posting AS (
    SELECT doc_id, n_fps, fp
    FROM (
        SELECT doc_id, n_fps, fp,
               ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS pr
        FROM posting_all
    ) t WHERE pr <= 16
), pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared,
           CAST(MAX(a.n_fps) AS BIGINT) AS n_fps_a,
           CAST(MAX(b.n_fps) AS BIGINT) AS n_fps_b
    FROM posting a JOIN posting b
      ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_shared, n_fps_a, n_fps_b,
       CAST(n_shared * 1000000 // LEAST(n_fps_a, n_fps_b) AS BIGINT)
           AS containment_ppm
FROM pairs
WHERE n_shared >= 2
"""


@query("dedup_winnowing_pairs", oracle=_WINNOW_PAIRS_ORACLE)
def dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PAIR census that makes text_winnowing_fingerprints actionable
    — MOSS's actual output: document pairs sharing >= 2 selected
    fingerprints, with each side's fingerprint count and the containment
    share (shared / smaller side, in ppm).  Winnowing's guarantee makes
    this the principled substring-overlap detector: any shared run of
    w+k−1 = 6 tokens MUST surface at least one common fingerprint, so a
    pair sharing several is overlapping text, not hash luck — the
    plagiarism/boilerplate-overlap tier between exact dedup (identical
    payloads) and MinHash (global resemblance, no locality guarantee).

    Determinism: fingerprints are the same md5-derived integers as
    text_winnowing_fingerprints (portable across engines); counts and
    the ppm containment are exact integer arithmetic.

    Scale: the pair join is a POSTING-LIST self-join on fingerprint
    value — never all-pairs — and hot postings are CAPPED at the
    {WINNOW_POSTING_CAP} lowest doc_ids per fingerprint (deterministic;
    partitioned window, guard-clean).  The cap matters because
    winnowing's minimum-selection concentrates globally small hash
    values: a fingerprint shared by hundreds of docs is boilerplate
    (text_boilerplate_ngrams' job), and without the cap its pairs grow
    quadratically (measured 116 s at sf0.1; capped: see the r8 probe
    table).  Per-doc selection is row-local array code, no shuffle —
    and CPU-dense (one md5 per token trigram), so the scan is
    cpu_parallel'd (r11: a single-row-group table ran the whole md5
    kernel on ONE task; spreading it measured 3.9 → 2.8 s median at
    sf0.1; a no-op at 100 TB where the scan out-splits the cores)."""
    docs = cpu_parallel(load_table(spark, sf_dir, "documents"))
    ws = F.split("text", " ")
    grams = F.when(
        F.size(ws) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 2),
            lambda i: F.conv(
                F.substring(F.md5(F.concat_ws(" ", F.slice(ws, i, 3))), 1, 8),
                16,
                10,
            ).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    picked = docs.select("doc_id", grams.alias("hs")).select(
        "doc_id",
        F.when(
            F.size("hs") >= 4,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("hs") - 3),
                    lambda i: F.array_min(F.slice("hs", i, 4)),
                )
            ),
        )
        .otherwise(
            F.array_distinct(
                F.when(F.size("hs") > 0, F.array(F.array_min("hs"))).otherwise(
                    F.array().cast("array<long>")
                )
            )
        )
        .alias("fps"),
    )
    from pyspark.sql import Window

    # Materialization boundary: without it CollapseProject inlines the
    # O(tokens) md5-gram array into EVERY slice() inside the winnowing
    # lambda once the explode collapses the projections — O(tokens²) per
    # doc, measured 102 s at sf0.1 for work that costs 7 s evaluated once.
    # Persisting the 1-row-per-doc fingerprint arrays pins single
    # evaluation; the engine's query-boundary clear_caches reclaims it.
    picked = picked.persist()
    posting_all = picked.select(
        "doc_id",
        F.size("fps").cast("long").alias("n_fps"),
        F.explode("fps").alias("fp"),
    )
    # r11 (guide §2.4): the capped posting lists pair up ROW-LOCALLY.
    # The former spelling shuffled the postings TWICE (a row_number
    # window to cap, then a fp-keyed self-join whose both sides re-ran
    # the explode) and re-grouped the join output.  The cap itself stays
    # a row_number window (r12, per the r11 advice): an uncapped
    # collect_list buffers a hot fingerprint's ENTIRE posting list in one
    # aggregation buffer — boilerplate fingerprints shared by millions of
    # docs at 100 TB are exactly the hot keys the cap exists for, and the
    # window's sort spills gracefully where the array buffer OOMs.  The
    # window and the groupBy share ONE exchange (both keyed on fp), so
    # the collect_list that feeds the row-local a<b pairing now holds at
    # most WINNOW_POSTING_CAP structs — identical members to the sorted
    # slice, since doc_id is unique per posting.
    w_cap = Window.partitionBy("fp").orderBy("doc_id")
    caps = (
        posting_all.withColumn("rk", F.row_number().over(w_cap))
        .filter(F.col("rk") <= WINNOW_POSTING_CAP)
        .groupBy("fp")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "n_fps"))).alias("ds"))
    )
    pair_rows = caps.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (a, i) ->"
                " transform(slice(ds, i + 2, size(ds)), b ->"
                " struct(a.doc_id AS doc_a, b.doc_id AS doc_b,"
                " a.n_fps AS n_fps_a, b.n_fps AS n_fps_b))))"
            )
        ).alias("p")
    ).select("p.*")
    pairs = (
        pair_rows.groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared"),
            F.max("n_fps_a").cast("long").alias("n_fps_a"),
            F.max("n_fps_b").cast("long").alias("n_fps_b"),
        )
        .filter(F.col("n_shared") >= WINNOW_PAIR_MIN_SHARED)
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        "n_shared",
        "n_fps_a",
        "n_fps_b",
        F.expr(
            "CAST(n_shared * 1000000 DIV LEAST(n_fps_a, n_fps_b) AS BIGINT)"
        ).alias("containment_ppm"),
    )


# --------------------------------------------------------------------------
# embedding_semdedup — SemDeDup (Abbas et al. 2023): cluster, then dedup
# WITHIN clusters by cosine
# --------------------------------------------------------------------------

SEMDEDUP_K = 4  # minimum coarse clusters (fixture floor)
SEMDEDUP_TARGET = 500  # target members per cluster: k = max(K, n DIV target)
SEMDEDUP_TAU = 0.4  # within-cluster cosine dedup threshold
# Past this k the exact n·k E-step swaps for the IVF two-level assignment
# (r10 verdict ask #2 — the docstring promised the swap in prose; this is
# the switch in code).  64 keeps every oracle-checked scale exact
# (k = 4/4/40 at sf0.001/0.01/0.1) while the 100x probe (k = 400)
# engages the IVF tier.
SEMDEDUP_IVF_SWITCH = 64

# k scales with the table (r10: the 100x probe discipline) — a FIXED k
# makes the within-cluster pair stage Σ|cluster|² ~ n²/k, i.e. quadratic
# per decade of growth; k = n/target keeps cluster size ~constant so the
# pair stage is ~n·target — linear, the posture the SemDeDup paper
# prescribes.  Both engines derive k from the same COUNT so the fixture
# scales (n=200 / n=2000 -> k=4) are bit-unchanged.
_SEMDEDUP_K_SQL = (
    f"GREATEST({SEMDEDUP_K}, (SELECT COUNT(*) FROM embeddings)"
    f" // {SEMDEDUP_TARGET})"
)

# Shared oracle pieces: _SEMDEDUP_PRE (unnested vectors, norms,
# centroids) and _SEMDEDUP_POST (within-cluster pair dedup + shrink
# report) sandwich an ASSIGNMENT block — exact one-level for
# embedding_semdedup, two-level IVF for embedding_semdedup_ivf.
_SEMDEDUP_PRE = f"""
WITH x AS (
    SELECT vec_id,
           unnest(CAST(embedding AS DOUBLE[])) AS val,
           unnest(range(1, len(embedding) + 1)) AS pos
    FROM embeddings
), nrm AS (
    SELECT vec_id, SQRT(list_sum(list(val * val ORDER BY pos))) AS nrm
    FROM x GROUP BY vec_id
), c1 AS (
    SELECT vec_id AS cl, pos, val AS cv FROM x
    WHERE vec_id < {_SEMDEDUP_K_SQL}
)"""

_SEMDEDUP_ASSIGN_EXACT = """, a1 AS (
    SELECT x.vec_id, c.cl,
           list_sum(list((x.val - c.cv) * (x.val - c.cv)
                         ORDER BY x.pos)) AS dist
    FROM x JOIN c1 c ON c.pos = x.pos
    GROUP BY x.vec_id, c.cl
), asg AS (
    SELECT vec_id, cl FROM (
        SELECT vec_id, cl,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cl) AS rn
        FROM a1) t
    WHERE rn = 1
)"""

# kc = max(2, floor(sqrt(k))): IEEE sqrt is correctly rounded, so sqrt of
# a perfect square is exact and FLOOR can't land one under — matches
# Python's math.isqrt for every k both engines can derive here.
_SEMDEDUP_KC_SQL = (
    f"GREATEST(2, CAST(FLOOR(SQRT(CAST({_SEMDEDUP_K_SQL} AS DOUBLE)))"
    " AS BIGINT))"
)

_SEMDEDUP_ASSIGN_IVF = f""", reps AS (
    SELECT vec_id AS rep, pos, val AS rv FROM x
    WHERE vec_id < {_SEMDEDUP_KC_SQL}
), cc AS (
    SELECT c.cl, r.rep,
           list_sum(list((c.cv - r.rv) * (c.cv - r.rv)
                         ORDER BY c.pos)) AS cdist
    FROM c1 c JOIN reps r ON r.pos = c.pos
    GROUP BY c.cl, r.rep
), ccell AS (
    SELECT cl, rep AS cell FROM (
        SELECT cl, rep,
               ROW_NUMBER() OVER (PARTITION BY cl
                                  ORDER BY cdist, rep) AS rn
        FROM cc) t
    WHERE rn = 1
), vc AS (
    SELECT x.vec_id, r.rep,
           list_sum(list((x.val - r.rv) * (x.val - r.rv)
                         ORDER BY x.pos)) AS vdist
    FROM x JOIN reps r ON r.pos = x.pos
    GROUP BY x.vec_id, r.rep
), vcell AS (
    SELECT vec_id, rep AS cell FROM (
        SELECT vec_id, rep,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY vdist, rep) AS rn
        FROM vc) t
    WHERE rn = 1
), a1 AS (
    SELECT x.vec_id, c.cl,
           list_sum(list((x.val - c.cv) * (x.val - c.cv)
                         ORDER BY x.pos)) AS dist
    FROM x
    JOIN vcell vl ON vl.vec_id = x.vec_id
    JOIN ccell ce ON ce.cell = vl.cell
    JOIN c1 c ON c.cl = ce.cl AND c.pos = x.pos
    GROUP BY x.vec_id, c.cl
), asg AS (
    SELECT vec_id, cl FROM (
        SELECT vec_id, cl,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cl) AS rn
        FROM a1) t
    WHERE rn = 1
)"""

_SEMDEDUP_POST = f""", pair_dot AS (
    SELECT ia.cl, ia.vec_id AS u, ib.vec_id AS v,
           list_sum(list(xa.val * xb.val ORDER BY xa.pos)) AS dot
    FROM asg ia
    JOIN asg ib ON ia.cl = ib.cl AND ia.vec_id < ib.vec_id
    JOIN x xa ON xa.vec_id = ia.vec_id
    JOIN x xb ON xb.vec_id = ib.vec_id AND xb.pos = xa.pos
    GROUP BY ia.cl, ia.vec_id, ib.vec_id
), dropped AS (
    SELECT DISTINCT p.cl, p.v AS vec_id
    FROM pair_dot p
    JOIN nrm na ON na.vec_id = p.u
    JOIN nrm nb ON nb.vec_id = p.v
    WHERE p.dot / (na.nrm * nb.nrm) >= {SEMDEDUP_TAU}
)
SELECT CAST(a.cl AS BIGINT) AS cluster,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dropped,
       CAST(SUM(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept
FROM asg a
LEFT JOIN dropped d ON d.cl = a.cl AND d.vec_id = a.vec_id
GROUP BY a.cl
"""

_SEMDEDUP_ORACLE = _SEMDEDUP_PRE + _SEMDEDUP_ASSIGN_EXACT + _SEMDEDUP_POST
_SEMDEDUP_IVF_ORACLE = _SEMDEDUP_PRE + _SEMDEDUP_ASSIGN_IVF + _SEMDEDUP_POST


def _ivf_assign(vecs: DataFrame, cents: DataFrame, kc: int) -> DataFrame:
    """IVF TWO-LEVEL E-step (r10 verdict ask #2): assign each vector to
    its nearest CENTROID by first routing through kc coarse
    representatives (the kc lowest-id centroids — the same
    lowest-ids-first convention as the centroid init itself), then
    scanning only the centroids whose own nearest representative matches
    (nprobe = 1).  Cost per vector: kc + k/kc distances instead of k —
    at k = n/target this turns the E-step's n·k into n·2√k, which is
    the whole point of an inverted-file index (Jégou et al. 2011,
    "Product Quantization for Nearest Neighbor Search" — the IVF coarse
    quantizer).  Approximation is confined to ASSIGNMENT (a vector whose
    true nearest centroid lives in a different coarse cell gets its
    best same-cell centroid instead); the within-cluster dedup stage is
    exact either way.

    Determinism: every distance is the same ordered zip_with fold as the
    exact path; both argmins are min_by over the total order
    (dist, id); cells, like centroids, are data-derived integers.
    embedding_semdedup_ivf pins these semantics against a DuckDB oracle
    that models the identical two-level route at fixture scale.

    Inputs: vecs (vec_id, v, ...), cents (cl, cv).  Returns
    (vec_id, cl)."""
    reps = F.broadcast(
        cents.filter(F.col("cl") < kc).select(
            F.col("cl").alias("rep"), F.col("cv").alias("rv")
        )
    )
    sqdist = lambda x, y: F.aggregate(  # noqa: E731 — shared fold shape
        F.zip_with(x, y, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    ccell = (
        cents.crossJoin(reps)
        .select("cl", "rep", sqdist("cv", "rv").alias("cdist"))
        .groupBy("cl")
        .agg(F.expr("min_by(rep, struct(cdist, rep))").alias("cell"))
    )
    vcell = (
        vecs.select("vec_id", "v")
        .crossJoin(reps)
        .select("vec_id", "rep", sqdist("v", "rv").alias("vdist"))
        .groupBy("vec_id")
        .agg(F.expr("min_by(rep, struct(vdist, rep))").alias("cell"))
    )
    cents_cell = F.broadcast(cents.join(ccell, "cl"))  # k rows
    return (
        vecs.select("vec_id", "v")
        .join(vcell, "vec_id")
        .join(cents_cell, "cell")
        .select("vec_id", "cl", sqdist("v", "cv").alias("dist"))
        .groupBy("vec_id")
        .agg(F.expr("min_by(cl, struct(dist, cl))").alias("cl"))
    )


@query("embedding_semdedup", oracle=_SEMDEDUP_ORACLE)
def embedding_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC
    deduplication — k-means-cluster the embedding space coarsely, then
    run the expensive pairwise-cosine dedup only WITHIN clusters,
    dropping every vector that has a lower-id cluster-mate at cosine >=
    {SEMDEDUP_TAU} (the paper keeps one representative per semantic
    duplicate group; lowest-id-wins makes that deterministic).  Reported
    per cluster: members, dropped, kept — the shrink table a curation
    run records.  This is the missing middle tier between exact
    embedding dedup (dedup_embedding_cosine, all-pairs) and LSH
    (dedup_embedding_lsh, probabilistic): clustering bounds the
    quadratic stage EXACTLY like LSH bucketing but with a trained,
    data-adaptive partition.

    Determinism: assignment is one Lloyd E-step from the deterministic
    init (the {SEMDEDUP_K} lowest vec_ids' vectors — embedding_kmeans_
    lloyd's convention); every double fold (distance, norm, dot) gathers
    terms in pos order and folds left-to-right, bit-identical on both
    engines; the drop rule compares those bit-identical cosines with an
    integer id tiebreak.

    Scale: the E-step is the k-row centroid-array broadcast (allowlisted
    kmeans design — no n×k×dim explode); the within-cluster pair join is
    an EQUI-join on cluster id, so pair volume is Σ|cluster|² — bounded
    by choosing k ~ n/target_cluster_size exactly as the paper does
    (k={SEMDEDUP_K} here is fixture-scale; the knob, not the shape,
    changes at 100 TB).  Norms ride the vector rows; no window beyond
    the per-vec argmin."""
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", F.transform("embedding", lambda v: v.cast("double")).alias("v")
    ).withColumn(
        "nrm",
        F.sqrt(
            F.aggregate(
                F.transform("v", lambda t: t * t), F.lit(0.0), lambda acc, t: acc + t
            )
        ),
    ).persist()
    # adaptive k (see _SEMDEDUP_K_SQL): one bounded count job, then the
    # k-lowest-id init — identical arithmetic to the oracle's GREATEST
    k = max(SEMDEDUP_K, vecs.count() // SEMDEDUP_TARGET)
    cents = vecs.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cl"), F.col("v").alias("cv")
    )
    dist_expr = F.aggregate(
        F.zip_with("v", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    # E-step argmin WITHOUT the n×k sort window (r10 100x-probe rewrite):
    # the old shape cross-joined the full vector rows with the centroids
    # and ranked with row_number over (dist, cl) — an n×k-row SORT whose
    # rows each carried the 64-double embedding (at the 100x replica:
    # 80M rows × ~0.5 KB ≈ 40 GB through one window stage, 74.9 s).  Now
    # only (vec_id, cl, dist) triples leave the scoring projection and
    # min_by(cl, struct(dist, cl)) — the same (dist, cl) total order the
    # oracle's ROW_NUMBER uses — collapses them map-side: the broadcast
    # cross join keeps every vec's k rows in one input partition, so the
    # partial aggregate emits ONE row per vector and the exchange moves
    # n rows, not n×k.  Vectors and norms re-attach by a nodes-sized
    # equi-join.  Re-probed 33.3 s at 100x (was 74.9 s) — the E-step is
    # back to the n·k compute floor (which itself is the documented
    # adaptive-k trade: k ~ n/target keeps the PAIR stage linear at the
    # price of an n·k E-step; past k = SEMDEDUP_IVF_SWITCH the exact
    # assignment swaps for the IVF two-level tier — in CODE, r10 verdict
    # ask #2: _ivf_assign routes through max(2, isqrt(k)) coarse reps so
    # the E-step is n·2√k.  Every oracle-checked scale stays on the
    # exact path (k <= 40 at sf0.1); the 100x probe (k = 400) engages
    # the IVF tier, whose semantics embedding_semdedup_ivf pins against
    # its own two-level oracle at fixture scale.
    if k > SEMDEDUP_IVF_SWITCH:
        import logging
        import math

        kc = max(2, math.isqrt(k))
        logging.getLogger(__name__).info(
            "embedding_semdedup: k=%d > %d — IVF two-level E-step engaged"
            " (kc=%d coarse cells)", k, SEMDEDUP_IVF_SWITCH, kc,
        )
        asg_ids = _ivf_assign(vecs, cents, kc)
    else:
        asg_ids = (
            vecs.select("vec_id", "v")
            .crossJoin(F.broadcast(cents))
            .select("vec_id", "cl", dist_expr.alias("dist"))
            .groupBy("vec_id")
            .agg(F.expr("min_by(cl, struct(dist, cl))").alias("cl"))
        )
    return _semdedup_report(vecs, asg_ids)


def _semdedup_report(vecs: DataFrame, asg_ids: DataFrame) -> DataFrame:
    """Shared post-assignment SemDeDup stages (exact regardless of which
    E-step produced ``asg_ids``): within-cluster pair join, cosine >=
    SEMDEDUP_TAU lower-id-wins drop rule, per-cluster shrink report.
    Split out so embedding_semdedup (adaptive exact/IVF switch) and
    embedding_semdedup_ivf (forced IVF, own two-level oracle) share one
    dedup stage byte-for-byte."""
    asg = asg_ids.join(vecs, "vec_id").select("vec_id", "v", "nrm", "cl").persist()
    a, b = asg.alias("a"), asg.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda s, t: s * t),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    dropped = (
        a.join(
            b,
            (F.col("a.cl") == F.col("b.cl"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(dot / (F.col("a.nrm") * F.col("b.nrm")) >= F.lit(SEMDEDUP_TAU))
        .select(F.col("b.cl").alias("dcl"), F.col("b.vec_id").alias("dvec"))
        .distinct()
    )
    out = (
        asg.join(
            dropped,
            (asg.cl == dropped.dcl) & (asg.vec_id == dropped.dvec),
            "left",
        )
        .groupBy(F.col("cl").cast("long").alias("cluster"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum(F.when(F.col("dvec").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
            F.sum(F.when(F.col("dvec").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
        )
    )
    return out


@query("embedding_semdedup_ivf", oracle=_SEMDEDUP_IVF_ORACLE)
def embedding_semdedup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the IVF TWO-LEVEL E-step FORCED at fixture scale
    (r10 verdict ask #2 companion to the in-operator switch): same
    adaptive k, same centroids, same within-cluster dedup stage as
    embedding_semdedup — but assignment routes through
    kc = max(2, isqrt(k)) coarse representatives with nprobe = 1, and
    the DuckDB oracle models the IDENTICAL two-level route (reps ->
    centroid cells -> vector cells -> same-cell fine argmin), so the
    approximate tier's exact semantics are hash-pinned, not just
    claimed.  This is the operator that certifies what
    embedding_semdedup silently switches to past k = SEMDEDUP_IVF_SWITCH
    — at any scale where both tiers are computable, the switch changes
    only cost, never an undefined behavior.

    Scale: the E-step is n·(kc + k/kc) distances instead of n·k — the
    100x probe's k = 400 pays 40 per vector instead of 400; the coarse
    route is two broadcast crossJoins (kc-row and k-row build sides)
    collapsed map-side by min_by, then ONE equi-join on the cell id —
    the inverted-list probe an IVF index does, as a Spark plan."""
    import math

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", F.transform("embedding", lambda v: v.cast("double")).alias("v")
    ).withColumn(
        "nrm",
        F.sqrt(
            F.aggregate(
                F.transform("v", lambda t: t * t), F.lit(0.0), lambda acc, t: acc + t
            )
        ),
    ).persist()
    k = max(SEMDEDUP_K, vecs.count() // SEMDEDUP_TARGET)
    kc = max(2, math.isqrt(k))
    cents = vecs.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cl"), F.col("v").alias("cv")
    )
    return _semdedup_report(vecs, _ivf_assign(vecs, cents, kc))


# --------------------------------------------------------------------------
# dedup_exact_substring_spans — ExactSubstr removal candidates (Lee et al.
# 2022, "Deduplicating Training Data Makes Language Models Better")
# --------------------------------------------------------------------------

ES_SPAN_K = 8  # tokens per exact-substring span (matches curation.SPAN_K)

_ES_SPANS_SQL = f"""
WITH toks AS (
    SELECT doc_id, source, tok,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS i
    FROM (
        SELECT doc_id, source,
               unnest(string_split(text, ' ')) AS tok,
               unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
        FROM documents
    ) t WHERE tok <> ''
), ntok AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM toks GROUP BY doc_id
), spans AS (
    SELECT a.doc_id, a.source, a.i,
           MD5(string_agg(b.tok, ' ' ORDER BY b.i)) AS h
    FROM toks a JOIN toks b
      ON b.doc_id = a.doc_id AND b.i >= a.i AND b.i < a.i + {ES_SPAN_K}
    GROUP BY a.doc_id, a.source, a.i
    HAVING COUNT(*) = {ES_SPAN_K}
), span_docs AS (
    SELECT h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
    FROM spans GROUP BY h
), joined AS (
    SELECT s.doc_id, s.source, s.i, d.df
    FROM spans s JOIN span_docs d ON d.h = s.h
), per_doc AS (
    SELECT doc_id, source,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_spans
    FROM joined GROUP BY doc_id, source
), cov AS (
    -- interval-union length of the K-length dup spans per doc: sorted
    -- starts telescope as min(start - prev_start, K), first span = K
    SELECT doc_id, CAST(SUM(add_tok) AS BIGINT) AS covered_tokens
    FROM (
        SELECT doc_id,
               COALESCE(LEAST(i - LAG(i) OVER (PARTITION BY doc_id
                                               ORDER BY i),
                              {ES_SPAN_K}), {ES_SPAN_K}) AS add_tok
        FROM joined WHERE df > 1
    ) t GROUP BY doc_id
)
SELECT p.doc_id, p.source, n.n_tokens, p.n_spans, p.n_dup_spans,
       c.covered_tokens,
       CAST(c.covered_tokens * 1000000 // n.n_tokens AS BIGINT)
           AS covered_ppm,
       c.covered_tokens * 2 > n.n_tokens AS remove_candidate
FROM per_doc p
JOIN cov c ON c.doc_id = p.doc_id
JOIN ntok n ON n.doc_id = p.doc_id
WHERE p.n_dup_spans > 0
"""


@query("dedup_exact_substring_spans", oracle=_ES_SPANS_SQL)
def dedup_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING dedup candidates (the public ExactSubstr shape of
    Lee et al. 2022): every {ES_SPAN_K}-token rolling span is
    fingerprinted; spans appearing in >= 2 DISTINCT documents are
    duplicated text, and each affected document reports its duplicated
    SPAN MASS — the count of token POSITIONS covered by at least one
    shared span (the interval-union length the paper's suffix-array
    pass computes), as exact ppm of the document, plus the
    majority-coverage removal flag.  This PROMOTES the audit-level
    text_memorization_span_mass (per-source census) to the actionable
    per-document candidate list an ExactSubstr cleaning job consumes:
    which docs, how much of each, cut-or-keep.

    Determinism: span fingerprints are MD5 of the space-joined token
    window (identical both engines); coverage is COUNT(DISTINCT
    position) over the exploded [i, i+K) spans — exact integers end to
    end; the ppm is integer floor division; the flag is exact integer
    comparison.

    Scale: span building is ROW-LOCAL (split once, fingerprint every
    window by array slicing in one projection — the span-mass probe
    lesson: the windowed self-join form measured 12x at 10x); df is one
    span-hash groupBy (additive — salt at 100 TB, the standard
    two-level fold); the df enrichment join is 1:1 per span occurrence
    (NO pairwise posting join anywhere, so the winnowing hot-posting
    cap is structurally unnecessary here — per-doc costs are linear in
    doc length); coverage is the interval-union length of the K-length
    dup spans, computed by the sorted-lag telescope min(i - prev, K)
    under a PARTITION BY doc_id window (per-doc frame, no K-fanout —
    the first cut exploded every dup span to its {ES_SPAN_K} positions
    into a distinct count and probed 8.3x at 10x on a fully-duplicated
    replica; the lag form re-probed flat).  Output is |docs with any
    shared span| rows.

    Reference semantics: the C++/Rust suffix-array pipeline of
    github.com/google-research/deduplicate-text-datasets re-expressed
    as rolling-hash postings (no suffix array needed at fixed K).

    r11: the scan is cpu_parallel'd — the per-window md5 kernel is
    CPU-dense row-local work, and a single-row-group table ran it all
    on ONE task (the winnowing fix; no-op at 100 TB)."""
    docs = cpu_parallel(load_table(spark, sf_dir, "documents"))
    arrs = docs.select(
        "doc_id",
        "source",
        F.filter(F.split("text", " "), lambda t: t != "").alias("arr"),
    ).persist()
    k = ES_SPAN_K
    spans = arrs.select(
        "doc_id",
        "source",
        F.size("arr").cast("long").alias("n_tokens"),
        F.explode(
            F.when(
                F.size("arr") >= k,
                F.transform(
                    F.sequence(F.lit(1), F.size("arr") - (k - 1)),
                    lambda i: F.struct(
                        i.cast("long").alias("i"),
                        F.md5(F.concat_ws(" ", F.slice("arr", i, k))).alias(
                            "h"
                        ),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<i:bigint,h:string>>"))
        ).alias("s"),
    ).select("doc_id", "source", "n_tokens", F.col("s.i").alias("i"), F.col("s.h").alias("h"))
    span_docs = spans.groupBy("h").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    joined = spans.join(span_docs, "h").persist()
    per_doc = joined.groupBy("doc_id", "source", "n_tokens").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.when(F.col("df") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_spans"),
    )
    from pyspark.sql.window import Window

    wdoc = Window.partitionBy("doc_id").orderBy("i")
    cov = (
        joined.filter(F.col("df") > 1)
        .select(
            "doc_id",
            F.coalesce(
                F.least(F.col("i") - F.lag("i").over(wdoc), F.lit(k)),
                F.lit(k),
            ).alias("add_tok"),
        )
        .groupBy("doc_id")
        .agg(F.sum("add_tok").cast("long").alias("covered_tokens"))
    )
    return (
        per_doc.filter(F.col("n_dup_spans") > 0)
        .join(cov, "doc_id")
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "n_spans",
            "n_dup_spans",
            "covered_tokens",
            F.expr(
                "CAST(covered_tokens * 1000000 DIV n_tokens AS BIGINT)"
            ).alias("covered_ppm"),
            (F.col("covered_tokens") * 2 > F.col("n_tokens")).alias(
                "remove_candidate"
            ),
        )
    )


_ES_E2E_SQL = f"""
WITH toks AS (
    SELECT doc_id, source, tok,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS i
    FROM (
        SELECT doc_id, source,
               unnest(string_split(text, ' ')) AS tok,
               unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
        FROM documents
    ) t WHERE tok <> ''
), ntok AS (
    SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM toks GROUP BY doc_id, source
), spans AS (
    SELECT a.doc_id, a.i,
           MD5(string_agg(b.tok, ' ' ORDER BY b.i)) AS h
    FROM toks a JOIN toks b
      ON b.doc_id = a.doc_id AND b.i >= a.i AND b.i < a.i + {ES_SPAN_K}
    GROUP BY a.doc_id, a.i
    HAVING COUNT(*) = {ES_SPAN_K}
), span_docs AS (
    SELECT h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
    FROM spans GROUP BY h
), dup AS (
    SELECT s.doc_id, s.i
    FROM spans s JOIN span_docs d ON d.h = s.h
    WHERE d.df > 1
), cov AS (
    SELECT doc_id, CAST(SUM(add_tok) AS BIGINT) AS covered_tokens
    FROM (
        SELECT doc_id,
               COALESCE(LEAST(i - LAG(i) OVER (PARTITION BY doc_id
                                               ORDER BY i),
                              {ES_SPAN_K}), {ES_SPAN_K}) AS add_tok
        FROM dup
    ) t GROUP BY doc_id
), verdicts AS (
    SELECT n.doc_id, n.source, n.n_tokens,
           COALESCE(c.covered_tokens, 0) AS covered,
           COALESCE(c.covered_tokens, 0) * 2 > n.n_tokens AS removed
    FROM ntok n LEFT JOIN cov c ON c.doc_id = n.doc_id
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN covered > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_flagged,
       CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT)
           AS n_removed,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
       CAST(SUM(CASE WHEN removed THEN n_tokens ELSE 0 END) AS BIGINT)
           AS tokens_removed,
       CAST(SUM(CASE WHEN NOT removed THEN covered ELSE 0 END) AS BIGINT)
           AS tokens_trimmed,
       CAST(SUM(n_tokens)
            - SUM(CASE WHEN removed THEN n_tokens ELSE 0 END)
            - SUM(CASE WHEN NOT removed THEN covered ELSE 0 END)
            AS BIGINT) AS tokens_after
FROM verdicts GROUP BY source
"""


@query("pipeline_exact_substring_e2e", oracle=_ES_E2E_SQL)
def pipeline_exact_substring_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExactSubstr CLEANING pipeline end-to-end, rolled up per
    source: dedup_exact_substring_spans' candidate verdicts applied as
    the Lee-et-al. policy a cleaning job runs — majority-duplicated
    docs are REMOVED whole, partially-duplicated docs keep their unique
    text and have the shared span mass TRIMMED — and the per-source
    token ledger (total → removed → trimmed → surviving) that tells a
    corpus owner what the dedup pass will actually cost per source
    BEFORE committing it.  Composes the round's candidate operator the
    way pipeline_dedup_e2e composes the MinHash tier.

    Determinism/scale: identical span/coverage machinery to
    dedup_exact_substring_spans (row-local span build, 1:1 df
    enrichment, sorted-lag interval union under a per-doc window); the
    verdict join is a doc-keyed left join of two doc-sized frames and
    the rollup is map-side combinable.  All-token accounting includes
    span-less short docs via the token-count reduction, not the span
    table."""
    docs = load_table(spark, sf_dir, "documents")
    arrs = docs.select(
        "doc_id",
        "source",
        F.filter(F.split("text", " "), lambda t: t != "").alias("arr"),
    ).persist()
    k = ES_SPAN_K
    # match the oracle's unnest semantics exactly: a zero-token doc never
    # appears in its toks CTE, so it must not appear in the ledger either
    # (the fixture has none; this pins the contract, not a workaround)
    ntok = arrs.select(
        "doc_id", "source", F.size("arr").cast("long").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    spans = arrs.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("arr") >= k,
                F.transform(
                    F.sequence(F.lit(1), F.size("arr") - (k - 1)),
                    lambda i: F.struct(
                        i.cast("long").alias("i"),
                        F.md5(F.concat_ws(" ", F.slice("arr", i, k))).alias("h"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<i:bigint,h:string>>"))
        ).alias("s"),
    ).select("doc_id", F.col("s.i").alias("i"), F.col("s.h").alias("h"))
    span_docs = spans.groupBy("h").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    dup = spans.join(span_docs, "h").filter(F.col("df") > 1).select("doc_id", "i")
    from pyspark.sql.window import Window

    wdoc = Window.partitionBy("doc_id").orderBy("i")
    cov = (
        dup.select(
            "doc_id",
            F.coalesce(
                F.least(F.col("i") - F.lag("i").over(wdoc), F.lit(k)),
                F.lit(k),
            ).alias("add_tok"),
        )
        .groupBy("doc_id")
        .agg(F.sum("add_tok").cast("long").alias("covered_tokens"))
    )
    verdicts = ntok.join(cov, "doc_id", "left").select(
        "source",
        "n_tokens",
        F.coalesce("covered_tokens", F.lit(0)).cast("long").alias("covered"),
        (
            F.coalesce("covered_tokens", F.lit(0)) * 2 > F.col("n_tokens")
        ).alias("removed"),
    )
    return verdicts.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("covered") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_flagged"),
        F.sum(F.when(F.col("removed"), 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
        F.sum("n_tokens").cast("long").alias("tokens_total"),
        F.sum(F.when(F.col("removed"), F.col("n_tokens")).otherwise(0))
        .cast("long")
        .alias("tokens_removed"),
        F.sum(F.when(~F.col("removed"), F.col("covered")).otherwise(0))
        .cast("long")
        .alias("tokens_trimmed"),
        (
            F.sum("n_tokens")
            - F.sum(F.when(F.col("removed"), F.col("n_tokens")).otherwise(0))
            - F.sum(F.when(~F.col("removed"), F.col("covered")).otherwise(0))
        )
        .cast("long")
        .alias("tokens_after"),
    )


# --------------------------------------------------------------------------
# dedup_bloom_prefilter — hand-built Bloom gate for cross-source ingest dedup
# --------------------------------------------------------------------------

BLOOM_BITS = 65536  # m: filter width in bits (2^16)
BLOOM_SALTS = ("#1", "#2", "#3")  # k = 3 portable md5-derived hash functions

_BLOOM_ORACLE = f"""
WITH a AS (
    SELECT DISTINCT sha256(text) AS key FROM documents
    WHERE CAST(substr(source, 4) AS INT) % 2 = 0
), b AS (
    SELECT doc_id, sha256(text) AS key FROM documents
    WHERE CAST(substr(source, 4) AS INT) % 2 = 1
), apos AS (
    SELECT DISTINCT unnest(list_transform(
        {list(BLOOM_SALTS)},
        s -> CAST(('0x' || substr(md5(key || s), 1, 8)) AS BIGINT)
             % {BLOOM_BITS})) AS p
    FROM a
), bpos AS (
    SELECT doc_id, key,
           unnest(list_transform(
               {list(BLOOM_SALTS)},
               s -> CAST(('0x' || substr(md5(key || s), 1, 8)) AS BIGINT)
                    % {BLOOM_BITS})) AS p
    FROM b
), probe AS (
    SELECT bp.doc_id,
           COUNT(DISTINCT bp.p) AS n_pos,
           COUNT(DISTINCT CASE WHEN ap.p IS NOT NULL THEN bp.p END) AS n_hit
    FROM bpos bp LEFT JOIN apos ap ON ap.p = bp.p
    GROUP BY bp.doc_id
), verdicts AS (
    SELECT b.doc_id,
           p.n_hit = p.n_pos AS bloom_hit,
           EXISTS (SELECT 1 FROM a WHERE a.key = b.key) AS exact_dup
    FROM b JOIN probe p ON p.doc_id = b.doc_id
)
SELECT bloom_hit, exact_dup, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM verdicts GROUP BY bloom_hit, exact_dup
"""


@query("dedup_bloom_prefilter", oracle=_BLOOM_ORACLE)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source ingest dedup with a HAND-BUILT Bloom prefilter — the
    100 TB pattern where a new source is screened against the already-
    ingested corpus WITHOUT joining against its full key set: the
    ingested side (even-numbered sources) publishes a {BLOOM_BITS}-bit
    Bloom filter (k = {len(BLOOM_SALTS)} hash functions) of its content
    sha256 keys; each incoming (odd-source) document probes the filter;
    only probe-positive docs would pay the exact key join.  Reported:
    the (bloom_hit, exact_dup) confusion census — the (true, false)
    cell IS the measured false-positive count the m/k sizing trades
    against, and the (false, true) cell is structurally impossible
    (Bloom filters have no false negatives; the oracle equality pins
    exactly that).

    Built portably instead of `bloom_filter_agg`: bit positions are
    md5-derived integers (('0x'||substr(md5(key||salt),1,8)) % m — the
    engine's established portable-hash pattern), the filter is the
    DISTINCT position set, and membership = every distinct position of
    the probe key present.  Both engines compute identical bits, so the
    FP census is DuckDB-hash-checked — which a native
    bloom_filter_agg / BloomFilter.mightContain can never be.

    Scale: the filter build is one distinct over <= k·|ingested keys|
    positions collapsed to <= m rows (a {BLOOM_BITS}-row table AT MOST,
    broadcastable forever); the probe is a broadcast left join of k
    rows per incoming doc against it; the exact-dup comparison joins
    only on the key column.  At 100 TB the filter is the only state
    that crosses the network — the point of the pattern."""
    docs = load_table(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    keyed = docs.select(
        "doc_id", F.sha2("text", 256).alias("key"), src_num.alias("sn")
    )
    a_keys = keyed.filter(F.col("sn") % 2 == 0).select("key").distinct()
    b_docs = keyed.filter(F.col("sn") % 2 == 1).select("doc_id", "key")
    salts = F.array(*[F.lit(s) for s in BLOOM_SALTS])
    pos = F.explode(
        F.transform(
            salts,
            lambda s: F.conv(
                F.substring(F.md5(F.concat(F.col("key"), s)), 1, 8), 16, 10
            ).cast("long")
            % BLOOM_BITS,
        )
    ).alias("p")
    apos = F.broadcast(a_keys.select(pos).distinct())
    bpos = b_docs.select("doc_id", pos)
    probe = (
        bpos.join(apos.withColumnRenamed("p", "ap"), F.col("p") == F.col("ap"), "left")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("p").alias("n_pos"),
            F.countDistinct(F.when(F.col("ap").isNotNull(), F.col("p"))).alias(
                "n_hit"
            ),
        )
    )
    verdicts = (
        b_docs.join(probe, "doc_id")
        .join(
            a_keys.withColumnRenamed("key", "akey"),
            F.col("key") == F.col("akey"),
            "left",
        )
        .select(
            (F.col("n_hit") == F.col("n_pos")).alias("bloom_hit"),
            F.col("akey").isNotNull().alias("exact_dup"),
        )
    )
    return verdicts.groupBy("bloom_hit", "exact_dup").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


# --------------------------------------------------------------------------
# dedup_cdc_chunks — content-defined chunking duplicate-chunk census
# --------------------------------------------------------------------------

CDC_WINDOW = 12  # chars hashed to decide a boundary
CDC_DIVISOR = 16  # P(boundary) = 1/16 -> ~16-char expected chunks


_CDC_CHUNKS_ORACLE = f"""
WITH d AS (
    SELECT doc_id, text, length(text) AS L FROM documents
), b AS (
    SELECT doc_id, text, L,
           CASE WHEN L >= {CDC_WINDOW} + 1 THEN
               list_filter(range(2, L - {CDC_WINDOW} + 2),
                   i -> CAST(('0x' || substr(md5(substring(text, i, {CDC_WINDOW})),
                                             1, 8)) AS BIGINT)
                        % {CDC_DIVISOR} = 0)
           ELSE CAST([] AS BIGINT[]) END AS bpos
    FROM d
), seg AS (
    SELECT doc_id,
           list_concat([CAST(1 AS BIGINT)], bpos) AS starts,
           list_concat(bpos, [L + 1]) AS ends,
           text
    FROM b
), ch AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(starts) + 1),
                                 j -> substring(text, CAST(starts[j] AS INT),
                                                CAST(ends[j] - starts[j] AS INT))))
               AS chunk
    FROM seg
)
SELECT md5(chunk) AS chunk_hash,
       CAST(length(chunk) AS BIGINT) AS chunk_len,
       CAST(COUNT(*) AS BIGINT) AS n_occ,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM ch
GROUP BY chunk
HAVING COUNT(DISTINCT doc_id) >= 2
"""


@query("dedup_cdc_chunks", oracle=_CDC_CHUNKS_ORACLE)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (CDC) duplicate-chunk census — the
    storage-dedup primitive (LBFS, Muthitacharoen et al. SOSP'01;
    FastCDC, Xia et al. ATC'16): cut every document at positions where a
    rolling window hash satisfies ``h % {CDC_DIVISOR} == 0``, so chunk
    boundaries are CONTENT-anchored — an insertion early in a document
    shifts only the chunks it touches, never the whole tail (the failure
    mode of fixed-size chunking).  Identical passages shared across
    documents therefore produce identical chunks wherever they sit, and
    the census reports every chunk seen in >= 2 documents with its
    occurrence and document counts — the sub-document complement to
    dedup_exact (whole doc) and dedup_paragraph_chunks (separator-cut).

    Portability: the boundary predicate hashes the {CDC_WINDOW}-char
    window through md5 (the one hash both engines share — the winnowing
    discipline); a production run swaps in a gear/Rabin rolling hash
    inside mapInPandas (O(1) per position instead of O(W)) with the SAME
    boundary semantics — the chunk census downstream is unchanged.

    Scale: boundary selection and chunk extraction are per-document
    higher-order expressions (filter/transform over a position sequence
    — JVM-side, no explode until chunks exist); the census is one
    map-side-combinable groupBy on the chunk hash.  No pair join exists
    anywhere — cross-document structure emerges from the groupBy, so the
    cost is linear in corpus bytes at any scale.  The scan is
    cpu_parallel'd (r12): one md5 per text position is the most CPU-dense
    kernel in the dedup family, and a single-row-group table ran it all
    in ONE task (10x probe: 33 s; spread: 4.5 s; no-op at 100 TB)."""
    docs = cpu_parallel(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", F.length("text").alias("L")
        )
    )
    boundary_ok = (
        "CAST(conv(substring(md5(substring(text, i, "
        f"{CDC_WINDOW})), 1, 8), 16, 10) AS BIGINT) % {CDC_DIVISOR} = 0"
    )
    seg = docs.withColumn(
        "bpos",
        F.expr(
            f"CASE WHEN L >= {CDC_WINDOW} + 1 THEN "
            f"filter(sequence(2L, L - {CDC_WINDOW} + 2 - 1), i -> {boundary_ok}) "
            "ELSE CAST(array() AS ARRAY<BIGINT>) END"
        ),
    ).selectExpr(
        "doc_id",
        "text",
        "concat(array(1L), bpos) AS starts",
        "concat(bpos, array(L + 1)) AS ends",
    )
    chunks = seg.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(starts)), "
                "j -> substring(text, CAST(starts[j-1] AS INT), "
                "CAST(ends[j-1] - starts[j-1] AS INT)))"
            )
        ).alias("chunk"),
    )
    return (
        chunks.groupBy("chunk")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occ"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(
            F.md5("chunk").alias("chunk_hash"),
            F.length("chunk").cast("long").alias("chunk_len"),
            "n_occ",
            "n_docs",
        )
    )


# --------------------------------------------------------------------------
# dedup_minhash_bbit_eval — b-bit minwise sketch accuracy census
# --------------------------------------------------------------------------

BBIT_K = 32  # independent minwise hash functions
BBIT_MASK = 4  # keep b=2 bits: sig_j = min-hash_j mod 4
# Pair-source tier fence (r12, verdict ask #6): at or below this corpus size
# the census pairs come from the exact shingle self-join (the oracle-anchored
# brute tier — quadratic in the DATA on high-overlap corpora, measured ~298 s
# at the 100x probe); above it the pair source is the banded MinHash-LSH
# join + exact-Jaccard verification (minhash_lsh_pairs — the production pair
# source its own docstring names).  Fixture SFs (≤5k docs) stay exact so the
# DuckDB oracle certifies the census end-to-end; the 10x probe (50k docs)
# engages the banded tier.  Same facade pattern as dedup_embedding's
# BRUTE_FORCE_MAX_ROWS dispatch.
BBIT_EXACT_MAX_DOCS = 20_000
# Li & Koenig 2010 ("b-Bit Minwise Hashing", WWW): with b bits the expected
# agreement is C + (1-C)*J with C = 1/2^b, so J-hat = (A - C)/(1 - C).


_BBIT_EVAL_ORACLE = f"""
    WITH pairs AS ({{jac}}),
    toks AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents
    ), sh AS (
        SELECT doc_id,
               CASE WHEN len(ws) >= 3
                    THEN list_distinct([array_to_string(ws[i:i+2], ' ')
                                        for i in range(1, len(ws) - 1)])
                    ELSE [] END AS s
        FROM toks
    ), pdocs AS (
        SELECT DISTINCT doc_id FROM (
            SELECT doc_a AS doc_id FROM pairs
            UNION ALL SELECT doc_b FROM pairs)
    ), sigs AS (
        SELECT sh.doc_id,
               list_transform(range(0, {BBIT_K}), j ->
                   list_min(list_transform(s, x ->
                       CAST(('0x' || substr(md5(x || '#' || CAST(j AS VARCHAR)),
                                            1, 8)) AS BIGINT)))
                   % {BBIT_MASK}) AS sig
        FROM sh JOIN pdocs ON sh.doc_id = pdocs.doc_id
    ), agree AS (
        SELECT p.doc_a, p.doc_b, p.jaccard,
               CAST(list_sum(list_transform(range(1, {BBIT_K} + 1),
                   j -> CASE WHEN sa.sig[j] = sb.sig[j] THEN 1 ELSE 0 END))
                    AS BIGINT) AS n_agree
        FROM pairs p
        JOIN sigs sa ON p.doc_a = sa.doc_id
        JOIN sigs sb ON p.doc_b = sb.doc_id
    )
    SELECT doc_a, doc_b, jaccard, n_agree,
           (n_agree / {BBIT_K}.0 - 1.0 / {BBIT_MASK}) / (1.0 - 1.0 / {BBIT_MASK})
               AS est_jaccard,
           abs((n_agree / {BBIT_K}.0 - 1.0 / {BBIT_MASK})
               / (1.0 - 1.0 / {BBIT_MASK}) - jaccard) AS abs_err
    FROM agree
"""


def _bbit_oracle() -> str:
    return _BBIT_EVAL_ORACLE.format(jac=NGRAM_JACCARD_ORACLE)


@query("dedup_minhash_bbit_eval", oracle=_bbit_oracle)
def dedup_minhash_bbit_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit minwise sketch accuracy census (Li & Koenig, WWW 2010): for
    every verified near-dup pair (the exact 3-gram-Jaccard >= 0.5 set),
    compare the TRUE Jaccard against the estimate a 2-bit minwise
    signature recovers — J-hat = (A - 1/4) / (3/4) over K={BBIT_K}
    agreement trials.  This prices the 100 TB sketch-storage decision
    honestly: 2-bit signatures cost 1/16 of the 32-bit minhash rows the
    LSH tier stores, and the census shows exactly what estimation error
    that compression buys on this corpus's real duplicate pairs.

    Determinism: minwise hashes are md5-derived integers (the portable
    salt scheme the Bloom prefilter uses — h_j(x) = md5(x || '#' || j)
    low-32-hex), so signatures are bit-identical on both engines; the
    b-bit truncation keeps the LOW bits of the FULL minimum (mod 4 after
    the min, never before — truncating first would change the argmin);
    n_agree is an exact BIGINT fold and the estimator arithmetic uses
    the identical expression text on both engines.

    Scale: signatures are computed ONLY for documents that appear in a
    candidate pair (a semi-join — the eval is pair-driven, so the
    K x |shingles| md5 work never touches the non-duplicate majority);
    at production scale the same signatures come free from the LSH
    tier's existing minhash pass, and the b-bit census is one zip_with
    fold per candidate pair — linear in pairs, constant per pair.  The
    pair SOURCE is tiered (r12, the production fix this docstring used to
    name): at or below BBIT_EXACT_MAX_DOCS docs, the exact shingle
    self-join — the oracle-anchored brute tier the Jaccard family
    deliberately keeps (see dedup_containment_ngram's posture note),
    whose cost dominated the 100x probe (~298 s, ~23x): on high-overlap
    corpora the quadratic lives in the DATA (within-vocabulary doc pairs
    genuinely share shingles), so candidate FILTERS cannot save it — an
    exact PPJoin prefix+length filter was implemented and measured WORSE
    (>8x) at 100x because nothing prunes and the per-candidate array
    shipping replaces the brute join's compact map-side-combined partial
    counts.  Above the fence: minhash_lsh_pairs — the banded LSH band
    join with exact-Jaccard verification on the compact hash sets
    (linear in candidates, the dedup_cluster_keepers discipline); the
    b-bit tail is unchanged under either source, and the banded tier's
    recall at the ≥0.5 threshold is pinned by tests/test_llm.py."""
    docs = load_table(spark, sf_dir, "documents")
    if docs.count() <= BBIT_EXACT_MAX_DOCS:
        ex = _shingles(docs).persist()
        sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
        a, b = ex.alias("a"), ex.alias("b")
        inter = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        jac = (
            inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sza"), "doc_a")
            .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "szb"), "doc_b")
            .withColumn(
                "jaccard",
                F.col("n_common").cast("double")
                / (F.col("sza") + F.col("szb") - F.col("n_common")),
            )
            .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
            .select("doc_a", "doc_b", "jaccard")
            .persist()  # feeds the pair-doc semi-join and the final join
        )
    else:
        feats = minhash_feature_table(docs.select("doc_id", "text")).persist()
        jac = (
            minhash_lsh_pairs(feats)
            .select("doc_a", "doc_b", "jaccard")
            .persist()  # feeds the pair-doc semi-join and the final join
        )
    pdocs = (
        jac.select(F.col("doc_a").alias("doc_id"))
        .union(jac.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    toks = docs.withColumn("ws", F.split(F.lower(F.trim(F.col("text"))), " "))
    sh = toks.select(
        "doc_id",
        F.when(
            F.size("ws") >= 3,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - 2),
                    lambda i: F.concat_ws(" ", F.slice("ws", i, 3)),
                )
            ),
        ).otherwise(F.array()).alias("s"),
    )
    sigs = sh.join(pdocs, "doc_id").select(
        "doc_id",
        F.expr(
            f"transform(sequence(0, {BBIT_K} - 1), j -> "
            "array_min(transform(s, x -> "
            "CAST(conv(substr(md5(concat(x, '#', CAST(j AS STRING))), 1, 8), "
            f"16, 10) AS BIGINT))) % {BBIT_MASK})"
        ).alias("sig"),
    )
    est = (
        F.col("n_agree") / F.lit(float(BBIT_K)) - F.lit(1.0) / F.lit(BBIT_MASK)
    ) / (F.lit(1.0) - F.lit(1.0) / F.lit(BBIT_MASK))
    return (
        jac.join(sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sa")), "doc_a")
        .join(sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sb")), "doc_b")
        .withColumn(
            "n_agree",
            F.aggregate(
                F.zip_with("sa", "sb", lambda x, y: F.when(x == y, 1).otherwise(0)),
                F.lit(0),
                lambda acc, x: acc + x,
            ).cast("long"),
        )
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            "n_agree",
            est.alias("est_jaccard"),
            F.abs(est - F.col("jaccard")).alias("abs_err"),
        )
    )
