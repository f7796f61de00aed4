"""Text-analysis operators over ``documents`` (BASELINE.json north star:
"text analysis" for LLM training-data pipelines): token counting, quality
scoring, language-ID heuristic, document fingerprinting, TF-IDF.

Everything is built-in expression API (split/filter/transform/sha2 — all
JVM-side, codegen'd); no Python touches the hot path.  At 100 TB these run
as a single scan + (for TF-IDF) one shuffle on the term key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_aws_spark.catalog import bare_tables, cpu_parallel, load_table
from etl_pipeline_aws_spark.registry import query, rows_only_query

# Shared tokenization: whitespace split (the documents table is
# space-separated word soup; see FIXTURES.md).
def _tokens(col: str = "text"):
    return F.split(F.col(col), " ")


STOPWORDS = ("the", "a", "data")  # intersecting the corpus vocabulary


@query(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_unique_tokens,
           CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INT) AS n_word_tokens,
           LENGTH(text) AS n_chars_computed
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, and a BPE-ish
    regex word count ([a-z0-9]+ runs — the pre-tokenizer split rule)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(_tokens()).alias("n_tokens"),
        F.size(F.array_distinct(_tokens())).alias("n_unique_tokens"),
        F.regexp_count("text", F.lit("[a-z0-9]+")).cast("int").alias("n_word_tokens"),
        F.length("text").cast("long").alias("n_chars_computed"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS lexical_diversity,
           CAST(len(list_filter(string_split(text, ' '),
                                w -> w IN ('{STOPWORDS[0]}', '{STOPWORDS[1]}', '{STOPWORDS[2]}'))) AS DOUBLE)
               / len(string_split(text, ' ')) AS stopword_ratio,
           CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
               / len(string_split(text, ' ')) AS mean_word_len,
           CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 1000
                 AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' ')) > 0.05
                THEN 1 ELSE 0 END AS passes_quality
    FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality signals (the C4/Gopher-rule shape): lexical
    diversity, stopword ratio, mean word length, and a pass/fail gate.
    Pure integer-ratio arithmetic → bit-identical across engines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    n = F.size(toks)
    return docs.select(
        "doc_id",
        (F.size(F.array_distinct(toks)).cast("double") / n).alias("lexical_diversity"),
        (
            F.size(F.filter(toks, lambda w: w.isin(*STOPWORDS))).cast("double") / n
        ).alias("stopword_ratio"),
        (F.length(F.regexp_replace("text", " ", "")).cast("double") / n).alias(
            "mean_word_len"
        ),
        F.when(
            n.between(20, 1000)
            & (F.size(F.array_distinct(toks)).cast("double") / n > 0.05),
            1,
        )
        .otherwise(0)
        .alias("passes_quality"),
    )


# Marker-word profiles for the language-ID heuristic.  (The corpus is
# synthetic word soup; the *operator shape* — n-gram/marker scoring with a
# deterministic argmax — is what carries to real data.)
_LANG_MARKERS = {
    "en": ("the", "fast", "slow"),
    "es": ("data", "table", "row"),
    "de": ("spark", "batch", "window"),
}


@query(
    "text_lang_id",
    oracle="""
    SELECT doc_id,
           CASE
             WHEN len(list_filter(string_split(text, ' '), w -> w IN ('the','fast','slow')))
                  >= len(list_filter(string_split(text, ' '), w -> w IN ('data','table','row')))
              AND len(list_filter(string_split(text, ' '), w -> w IN ('the','fast','slow')))
                  >= len(list_filter(string_split(text, ' '), w -> w IN ('spark','batch','window')))
             THEN 'en'
             WHEN len(list_filter(string_split(text, ' '), w -> w IN ('data','table','row')))
                  >= len(list_filter(string_split(text, ' '), w -> w IN ('spark','batch','window')))
             THEN 'es'
             ELSE 'de'
           END AS predicted_lang,
           lang AS labeled_lang
    FROM documents
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID: score each language profile by marker hits,
    deterministic argmax with a fixed preference order on ties."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    def marker_hits(markers: tuple[str, ...]):
        # NB: a 2-arg lambda would be treated as the (element, index) HOF
        # form by F.filter — close over `markers` instead.
        return F.size(F.filter(toks, lambda w: w.isin(*markers)))

    scores = {lang: marker_hits(markers) for lang, markers in _LANG_MARKERS.items()}
    return docs.select(
        "doc_id",
        F.when(
            (scores["en"] >= scores["es"]) & (scores["en"] >= scores["de"]), "en"
        )
        .when(scores["es"] >= scores["de"], "es")
        .otherwise("de")
        .alias("predicted_lang"),
        F.col("lang").alias("labeled_lang"),
    )


@query(
    "text_fingerprint",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents
    )
    SELECT doc_id,
           sha256(array_to_string(ws, ' ')) AS content_hash,
           CASE WHEN len(ws) >= 3
                THEN list_sort(list_transform(
                        [array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)],
                        s -> sha256(s)))[1]
                ELSE NULL END AS min_shingle_hash
    FROM toks
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: normalized content hash (exact-dedup key)
    plus the minimum 3-gram shingle hash (a 1-permutation MinHash — the
    winnowing-style near-dup fingerprint).  sha256 hex is identical across
    engines, so even the *hash values* are oracle-checked."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.col("text")))
    df = docs.withColumn("ws", F.split(norm, " "))
    shingles = F.transform(
        F.sequence(F.lit(1), F.size("ws") - 2),
        lambda i: F.concat_ws(" ", F.slice("ws", i, 3)),
    )
    return df.select(
        "doc_id",
        F.sha2(F.concat_ws(" ", "ws"), 256).alias("content_hash"),
        F.when(
            F.size("ws") >= 3,
            F.array_min(F.transform(shingles, lambda s: F.sha2(s, 256))),
        )
        .otherwise(F.lit(None).cast("string"))
        .alias("min_shingle_hash"),
    )


@query(
    "text_tfidf_top_terms",
    oracle="""
    WITH tokens AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
        FROM documents
    ), df_counts AS (
        SELECT term, COUNT(*) AS doc_freq FROM tokens GROUP BY term
    ), tf AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf_counts AS (
        SELECT doc_id, term, COUNT(*) AS term_freq FROM tf GROUP BY doc_id, term
    )
    SELECT doc_id, term,
           CAST(term_freq AS BIGINT) AS term_freq,
           CAST(doc_freq AS BIGINT) AS doc_freq
    FROM tf_counts JOIN df_counts USING (term)
    WHERE doc_id < 100
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF/DF statistics (the exact-integer core of TF-IDF): explode→count
    term frequencies, join document frequencies.  The float IDF weight
    (tf·ln(N/df)) is deliberately NOT in the compared output — ln() differs
    in the last ulp between JVM and libm (measured) — downstream rankers
    apply it to these exact counts.  Two shuffles (per-doc TF, per-term DF)
    + a DF join that hash-partitions on ``term`` — no static broadcast:
    vocabulary scales with the corpus (AQE may still broadcast it at
    runtime if measured small)."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(_tokens()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("term_freq"))
    )
    df_counts = (
        docs.select("doc_id", F.explode(F.array_distinct(_tokens())).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    return (
        tf.join(df_counts, "term")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "term", "term_freq", "doc_freq")
    )


CHUNK_TOKENS = 50  # window size
CHUNK_STRIDE = 40  # => 10-token overlap between consecutive chunks


@query(
    "text_chunk_windows",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), starts AS (
        SELECT doc_id, ws, unnest(range(1, len(ws) + 1, {CHUNK_STRIDE})) AS start
        FROM toks
    )
    SELECT doc_id,
           CAST((start - 1) / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
           CAST(start AS BIGINT) AS chunk_start,
           CAST(len(ws[start:start + {CHUNK_TOKENS} - 1]) AS INT) AS n_chunk_tokens,
           array_to_string(ws[start:start + {CHUNK_TOKENS} - 1], ' ') AS chunk_text
    FROM starts
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for context-window-bound consumers: overlapping
    fixed-size token windows (50 tokens, stride 40).  One narrow
    explode per doc — chunk count is ceil(n/stride), rows carry only the
    window text, so at 100 TB output volume is input x (50/40) with zero
    shuffles; a partitioned-parquet sink makes it a full chunking job.
    Generalizes the reference's per-record map shape (glue/job.py:27-34)
    from enrich-one-record to emit-many-records."""
    docs = load_table(spark, sf_dir, "documents")
    ws = _tokens()
    starts = F.sequence(F.lit(1), F.greatest(F.size(ws), F.lit(1)), F.lit(CHUNK_STRIDE))
    return (
        docs.select("doc_id", ws.alias("ws"), F.explode(starts).alias("chunk_start"))
        .select(
            "doc_id",
            ((F.col("chunk_start") - 1) / CHUNK_STRIDE).cast("long").alias("chunk_id"),
            F.col("chunk_start").cast("long"),
            F.size(F.slice("ws", F.col("chunk_start"), CHUNK_TOKENS)).alias(
                "n_chunk_tokens"
            ),
            F.concat_ws(" ", F.slice("ws", F.col("chunk_start"), CHUNK_TOKENS)).alias(
                "chunk_text"
            ),
        )
    )


@query(
    "text_corpus_stats",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avg_tokens,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY lang
    """,
)
def text_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus rollup (the pre-training data-mix report):
    doc counts, token/char volume, exact integer-ratio averages.  One
    scan, one shuffle on the (tiny) lang key with map-side partial aggs;
    the avg is sum/count of exact longs so both engines divide the same
    two integers."""
    docs = load_table(spark, sf_dir, "documents")
    n_toks = F.size(_tokens())
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_toks).cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        (F.sum(n_toks).cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


@query(
    "text_pii_scrub",
    oracle=r"""
    SELECT doc_id,
           regexp_replace(
               regexp_replace(text, '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
               '[0-9]{4,}', '<NUM>', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(text, '[a-z0-9.]+@[a-z0-9.]+')) AS INT)
               AS n_emails,
           CAST(len(regexp_extract_all(text, '[0-9]{4,}')) AS INT) AS n_long_nums
    FROM documents
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: emails and long digit runs replaced by typed
    placeholder tokens, with per-doc match counts for the scrub report.
    Pure regexp_replace/regexp_count — JVM regex in one narrow map over
    the scan, trivially parallel at any scale.  (Both engines use the
    same RE2-ish subset here; patterns avoid engine-specific syntax.)"""
    docs = load_table(spark, sf_dir, "documents")
    email, longnum = r"[a-z0-9.]+@[a-z0-9.]+", r"[0-9]{4,}"
    return docs.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", email, "<EMAIL>"), longnum, "<NUM>"
        ).alias("scrubbed"),
        F.regexp_count("text", F.lit(email)).cast("int").alias("n_emails"),
        F.regexp_count("text", F.lit(longnum)).cast("int").alias("n_long_nums"),
    )


DECONTAM_EVAL_DOCS = 10  # doc_id < 10 stand in for the benchmark/eval set
DECONTAM_NGRAM = 5


@query(
    "text_decontaminate",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents
    ), grams AS (
        SELECT doc_id,
               CASE WHEN len(ws) >= {DECONTAM_NGRAM}
                    THEN list_distinct([array_to_string(ws[i:i+{DECONTAM_NGRAM}-1], ' ')
                                        for i in range(1, len(ws) - {DECONTAM_NGRAM} + 2)])
                    ELSE [] END AS gs
        FROM toks
    ), ex AS (
        SELECT doc_id, unnest(gs) AS g FROM grams
    ), eval_grams AS (
        SELECT DISTINCT g FROM ex WHERE doc_id < {DECONTAM_EVAL_DOCS}
    )
    SELECT e.doc_id,
           CAST(COUNT(DISTINCT e.g) AS BIGINT) AS n_overlapping_ngrams
    FROM ex e JOIN eval_grams v ON e.g = v.g
    WHERE e.doc_id >= {DECONTAM_EVAL_DOCS}
    GROUP BY e.doc_id
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any 5-gram
    with the eval set (doc_id < 10 stands in), with the overlap count
    that drives the drop/keep decision.  Scale shape: the eval side is
    inherently small (benchmarks are KBs, corpora are TBs), so its
    distinct n-grams BROADCAST — the corpus side is one narrow
    explode + broadcast-semi-join + groupBy, no corpus-side self-join."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.lower(F.trim(F.col("text"))), " ")
    grams = F.when(
        F.size(ws) >= DECONTAM_NGRAM,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(ws) - (DECONTAM_NGRAM - 1)),
                lambda i: F.concat_ws(" ", F.slice(ws, i, DECONTAM_NGRAM)),
            )
        ),
    ).otherwise(F.array())
    ex = docs.select("doc_id", F.explode(grams).alias("g"))
    eval_grams = F.broadcast(
        ex.filter(F.col("doc_id") < DECONTAM_EVAL_DOCS).select("g").distinct()
    )
    return (
        ex.filter(F.col("doc_id") >= DECONTAM_EVAL_DOCS)
        .join(eval_grams, "g")
        .groupBy("doc_id")
        .agg(F.count_distinct("g").alias("n_overlapping_ngrams"))
    )


TFIDF_COSINE_MAX_DF_FRAC = 0.1  # posting lists above this df are pruned
TFIDF_COSINE_THRESHOLD = 0.5


@query(
    "text_cosine_pairs",
    oracle=f"""
    WITH total AS (SELECT COUNT(*) AS n_docs FROM documents),
    tfc AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        GROUP BY doc_id, term
    ),
    dfc AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY term),
    kept AS (
        SELECT t.doc_id, t.term, t.tf
        FROM tfc t JOIN dfc USING (term), total
        WHERE df <= {TFIDF_COSINE_MAX_DF_FRAC} * n_docs
    ),
    norms AS (
        SELECT doc_id, sqrt(CAST(SUM(tf * tf) AS DOUBLE)) AS nrm
        FROM kept GROUP BY doc_id
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
        FROM kept a JOIN kept b USING (term)
        WHERE a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) AS cosine
    FROM pairs
    JOIN norms na ON doc_a = na.doc_id
    JOIN norms nb ON doc_b = nb.doc_id
    WHERE CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) >= {TFIDF_COSINE_THRESHOLD}
    """,
)
def text_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-vector cosine similarity via posting-list self-join — the
    text-side similarity-search scale path (no embeddings needed): only
    documents SHARING a rare term ever meet, so join cost is Σ df² over
    the kept vocabulary, not |docs|².

    The scale dial is the df cutoff (terms in > 10% of the corpus are
    pruned): it bounds every posting list, kills the stopword quadratic
    blow-up, and — since common-term overlap carries no signal — barely
    moves the scores (this is the same hot-key discipline as the
    MinHash-LSH band join).  Determinism: dot products and squared norms
    are exact BIGINTs; cosine is double ops on those exact operands —
    bit-identical across engines (sqrt is IEEE-exact).  No ln(): pure TF
    weighting, so no cross-engine libm drift (see text_tfidf_top_terms)."""
    docs = load_table(spark, sf_dir, "documents")
    total = F.broadcast(docs.agg(F.count(F.lit(1)).alias("n_docs")))
    tf = (
        docs.select("doc_id", F.explode(_tokens()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfc = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    kept = (
        tf.join(dfc, "term")
        .crossJoin(total)
        .filter(F.col("df") <= TFIDF_COSINE_MAX_DF_FRAC * F.col("n_docs"))
        .select("doc_id", "term", "tf")
    )
    norms = kept.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("tf") * F.col("tf")).cast("double")).alias("nrm")
    )
    a, b = kept.alias("a"), kept.alias("b")
    pairs = (
        a.join(b, (F.col("a.term") == F.col("b.term")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.sum(F.col("a.tf") * F.col("b.tf")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("nrm_a"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nrm_b"))
    cos = F.col("dot").cast("double") / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= TFIDF_COSINE_THRESHOLD)
    )


@query(
    "text_bigram_lm",
    oracle="""
    WITH toks AS (
        SELECT string_split(text, ' ') AS t FROM documents
    ), bi AS (
        SELECT t[i] AS w1, t[i + 1] AS w2
        FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) r
    ), counts AS (
        SELECT w1, w2, COUNT(*) AS n FROM bi GROUP BY 1, 2
    ), tot AS (
        SELECT w1, CAST(SUM(n) AS BIGINT) AS total FROM counts GROUP BY 1
    ), ranked AS (
        SELECT c.w1, c.w2, c.n, t.total,
               ROW_NUMBER() OVER (PARTITION BY c.w1 ORDER BY c.n DESC, c.w2)
                   AS rn
        FROM counts c JOIN tot t USING (w1)
    )
    SELECT w1, w2 AS top_w2,
           CAST(n AS BIGINT) AS n_top,
           total AS total_w1,
           CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS p_top
    FROM ranked WHERE rn = 1 AND total >= 5
    """,
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model corpus statistics: for every head token seen
    >= 5 times, the most likely continuation and its conditional
    probability P(w2 | w1) — the count table a KenLM-style n-gram model
    or a corpus-drift monitor is built from.

    Plan: consecutive-pair expansion happens INSIDE the row via
    ``transform`` over the token array (narrow, codegen'd — no
    self-join on position), then one map-side-combined count on
    (w1, w2), a head-token rollup that reuses the same hash
    partitioning, and a top-1-per-head window (rank prunes to
    WindowGroupLimit).  Token volume dominates: ~|corpus tokens| rows
    into the first shuffle, which is the floor any bigram count must
    pay.  P(w2|w1) is one division of two exact counts — deterministic
    across engines."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    bigrams = (
        docs.select(_tokens().alias("t"))
        .select(
            F.explode(
                F.expr(
                    "transform(slice(t, 1, size(t) - 1),"
                    " (w, i) -> struct(w AS w1, t[i + 1] AS w2))"
                )
            ).alias("b")
        )
        .select("b.*")
    )
    counts = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    totals = counts.groupBy("w1").agg(F.sum("n").alias("total_w1"))
    w = Window.partitionBy("w1").orderBy(F.col("n").desc(), F.col("w2"))
    return (
        counts.join(totals, "w1")
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("total_w1") >= 5))
        .select(
            "w1",
            F.col("w2").alias("top_w2"),
            F.col("n").alias("n_top"),
            "total_w1",
            (F.col("n").cast("double") / F.col("total_w1").cast("double")).alias("p_top"),
        )
    )


@query(
    "corpus_curation_gate",
    oracle="""
    WITH f AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS diversity,
               MIN(doc_id) OVER (PARTITION BY sha256(text)) AS keeper_id
        FROM documents
    )
    SELECT doc_id,
           CAST(n_tokens AS INT) AS n_tokens,
           (doc_id = keeper_id)
               AND (n_tokens BETWEEN 20 AND 1000 AND diversity > 0.05) AS keep,
           CASE WHEN doc_id <> keeper_id THEN 'duplicate'
                WHEN NOT (n_tokens BETWEEN 20 AND 1000 AND diversity > 0.05)
                    THEN 'low_quality'
                ELSE 'keep' END AS reason
    FROM f
    """,
)
def corpus_curation_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation gate — the composed keep/drop manifest a
    training-data pipeline actually emits: exact-dup keeper assignment
    (first doc_id per content hash survives) AND the quality screen
    (text_quality_score's thresholds), with a reason code per rejected
    document so curation decisions stay auditable.

    One shuffle: the content-hash window groups exact duplicates (the
    dedup_exact shape); every other signal is a narrow per-row
    expression computed in the same pass.  Composing MORE gates
    (lang-ID allowlist, PII density, repetition score — all existing
    operators) extends the CASE chain without new shuffles: the gate
    pattern is one scan + one dedup shuffle regardless of how many
    screens run."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    n_tokens = F.size(toks)
    diversity = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    keeper_id = F.min("doc_id").over(Window.partitionBy(F.sha2("text", 256)))
    quality = n_tokens.between(20, 1000) & (diversity > 0.05)
    f = docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        quality.alias("q"),
        (F.col("doc_id") == keeper_id).alias("is_keeper"),
    )
    return f.select(
        "doc_id",
        "n_tokens",
        (F.col("is_keeper") & F.col("q")).alias("keep"),
        F.when(~F.col("is_keeper"), "duplicate")
        .when(~F.col("q"), "low_quality")
        .otherwise("keep")
        .alias("reason"),
    )


# GPT-2-style pre-tokenizer, restricted to lookahead-free alternation so
# Java regex (Spark) and RE2 (DuckDB) tokenize identically (verified).
BPE_PRETOKEN_PATTERN = (
    r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+"
)


@query(
    "text_bpe_pretokenize",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, $${BPE_PRETOKEN_PATTERN}$$))
                AS INT) AS n_bpe_tokens,
           CAST(len(list_distinct(regexp_extract_all(text,
                                                     $${BPE_PRETOKEN_PATTERN}$$)))
                AS INT) AS n_unique_bpe
    FROM documents
    """,
)
def text_bpe_pretokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-tokenization counts — the sequence-length accounting
    a training pipeline runs before packing: each document is split with
    the GPT-2 pre-tokenizer rule family (contraction suffixes, space-
    prefixed letter runs, digit runs, punctuation runs), yielding the
    token-count distribution that budgets context windows far more
    accurately than whitespace splitting (text_token_stats is the
    whitespace tier).

    The pattern deliberately avoids lookahead so one regex means the
    same thing to Java regex and RE2 — cross-engine tokenization parity
    is asserted by the oracle, not assumed.  Pure narrow map
    (regexp_extract_all + size), zero shuffles, codegen'd."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all("text", F.lit(BPE_PRETOKEN_PATTERN), 0)
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_bpe"),
    )


@query(
    "text_lang_confusion_matrix",
    oracle="""
    WITH pred AS (
        SELECT lang AS labeled_lang,
               CASE
                 WHEN len(list_filter(string_split(text, ' '),
                                      w -> w IN ('the','fast','slow')))
                      >= len(list_filter(string_split(text, ' '),
                                         w -> w IN ('data','table','row')))
                  AND len(list_filter(string_split(text, ' '),
                                      w -> w IN ('the','fast','slow')))
                      >= len(list_filter(string_split(text, ' '),
                                         w -> w IN ('spark','batch','window')))
                 THEN 'en'
                 WHEN len(list_filter(string_split(text, ' '),
                                      w -> w IN ('data','table','row')))
                      >= len(list_filter(string_split(text, ' '),
                                         w -> w IN ('spark','batch','window')))
                 THEN 'es'
                 ELSE 'de'
               END AS predicted_lang
        FROM documents
    )
    SELECT labeled_lang, predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY 1, 2
    """,
)
def text_lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier QA: the labeled-vs-predicted confusion matrix for the
    marker-word language-ID — the evaluation artifact that tells you
    WHERE the classifier fails (which language pairs it confuses), not
    just that it does.  Composes text_lang_id's exact scoring expression
    with one tiny-key aggregation; at 100 TB the matrix is still
    |langs|² cells off one narrow scan."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()

    def marker_hits(markers: tuple[str, ...]):
        return F.size(F.filter(toks, lambda w: w.isin(*markers)))

    scores = {lang: marker_hits(markers) for lang, markers in _LANG_MARKERS.items()}
    predicted = (
        F.when(
            (scores["en"] >= scores["es"]) & (scores["en"] >= scores["de"]), "en"
        )
        .when(scores["es"] >= scores["de"], "es")
        .otherwise("de")
    )
    return docs.select(
        F.col("lang").alias("labeled_lang"), predicted.alias("predicted_lang")
    ).groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@query(
    "text_bigram_novelty",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), bi AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) r
    ), counts AS (
        SELECT w1, w2, COUNT(*) AS c FROM bi GROUP BY 1, 2
    ), prefix AS (
        SELECT w1, CAST(SUM(c) AS BIGINT) AS cp FROM counts GROUP BY 1
    ), scored AS (
        SELECT doc_id, CAST(c AS DOUBLE) / cp AS p, c
        FROM bi JOIN counts USING (w1, w2) JOIN prefix USING (w1)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CAST(p AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
               AS avg_bigram_prob,
           MIN(p) AS min_bigram_prob,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS novel_bigrams
    FROM scored GROUP BY doc_id
    """,
)
def text_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document LM-likelihood quality score: train the corpus bigram
    model (MLE counts, same tokenization as text_bigram_lm), then score
    every document by how probable its own bigrams are under it — the
    perplexity-filter step of an LLM data pipeline, reported in
    probability space rather than log space because ln/log2 differ in the
    last ulp across engines while count ratios are exact (see
    functions/numeric.py; the ordering of documents by avg probability is
    the same ordering perplexity gives, inverted).

    Emitted per doc: n_bigrams, avg_bigram_prob (exact decimal-sum →
    double pattern — P values are single divisions of exact counts, so
    both engines see identical doubles), min_bigram_prob (the doc's most
    surprising transition), and novel_bigrams (count of bigrams occurring
    nowhere else in the corpus — a direct novelty/contamination signal:
    boilerplate has none, unique prose has many).

    Plan: one bigram expansion (in-row transform, narrow), one (w1,w2)
    count shuffle, a prefix rollup reusing that partitioning, then a join
    back to the doc bigrams and a doc_id agg.  At 100 TB the count tables
    are the model — they'd persist as a bucketed table and the scoring
    join co-locates on w1; the doc-side shuffle is bounded by token count,
    the same floor any n-gram scorer pays.  Docs with < 2 tokens have no
    bigrams and drop out (no NULL-probability rows)."""
    docs = load_table(spark, sf_dir, "documents")
    bi = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(split(text, ' '), 1, size(split(text, ' ')) - 1),"
                " (w, i) -> struct(w AS w1, split(text, ' ')[i + 1] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    counts = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    prefix = counts.groupBy("w1").agg(F.sum("c").cast("long").alias("cp"))
    scored = (
        bi.join(counts, ["w1", "w2"])
        .join(prefix, ["w1"])
        .select("doc_id", (F.col("c").cast("double") / F.col("cp")).alias("p"), "c")
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        (F.sum(F.col("p").cast("decimal(28,12)")).cast("double") / F.count(F.lit(1)))
            .alias("avg_bigram_prob"),
        F.min("p").alias("min_bigram_prob"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("novel_bigrams"),
    )


_SEARCH_TERMS = ("hash", "join", "vector")
_SEARCH_TOP = 10

_KEYWORD_SEARCH_ORACLE = f"""
    WITH tf AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tfc AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tf WHERE term IN {_SEARCH_TERMS!r}
        GROUP BY doc_id, term
    ), dfc AS (
        SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM tf WHERE term IN {_SEARCH_TERMS!r}
        GROUP BY term
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
    SELECT doc_id,
           CAST(SUM(tf * ((n_docs * 1000) // df)) AS BIGINT) AS score_scaled,
           CAST(COUNT(*) AS BIGINT) AS n_terms_hit
    FROM tfc JOIN dfc USING (term) CROSS JOIN n
    GROUP BY doc_id
    ORDER BY score_scaled DESC, doc_id
    LIMIT {_SEARCH_TOP}
"""


@query("text_keyword_search", oracle=_KEYWORD_SEARCH_ORACLE)
def text_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-term keyword search with TF-IDF ranking, exact-integer
    scoring: score = Σ_term tf(term, doc) × ⌊N·1000 / df(term)⌋ — the
    idf weight as a floor-divided integer, so both engines rank
    IDENTICALLY (a float idf's ln() differs in the last ulp across
    engines and can flip ranks; integer arithmetic cannot).  Top-10 with
    doc_id as the total-order tie-break.

    Plan shape (the inverted-index discipline): the token explode is
    filtered to the QUERY'S terms immediately — the posting lists
    touched are |terms|, never the vocabulary; tf and df are two
    aggregations over those postings; the corpus size N is a single-row
    broadcast (the q11 pattern).  At 100 TB the explode+filter becomes a
    pre-built posting-list table partitioned by term, and the query
    reads |terms| partitions — search cost scales with the query, not
    the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term").isin(*_SEARCH_TERMS))
    tf = tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_counts = tokens.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_counts), "term")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("tf") * F.expr("(n_docs * 1000) div df")
            ).alias("score_scaled"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )
    return scored.orderBy(F.col("score_scaled").desc(), "doc_id").limit(_SEARCH_TOP)


_VOCAB_TOP = 50  # vocabulary size for the coverage report

_VOCAB_OOV_ORACLE = f"""
    WITH toks AS (
        SELECT d.lang, t.tok
        FROM documents d,
             unnest(string_split(d.text, ' ')) AS t(tok)
        WHERE t.tok <> ''
    ), vocab AS (
        SELECT tok FROM toks
        GROUP BY tok
        ORDER BY COUNT(*) DESC, tok
        LIMIT {_VOCAB_TOP}
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) FILTER (WHERE tok NOT IN (SELECT tok FROM vocab))
                AS BIGINT) AS n_oov,
           CAST(COUNT(*) FILTER (WHERE tok NOT IN (SELECT tok FROM vocab))
                AS DOUBLE) / COUNT(*) AS oov_rate
    FROM toks GROUP BY lang
"""


@query("text_vocab_oov_rate", oracle=_VOCAB_OOV_ORACLE)
def text_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage audit: build the top-K corpus vocabulary by
    frequency (ties broken by token, so the vocabulary is deterministic —
    the trap in naive top-K vocab builds), then measure per-language
    out-of-vocabulary token rate.  This is the tokenizer-budget question
    every multilingual corpus asks: a language whose OOV rate is high
    under the shared vocabulary is under-served and will fragment into
    byte-level pieces at training time.

    Plan: one token explode feeding BOTH the vocab top-K (global count →
    ordered limit over the tiny distinct-token table) and the per-lang
    rollup; membership is a broadcast LEFT ANTI-style mark against the
    K-row vocab (here a left join + null check so the count stays one
    aggregation).  Exactness: pure integer counts; the rate is one
    int/int division.

    Scale: tokens shuffle once on the token for the global count; the
    vocabulary is K rows (broadcast); the per-lang rollup carries counts,
    never token text."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(_VOCAB_TOP)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    marked = toks.join(F.broadcast(vocab), "tok", "left")
    return marked.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
        (
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("oov_rate"),
    )


_STOPWORD_DF_FRAC = 0.5  # a token in more than half the docs is a stopword

_STOPWORD_ORACLE = f"""
    WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
    df AS (
        SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
        FROM documents, unnest(string_split(text, ' ')) AS t(tok)
        WHERE tok <> ''
        GROUP BY tok
    )
    SELECT df.tok AS token,
           df.doc_freq,
           CAST(df.doc_freq AS DOUBLE) / n.n_docs AS df_rate,
           df.doc_freq > {_STOPWORD_DF_FRAC} * n.n_docs AS is_stop
    FROM df, n
"""


@query("text_adaptive_stopwords", oracle=_STOPWORD_ORACLE)
def text_adaptive_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-adaptive stopword derivation: document frequency per token,
    flagged as a stopword when it appears in more than half the corpus —
    the data-driven replacement for fixed stopword lists that fixed
    lists can't give you on novel domains (code, logs, non-English).
    Downstream consumers (TF-IDF, keyword search, quality scoring) take
    this table as their filter side.

    The discipline is DOCUMENT frequency, not term frequency: the
    explode dedups (doc_id, token) BEFORE counting (count distinct doc
    per token), so a token spamming one document cannot become a
    stopword.  Exactness: integer counts, one int/int division for the
    audit rate.

    Scale: tokens shuffle once on the token key after an in-partition
    (doc, token) dedup; the distinct-token table is vocabulary-sized,
    and the 1-row corpus count broadcasts (q11 scalar pattern)."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.broadcast(docs.agg(F.count(F.lit(1)).alias("n_docs")))
    toks = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .distinct()
    )
    df = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("doc_freq")
    )
    return df.crossJoin(n).select(
        "token",
        "doc_freq",
        (F.col("doc_freq").cast("double") / F.col("n_docs")).alias("df_rate"),
        (
            F.col("doc_freq")
            > F.lit(_STOPWORD_DF_FRAC) * F.col("n_docs")
        ).alias("is_stop"),
    )


_HASH_BUCKETS = 32

_HASHED_BOW_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           CAST(CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT)
                % {_HASH_BUCKETS} AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM toks WHERE tok <> ''
    GROUP BY 1, 2
"""


@query("feature_hashed_bow", oracle=_HASHED_BOW_ORACLE)
def feature_hashed_bow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: fixed-width bag-of-words features with NO
    vocabulary pass — each token hashes straight to one of
    _HASH_BUCKETS (32) buckets, the featurization that makes streaming /
    out-of-core linear models possible (no dictionary to build, ship, or
    version).  Output is the long-form sparse matrix (doc, bucket,
    count) a trainer consumes.

    Cross-engine determinism is the interesting bit: Spark's hash() and
    DuckDB's hash() are different algorithms, so the bucket index is
    derived from md5 — a STANDARDIZED hash both engines implement
    byte-identically — via the leading 8 hex digits parsed as an
    integer.  (Spark: conv(hex, 16, 10); DuckDB: '0x' || hex cast.)
    That makes the feature layout portable across engines — the property
    a feature store needs when training and serving stacks differ.

    Scale: one narrow explode, one (doc, bucket) shuffle with map-side
    combine; bucket count is a constant, so state per doc is bounded."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
        % _HASH_BUCKETS
    )
    return toks.select("doc_id", bucket.alias("bucket")).groupBy(
        "doc_id", "bucket"
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


_KNN_K = 5
_KNN_STOP_DF = 50  # posting-list cutoff: ignore tokens in > this many docs

_KNN_JACCARD_ORACLE = f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, tok
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents WHERE doc_id < 300)
        WHERE tok <> ''
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id
    ), rare AS (
        SELECT tok FROM toks GROUP BY tok HAVING COUNT(*) <= {_KNN_STOP_DF}
    ), inter AS (
        SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
        FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        WHERE a.tok IN (SELECT tok FROM rare)
        GROUP BY 1, 2
    ), sym AS (
        SELECT da AS doc_id, db AS nb, i FROM inter
        UNION ALL
        SELECT db AS doc_id, da AS nb, i FROM inter
    ), scored AS (
        SELECT s.doc_id, s.nb,
               CAST(s.i AS BIGINT) AS n_inter,
               CAST(sa.sz + sb.sz - s.i AS BIGINT) AS n_union,
               ROW_NUMBER() OVER (
                   PARTITION BY s.doc_id
                   ORDER BY CAST(s.i AS DOUBLE) / (sa.sz + sb.sz - s.i) DESC,
                            s.nb
               ) AS rank
        FROM sym s
        JOIN sizes sa ON sa.doc_id = s.doc_id
        JOIN sizes sb ON sb.doc_id = s.nb
    )
    SELECT doc_id, nb AS neighbor_id, n_inter, n_union,
           CAST(rank AS BIGINT) AS rank
    FROM scored WHERE rank <= {_KNN_K}
"""


@query("text_jaccard_knn_graph", oracle=_KNN_JACCARD_ORACLE)
def text_jaccard_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document kNN graph under token-set Jaccard — the neighborhood
    structure clustering, semantic dedup review, and label propagation
    all start from.  The quadratic trap is avoided the posting-list way
    (the customer-Jaccard discipline, applied to text): candidates meet
    ONLY through shared tokens, with a stop-token cutoff (document
    frequency > {_KNN_STOP_DF} → the token generates no pairs) bounding
    each posting list — intersection counts come out of the join
    directly, unions from |A| + |B| − |A∩B|.

    Determinism: intersections/unions are exact integers; the ranking
    key is one int/int IEEE division (identical operands both engines)
    with neighbor id as the pinned tie-break.

    Scale: cost is Σ df(token)² over RARE tokens only — the stop cutoff
    turns the worst-case quadratic into posting-list-bounded work, and
    the top-k window prunes with WindowGroupLimit inside the shuffle."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    toks = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    rare = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _KNN_STOP_DF)
        .select("tok")
    )
    pruned = toks.join(rare, "tok")
    a = pruned.select(F.col("doc_id").alias("da"), "tok")
    b = pruned.select(F.col("doc_id").alias("db"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sym = inter.select(
        F.col("da").alias("doc_id"), F.col("db").alias("nb"), "i"
    ).unionByName(
        inter.select(F.col("db").alias("doc_id"), F.col("da").alias("nb"), "i")
    )
    sa = sizes.select(F.col("doc_id"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("nb"), F.col("sz").alias("szb"))
    scored = (
        sym.join(sa, "doc_id")
        .join(sb, "nb")
        .select(
            "doc_id",
            "nb",
            F.col("i").cast("long").alias("n_inter"),
            (F.col("sza") + F.col("szb") - F.col("i")).cast("long").alias("n_union"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(
        (F.col("n_inter").cast("double") / F.col("n_union")).desc(), "nb"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _KNN_K)
        .select("doc_id", F.col("nb").alias("neighbor_id"), "n_inter", "n_union", "rank")
    )


_WINNOW_K = 3  # tokens per k-gram
_WINNOW_W = 4  # k-gram hashes per winnowing window

_WINNOW_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), grams AS (
        SELECT doc_id,
               CASE WHEN len(ws) >= {_WINNOW_K}
                    THEN list_transform(
                        range(1, len(ws) - {_WINNOW_K - 2}),
                        i -> CAST(('0x' || substring(md5(
                                 array_to_string(ws[i:i+{_WINNOW_K - 1}], ' ')),
                                 1, 8)) AS BIGINT))
                    ELSE CAST([] AS BIGINT[]) END AS hs
        FROM toks
    ), picked AS (
        SELECT doc_id, hs,
               CASE WHEN len(hs) >= {_WINNOW_W}
                    THEN list_sort(list_distinct(list_transform(
                        range(1, len(hs) - {_WINNOW_W - 2}),
                        i -> list_min(hs[i:i+{_WINNOW_W - 1}]))))
                    ELSE list_sort(list_distinct(
                        CASE WHEN len(hs) > 0 THEN [list_min(hs)]
                             ELSE CAST([] AS BIGINT[]) END)) END AS fps
        FROM grams
    )
    SELECT doc_id,
           CAST(len(hs) AS BIGINT) AS n_kgrams,
           CAST(len(fps) AS BIGINT) AS n_fingerprints,
           sha256(array_to_string(fps, ',')) AS fingerprint_digest
    FROM picked
"""


@query("text_winnowing_fingerprints", oracle=_WINNOW_ORACLE)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (the MOSS plagiarism-detection
    algorithm): hash every 3-token k-gram, slide a 4-hash window,
    keep each window's MINIMUM — guaranteeing any shared substring of
    length >= w+k-1 tokens contributes at least one common fingerprint
    between two documents, while storing only ~2/(w+1) of the hashes.
    The principled middle ground between exact shingle sets (all
    hashes) and MinHash (global sample with no locality guarantee).

    Cross-engine determinism: k-gram hashes derive from md5's leading
    hex (the feature_hashed_bow portability trick — Spark hash() and
    DuckDB hash() are different algorithms); minima, dedup, and sort
    are exact integer ops; the digest hashes the sorted joined set so
    the whole fingerprint SET is pinned by one string column.

    Scale: entirely per-row array expressions (no shuffle at all) —
    the fingerprint table then joins like any posting list; selection
    cost is linear in tokens with bounded per-doc state."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    grams = F.when(
        F.size(ws) >= _WINNOW_K,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - (_WINNOW_K - 1)),
            lambda i: F.conv(
                F.substring(
                    F.md5(F.concat_ws(" ", F.slice(ws, i, _WINNOW_K))), 1, 8
                ),
                16,
                10,
            ).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    picked = docs.select("doc_id", grams.alias("hs")).select(
        "doc_id",
        "hs",
        F.when(
            F.size("hs") >= _WINNOW_W,
            F.array_sort(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("hs") - (_WINNOW_W - 1)),
                        lambda i: F.array_min(F.slice("hs", i, _WINNOW_W)),
                    )
                )
            ),
        )
        .otherwise(
            F.array_sort(
                F.array_distinct(
                    F.when(
                        F.size("hs") > 0, F.array(F.array_min("hs"))
                    ).otherwise(F.array().cast("array<long>"))
                )
            )
        )
        .alias("fps"),
    )
    return picked.select(
        "doc_id",
        F.size("hs").cast("long").alias("n_kgrams"),
        F.size("fps").cast("long").alias("n_fingerprints"),
        F.sha2(F.array_join("fps", ","), 256).alias("fingerprint_digest"),
    )


_CONTAM_BY_SOURCE_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, source,
               string_split(lower(trim(text)), ' ') AS ws FROM documents
    ), grams AS (
        SELECT doc_id, source,
               CASE WHEN len(ws) >= {DECONTAM_NGRAM}
                    THEN list_distinct([array_to_string(ws[i:i+{DECONTAM_NGRAM}-1], ' ')
                                        for i in range(1, len(ws) - {DECONTAM_NGRAM} + 2)])
                    ELSE [] END AS gs
        FROM toks
    ), ex AS (
        SELECT doc_id, source, unnest(gs) AS g FROM grams
    ), eval_grams AS (
        SELECT DISTINCT g FROM ex WHERE doc_id < {DECONTAM_EVAL_DOCS}
    ), contaminated AS (
        SELECT DISTINCT e.doc_id, e.source
        FROM ex e JOIN eval_grams v ON e.g = v.g
        WHERE e.doc_id >= {DECONTAM_EVAL_DOCS}
    ), train AS (
        SELECT source, COUNT(*) AS n_docs FROM documents
        WHERE doc_id >= {DECONTAM_EVAL_DOCS}
        GROUP BY source
    )
    SELECT t.source,
           CAST(t.n_docs AS BIGINT) AS n_train_docs,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_contaminated,
           CAST(COALESCE(c.n, 0) AS DOUBLE) / t.n_docs AS contamination_rate
    FROM train t
    LEFT JOIN (SELECT source, COUNT(*) AS n FROM contaminated GROUP BY source) c
      USING (source)
"""


@query("corpus_contamination_by_source", oracle=_CONTAM_BY_SOURCE_ORACLE)
def corpus_contamination_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set contamination localized per SOURCE — the question after
    text_decontaminate says "you have leakage": WHICH FEED is leaking
    benchmark text (a crawler that indexed the benchmark site, a vendor
    shipping eval dumps)?  Same contamination rule as the pinned
    decontaminate operator (any shared 5-gram with the eval stand-in,
    doc_id < 10), rolled up to per-source doc counts and rates so the
    fix lands on a feed, not on 50k individual documents.  The
    by-source complement of dedup_rate_by_source, on the contamination
    axis.

    Scale: the 5-gram explode shuffles hashes once; the eval gram set
    is benchmark-sized (broadcastable); rollups carry counts only.
    Exact integers, one int/int division."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.lower(F.trim("text")), " ")
    gs = F.when(
        F.size(ws) >= DECONTAM_NGRAM,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(ws) - (DECONTAM_NGRAM - 1)),
                lambda i: F.concat_ws(" ", F.slice(ws, i, DECONTAM_NGRAM)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    ex = docs.select("doc_id", "source", F.explode(gs).alias("g"))
    eval_grams = (
        ex.filter(F.col("doc_id") < DECONTAM_EVAL_DOCS).select("g").distinct()
    )
    contaminated = (
        ex.filter(F.col("doc_id") >= DECONTAM_EVAL_DOCS)
        .join(F.broadcast(eval_grams), "g")
        .select("doc_id", "source")
        .distinct()
    )
    train = (
        docs.filter(F.col("doc_id") >= DECONTAM_EVAL_DOCS)
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_train_docs"))
    )
    per_source = contaminated.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")
    )
    return train.join(per_source, "source", "left").select(
        "source",
        "n_train_docs",
        F.coalesce("n", F.lit(0)).cast("long").alias("n_contaminated"),
        (
            F.coalesce("n", F.lit(0)).cast("double") / F.col("n_train_docs")
        ).alias("contamination_rate"),
    )


BPE_PAIR_TOP_K = 50


@query(
    "text_bpe_pair_counts",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(regexp_extract_all(text, $${BPE_PRETOKEN_PATTERN}$$)) AS tok
        FROM documents
    ), vocab AS (
        SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
    ), pairs AS (
        SELECT substring(tok, CAST(i AS INT), 2) AS pair, n
        FROM vocab, LATERAL unnest(range(1, length(tok))) AS t(i)
        WHERE length(tok) >= 2
    )
    SELECT pair, CAST(SUM(n) AS BIGINT) AS n_occurrences
    FROM pairs GROUP BY pair
    ORDER BY n_occurrences DESC, pair
    LIMIT {BPE_PAIR_TOP_K}
    """,
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE TRAINING step: corpus-wide adjacent-symbol-pair
    frequencies over the pre-tokenized text (same lookahead-free GPT-2
    rule as text_bpe_pretokenize), top-50 candidates — the statistic a
    tokenizer trainer computes once per merge round, and the single most
    common "train a tokenizer on my 100 TB corpus" primitive.

    The classic scaling trick is built in: pairs are generated per
    DISTINCT pre-token weighted by its corpus count, never per
    occurrence — the pair-expansion stage is VOCABULARY-sized (hundreds
    of thousands of rows however big the corpus), and the corpus-sized
    work is exactly one token groupBy (map-side combined).  Pair
    extraction is a JVM-side transform over substring windows, no
    Python.  The top-K is orderBy+limit with the pair string as the
    deterministic tie-break, so the cut line is identical on both
    engines.

    Follow-up merge rounds re-run the same two aggregations over the
    rewritten vocabulary (vocab-sized input each round), which is why
    BPE training at corpus scale is cheap after THIS operator's first
    pass."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.regexp_extract_all("text", F.lit(BPE_PRETOKEN_PATTERN), 0)
        ).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    pairs = vocab.filter(F.length("tok") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")
        ).alias("pair"),
        "n",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(BPE_PAIR_TOP_K)
    )


BPE_MERGE_ROUNDS = 3
# Symbol-boundary separator for the merge rewrite.  A symbol sequence
# [s1, s2, ..., sk] is encoded as SEP s1 SEP SEP s2 SEP SEP ... sk SEP —
# every interior boundary carries exactly TWO separators, each end exactly
# ONE.  Merging pair (L, R) is then the plain left-to-right string replace
# of  SEP L SEP SEP R SEP  with  SEP L+R SEP : the consumed boundary halves
# re-pair with the neighbors' remaining halves, so the invariant survives
# the rewrite, consecutive occurrences ("abab") all merge in one pass, and
# overlapping runs ("aaa" with L=R="a") merge greedily left-to-right —
# exactly the list-fold semantics of the classic BPE trainer.  \x01 never
# appears in text (enforced by filter, not assumed).
_BPE_SEP = "\x01"


def _bpe_merges_oracle() -> str:
    sep = "chr(1)"
    sep2 = f"{sep}||{sep}"

    def round_ctes(i: int, prev_w: str) -> str:
        return f"""
    p{i} AS (
        SELECT seq[CAST(i AS INT)] AS l, seq[CAST(i AS INT)+1] AS r,
               SUM(n) AS c
        FROM (
            SELECT string_split(substr(s, 2, length(s) - 2), {sep2}) AS seq, n
            FROM {prev_w}
        ) t, LATERAL unnest(range(1, len(seq))) u(i)
        GROUP BY 1, 2
    ), b{i} AS (
        SELECT l, r, c FROM p{i} ORDER BY c DESC, l, r LIMIT 1
    ), w{i + 1} AS (
        SELECT tok, replace(s, {sep}||b.l||{sep2}||b.r||{sep},
                               {sep}||b.l||b.r||{sep}) AS s, n
        FROM {prev_w}, b{i} b
    )"""

    rounds = ",".join(
        round_ctes(i, f"w{i}") for i in range(1, BPE_MERGE_ROUNDS + 1)
    )
    selects = " UNION ALL ".join(
        f"SELECT {i} AS merge_round, l AS left_sym, r AS right_sym,"
        f" CAST(c AS BIGINT) AS pair_count FROM b{i}"
        for i in range(1, BPE_MERGE_ROUNDS + 1)
    )
    return f"""
    WITH toks AS (
        SELECT unnest(regexp_extract_all(text, $${BPE_PRETOKEN_PATTERN}$$)) AS tok
        FROM documents
    ), vocab AS (
        SELECT tok, COUNT(*) AS n FROM toks
        WHERE NOT contains(tok, {sep}) GROUP BY tok
    ), w1 AS (
        SELECT tok,
               {sep} || array_to_string(
                   list_transform(range(1, length(tok) + 1),
                                  i -> substring(tok, CAST(i AS INT), 1)),
                   {sep2}) || {sep} AS s, n
        FROM vocab
    ),{rounds}
    SELECT * FROM ({selects}) ORDER BY merge_round
    """


@query("text_bpe_train_merges", oracle=_bpe_merges_oracle())
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TRAINING step 2 — the merge loop (Sennrich, Haddow & Birch
    2016, "Neural Machine Translation of Rare Words with Subword Units"):
    ``BPE_MERGE_ROUNDS`` unrolled rounds of [count adjacent symbol pairs
    over the weighted distinct-pretoken vocabulary -> pick the most
    frequent pair (count DESC, then (left, right) lexicographic — a total
    order, so the pick is identical on both engines) -> rewrite every
    occurrence greedily left-to-right].  Completes the public BPE story
    that text_bpe_pair_counts (step 1) started.  Output: one row per
    merge round with the learned (left, right) pair and its corpus count.

    Spark-first plan, fully lazy — NO driver collect anywhere: each
    round's argmax is an ``orderBy().limit(1)`` (TakeOrderedAndProject
    over the vocabulary-sized pair table), and the merge rewrite reaches
    the next round as a broadcast of that 1-row DataFrame crossJoined
    into a JVM-side ``replace()`` on the boundary-encoded symbol string
    (see _BPE_SEP invariant above) — the same classic trick that makes
    BPE training corpus-size-independent after the first token count:
    every post-vocab stage is VOCABULARY-sized regardless of corpus
    size.  Per-round vocab frames are persisted (consumed by both the
    argmax and the next rewrite; the engine's query-boundary
    clear_caches reclaims them — the established contract).

    100 TB: one corpus-sized token groupBy (map-side combined), then 3x
    {vocab-sized shuffle agg + 1-row top-k + map-side rewrite}.  The
    10x probe is expected flat because the vocabulary, not the corpus,
    bounds every round."""
    bests, _ = _bpe_merge_chain(spark, sf_dir)
    out = bests[0]
    for b in bests[1:]:
        out = out.unionByName(b)
    return out.orderBy("merge_round")


def _bpe_merge_chain(
    spark: SparkSession, sf_dir: str
) -> tuple[list[DataFrame], DataFrame]:
    """Shared BPE merge loop: returns (per-round 1-row merge DataFrames,
    the post-all-merges vocabulary state (tok, s, n)).  The loop body is
    documented on text_bpe_train_merges; the final words frame stays lazy
    so the train op never pays for the last rewrite it doesn't consume."""
    sep2 = _BPE_SEP * 2
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.regexp_extract_all("text", F.lit(BPE_PRETOKEN_PATTERN), 0)
        ).alias("tok")
    )
    vocab = (
        toks.filter(~F.col("tok").contains(_BPE_SEP))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    words = vocab.select(
        "tok",
        F.concat(
            F.lit(_BPE_SEP),
            F.array_join(
                F.expr("transform(sequence(1, length(tok)), i -> substring(tok, i, 1))"),
                sep2,
            ),
            F.lit(_BPE_SEP),
        ).alias("s"),
        "n",
    ).persist()
    bests = []
    for rnd in range(1, BPE_MERGE_ROUNDS + 1):
        seqd = words.withColumn(
            "seq", F.split(F.expr("substring(s, 2, length(s) - 2)"), sep2)
        ).filter(F.size("seq") >= 2)  # sequence(1, 0) would DESCEND in Spark
        pairs = seqd.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(seq) - 1),"
                    " i -> struct(element_at(seq, i) AS l,"
                    "             element_at(seq, i + 1) AS r))"
                )
            ).alias("p"),
            "n",
        )
        best = (
            pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("n").alias("c"))
            .orderBy(F.desc("c"), "l", "r")
            .limit(1)
            .persist()
        )
        bests.append(
            best.select(
                F.lit(rnd).alias("merge_round"),
                F.col("l").alias("left_sym"),
                F.col("r").alias("right_sym"),
                F.col("c").cast("long").alias("pair_count"),
            )
        )
        rewritten = words.crossJoin(F.broadcast(best)).select(
            "tok",
            F.replace(
                F.col("s"),
                F.concat(F.lit(_BPE_SEP), "l", F.lit(sep2), "r", F.lit(_BPE_SEP)),
                F.concat(F.lit(_BPE_SEP), "l", "r", F.lit(_BPE_SEP)),
            ).alias("s"),
            "n",
        )
        words = rewritten.persist() if rnd < BPE_MERGE_ROUNDS else rewritten
    return bests, words


_BPE_COMPRESSION_ORACLE_TAIL = """
    , sym AS (
        SELECT tok,
               ((length(s) - length(replace(s, chr(1), ''))) - 2) // 2 + 1
                   AS k
        FROM w{final}
    ), src_toks AS (
        SELECT source,
               unnest(regexp_extract_all(text, $${pat}$$)) AS tok
        FROM documents
    ), src_vocab AS (
        SELECT source, tok, COUNT(*) AS m
        FROM src_toks WHERE NOT contains(tok, chr(1))
        GROUP BY source, tok
    )
    SELECT v.source,
           CAST(SUM(v.m) AS BIGINT) AS n_pretokens,
           CAST(SUM(v.m * length(v.tok)) AS BIGINT) AS n_chars,
           CAST(SUM(v.m * y.k) AS BIGINT) AS n_bpe_symbols,
           CAST(SUM(v.m * y.k) AS DOUBLE) / SUM(v.m * length(v.tok))
               AS symbols_per_char
    FROM src_vocab v JOIN sym y ON y.tok = v.tok
    GROUP BY v.source
"""


def _bpe_compression_oracle() -> str:
    base = _bpe_merges_oracle()
    # reuse the unrolled merge CTEs; drop the train op's final SELECT and
    # append the per-source compression rollup over the w{rounds+1} state
    chain = base[: base.rindex("SELECT * FROM")]
    return chain + _BPE_COMPRESSION_ORACLE_TAIL.format(
        final=BPE_MERGE_ROUNDS + 1, pat=BPE_PRETOKEN_PATTERN
    )


@query("text_bpe_compression_by_source", oracle=_bpe_compression_oracle())
def text_bpe_compression_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TRAINING step 3 — apply the corpus-learned merges back to the
    corpus and price the result per SOURCE: pretoken count, character
    count, post-merge symbol count, and symbols-per-char — the
    "how much does k merges compress each feed" table a tokenizer-sizing
    run reads (a feed whose compression lags the corpus average has
    out-of-distribution character structure: code in a prose corpus,
    wrong-language text, binary spillage).  Composes step 2
    (text_bpe_train_merges) exactly: same chain, same merges.

    Symbol counts come straight off the boundary encoding — a symbol
    string with b separators holds (b-2)/2 + 1 symbols — so no re-parse
    of the rewritten vocabulary is needed.  The per-source rollup joins
    the (source, tok) occurrence counts (corpus-sized groupBy, map-side
    combined) to the vocabulary-sized symbol table: the join's build
    side is the vocabulary, the stream side per-source counts — both
    bounded by vocab x sources, never by the corpus.  One int/int
    division per row at the end; everything upstream exact integers."""
    bests, words = _bpe_merge_chain(spark, sf_dir)
    sym = words.select(
        "tok",
        (
            (
                F.length("s")
                - F.length(F.replace(F.col("s"), F.lit(_BPE_SEP), F.lit("")))
                - F.lit(2)
            )
            / F.lit(2)
            + F.lit(1)
        )
        .cast("long")
        .alias("k"),
    )
    docs = load_table(spark, sf_dir, "documents")
    src_vocab = (
        docs.select(
            "source",
            F.explode(
                F.regexp_extract_all("text", F.lit(BPE_PRETOKEN_PATTERN), 0)
            ).alias("tok"),
        )
        .filter(~F.col("tok").contains(_BPE_SEP))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    return (
        src_vocab.join(sym, "tok")
        .groupBy("source")
        .agg(
            F.sum("m").cast("long").alias("n_pretokens"),
            F.sum(F.col("m") * F.length("tok")).cast("long").alias("n_chars"),
            F.sum(F.col("m") * F.col("k")).cast("long").alias("n_bpe_symbols"),
            (
                F.sum(F.col("m") * F.col("k")).cast("double")
                / F.sum(F.col("m") * F.length("tok"))
            ).alias("symbols_per_char"),
        )
    )


@query(
    "text_zipf_histogram",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split(lower(trim(text)), ' ')) AS tok
        FROM documents
    ), freq AS (
        SELECT tok, COUNT(*) AS n FROM toks WHERE tok <> '' GROUP BY tok
    )
    SELECT CAST(FLOOR(LOG2(n)) AS BIGINT) AS freq_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(MIN(n) AS BIGINT) AS min_freq,
           CAST(MAX(n) AS BIGINT) AS max_freq
    FROM freq GROUP BY 1
    """,
)
def text_zipf_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-free Zipf diagnostic: token TYPES binned by log2 of their
    corpus frequency, with type and token mass per bucket — the shape a
    natural-language corpus must show (mass concentrated in few
    high-frequency buckets, a long singleton tail) and machine-generated
    or template spam visibly does not.  Tokenizer-vocabulary sizing
    reads the same table: the singleton bucket is the candidate-prune
    set, the top buckets are stopword candidates (text_adaptive_
    stopwords thresholds them).

    One token groupBy (map-side combined; vocabulary-sized output), then
    a <= ~25-bucket rollup.  floor(log2(n)) boundaries are exact for
    integer n on both engines (the graph_degree_distribution argument)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim("text")), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    return freq.groupBy(
        F.floor(F.log2("n")).cast("long").alias("freq_bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("n").cast("long").alias("n_tokens"),
        F.min("n").cast("long").alias("min_freq"),
        F.max("n").cast("long").alias("max_freq"),
    )


def _readability_sql(count_re: str) -> str:
    """Shared Flesch text; regexp-count spelling differs per dialect."""
    return f"""
WITH counts AS (
    SELECT doc_id,
           GREATEST({count_re.format(col="text", pat="'[.!?]+'")}, 1)
               AS n_sentences,
           GREATEST(len(string_split(text, ' ')), 1) AS n_words,
           {count_re.format(col="lower(text)", pat="'[aeiouy]+'")}
               AS n_syllables
    FROM {{documents}}
)
SELECT doc_id,
       CAST(n_sentences AS BIGINT) AS n_sentences,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_syllables AS BIGINT) AS n_syllables,
       0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
           + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words)
           - 15.59 AS fk_grade,
       206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
           - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words) AS flesch_ease
FROM counts
"""


_READ_ORACLE = _readability_sql("len(regexp_extract_all({col}, {pat}))")
_READ_SPARK = _readability_sql("regexp_count({col}, {pat})").replace(
    "len(string_split(", "size(split("
)


@query("text_readability_fk", oracle=bare_tables(_READ_ORACLE))
def text_readability_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade level + Flesch reading-ease per document —
    the readability axis of corpus curation (the C4/Gopher gates in
    text_quality_score filter degenerate text; readability targets the
    AUDIENCE level, e.g. keeping a children's-content mix genuinely
    simple or flagging legalese).

    Syllables are approximated as VOWEL GROUPS (`[aeiouy]+` runs) — the
    standard closed-form proxy (true syllabification needs a
    pronunciation lexicon; the vowel-group count is deterministic,
    language-blind, and the error washes out at corpus scale).
    Sentences are punctuation runs (`[.!?]+`), floored at 1.  All three
    counts are exact integers from regexp counts — the same regex class
    evaluated by each engine's RE2-style matcher on identical text —
    and both scores are one shared per-row IEEE formula on those
    integers (per-row, never summed: the documented double discipline).

    Scale: embarrassingly parallel scan, no shuffle at all — the
    readability columns land next to the quality gate in one pass."""
    return spark.sql(_READ_SPARK, documents=load_table(spark, sf_dir, "documents"))


VOCAB_COVERAGE_FENCES = (5, 10, 20)  # vocab sizes evaluated (fixture-scaled)


def _coverage_sql(split_expr: str, idiv: str) -> str:
    """Shared vocabulary-coverage text; tokenizer and integer-division
    spellings per dialect."""
    selects = "\n    UNION ALL\n".join(
        f"""    SELECT CAST({k} AS BIGINT) AS vocab_size,
           CAST(MAX(CASE WHEN r <= {k} THEN cum END) * 1000000
                {idiv} MAX(total) AS BIGINT) AS coverage_ppm,
           CAST(MAX(n_types) AS BIGINT) AS n_types
    FROM cum"""
        for k in VOCAB_COVERAGE_FENCES
    )
    return f"""
WITH toks AS (
    SELECT {split_expr} AS tok FROM documents
), counts AS (
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM toks WHERE tok <> '' GROUP BY tok
), ranked AS (
    SELECT cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS BIGINT) AS r
    FROM counts
), cum AS (
    SELECT r,
           CAST(SUM(cnt) OVER (ORDER BY r ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS cum,
           CAST(SUM(cnt) OVER () AS BIGINT) AS total,
           CAST(COUNT(*) OVER () AS BIGINT) AS n_types
    FROM ranked
)
{selects}
"""


_COVERAGE_ORACLE = _coverage_sql("unnest(string_split(text, ' '))", "//")
_COVERAGE_SPARK = _coverage_sql("explode(split(text, ' '))", "DIV")


@query("text_vocab_coverage_curve", oracle=_COVERAGE_ORACLE)
def text_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve — for each candidate vocab size k, the
    exact fraction (ppm) of all corpus TOKENS covered by the k most
    frequent TYPES.  This is the tokenizer-sizing decision table ("how
    big must the vocab be for 95% coverage, and where does the curve
    flatten?") that text_zipf_histogram's shape check motivates but
    can't answer, and the direct input to text_vocab_oov_rate's
    top-k-vocab choice.  Fences are fixture-scaled ({VOCAB_COVERAGE_FENCES}
    over this corpus's small synthetic vocabulary; at a real corpus
    they'd be 2^13..2^17).

    Exactness: exact type counts, deterministic (count DESC, token)
    ranking, floor-ppm coverage — each fence read as a conditional MAX
    over the cumulative table (no range join, no fanout).

    Scale (r9, migrated off the unpartitioned-window allowlist):
    |vocabulary| GROWS with the corpus (Heaps' law — ~100M types at
    100 TB of text), so the former rank+cumsum global windows were
    single-task pinches; both the frequency rank AND the running token
    mass now come from ONE two-phase ranked_prefix_sum pass (ones +
    cnt), with the token total and type count exact from the offset
    fold.  The token reduction is the only corpus-sized stage
    (map-side combined)."""
    from etl_pipeline_aws_spark.functions.prefix import ranked_prefix_sum

    counts = spark.sql(
        """
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT explode(split(text, ' ')) AS tok FROM {documents})
        WHERE tok <> '' GROUP BY tok
        """,
        documents=load_table(spark, sf_dir, "documents"),
    ).withColumn("_one", F.lit(1).cast("long"))
    ranked, totals = ranked_prefix_sum(
        counts, [F.desc("cnt"), F.asc("tok")], ["cnt", "_one"]
    )
    total, n_types = int(totals["cnt"]), int(totals["_one"])
    row = ranked.agg(
        *[
            F.max(
                F.when(F.col("cum__one") <= k, F.col("cum_cnt"))
            ).alias(f"c{k}")
            for k in VOCAB_COVERAGE_FENCES
        ]
    )
    fences = F.array(
        *[
            F.struct(
                F.lit(k).cast("long").alias("vocab_size"),
                F.expr(f"CAST(c{k} * 1000000 DIV {total} AS BIGINT)").alias(
                    "coverage_ppm"
                ),
                F.lit(n_types).cast("long").alias("n_types"),
            )
            for k in VOCAB_COVERAGE_FENCES
        ]
    )
    return row.select(F.explode(fences).alias("s")).select("s.*")


_BM25_K1 = "1.2"  # saturation constant, literal text shared verbatim by both engines
_BM25_ORACLE = f"""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avgdl
        FROM base
    ), postings AS (
        SELECT b.doc_id, len(b.toks) AS dl, t.term
        FROM base b, unnest(b.toks) AS t(term)
        WHERE t.term IN {_SEARCH_TERMS!r}
    ), tfc AS (
        SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM postings GROUP BY doc_id, dl, term
    ), dfc AS (
        SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM postings GROUP BY term
    ), scored AS (
        SELECT doc_id,
               CAST((n_docs * 1000) // df AS DOUBLE)
               * (CAST(tf AS DOUBLE) * ({_BM25_K1} + 1))
               / (CAST(tf AS DOUBLE)
                  + {_BM25_K1} * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
                   AS term_score
        FROM tfc JOIN dfc USING (term) CROSS JOIN stats
    )
    SELECT doc_id,
           CAST(SUM(CAST(FLOOR(term_score * 1000) AS BIGINT)) AS BIGINT)
               AS bm25_score_milli,
           CAST(COUNT(*) AS BIGINT) AS n_terms_hit
    FROM scored
    GROUP BY doc_id
    ORDER BY bm25_score_milli DESC, doc_id
    LIMIT {_SEARCH_TOP}
"""


def bm25_scored_milli(docs: DataFrame) -> DataFrame:
    """Shared BM25 scoring core: (doc_id, bm25_score_milli, n_terms_hit)
    for every document hitting at least one of {_SEARCH_TERMS} — the
    un-truncated ranking text_bm25_search top-10s and the hybrid RRF
    fusion (llm/similarity.py) re-ranks.  See text_bm25_search for the
    determinism and plan-shape rationale."""
    base = docs.select(
        "doc_id", F.size(_tokens()).alias("dl"),
        F.explode(_tokens()).alias("term"),
    )
    postings = base.filter(F.col("term").isin(*_SEARCH_TERMS))
    tf = postings.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_counts = postings.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.size(_tokens())).cast("double") / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    k1 = float(_BM25_K1)
    term_score = (
        F.expr("(n_docs * 1000) div df").cast("double")
        * (F.col("tf").cast("double") * F.lit(k1 + 1))
        / (
            F.col("tf").cast("double")
            + F.lit(k1)
            * (F.lit(0.25) + F.lit(0.75) * (F.col("dl").cast("double") / F.col("avgdl")))
        )
    )
    return (
        tf.join(F.broadcast(df_counts), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", term_score.alias("term_score"))
        .groupBy("doc_id")
        .agg(
            F.sum(F.floor(F.col("term_score") * 1000).cast("long"))
            .cast("long")
            .alias("bm25_score_milli"),
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        )
    )


@query("text_bm25_search", oracle=_BM25_ORACLE)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-ranked keyword search (k1 = 1.2, b = 0.75) — the ranking
    function production search engines actually run, completing the
    retrieval pair with text_keyword_search's plain TF-IDF: BM25 adds
    TF SATURATION (a term's 50th occurrence adds almost nothing — the
    k1 damping) and LENGTH NORMALIZATION (a hit in a short doc beats
    the same hit diluted in a long one — the b·dl/avgdl term).

    Cross-engine determinism: the idf factor stays the floor-divided
    integer ⌊N·1000/df⌋ (the keyword-search discipline — a float ln()
    idf can flip ranks in the last ulp); the saturation ratio is pure
    IEEE arithmetic (multiply/divide of identical doubles — exact on
    both engines) written as ONE shared formula text; each term
    score is then floor-scaled to integer MILLI-points (floor of
    identical doubles is identical) so the per-doc summation is exact
    BIGINT arithmetic — engines disagree on double→DECIMAL rounding
    modes (measured: a 1-ulp flip at the 12th decimal), integers
    cannot.  1−b and k1+1 appear as the
    exact literals 0.25 and (1.2 + 1).

    Plan shape (same inverted-index discipline as text_keyword_search):
    explode is filtered to the query's terms immediately — posting
    lists, never vocabulary; doc length rides the posting rows so no
    second scan joins it back; N and avgdl are a single-row broadcast.
    At 100 TB the postings become a term-partitioned index and query
    cost scales with |terms|, not the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return bm25_scored_milli(docs).orderBy(
        F.col("bm25_score_milli").desc(), "doc_id"
    ).limit(_SEARCH_TOP)


_KAPPA_PRED_CTE = """
    WITH pred AS (
        SELECT lang AS labeled_lang,
               CASE
                 WHEN len(list_filter(string_split(text, ' '),
                                      w -> w IN ('the','fast','slow')))
                      >= len(list_filter(string_split(text, ' '),
                                         w -> w IN ('data','table','row')))
                  AND len(list_filter(string_split(text, ' '),
                                      w -> w IN ('the','fast','slow')))
                      >= len(list_filter(string_split(text, ' '),
                                         w -> w IN ('spark','batch','window')))
                 THEN 'en'
                 WHEN len(list_filter(string_split(text, ' '),
                                      w -> w IN ('data','table','row')))
                      >= len(list_filter(string_split(text, ' '),
                                         w -> w IN ('spark','batch','window')))
                 THEN 'es'
                 ELSE 'de'
               END AS predicted_lang
        FROM documents
    )"""

_KAPPA_ORACLE = _KAPPA_PRED_CTE + """
    , cells AS (
        SELECT labeled_lang AS l, predicted_lang AS p,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM pred GROUP BY 1, 2
    ), tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n_total,
               CAST(SUM(CASE WHEN l = p THEN n ELSE 0 END) AS BIGINT) AS n_agree
        FROM cells
    ), marg AS (
        SELECT CAST(SUM(r.rn * c.cn) AS BIGINT) AS sum_rc
        FROM (SELECT l, CAST(SUM(n) AS BIGINT) AS rn FROM cells GROUP BY l) r
        JOIN (SELECT p, CAST(SUM(n) AS BIGINT) AS cn FROM cells GROUP BY p) c
          ON r.l = c.p
    )
    SELECT n_total, n_agree, sum_rc,
           CAST(n_total * n_agree - sum_rc AS DOUBLE)
               / CAST(n_total * n_total - sum_rc AS DOUBLE) AS kappa
    FROM tot CROSS JOIN marg
"""


@query("stat_cohens_kappa", oracle=_KAPPA_ORACLE)
def stat_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa for the marker-word language-ID against the labeled
    language — chance-corrected agreement, the number that keeps a
    classifier honest on imbalanced classes (raw accuracy flatters any
    majority-class guesser; kappa subtracts exactly the agreement the
    marginals would produce by chance).  Completes the classifier-QA
    family: the confusion matrix (text_lang_confusion_matrix) shows
    WHERE it fails, kappa scores HOW MUCH better than chance it is.

    Exactness: kappa = (N·Σn_kk − Σ_k row_k·col_k) / (N² − Σ_k
    row_k·col_k) — the po/pe form cleared of denominators, so the whole
    statistic is exact BIGINT arithmetic with ONE closing division
    (magnitudes ≤ N², far under int64 at any plausible doc count... at
    N > 3·10⁹ switch the products to DECIMAL, plan unchanged).

    Scale: one narrow scan feeds a |langs|²-cell reduction; everything
    after is 3-row marginal arithmetic and a 1×1 join (allowlisted
    scale-free cartesian, the q11 pattern)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()

    def marker_hits(markers: tuple[str, ...]):
        return F.size(F.filter(toks, lambda w: w.isin(*markers)))

    scores = {lang: marker_hits(markers) for lang, markers in _LANG_MARKERS.items()}
    predicted = (
        F.when(
            (scores["en"] >= scores["es"]) & (scores["en"] >= scores["de"]), "en"
        )
        .when(scores["es"] >= scores["de"], "es")
        .otherwise("de")
    )
    cells = (
        docs.select(F.col("lang").alias("l"), predicted.alias("p"))
        .groupBy("l", "p")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = cells.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.sum(F.when(F.col("l") == F.col("p"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_agree"),
    )
    rows = cells.groupBy("l").agg(F.sum("n").cast("long").alias("rn"))
    cols = cells.groupBy("p").agg(F.sum("n").cast("long").alias("cn"))
    marg = (
        rows.join(cols, rows["l"] == cols["p"])
        .agg(F.sum(F.col("rn") * F.col("cn")).cast("long").alias("sum_rc"))
    )
    return tot.crossJoin(marg).select(
        "n_total",
        "n_agree",
        "sum_rc",
        (
            (F.col("n_total") * F.col("n_agree") - F.col("sum_rc")).cast("double")
            / (F.col("n_total") * F.col("n_total") - F.col("sum_rc")).cast("double")
        ).alias("kappa"),
    )


KN_DISCOUNT = "0.75"  # absolute discount; exact binary fraction, shared literal
KN_TOP = 20

_KN_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), bi AS (
        SELECT t[i] AS w1, t[i + 1] AS w2
        FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) r
    ), counts AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM bi GROUP BY 1, 2
    ), prefix AS (
        SELECT w1, CAST(SUM(c) AS BIGINT) AS cp,
               CAST(COUNT(*) AS BIGINT) AS n1p_w1
        FROM counts GROUP BY w1
    ), cont AS (
        SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1p_cont
        FROM counts GROUP BY w2
    ), t AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS t_types FROM counts
    )
    SELECT w1, w2, c,
           CAST(c AS DOUBLE) / cp AS p_mle,
           (CAST(c AS DOUBLE) - {KN_DISCOUNT}) / cp
               + ({KN_DISCOUNT} * n1p_w1 / cp)
                 * (CAST(n1p_cont AS DOUBLE) / t_types) AS p_kn
    FROM counts
    JOIN prefix USING (w1)
    JOIN cont USING (w2)
    CROSS JOIN t
    ORDER BY c DESC, w1, w2
    LIMIT {KN_TOP}
"""


@query("text_bigram_kneser_ney", oracle=_KN_ORACLE)
def text_bigram_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney smoothed bigram probabilities (absolute discount
    d = {KN_DISCOUNT}) for the corpus' top-{KN_TOP} bigrams — THE n-gram
    smoothing method (the one every LM textbook lands on): mass
    discounted from seen bigrams is redistributed by CONTINUATION
    probability (how many distinct contexts a word completes), which is
    why "san francisco" lends almost nothing to "francisco" appearing
    elsewhere — the insight raw MLE (text_bigram_lm) and additive
    smoothing both miss.  p_kn = (c−d)/c(w1·) + d·N1+(w1·)/c(w1·) ·
    N1+(·w2)/T.

    Exactness: every input is an exact count; d = 0.75 is an exact
    binary fraction so c−d is exact; the two terms are single-division
    products added in one fixed written order — no transcendental, no
    accumulation (c ≥ 1 keeps c−d positive, so no max() clamp is
    needed).  Ranking is by integer count with lexicographic
    tie-break.

    Scale: the model tables ARE the aggregations (bigram, prefix,
    continuation — each one shuffle on its key, vocabulary-bounded
    output); T is a single-row broadcast (q11 pattern).  At 100 TB
    these persist as the LM's bucketed model tables; scoring joins
    co-locate on w1 exactly as text_bigram_novelty documents."""
    docs = load_table(spark, sf_dir, "documents")
    # split() evaluated ONCE per row (the inline triple-split spelling the
    # siblings use re-tokenizes 3x; measured 50 s at the 10x replica where
    # string volume dominates — one projected split column removes it)
    bi = docs.select(F.split("text", " ").alias("ws")).select(
        F.explode(
            F.expr(
                "transform(slice(ws, 1, size(ws) - 1),"
                " (w, i) -> struct(w AS w1, ws[i + 1] AS w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    counts = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c"))
    prefix = counts.groupBy("w1").agg(
        F.sum("c").cast("long").alias("cp"),
        F.count(F.lit(1)).cast("long").alias("n1p_w1"),
    )
    cont = counts.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("n1p_cont")
    )
    t = counts.agg(F.count(F.lit(1)).cast("long").alias("t_types"))
    d = float(KN_DISCOUNT)
    scored = (
        counts.join(prefix, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(t))
        .select(
            "w1",
            "w2",
            "c",
            (F.col("c").cast("double") / F.col("cp")).alias("p_mle"),
            (
                (F.col("c").cast("double") - F.lit(d)) / F.col("cp")
                + (F.lit(d) * F.col("n1p_w1") / F.col("cp"))
                * (F.col("n1p_cont").cast("double") / F.col("t_types"))
            ).alias("p_kn"),
        )
    )
    return scored.orderBy(F.col("c").desc(), "w1", "w2").limit(KN_TOP)


def _compression_kernel(texts):
    """Arrow-batched zlib ratio kernel (module-level so Spark pickles a
    reference, not a closure)."""
    import zlib

    import pandas as pd

    return pd.DataFrame(
        {
            "n_raw": texts.str.len().astype("int64"),
            "n_compressed": texts.map(
                lambda t: len(zlib.compress(t.encode("utf-8"), 6))
            ).astype("int64"),
        }
    )


@rows_only_query("text_compression_ratio")
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression ratio as a text-quality signal: zlib level-6 bytes ÷
    raw bytes per document — the cheap, tokenizer-free redundancy
    detector production pretraining filters actually use (boilerplate,
    keyword stuffing, and template spam compress far better than prose;
    the CCNet/RefinedWeb lineage gates on exactly this).  Complements
    the exact-arithmetic filters: text_repetition_filter counts
    duplicate trigrams (a SPECIFIC redundancy), compression measures
    ALL of it at once.

    Rows-only by design: DEFLATE is not SQL-expressible — but it IS
    deterministic (fixed level, fixed input bytes), so the pytest pins
    assert bounds, determinism across runs, and the monotone
    relationship with the repetition filter's flags on the fixture.
    Plan: one Arrow-batched pandas_udf projection (mapInPandas-class
    cost, ~bytes in / 16 bytes out per doc), zero shuffles; at 100 TB
    this is embarrassingly parallel scan work."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    kernel = pandas_udf(
        lambda texts: _compression_kernel(texts),
        "struct<n_raw: long, n_compressed: long>",
    )
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        kernel(F.col("text")).alias("z"),
    ).select(
        "doc_id",
        "lang",
        F.col("z.n_raw").alias("n_raw"),
        F.col("z.n_compressed").alias("n_compressed"),
        (F.col("z.n_compressed").cast("double") / F.col("z.n_raw")).alias(
            "compression_ratio"
        ),
    )


CHAR_LANG_PROFILE_K = 30  # trigrams kept per language profile


def _char_lang_sql(tri_body: str) -> str:
    """Shared char-trigram language-ID text; per-dialect distinct-trigram
    generator (the `tri` CTE body).  Docs shorter than 3 chars are
    excluded on BOTH sides (Spark's sequence() auto-reverses when start >
    stop — measured trap).  The Spark dialect dedups trigrams ROW-LOCALLY
    (explode over array_distinct — r12, guide §2.4: the per-position
    explode + corpus-wide DISTINCT paid a trigram-scale exchange whose
    only job was per-doc dedup; doc_id is unique, so the distinct is a
    pure per-row set operation — measured 4.6 → 2.8 s warm at sf0.1,
    identical rows)."""
    return f"""
WITH tri AS (
    {tri_body}
), prof AS (
    SELECT lang, g FROM (
        SELECT lang, g,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY COUNT(*) DESC, g) AS rn
        FROM tri GROUP BY lang, g) t
    WHERE rn <= {CHAR_LANG_PROFILE_K}
), scores AS (
    SELECT t.doc_id, t.lang AS labeled_lang, p.lang AS cand,
           COUNT(*) AS overlap
    FROM tri t JOIN prof p ON p.g = t.g
    GROUP BY t.doc_id, t.lang, p.lang
), pred AS (
    SELECT doc_id, labeled_lang, cand AS predicted_lang,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY overlap DESC, cand) AS rn
    FROM scores
)
SELECT labeled_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred WHERE rn = 1
GROUP BY labeled_lang, predicted_lang
"""


_TRI_BODY_ORACLE = """SELECT DISTINCT doc_id, lang, substring(text, i, 3) AS g
    FROM documents, LATERAL (SELECT unnest(range(1, LENGTH(text) - 1)) AS i) r
    WHERE LENGTH(text) >= 3"""
_TRI_BODY_SPARK = """SELECT doc_id, lang,
           explode(array_distinct(transform(sequence(1, length(text) - 2),
                                            i -> substring(text, i, 3)))) AS g
    FROM {docs_tri} WHERE length(text) >= 3"""


def _tri_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spread documents input (``{docs_tri}``) of the char-trigram
    consumers (r12): the trigram array build + row-local distinct is
    CPU-dense per-row work whose parallelism was capped by the scan's
    split count — on a single-row-group table the whole kernel ran in
    ONE task (10x probe: 24 s; spread: 4.8 s, identical rows).
    cpu_parallel's guard makes this a no-op once scans out-split cores."""
    return cpu_parallel(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    )

_CHAR_LANG_ORACLE = _char_lang_sql(_TRI_BODY_ORACLE)
_CHAR_LANG_SPARK = _char_lang_sql(_TRI_BODY_SPARK)


@query("text_lang_id_char_ngram", oracle=_CHAR_LANG_ORACLE)
def text_lang_id_char_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language identification — the OTHER standard
    lang-ID architecture beside the marker-word heuristic
    (text_lang_id): each language's profile is its top-{CHAR_LANG_PROFILE_K}
    document-frequency char trigrams (trained in-query from the labeled
    corpus — the Cavnar-Trenkle n-gram-profile idea in its set-overlap
    form), and a document classifies to the profile it overlaps most.
    Char n-grams survive typos, morphology, and unseen vocabulary that
    break word lists — the reason production langid stacks are
    character-based.  Reported as the labeled-vs-predicted confusion
    matrix, directly comparable to text_lang_confusion_matrix's (and
    feedable to stat_cohens_kappa for the chance-corrected score).

    Determinism: profiles rank by integer document frequency with
    lexicographic tie-break; classification is integer overlap with
    language-name tie-break; zero-overlap documents abstain (absent on
    both engines identically).

    Scale: one distinct trigram expansion (narrow + one dedup shuffle),
    a vocabulary-sized profile rank, and a posting-list join against
    the 3×{CHAR_LANG_PROFILE_K}-row profile broadcast — classification
    cost scales with corpus trigram volume, never vocabulary²."""
    return spark.sql(_CHAR_LANG_SPARK, docs_tri=_tri_docs(spark, sf_dir))


def _source_tv_sql(tok_gen: str) -> str:
    """Shared TV-matrix text; per-dialect token generator."""
    return f"""
WITH cells AS (
    SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
    FROM ({tok_gen})
    GROUP BY source, w
), totals AS (
    SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY source
), inner_pairs AS (
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(SUM(CAST(ABS(a.c * tb.n - b.c * ta.n)
                         AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS num_inner,
           CAST(SUM(a.c) AS BIGINT) AS shared_a,
           CAST(SUM(b.c) AS BIGINT) AS shared_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_tokens,
           CAST(MAX(ta.n) AS BIGINT) AS n_a,
           CAST(MAX(tb.n) AS BIGINT) AS n_b
    FROM cells a
    JOIN cells b ON a.w = b.w AND a.source < b.source
    JOIN totals ta ON ta.source = a.source
    JOIN totals tb ON tb.source = b.source
    GROUP BY a.source, b.source
)
SELECT source_a, source_b, n_shared_tokens,
       CAST(CAST(num_inner
                 + CAST((n_a - shared_a) AS DECIMAL(38,0)) * n_b
                 + CAST((n_b - shared_b) AS DECIMAL(38,0)) * n_a
            AS DOUBLE)
            / (CAST(2 AS DOUBLE) * n_a * n_b) AS DOUBLE) AS tv_distance
FROM inner_pairs
"""


_SOURCE_TV_ORACLE = _source_tv_sql(
    "SELECT source, unnest(string_split(text, ' ')) AS w FROM documents"
)
_SOURCE_TV_SPARK = _source_tv_sql(
    "SELECT source, explode(split(text, ' ')) AS w FROM {documents}"
)


@query("text_source_vocab_tv_matrix", oracle=_SOURCE_TV_ORACLE)
def text_source_vocab_tv_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise total-variation distance between source unigram
    distributions — the corpus-mix redundancy map ("are these two
    sources the same text distribution?") read before weighting a data
    mixture: near-zero TV pairs are interchangeable (down-weight one),
    high-TV sources add coverage.  TV = ½Σ|p−q| is the exact-rational
    sibling of the KL/JS divergences this harness cannot hash-match
    (they need log); it is also what dq_distribution_drift uses on the
    time axis — this is the same metric on the SOURCE axis.

    Exactness: the cleared-denominator identity Σ_t|c_a·N_b − c_b·N_a|
    splits into shared-vocabulary terms plus two complement terms
    ((N_a − Σ_shared c_a)·N_b and symmetric), so ONE inner join on the
    token key computes the whole sum — no full outer join, no per-pair
    vocabulary union; products are summed in DECIMAL(38,0) (token-count
    × corpus-size products pass int64 near 10⁹-token sources — lifted,
    not hoped).  One closing division.

    Scale: one (source, token) reduction, one token-key self-join whose
    output is |shared vocab|×|source pairs| — vocabulary-bounded, never
    corpus-bounded; totals are a |sources|-row broadcast."""
    return spark.sql(_SOURCE_TV_SPARK, documents=load_table(spark, sf_dir, "documents"))


BURSTINESS_TOP = 25  # terms reported, by collection frequency


def _term_burstiness_sql(tok_gen: str) -> str:
    """Shared Church-Gale term-burstiness text; per-dialect tokenizer."""
    return f"""
WITH toks AS ({tok_gen}), stats AS (
    SELECT w,
           CAST(COUNT(*) AS BIGINT) AS cf,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
    FROM toks GROUP BY w
)
SELECT w AS term, cf, df,
       CAST(cf AS DOUBLE) / df AS burstiness
FROM stats
ORDER BY cf DESC, w
LIMIT {BURSTINESS_TOP}
"""


@query(
    "text_term_burstiness",
    oracle=_term_burstiness_sql(
        "SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents"
    ),
)
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness (Church & Gale): collection frequency ÷ document
    frequency for the top-{BURSTINESS_TOP} terms — the statistic that
    separates FUNCTION words (cf/df ≈ tokens-per-doc everywhere, spread
    thin) from bursty CONTENT words (when they appear, they appear
    repeatedly).  This is the principled input to stopword discovery
    (text_adaptive_stopwords thresholds document-frequency; burstiness
    adds the within-doc clumping axis) and to BM25-family term weighting
    (burstiness is why tf saturation exists at all).

    Exactness: cf and df are exact counts; burstiness is one division;
    ranking is by integer cf with lexicographic tie-break.

    Scale: one token reduction per term (cf map-side combined; df
    expands to (term, doc) partials first — both vocabulary-bounded
    outputs), then a vocabulary-sized TakeOrdered."""
    return spark.sql(
        _term_burstiness_sql(
            "SELECT doc_id, explode(split(text, ' ')) AS w FROM {documents}"
        ),
        documents=load_table(spark, sf_dir, "documents"),
    )


VOCAB_GROWTH_STEP = 100  # checkpoint every N doc ids


def _vocab_growth_sql(tok_gen: str, idiv: str) -> str:
    """Shared vocabulary-growth text; per-dialect tokenizer and integer
    division.  Join-free: types bucket by their FIRST document's
    checkpoint and both curves are ordered cumulative sums (Spark
    rejects correlated scalar subqueries inside grouped selects — the
    bucket+cumsum spelling needs none)."""
    step = VOCAB_GROWTH_STEP
    return f"""
WITH toks AS ({tok_gen}), firsts AS (
    SELECT w, CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM toks GROUP BY w
), type_buckets AS (
    SELECT ((first_doc {idiv} {step}) + 1) * {step} AS checkpoint,
           CAST(COUNT(*) AS BIGINT) AS new_types
    FROM firsts GROUP BY ((first_doc {idiv} {step}) + 1) * {step}
), token_buckets AS (
    SELECT ((CAST(doc_id AS BIGINT) {idiv} {step}) + 1) * {step} AS checkpoint,
           CAST(COUNT(*) AS BIGINT) AS new_tokens
    FROM toks GROUP BY ((CAST(doc_id AS BIGINT) {idiv} {step}) + 1) * {step}
), merged AS (
    SELECT COALESCE(ty.checkpoint, tk.checkpoint) AS checkpoint,
           COALESCE(ty.new_types, 0) AS new_types,
           COALESCE(tk.new_tokens, 0) AS new_tokens
    FROM type_buckets ty FULL OUTER JOIN token_buckets tk
      ON ty.checkpoint = tk.checkpoint
)
SELECT CAST(checkpoint AS BIGINT) AS checkpoint,
       CAST(SUM(new_tokens) OVER (ORDER BY checkpoint
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS n_tokens,
       CAST(SUM(new_types) OVER (ORDER BY checkpoint
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS n_types
FROM merged
"""


@query(
    "text_vocab_growth_checkpoints",
    oracle=_vocab_growth_sql(
        "SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents",
        "//",
    ),
)
def text_vocab_growth_checkpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary GROWTH curve: distinct token types and total tokens at
    corpus prefixes (every {VOCAB_GROWTH_STEP} doc ids) — the Heaps-law
    table that answers "is the vocabulary saturating" (tokenizer sizing,
    crawl-more-or-not decisions; text_vocab_coverage_curve sizes a FIXED
    vocabulary, this tracks the OPEN one as the corpus grows).

    The cumulative-distinct trick: a type's contribution to every
    checkpoint is determined by its FIRST document alone, so one
    (token → min doc_id) reduction replaces K prefix re-scans — the
    events_cumulative_unique_users discipline on the vocabulary axis;
    both curves then roll up as ordered cumulative sums over the
    checkpoint rows (no fan, no prefix re-scan, no correlated
    subquery — Spark rejects those inside grouped selects, measured).

    Exactness: all counts exact; no ratios reported (downstreams divide
    as they like — the Heaps exponent fit lives in text_heaps_law_fit,
    which regresses these checkpoints under the floor-ln convention).

    Scale: one token reduction per type + one per doc (both map-side
    combined), then a 5-row fan over the doc-count table — prefix
    re-scans never happen."""
    return spark.sql(
        _vocab_growth_sql(
            "SELECT doc_id, explode(split(text, ' ')) AS w FROM {documents}",
            "DIV",
        ),
        documents=load_table(spark, sf_dir, "documents"),
    )


def _mcnemar_hits(fn_len: str, fn_filter: str, fn_split: str):
    """Per-dialect marker-hit counter factory."""

    def hits(markers: str) -> str:
        return (f"{fn_len}({fn_filter}({fn_split}(text, ' '),"
                f" w -> w IN ({markers})))")

    return hits


def _mcnemar_sql(tri_body: str, hits) -> str:
    """Shared McNemar text over the two lang-ID architectures; the
    char-ngram side re-uses _char_lang_sql's CTE structure inline (per
    doc, not confusion-matrix rolled), including its per-dialect
    row-local-distinct trigram body (r12 — see _char_lang_sql)."""
    return f"""
WITH tri AS (
    {tri_body}
), prof AS (
    SELECT lang, g FROM (
        SELECT lang, g,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY COUNT(*) DESC, g) AS rn
        FROM tri GROUP BY lang, g) t
    WHERE rn <= {CHAR_LANG_PROFILE_K}
), scores AS (
    SELECT t.doc_id, t.lang AS labeled_lang, p.lang AS cand,
           COUNT(*) AS overlap
    FROM tri t JOIN prof p ON p.g = t.g
    GROUP BY t.doc_id, t.lang, p.lang
), char_pred AS (
    SELECT doc_id, labeled_lang, cand AS char_lang FROM (
        SELECT doc_id, labeled_lang, cand,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY overlap DESC, cand) AS rn
        FROM scores) s
    WHERE rn = 1
), marker_pred AS (
    SELECT doc_id,
           CASE
             WHEN {hits("'the','fast','slow'")}
                  >= {hits("'data','table','row'")}
              AND {hits("'the','fast','slow'")}
                  >= {hits("'spark','batch','window'")}
             THEN 'en'
             WHEN {hits("'data','table','row'")}
                  >= {hits("'spark','batch','window'")}
             THEN 'es'
             ELSE 'de'
           END AS marker_lang
    FROM {{documents}}
), joined AS (
    SELECT c.doc_id,
           CASE WHEN m.marker_lang = c.labeled_lang THEN 1 ELSE 0 END AS m_ok,
           CASE WHEN c.char_lang = c.labeled_lang THEN 1 ELSE 0 END AS c_ok
    FROM char_pred c JOIN marker_pred m ON m.doc_id = c.doc_id
)
SELECT CAST(SUM(m_ok * c_ok) AS BIGINT) AS n_both_right,
       CAST(SUM(m_ok * (1 - c_ok)) AS BIGINT) AS n_marker_only,
       CAST(SUM((1 - m_ok) * c_ok) AS BIGINT) AS n_char_only,
       CAST(SUM((1 - m_ok) * (1 - c_ok)) AS BIGINT) AS n_both_wrong,
       CAST(CASE WHEN SUM(m_ok * (1 - c_ok)) + SUM((1 - m_ok) * c_ok) = 0
                 THEN 0.0
                 ELSE CAST((SUM(m_ok * (1 - c_ok)) - SUM((1 - m_ok) * c_ok))
                           * (SUM(m_ok * (1 - c_ok)) - SUM((1 - m_ok) * c_ok))
                           AS DOUBLE)
                      / (SUM(m_ok * (1 - c_ok)) + SUM((1 - m_ok) * c_ok))
            END AS DOUBLE) AS mcnemar_chi2
FROM joined
"""


@query(
    "stat_mcnemar_classifiers",
    oracle=bare_tables(_mcnemar_sql(
        _TRI_BODY_ORACLE,
        _mcnemar_hits("len", "list_filter", "string_split"),
    )),
)
def stat_mcnemar_classifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test between the engine's two language classifiers —
    THE paired-classifier comparison (comparing two models on the SAME
    examples must condition on the disagreement cells; comparing raw
    accuracies wastes the pairing and stat_two_proportion_ztest would
    be wrong here): χ² = (b−c)²/(b+c) over the discordant pair counts,
    where b = marker-right/char-wrong and c = the reverse.  Composes
    text_lang_id's marker CASE and text_lang_id_char_ngram's profile
    classifier per document — the eval that decides whether the fancier
    architecture actually beats the word list on this corpus.

    Exactness: all four agreement cells are exact integer counts off
    deterministic classifiers; the statistic is one integer-cleared
    division (b+c = 0 pinned to 0.0 by exact compare — no CDF, the
    z/χ²-statistic discipline).  Char-ngram abstentions (docs with no
    profile overlap) drop from the pairing on both engines identically.

    Scale: the char side's posting-list join dominates (documented
    there); the marker side is a narrow map; the pairing is one doc_id
    join and a single fold."""
    return spark.sql(
        _mcnemar_sql(
            _TRI_BODY_SPARK,
            _mcnemar_hits("size", "filter", "split"),
        ),
        documents=load_table(spark, sf_dir, "documents"),
        docs_tri=_tri_docs(spark, sf_dir),
    )


# --------------------------------------------------------------------------
# text_bigram_holdout_surprisal — held-out LM generalization eval
# --------------------------------------------------------------------------

_HOLDOUT_ORACLE = """
    WITH u AS (
        SELECT doc_id, source,
               unnest(string_split(text, ' ')) AS w,
               unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
        FROM documents
    ), b AS (
        SELECT doc_id, source, doc_id % 2 AS fold, w AS w1,
               lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM u
    ), bg AS (
        SELECT doc_id, source, fold, w1, w2, CAST(COUNT(*) AS BIGINT) AS n
        FROM b WHERE w2 IS NOT NULL GROUP BY doc_id, source, fold, w1, w2
    ), train_bg AS (
        SELECT w1, w2, CAST(SUM(n) AS BIGINT) AS c12
        FROM bg WHERE fold = 0 GROUP BY w1, w2
    ), train_uni AS (
        SELECT w1, CAST(SUM(n) AS BIGINT) AS c1
        FROM bg WHERE fold = 0 GROUP BY w1
    ), vsize AS (
        SELECT CAST(COUNT(DISTINCT w2) AS BIGINT) AS v FROM train_bg
    ), eval_types AS (
        SELECT DISTINCT w1, w2 FROM bg WHERE fold = 1
    ), lm AS (
        SELECT e.w1, e.w2,
               CAST(FLOOR(LN(CAST(COALESCE(t1.c1, 0) + s.v AS DOUBLE)
                             / CAST(COALESCE(t12.c12, 0) + 1 AS DOUBLE))
                          * 1000000) AS BIGINT) AS s_unat
        FROM eval_types e
        LEFT JOIN train_bg t12 ON e.w1 = t12.w1 AND e.w2 = t12.w2
        LEFT JOIN train_uni t1 ON e.w1 = t1.w1
        CROSS JOIN vsize s
    ), per_doc AS (
        SELECT g.doc_id, g.source,
               CAST(SUM(g.n) AS BIGINT) AS n_bigrams,
               CAST(SUM(g.n * l.s_unat) AS BIGINT) AS sur
        FROM bg g JOIN lm l ON g.w1 = l.w1 AND g.w2 = l.w2
        WHERE g.fold = 1
        GROUP BY g.doc_id, g.source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_eval_docs,
           CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams,
           CAST(SUM(sur) // SUM(n_bigrams) AS BIGINT)
               AS heldout_surprisal_unat
    FROM per_doc GROUP BY source
"""


@query("text_bigram_holdout_surprisal", oracle=_HOLDOUT_ORACLE)
def text_bigram_holdout_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out language-model evaluation: train an add-one-smoothed
    bigram LM on the even-doc_id fold, score the odd fold's bigrams,
    and report mean held-out surprisal (µnats/bigram) per source — the
    GENERALIZATION measure that tells a curation team whether an
    LM-based filter (text_unigram_surprisal_gate and its upgrade path
    text_bigram_kneser_ney) is modeling the corpus or memorizing its
    training fold: exp(of this number) is the held-out perplexity, and
    a source whose held-out surprisal sits far above the rest is the
    out-of-domain slice an in-domain-trained filter will mis-score.
    Smoothing: p(w2|w1) = (c12+1)/(c1+V) with V = the train fold's
    continuation vocabulary; unseen histories degrade to the uniform
    1/V floor — every held-out bigram gets finite mass.

    Determinism: both count tables are exact integers; one LN per
    DISTINCT evaluated bigram type (vocabulary²-bounded, not
    token-bounded), floor-scaled to µnats; per-doc totals are exact
    integer dot products and the per-source mean is a floor division.

    Scale: bigram pairs are ADJACENT elements of the split array —
    row-local (r11, guide §2.4: the former posexplode + doc-partitioned
    lead window exchanged every token once just to look one ahead); the
    only token-scale exchange is the count groupBy.  The LM join runs
    on the distinct-type table (|V|²-bounded broadcast side), never per
    token.  The fold split is a row-local predicate — no data movement
    to hold out."""
    pair_arr = F.expr("""
        transform(array(split(text, ' ')), ws ->
            CASE WHEN size(ws) >= 2 THEN
                transform(sequence(1, size(ws) - 1),
                    i -> struct(element_at(ws, i) AS w1,
                                element_at(ws, i + 1) AS w2))
            ELSE CAST(array() AS ARRAY<STRUCT<w1:STRING,w2:STRING>>)
            END)[0]
    """)
    b = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        (F.col("doc_id") % 2).alias("fold"),
        F.explode(pair_arr).alias("p"),
    ).select("doc_id", "source", "fold", "p.w1", "p.w2")
    bg = b.groupBy("doc_id", "source", "fold", "w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    train = bg.filter(F.col("fold") == 0)
    train_bg = train.groupBy("w1", "w2").agg(F.sum("n").cast("long").alias("c12"))
    train_uni = train.groupBy("w1").agg(F.sum("n").cast("long").alias("c1"))
    vsize = train_bg.agg(
        F.countDistinct("w2").cast("long").alias("v")
    )
    eval_types = bg.filter(F.col("fold") == 1).select("w1", "w2").distinct()
    lm = (
        eval_types.join(train_bg, ["w1", "w2"], "left")
        .join(F.broadcast(train_uni), "w1", "left")
        .crossJoin(F.broadcast(vsize))
        .select(
            "w1",
            "w2",
            F.floor(
                F.log(
                    (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v")).cast("double")
                    / (F.coalesce(F.col("c12"), F.lit(0)) + 1).cast("double")
                )
                * 1_000_000
            )
            .cast("long")
            .alias("s_unat"),
        )
    )
    per_doc = (
        bg.filter(F.col("fold") == 1)
        .join(F.broadcast(lm), ["w1", "w2"])
        .groupBy("doc_id", "source")
        .agg(
            F.sum("n").cast("long").alias("n_bigrams"),
            F.sum(F.col("n") * F.col("s_unat")).cast("long").alias("sur"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_eval_docs"),
        F.sum("n_bigrams").cast("long").alias("n_bigrams"),
        F.expr("sum(sur) div sum(n_bigrams)")
        .cast("long")
        .alias("heldout_surprisal_unat"),
    )


# --------------------------------------------------------------------------
# text_rake_keyphrases — RAKE keyphrase extraction
# --------------------------------------------------------------------------

RAKE_STOPWORDS = ("the", "a", "data", "row")  # fixture function-word list
RAKE_MAX_PHRASE = 4  # standard RAKE candidate cap
RAKE_TOP_K = 15

_RAKE_ORACLE = f"""
    WITH u AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS w,
               unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
        FROM documents
    ), kept AS (
        SELECT doc_id, pos, w,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS grp
        FROM u WHERE w NOT IN {RAKE_STOPWORDS}
    ), sized AS (
        SELECT doc_id, grp, pos, w,
               COUNT(*) OVER (PARTITION BY doc_id, grp) AS n_words
        FROM kept
    ), cand AS (
        SELECT * FROM sized WHERE n_words <= {RAKE_MAX_PHRASE}
    ), wstat AS (
        SELECT w,
               CAST(SUM(n_words) * 1000000 // COUNT(*) AS BIGINT)
                   AS wscore_ppm
        FROM cand GROUP BY w
    ), phrases AS (
        SELECT c.doc_id, c.grp,
               string_agg(c.w, ' ' ORDER BY c.pos) AS phrase,
               CAST(MAX(c.n_words) AS BIGINT) AS n_words,
               CAST(SUM(s.wscore_ppm) AS BIGINT) AS score_ppm
        FROM cand c JOIN wstat s ON c.w = s.w
        GROUP BY c.doc_id, c.grp
    ), grouped AS (
        SELECT phrase, MAX(n_words) AS n_words, MAX(score_ppm) AS score_ppm,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM phrases GROUP BY phrase
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY score_ppm DESC, phrase) AS rk
        FROM grouped
    )
    SELECT phrase, n_words, score_ppm, n_occurrences
    FROM ranked WHERE rk <= {RAKE_TOP_K}
"""


@query("text_rake_keyphrases", oracle=_RAKE_ORACLE)
def text_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010, "Rapid Automatic
    Keyword Extraction"): candidate phrases are the maximal non-stopword
    token runs (gaps-and-islands on token position), capped at
    {RAKE_MAX_PHRASE} words; each word is scored degree/frequency over
    the candidate set (degree = Σ lengths of phrases containing it —
    co-occurrence reach; frequency = appearances), and a phrase scores
    the sum of its words' scores.  Top {RAKE_TOP_K} phrases corpus-wide
    — the unsupervised "what is this corpus about" summary that needs
    no training, the standard first pass before topic models.  The
    stopword list here is the fixture's function words; production
    swaps in text_adaptive_stopwords' corpus-derived list.

    Exactness: degree and frequency are exact integers; word scores are
    floor-scaled ppm divisions; phrase scores are integer sums of those
    — no float ever crosses an aggregation.

    Scale: one token explode → doc-partitioned islands window (document-
    sized partitions) → two map-side-combinable folds (word stats are
    |vocab| rows, phrase census is |distinct phrases|); the top-K rank
    runs on the phrase census, with the TakeOrdered swap documented for
    unbounded phrase spaces."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "w")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    from pyspark.sql.window import Window

    dw = Window.partitionBy("doc_id").orderBy("pos")
    kept = docs.filter(~F.col("w").isin(*RAKE_STOPWORDS)).select(
        "doc_id",
        "pos",
        "w",
        (F.col("pos") - F.row_number().over(dw)).alias("grp"),
    )
    sized = kept.select(
        "doc_id",
        "grp",
        "pos",
        "w",
        F.count(F.lit(1)).over(Window.partitionBy("doc_id", "grp")).alias("n_words"),
    )
    cand = sized.filter(F.col("n_words") <= RAKE_MAX_PHRASE)
    wstat = cand.groupBy("w").agg(
        F.expr("sum(n_words) * 1000000 div count(*)")
        .cast("long")
        .alias("wscore_ppm")
    )
    phrases = (
        cand.join(F.broadcast(wstat), "w")
        .groupBy("doc_id", "grp")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
            ).alias("phrase"),
            F.max("n_words").cast("long").alias("n_words"),
            F.sum("wscore_ppm").cast("long").alias("score_ppm"),
        )
    )
    grouped = phrases.groupBy("phrase").agg(
        F.max("n_words").alias("n_words"),
        F.max("score_ppm").alias("score_ppm"),
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
    )
    rk = Window.orderBy(F.col("score_ppm").desc(), F.col("phrase"))
    return (
        grouped.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") <= RAKE_TOP_K)
        .select("phrase", "n_words", "score_ppm", "n_occurrences")
    )


# --------------------------------------------------------------------------
# text_heaps_law_fit — vocabulary-growth exponent
# --------------------------------------------------------------------------


def _heaps_fit_sql(tok_gen: str, idiv: str) -> str:
    """Shared Heaps-law fit text over the vocab-growth checkpoint CTE
    (same parents as text_vocab_growth_checkpoints); floor-ln e9 points,
    exact DECIMAL(38) normal equations, one closing division."""
    growth = _vocab_growth_sql(tok_gen, idiv)
    return f"""
WITH pts AS (
    SELECT CAST(FLOOR(LN(CAST(n_tokens AS DOUBLE)) * 1000000000e0) AS BIGINT)
               AS lx,
           CAST(FLOOR(LN(CAST(n_types AS DOUBLE)) * 1000000000e0) AS BIGINT)
               AS ly
    FROM ({growth}) g
    WHERE n_tokens > 0 AND n_types > 0
), sums AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS k,
           CAST(SUM(lx) AS BIGINT) AS sx,
           CAST(SUM(ly) AS BIGINT) AS sy,
           CAST(SUM(CAST(lx AS DECIMAL(19,0)) * CAST(lx AS DECIMAL(19,0)))
                AS DOUBLE) AS sxx,
           CAST(SUM(CAST(lx AS DECIMAL(19,0)) * CAST(ly AS DECIMAL(19,0)))
                AS DOUBLE) AS sxy
    FROM pts
)
SELECT k AS n_checkpoints,
       (CAST(k AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(k AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           AS heaps_beta,
       (CAST(sy AS DOUBLE)
        - (CAST(k AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / (CAST(k AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          * CAST(sx AS DOUBLE))
           / CAST(k AS DOUBLE) / 1000000000e0 AS heaps_ln_k
FROM sums
"""


@query(
    "text_heaps_law_fit",
    oracle=_heaps_fit_sql(
        "SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents",
        "//",
    ),
)
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law fit V = K·n^β over the vocabulary-growth checkpoints —
    the one-number saturation answer the raw curve
    (text_vocab_growth_checkpoints) leaves to the reader: β near 1
    means every new token mints new types (crawl more, vocabulary is
    nowhere near closed; or the corpus is noise), β well below 1 means
    the vocabulary is saturating and tokenizer budgets can be sized
    from the fit.  Reported as (β, ln K) — ln K rather than K because
    exp() is a per-libm call the cross-engine discipline bans from
    hash-matched outputs; consumers exponentiate locally.

    Exactness: the checkpoint table is the parent's exact-count CTE;
    each (ln n, ln V) point is floor-scaled to e-9 (one LN per
    CHECKPOINT — the curation-family convention that unlocked
    regression-on-logs for the Hurst fit too); the normal equations
    fold through DECIMAL(19)×DECIMAL(19)→DECIMAL(38) exactly, and β,
    ln K close in one shared IEEE expression.

    Scale: the parents' two token reductions are the only fact-sized
    stages; the fit itself folds a handful of checkpoint rows to one."""
    return spark.sql(
        _heaps_fit_sql(
            "SELECT doc_id, explode(split(text, ' ')) AS w FROM {documents}",
            "DIV",
        ),
        documents=load_table(spark, sf_dir, "documents"),
    )


# --------------------------------------------------------------------------
# text_source_token_entropy — per-source lexical diversity in nats
# --------------------------------------------------------------------------


def _source_entropy_sql(tok_gen: str, idiv: str) -> str:
    """Shared per-source unigram-entropy text; per-dialect tokenizer and
    integer division.  One LN per (source, TYPE) floor-scaled to e-9
    nats (curation-family convention), exact integer folds after."""
    return f"""
WITH toks AS ({tok_gen}), cells AS (
    SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
    FROM toks GROUP BY source, w
), marg AS (
    SELECT source, w, c,
           CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS n
    FROM cells
), terms AS (
    SELECT source, n,
           CAST(FLOOR(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                * LN(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                * 1000000000e0) AS BIGINT) AS t_e9
    FROM marg
)
SELECT source,
       CAST(MAX(n) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(t_e9) AS BIGINT) AS entropy_nats_e9,
       CAST((SUM(t_e9) * 1000000)
            {idiv} (CASE WHEN COUNT(*) > 1
                    THEN CAST(FLOOR(LN(CAST(COUNT(*) AS DOUBLE))
                                    * 1000000000e0) AS BIGINT)
                    ELSE 1 END) AS BIGINT) AS efficiency_ppm
FROM terms GROUP BY source
"""


_SRC_ENTROPY_ORACLE = _source_entropy_sql(
    "SELECT source, unnest(string_split(text, ' ')) AS w FROM documents", "//"
)
_SRC_ENTROPY_SPARK = _source_entropy_sql(
    "SELECT source, explode(split(text, ' ')) AS w FROM {documents}", "DIV"
)


@query("text_source_token_entropy", oracle=_SRC_ENTROPY_ORACLE)
def text_source_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram token ENTROPY (nats) with Pielou-style
    efficiency (H / ln V, the share of the source's own vocabulary
    ceiling it actually uses) — the lexical-diversity column of the
    source scorecard: the TV matrix (text_source_vocab_tv_matrix) says
    how sources differ from EACH OTHER, the shingle-overlap census
    says who copies whom; entropy says which sources are internally
    template-degenerate (low H at normal size ⟹ boilerplate/spam mill
    — downweight in the mix) before any pairwise comparison runs.

    Determinism: per-(source, type) counts are exact; each −p·ln p
    term is ONE LN per bounded CELL floor-scaled to nano-nats
    (curation-family convention), so the per-source fold is exact
    integer arithmetic; the efficiency ratio divides two floor-scaled
    integers (single-type sources report efficiency over the 1-unit
    floor — defined, not NULL, flagged by n_types=1).

    Scale: one token reduction to |sources|×|V| cells (map-side
    combined — the posting-list discipline), a source-partitioned
    window over those cells, and a |sources|-row rollup.  No join."""
    return spark.sql(
        _SRC_ENTROPY_SPARK,
        documents=load_table(spark, sf_dir, "documents"),
    )


# --------------------------------------------------------------------------
# text_boilerplate_ngrams — per-source boilerplate span detector
# --------------------------------------------------------------------------

BOILERPLATE_NGRAM = 5  # tokens per candidate boilerplate span
BOILERPLATE_TOP_K = 3  # spans reported per source

_BOILERPLATE_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, source,
           string_split(lower(trim(text)), ' ') AS ws FROM documents
), grams AS (
    SELECT doc_id, source,
           CASE WHEN len(ws) >= {BOILERPLATE_NGRAM}
                THEN list_distinct(
                    [array_to_string(ws[i:i+{BOILERPLATE_NGRAM}-1], ' ')
                     for i in range(1, len(ws) - {BOILERPLATE_NGRAM} + 2)])
                ELSE [] END AS gs
    FROM toks
), ex AS (
    SELECT doc_id, source, unnest(gs) AS g FROM grams
), df_counts AS (
    SELECT source, g, CAST(COUNT(*) AS BIGINT) AS doc_freq
    FROM ex GROUP BY source, g
), ranked AS (
    SELECT source, g, doc_freq,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY doc_freq DESC, g) AS rnk
    FROM df_counts
), src AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY source
)
SELECT r.source, CAST(r.rnk AS BIGINT) AS rnk, r.g AS ngram, r.doc_freq,
       CAST(r.doc_freq AS DOUBLE) * 1000000e0 / CAST(s.n_docs AS DOUBLE)
           AS doc_share_ppm
FROM ranked r JOIN src s ON r.source = s.source
WHERE r.rnk <= {BOILERPLATE_TOP_K}
"""


@query("text_boilerplate_ngrams", oracle=_BOILERPLATE_ORACLE)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOILERPLATE detector: per source, the {BOILERPLATE_TOP_K} token
    {BOILERPLATE_NGRAM}-grams present in the most DOCUMENTS (document
    frequency, each doc counted once via per-doc distinct spans) with
    their doc-share in ppm — the report that finds repeated headers,
    footers, cookie banners, and template scaffolding in a crawl source
    BEFORE they poison a training mix (a span in 80% of a source's docs
    is markup, not language; the downstream scrubber strips exactly
    these spans).  The same shape is the "common substring" leg MOSS-
    style plagiarism pipelines run corpus-wide.

    Determinism: spans are literal lowercase token windows (no hashing
    at all — the report must show the actual string); counts are exact;
    ties rank lexicographically; the only double is the final share.

    Scale: per-doc span extraction is row-local array expressions (no
    shuffle); the doc-frequency reduction is a map-side-combinable
    groupBy on (source, span) — posting-list sized; the top-k window is
    PARTITIONED by source (guard-clean) and WindowGroupLimit prunes it
    to k rows per source before the |sources|-row broadcast join."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.lower(F.trim(F.col("text"))), " ")
    grams = F.when(
        F.size(ws) >= BOILERPLATE_NGRAM,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(ws) - (BOILERPLATE_NGRAM - 1)),
                lambda i: F.concat_ws(" ", F.slice(ws, i, BOILERPLATE_NGRAM)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    ex = docs.select("source", F.explode(grams).alias("g"))
    df_counts = ex.groupBy("source", "g").agg(
        F.count(F.lit(1)).cast("long").alias("doc_freq")
    )
    w = Window.partitionBy("source").orderBy(F.desc("doc_freq"), F.asc("g"))
    ranked = df_counts.withColumn("rnk", F.row_number().over(w).cast("long")).filter(
        F.col("rnk") <= BOILERPLATE_TOP_K
    )
    src = docs.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return ranked.join(F.broadcast(src), "source").select(
        "source",
        "rnk",
        F.col("g").alias("ngram"),
        "doc_freq",
        (
            F.col("doc_freq").cast("double")
            * F.lit(1000000.0)
            / F.col("n_docs").cast("double")
        ).alias("doc_share_ppm"),
    )


# --------------------------------------------------------------------------
# text_ccnet_perplexity_buckets — CCNet head/middle/tail LM tiers per lang
# --------------------------------------------------------------------------

_CCNET_ORACLE = """
WITH toks AS (
    SELECT d.doc_id, d.lang, t.tok
    FROM documents d,
         unnest(string_split(d.text, ' ')) AS t(tok)
    WHERE t.tok <> ''
), lm AS (
    -- corpus unigram LM; per-token surprisal floor-scaled to exact
    -- milli-nat integers (FLOOR, never ROUND: the engines' double
    -- ROUND tie rules differ)
    SELECT tok,
           CAST(FLOOR(LN(CAST((SELECT COUNT(*) FROM toks) AS DOUBLE)
                         / CAST(COUNT(*) AS DOUBLE)) * 1000e0) AS BIGINT)
               AS s_milli
    FROM toks GROUP BY tok
), per_doc AS (
    SELECT t.doc_id, t.lang,
           CAST(SUM(lm.s_milli) AS BIGINT) / CAST(COUNT(*) AS BIGINT)
               AS avg_s
    FROM toks t JOIN lm ON lm.tok = t.tok
    GROUP BY t.doc_id, t.lang
), per_val AS (
    SELECT lang, avg_s, CAST(COUNT(*) AS BIGINT) AS c
    FROM per_doc GROUP BY lang, avg_s
), cum AS (
    SELECT lang, avg_s, c,
           SUM(c) OVER (PARTITION BY lang ORDER BY avg_s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumc,
           SUM(c) OVER (PARTITION BY lang) AS n
    FROM per_val
), fences AS (
    SELECT lang,
           MIN(CASE WHEN cumc * 3 >= n THEN avg_s END) AS t1,
           MIN(CASE WHEN cumc * 3 >= 2 * n THEN avg_s END) AS t2
    FROM cum GROUP BY lang
)
SELECT p.lang,
       CASE WHEN p.avg_s <= f.t1 THEN 'head'
            WHEN p.avg_s <= f.t2 THEN 'middle'
            ELSE 'tail' END AS tier,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(p.avg_s) AS BIGINT) AS min_avg_s_milli,
       CAST(MAX(p.avg_s) AS BIGINT) AS max_avg_s_milli
FROM per_doc p JOIN fences f ON f.lang = p.lang
GROUP BY p.lang,
         CASE WHEN p.avg_s <= f.t1 THEN 'head'
              WHEN p.avg_s <= f.t2 THEN 'middle'
              ELSE 'tail' END
"""

# DuckDB integer division `/` on BIGINTs returns DOUBLE; spell the exact
# per-doc mean with explicit integer semantics on the Spark side (DIV) and
# `//` in the oracle.
_CCNET_ORACLE = _CCNET_ORACLE.replace(
    "/ CAST(COUNT(*) AS BIGINT)\n               AS avg_s",
    "// CAST(COUNT(*) AS BIGINT)\n               AS avg_s",
)


@query("text_ccnet_perplexity_buckets", oracle=_CCNET_ORACLE)
def text_ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    document by average LM surprisal, then cut each LANGUAGE into
    head / middle / tail TERCILES — the curation convention (keep head +
    middle, drop or downsample tail) that followed CCNet into most
    web-corpus recipes.  Per-language fences matter: a shared global
    fence would route whole low-resource languages into "tail".
    Reported per (lang, tier): doc count and the tier's surprisal span —
    the mix table a curation run records before applying its keep rule.

    Determinism: the unigram LM's per-token surprisal is FLOOR-scaled to
    exact milli-nat integers (FLOOR, never ROUND — the engines' double
    ROUND tie rules differ; one LN per vocabulary TYPE of an exact
    rational); per-doc scores are integer sums with integer division;
    tercile fences are exact order statistics (smallest value whose
    cumulative count covers n/3, 2n/3), so ties bucket identically on
    both engines.

    Scale: one token explode shuffling on the token (|V|-row LM,
    broadcast back); per-doc reduction map-side combines; the fence pass
    runs on the (lang, distinct score) table — the ECDF-family posture
    (partitioned by lang; pre-bin scores at extreme cardinality, the
    documented swap).  The fence table is |langs| rows, broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    toks = toks.persist()
    total = toks.count()  # driver-side scalar: one exact integer
    lm = toks.groupBy("tok").agg(
        F.floor(
            F.log(F.lit(float(total)) / F.count(F.lit(1)).cast("double"))
            * F.lit(1000.0)
        )
        .cast("long")
        .alias("s_milli")
    )
    per_doc = (
        toks.join(lm, "tok")
        .groupBy("doc_id", "lang")
        .agg(
            F.expr("CAST(SUM(s_milli) AS BIGINT) DIV CAST(COUNT(*) AS BIGINT)")
            .alias("avg_s")
        )
    ).persist()
    per_val = per_doc.groupBy("lang", "avg_s").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("lang").orderBy("avg_s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per_val.select(
        "lang",
        "avg_s",
        F.sum("c").over(w).alias("cumc"),
        F.sum("c").over(Window.partitionBy("lang")).alias("n"),
    )
    fences = cum.groupBy("lang").agg(
        F.min(F.when(F.col("cumc") * 3 >= F.col("n"), F.col("avg_s"))).alias("t1"),
        F.min(F.when(F.col("cumc") * 3 >= 2 * F.col("n"), F.col("avg_s"))).alias(
            "t2"
        ),
    )
    tier = (
        F.when(F.col("avg_s") <= F.col("t1"), F.lit("head"))
        .when(F.col("avg_s") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    out = (
        per_doc.join(F.broadcast(fences), "lang")
        .groupBy("lang", tier.alias("tier"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("avg_s").cast("long").alias("min_avg_s_milli"),
            F.max("avg_s").cast("long").alias("max_avg_s_milli"),
        )
    )
    toks.unpersist()
    return out


# --------------------------------------------------------------------------
# text_lang_id_naive_bayes — trained multinomial NB, leakage-safe eval
# --------------------------------------------------------------------------


def _nb_sql(unnest_toks: str) -> str:
    return f"""
WITH toks AS (
    SELECT doc_id, lang, tok FROM (
        SELECT doc_id, lang, {unnest_toks} AS tok FROM {{documents}}
    ) t WHERE tok <> ''
), train_toks AS (
    SELECT * FROM toks WHERE doc_id % 2 = 0
), vocab AS (
    SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM train_toks
), langs AS (
    SELECT lang,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS d_l,
           CAST(COUNT(*) AS BIGINT) AS t_l
    FROM train_toks GROUP BY lang
), totals AS (
    SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS d FROM train_toks
), lang_consts AS (
    -- one LN per LANGUAGE of an exact rational, floor-scaled to
    -- milli-nat integers (FLOOR, never ROUND)
    SELECT lang, t_l,
           CAST(FLOOR(LN(CAST(d_l AS DOUBLE)
                         / CAST((SELECT d FROM totals) AS DOUBLE))
                      * 1000e0) AS BIGINT) AS prior_m,
           CAST(FLOOR(LN(1e0 / CAST(t_l + (SELECT v FROM vocab) AS DOUBLE))
                      * 1000e0) AS BIGINT) AS default_m
    FROM langs
), lik AS (
    SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c
    FROM train_toks GROUP BY lang, tok
), lik_m AS (
    -- one LN per (lang, token) TYPE; Laplace (c+1)/(T_l+V)
    SELECT k.lang, k.tok,
           CAST(FLOOR(LN(CAST(k.c + 1 AS DOUBLE)
                         / CAST(lc.t_l + (SELECT v FROM vocab) AS DOUBLE))
                      * 1000e0) AS BIGINT) AS m,
           lc.default_m
    FROM lik k JOIN lang_consts lc ON lc.lang = k.lang
), test_docs AS (
    SELECT doc_id, lang AS true_lang, CAST(COUNT(*) AS BIGINT) AS n_toks
    FROM toks WHERE doc_id % 2 = 1 GROUP BY doc_id, lang
), corr AS (
    -- unseen-token mass rides the n_toks * default term; only SEEN
    -- (lang, token) pairs contribute a correction, so this join is
    -- INNER and never fans out to doc x vocab
    SELECT tt.doc_id, l.lang, CAST(SUM(l.m - l.default_m) AS BIGINT) AS dlt
    FROM (SELECT doc_id, tok FROM toks WHERE doc_id % 2 = 1) tt
    JOIN lik_m l ON l.tok = tt.tok
    GROUP BY tt.doc_id, l.lang
), scored AS (
    SELECT /*+ BROADCAST(lc) */
           td.doc_id, td.true_lang, lc.lang,
           lc.prior_m + td.n_toks * lc.default_m + COALESCE(c.dlt, 0)
               AS score
    FROM test_docs td
    CROSS JOIN lang_consts lc
    LEFT JOIN corr c ON c.doc_id = td.doc_id AND c.lang = lc.lang
), pred AS (
    SELECT doc_id, true_lang, lang AS pred_lang FROM (
        SELECT doc_id, true_lang, lang, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, lang) AS rn
        FROM scored
    ) t WHERE rn = 1
)
SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred GROUP BY true_lang, pred_lang
"""


@query(
    "text_lang_id_naive_bayes",
    oracle=bare_tables(_nb_sql("unnest(string_split(text, ' '))")),
)
def text_lang_id_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED language identification — multinomial Naive Bayes with
    Laplace smoothing, fit on the even-doc_id half and evaluated on the
    odd half (the leakage-safe split convention from
    corpus_kfold_leakage_safe), reported as the test confusion matrix.
    This completes the lang-ID family's third architecture: heuristic
    marker words (text_lang_id), char-n-gram profiles
    (text_lang_id_char_ngram), and now a learned token model — the
    comparison the confusion-matrix + McNemar ops were built to consume.

    Determinism: all LNs are per-TYPE (language priors, (lang, token)
    likelihoods, per-language unseen default), floor-scaled to exact
    milli-nat integers; per-doc scores are integer sums; argmax breaks
    ties to the lexicographically smallest language.  The unseen-token
    algebra (score = prior + n_toks x default + Σ seen corrections)
    keeps the scoring join INNER — no doc x vocab fan-out, and docs
    whose tokens are all unseen still score every language via the
    5-row skeleton.

    Scale: training is two map-side-combinable groupBys (lang; lang x
    token); scoring shuffles test tokens once on the token against the
    |V x langs| model table (broadcastable until V outgrows memory,
    then a plain hash join); the skeleton cross join is test-docs x
    |languages| (bounded catalog side, allowlisted q11 pattern); the
    argmax window is partitioned per doc."""
    return spark.sql(
        _nb_sql("explode(split(text, ' '))"),
        documents=load_table(spark, sf_dir, "documents"),
    )


# --------------------------------------------------------------------------
# text_symspell_correction — delete-neighborhood spell correction
# --------------------------------------------------------------------------

SPELL_DICT_MIN_FREQ = 5  # corpus frequency that admits a token to the dict
SPELL_MAX_LEV = 2  # correction radius (matches the delete-2 neighborhood)

_SPELL_ORACLE = f"""
WITH toks0 AS (
    SELECT doc_id, pos, tok FROM (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS tok,
               unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
        FROM documents
    ) t WHERE tok <> ''
), toks AS (
    -- planted corruption (the dq_format_conformance discipline: a fixture
    -- with zero typos certifies nothing): every 17th doc's first token of
    -- length >= 4 loses its second character
    SELECT CASE WHEN doc_id % 17 = 0 AND pos = 1 AND len(tok) >= 4
                THEN substr(tok, 1, 1) || substr(tok, 3)
                ELSE tok END AS tok
    FROM toks0
), freq AS (
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY tok
), dict AS (
    SELECT tok, n FROM freq WHERE n >= {SPELL_DICT_MIN_FREQ}
), rare AS (
    SELECT tok, n FROM freq WHERE n < {SPELL_DICT_MIN_FREQ}
), rv AS (
    SELECT DISTINCT tok,
           unnest(list_transform(range(0, len(v1) + 1),
               j -> CASE WHEN j = 0 THEN v1
                    ELSE substr(v1, 1, j - 1) || substr(v1, j + 1) END)) AS v
    FROM (
        SELECT tok,
               unnest(list_transform(range(0, len(tok) + 1),
                   i -> CASE WHEN i = 0 THEN tok
                        ELSE substr(tok, 1, i - 1) || substr(tok, i + 1) END)) AS v1
        FROM rare
    ) t1
), dv AS (
    SELECT DISTINCT tok,
           unnest(list_transform(range(0, len(v1) + 1),
               j -> CASE WHEN j = 0 THEN v1
                    ELSE substr(v1, 1, j - 1) || substr(v1, j + 1) END)) AS v
    FROM (
        SELECT tok,
               unnest(list_transform(range(0, len(tok) + 1),
                   i -> CASE WHEN i = 0 THEN tok
                        ELSE substr(tok, 1, i - 1) || substr(tok, i + 1) END)) AS v1
        FROM dict
    ) t1
), cand AS (
    SELECT DISTINCT r.tok AS q, d.tok AS c FROM rv r JOIN dv d ON d.v = r.v
), scored AS (
    SELECT q, c, CAST(levenshtein(q, c) AS BIGINT) AS lev
    FROM cand WHERE levenshtein(q, c) <= {SPELL_MAX_LEV}
), best AS (
    SELECT q, c, lev, n FROM (
        SELECT s.q, s.c, s.lev, d.n,
               ROW_NUMBER() OVER (PARTITION BY s.q
                                  ORDER BY s.lev, d.n DESC, s.c) AS rn
        FROM scored s JOIN dict d ON d.tok = s.c
    ) t WHERE rn = 1
)
SELECT b.q AS token,
       r.n AS n_occurrences,
       b.c AS correction,
       b.lev AS lev,
       b.n AS dict_freq
FROM best b JOIN rare r ON r.tok = b.q
"""


@query("text_symspell_correction", oracle=_SPELL_ORACLE)
def text_symspell_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-driven spell correction by SYMMETRIC-DELETE blocking (the
    SymSpell/FastSS scheme, Bocek et al. 2007 — the same
    delete-neighborhood theorem entity_resolution_parts uses for ER
    blocking, here as the text-pipeline capability itself): tokens with
    corpus frequency >= SPELL_DICT_MIN_FREQ form the dictionary; rarer
    tokens are typo suspects; each suspect is corrected to its best
    dictionary neighbor within levenshtein <= SPELL_MAX_LEV, found by
    joining the two sides' <=2-character-deletion neighborhoods instead
    of brute-forcing |rare| x |dict| edit distances.  Coverage is exact
    (any lev<=2 pair shares its aligned matched subsequence, reachable
    from both sides by <=2 deletions), so blocking changes cost, never
    the answer — both engines block identically AND the lev residual
    decides, a double determinism belt.  Best = (lev ASC, dict freq
    DESC, word ASC), a total order.

    The fixture corpus is a closed 31-word vocabulary with no natural
    typos, so corruption is PLANTED deterministically (the
    dq_format_conformance discipline): every 17th document's first
    token of length >= 4 loses its second character on BOTH engines;
    the operator must then recover the original words.

    Scale: the dictionary explode is |dict| x ~L²/2 variants — vocab-
    sized, not corpus-sized (the classic SymSpell trade: precompute the
    dictionary neighborhood once, index it, probe per query token); the
    join is an equi-join on the variant string; lev runs once per
    DISTINCT candidate pair.  At 100 TB: token freq is one map-side-
    combined groupBy, the neighborhood tables are vocabulary-bounded
    broadcast candidates, and the correction report is |rare| rows."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            F.posexplode(F.split("text", " ")).alias("pos0", "tok"),
        )
        .filter(F.col("tok") != "")
        .select(
            F.when(
                (F.col("doc_id") % 17 == 0)
                & (F.col("pos0") == 0)
                & (F.length("tok") >= 4),
                F.expr("concat(substring(tok, 1, 1), substring(tok, 3, length(tok)))"),
            )
            .otherwise(F.col("tok"))
            .alias("tok")
        )
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("n"))
    # persisted: feeds dict, rare, and the final report join; the
    # query-boundary clear_caches reclaims it
    freq = freq.persist()
    dictionary = freq.filter(F.col("n") >= SPELL_DICT_MIN_FREQ)
    rare = freq.filter(F.col("n") < SPELL_DICT_MIN_FREQ)

    del_once = "concat(substring({s}, 1, _p{i} - 1), substring({s}, _p{i} + 1, length({s})))"

    def neighborhood(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("_p1", F.explode(F.expr("sequence(0, length(tok))")))
            .withColumn(
                "v1",
                F.when(F.col("_p1") == 0, F.col("tok")).otherwise(
                    F.expr(del_once.format(s="tok", i=1))
                ),
            )
            .withColumn("_p2", F.explode(F.expr("sequence(0, length(v1))")))
            .withColumn(
                "v",
                F.when(F.col("_p2") == 0, F.col("v1")).otherwise(
                    F.expr(del_once.format(s="v1", i=2))
                ),
            )
            .select("tok", "n", "v")
            .distinct()
        )

    rv = neighborhood(rare).alias("r")
    dv = neighborhood(dictionary).alias("d")
    cand = (
        rv.join(dv, F.col("r.v") == F.col("d.v"))
        .select(
            F.col("r.tok").alias("q"),
            F.col("d.tok").alias("c"),
            F.col("d.n").alias("dn"),
        )
        .distinct()
    )
    lev = F.levenshtein(F.col("q"), F.col("c"))
    best = (
        cand.withColumn("lev", lev.cast("long"))
        .filter(F.col("lev") <= SPELL_MAX_LEV)
        .groupBy("q")
        .agg(
            F.expr("min_by(struct(c, dn, lev), struct(lev, -dn, c))").alias("b")
        )
        .select("q", F.col("b.c").alias("correction"),
                F.col("b.lev").alias("lev"), F.col("b.dn").alias("dict_freq"))
    )
    return best.join(rare, best.q == rare.tok).select(
        F.col("q").alias("token"),
        F.col("n").alias("n_occurrences"),
        "correction",
        "lev",
        "dict_freq",
    )
