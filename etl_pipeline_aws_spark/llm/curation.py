"""Round-7 corpus-curation signals — the pre-training data screens the
round-6 surface did not yet cover: rule-attributed quality funnels
(which rule kills how many docs), Gopher-style within-document
repetition (Rae et al. 2021 §A1.1's duplicate-n-gram screens),
character-level gibberish screening, tokenizer-fertility accounting
(Ács 2019 / mBERT fertility — subwords per word/char by language), a
leakage-safe k-fold assignment (duplicate groups never straddle folds),
and NEXT-FIT-DECREASING packing beside the existing arrival-order
next-fit.

Reference parity note: the reference repo (pedrohw12/etl-pipeline-aws,
glue/job.py) has no curation tier — this module extends the declared
north-star surface (SURVEY.md §2.B), not R1-R18.

Determinism discipline (module-wide): every emitted measure is either a
BIGINT count or a floor-scaled integer ratio (ppm / basis points), so
Spark and DuckDB can never diverge in a last ulp; token semantics are
single-space splits matching the corpus fixtures (the same contract as
llm/corpus.py packing), and the subword tokenizer is a shared 4-char
regex chunker evaluated by both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from etl_pipeline_aws_spark.catalog import bare_tables, cpu_parallel, load_table
from etl_pipeline_aws_spark.registry import query

# --------------------------------------------------------------------------
# corpus_quality_funnel — ordered rule gate with first-kill attribution
# --------------------------------------------------------------------------

FUNNEL_MIN_TOK = 20  # kill docs shorter than this many tokens
FUNNEL_MAX_TOK = 90  # and longer than this (fixture max is 99)
FUNNEL_MIN_DISTINCT_PCT = 35  # distinct-token ratio floor (percent)
FUNNEL_TOP_TOKEN_DIV = 6  # kill if top token > 1/6 of all tokens

_QUALITY_FUNNEL_ORACLE = f"""
    WITH u AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), c AS (
        SELECT doc_id, w, COUNT(*) AS n FROM u GROUP BY doc_id, w
    ), m AS (
        SELECT doc_id, CAST(SUM(n) AS BIGINT) AS tok,
               CAST(COUNT(*) AS BIGINT) AS dtok,
               CAST(MAX(n) AS BIGINT) AS topn
        FROM c GROUP BY doc_id
    ), verdicts AS (
        SELECT doc_id, tok,
               CASE
                   WHEN tok < {FUNNEL_MIN_TOK} THEN 'r1_too_short'
                   WHEN tok > {FUNNEL_MAX_TOK} THEN 'r2_too_long'
                   WHEN dtok * 100 < tok * {FUNNEL_MIN_DISTINCT_PCT}
                       THEN 'r3_low_diversity'
                   WHEN topn * {FUNNEL_TOP_TOKEN_DIV} > tok
                       THEN 'r4_top_token_dominance'
                   ELSE 'survivor'
               END AS rule
        FROM m
    )
    SELECT rule, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS n_tokens
    FROM verdicts GROUP BY rule
"""


@query("corpus_quality_funnel", oracle=_QUALITY_FUNNEL_ORACLE)
def corpus_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate FUNNEL with first-kill attribution: every document is
    judged by an ordered rule chain (too short < {FUNNEL_MIN_TOK} tok,
    too long > {FUNNEL_MAX_TOK} tok, distinct-token ratio <
    {FUNNEL_MIN_DISTINCT_PCT}%, top-token share > 1/{FUNNEL_TOP_TOKEN_DIV})
    and charged to the FIRST rule it fails — the report a curation team
    actually reads before shipping a gate (a plain pass/fail rate can't
    say which rule to retune; the funnel attributes every kill exactly
    once, so the rows sum to the corpus).

    Integer-exact throughout: rule predicates are cross-multiplied
    integer comparisons (dtok*100 < tok*pct), never float ratios.

    Scale: one explode → (doc, token) count → per-doc triple (tok,
    distinct, max) in a single groupBy; the verdict is a row-local CASE;
    the final rollup is 5 groups.  No joins, two shuffles (token count,
    doc fold), both map-side combinable."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return funnel_rollup(funnel_verdicts(docs))


def funnel_verdicts(docs: DataFrame) -> DataFrame:
    """Per-document funnel verdict (doc_id, tok, rule) — the stateless
    stage shared by the batch funnel and its streaming twin
    (streaming/stream_queries.py:stream_curation_gate): each doc's rule
    depends only on that doc's tokens, so ANY micro-batch split yields
    the batch answer."""
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    per_tok = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("n"))
    per_doc = per_tok.groupBy("doc_id").agg(
        F.sum("n").cast("long").alias("tok"),
        F.count(F.lit(1)).cast("long").alias("dtok"),
        F.max("n").cast("long").alias("topn"),
    )
    return per_doc.select(
        "doc_id",
        "tok",
        F.when(F.col("tok") < FUNNEL_MIN_TOK, F.lit("r1_too_short"))
        .when(F.col("tok") > FUNNEL_MAX_TOK, F.lit("r2_too_long"))
        .when(
            F.col("dtok") * 100 < F.col("tok") * FUNNEL_MIN_DISTINCT_PCT,
            F.lit("r3_low_diversity"),
        )
        .when(
            F.col("topn") * FUNNEL_TOP_TOKEN_DIV > F.col("tok"),
            F.lit("r4_top_token_dominance"),
        )
        .otherwise(F.lit("survivor"))
        .alias("rule"),
    )


def funnel_rollup(verdicts: DataFrame) -> DataFrame:
    """(rule, n_docs, n_tokens) fold over funnel_verdicts output."""
    return verdicts.groupBy("rule").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("tok").cast("long").alias("n_tokens"),
    )


# --------------------------------------------------------------------------
# text_gopher_repetition — within-document duplicate-bigram screens
# --------------------------------------------------------------------------

REP_DUP_FLAG_PPM = 50_000  # flag docs with > 5% duplicate bigram mass

_GOPHER_REPETITION_ORACLE = f"""
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
    ), c AS (
        SELECT doc_id, source, bg, COUNT(*) AS n
        FROM b WHERE bg IS NOT NULL GROUP BY doc_id, source, bg
    ), g AS (
        SELECT doc_id, source,
               CAST(SUM(n) AS BIGINT) AS tot,
               CAST(COUNT(*) AS BIGINT) AS dst,
               CAST(MAX(n) AS BIGINT) AS mx
        FROM c GROUP BY doc_id, source
    ), scored AS (
        SELECT doc_id, source,
               CAST((tot - dst) * 1000000 // tot AS BIGINT) AS dup_ppm,
               CAST(mx * 1000000 // tot AS BIGINT) AS top_ppm
        FROM g
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dup_ppm) // COUNT(*) AS BIGINT) AS avg_dup_bigram_ppm,
           CAST(MAX(top_ppm) AS BIGINT) AS max_top_bigram_ppm,
           CAST(SUM(CASE WHEN dup_ppm > {REP_DUP_FLAG_PPM} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged
    FROM scored GROUP BY source
"""


@query("text_gopher_repetition", oracle=_GOPHER_REPETITION_ORACLE)
def text_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition screen in the Gopher style (Rae et al.
    2021, §A1.1 "repetitious text"): per document, the DUPLICATE-BIGRAM
    mass (1 − distinct/total bigrams, in ppm) and the top single
    bigram's share — the two signals that catch looping generation,
    boilerplate stutter, and keyword stuffing that per-token diversity
    misses (text_repetition_filter is the token-level sibling; this is
    the order-sensitive n-gram form).  Rolled up per source: average
    duplicate mass, worst top-bigram share, and the count of documents
    over the {REP_DUP_FLAG_PPM} ppm gate.

    Bigrams see true adjacency, not a bag; ratios are floor-scaled
    integers.

    Scale (r11 rewrite, guide §2.4): every per-doc statistic here —
    total bigrams (size-1), distinct bigrams, and the max bigram
    multiplicity (a sorted-run fold) — is a pure function of the doc's
    own token array, so the former posexplode → doc-partitioned lead
    window → two groupBy reductions (three token-scale exchanges)
    collapse into ONE row-local projection (the curation-screens
    pattern: array bound once in a transform lambda behind an explode
    fence); the only exchange left is the |sources|-row rollup.  Docs
    with < 2 tokens drop exactly as the old lead-IS-NOT-NULL filter
    dropped them (guarded CASE → empty explode)."""
    one = "CAST(1 AS BIGINT)"
    stats = F.expr(f"""
        transform(array(split(text, ' ')), ws ->
            CASE WHEN size(ws) >= 2 THEN
                transform(
                    array(transform(sequence(1, size(ws) - 1),
                        i -> concat(element_at(ws, i), '|', element_at(ws, i + 1)))),
                    bgs -> named_struct(
                        'tot', CAST(size(bgs) AS BIGINT),
                        'dst', CAST(size(array_distinct(bgs)) AS BIGINT),
                        'mx', aggregate(array_sort(bgs),
                            named_struct('prev', CAST(NULL AS STRING),
                                         'run', CAST(0 AS BIGINT),
                                         'best', CAST(0 AS BIGINT)),
                            (acc, x) -> named_struct('prev', x,
                                'run', IF(x <=> acc.prev, acc.run + {one}, {one}),
                                'best', GREATEST(acc.best,
                                    IF(x <=> acc.prev, acc.run + {one}, {one}))),
                            acc -> acc.best)))
            ELSE CAST(array() AS ARRAY<STRUCT<tot:BIGINT,dst:BIGINT,mx:BIGINT>>)
            END)[0]
    """)
    scored = (
        load_table(spark, sf_dir, "documents")
        .select("source", F.explode(stats).alias("g"))
        .select(
            "source",
            F.expr("(g.tot - g.dst) * 1000000 div g.tot").alias("dup_ppm"),
            F.expr("g.mx * 1000000 div g.tot").alias("top_ppm"),
        )
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr("sum(dup_ppm) div count(*)").cast("long").alias("avg_dup_bigram_ppm"),
        F.max("top_ppm").cast("long").alias("max_top_bigram_ppm"),
        F.sum(F.when(F.col("dup_ppm") > REP_DUP_FLAG_PPM, 1).otherwise(0))
        .cast("long")
        .alias("n_flagged"),
    )


# --------------------------------------------------------------------------
# text_tokenizer_fertility — subwords per word / per char by language
# --------------------------------------------------------------------------

# BPE-ish chunker shared by both engines: greedy 1-4 char lowercase runs.
# Kept deliberately simple so Java regex (Spark) and RE2 (DuckDB) agree.
FERTILITY_REGEX = "[a-z]{1,4}"

_FERTILITY_ORACLE = f"""
    WITH f AS (
        SELECT lang,
               CAST(len(regexp_extract_all(text, '{FERTILITY_REGEX}'))
                    AS BIGINT) AS sub,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
               n_chars
        FROM documents
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(sub) AS BIGINT) AS n_subwords,
           CAST(SUM(words) AS BIGINT) AS n_words,
           CAST(SUM(sub) * 10000 // SUM(words) AS BIGINT)
               AS subwords_per_word_bp,
           CAST(SUM(sub) * 10000 // SUM(n_chars) AS BIGINT)
               AS subwords_per_char_bp
    FROM f GROUP BY lang
"""


@query("text_tokenizer_fertility", oracle=_FERTILITY_ORACLE)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY by language — subword tokens emitted per
    whitespace word and per character (basis points), under a shared
    4-char greedy chunker standing in for a BPE vocabulary (the
    container has no tokenizer lib; the regex keeps both engines'
    token counts identical).  Fertility is the standard multilingual
    cost metric (Ács 2019): a language tokenizing at 2× fertility pays
    2× the sequence length for the same text, which is exactly the
    knob corpus_mix_temperature's token accounting needs to price.

    Scale: a narrow per-row map (regexp count — no explode; the token
    LIST never materializes) followed by a 5-group fold.  The regexp
    runs in the JVM inside whole-stage codegen."""
    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        "lang",
        F.size(F.regexp_extract_all("text", F.lit(FERTILITY_REGEX), F.lit(0)))
        .cast("long")
        .alias("sub"),
        F.size(F.split("text", " ")).cast("long").alias("words"),
        "n_chars",
    )
    return f.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("sub").cast("long").alias("n_subwords"),
        F.sum("words").cast("long").alias("n_words"),
        F.expr("sum(sub) * 10000 div sum(words)")
        .cast("long")
        .alias("subwords_per_word_bp"),
        F.expr("sum(sub) * 10000 div sum(n_chars)")
        .cast("long")
        .alias("subwords_per_char_bp"),
    )


# --------------------------------------------------------------------------
# corpus_kfold_leakage_safe — duplicate-group-aware fold assignment
# --------------------------------------------------------------------------

KFOLD_K = 5

_KFOLD_ORACLE = f"""
    WITH keepers AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
               MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper_id
        FROM documents
    )
    SELECT CAST(keeper_id % {KFOLD_K} AS BIGINT) AS fold, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT keeper_id) AS BIGINT) AS n_groups,
           CAST(SUM(tok) AS BIGINT) AS n_tokens
    FROM keepers GROUP BY 1, 2
"""


@query("corpus_kfold_leakage_safe", oracle=_KFOLD_ORACLE)
def corpus_kfold_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe {KFOLD_K}-fold assignment: the fold key is the
    document's exact-duplicate GROUP (min doc_id over the md5(text)
    class), not the document — so byte-identical copies can never land
    in different folds and leak train text into eval (the k-fold form
    of corpus_split_leakage_safe's holdout guarantee; same failure mode
    the dedup tier exists to prevent, applied to cross-validation).
    Deterministic: fold = keeper_id mod {KFOLD_K}, no RNG.  The report
    is the (fold × lang) balance sheet — docs, duplicate groups, tokens
    — which is what you inspect before trusting fold-averaged evals.

    Scale: one hash-partitioned window over md5(text) (the dedup
    shuffle), then a (fold, lang) fold.  No joins; the md5 window is
    the same shape as dedup_exact's keeper assignment."""
    docs = load_table(spark, sf_dir, "documents")
    keepers = docs.select(
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("tok"),
        F.min("doc_id").over(Window.partitionBy(F.md5("text"))).alias("keeper_id"),
    )
    return keepers.groupBy(
        (F.col("keeper_id") % KFOLD_K).cast("long").alias("fold"), "lang"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("keeper_id").cast("long").alias("n_groups"),
        F.sum("tok").cast("long").alias("n_tokens"),
    )


# --------------------------------------------------------------------------
# corpus_pack_next_fit_decreasing — size-ordered packing twin
# --------------------------------------------------------------------------

# Shares PACK_BIN_CAPACITY with the arrival-order next-fit packer.
from etl_pipeline_aws_spark.llm.corpus import PACK_BIN_CAPACITY  # noqa: E402

_NFD_ORACLE = f"""
    WITH RECURSIVE docs AS (
        SELECT source, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
               CAST(ROW_NUMBER() OVER (PARTITION BY source
                                       ORDER BY len(string_split(text, ' '))
                                           DESC, doc_id)
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


@query("corpus_pack_next_fit_decreasing", oracle=_NFD_ORACLE)
def corpus_pack_next_fit_decreasing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEXT-FIT-DECREASING packing: the size-ordered twin of
    corpus_pack_next_fit — documents walk in (token count DESC, doc_id)
    order, so big documents pack first and the long tail of small ones
    tops bins up, cutting padding waste versus arrival order (classical
    bin-packing: NFD's asymptotic bound beats plain next-fit's 2×OPT).
    The trade is the one the docstring pair documents: arrival-order
    next-fit preserves curriculum/order locality; NFD buys utilization
    by giving that up.  Same per-bin manifest shape, so the two plans
    diff directly.

    Spark shape: identical to next-fit — the greedy walk is sequential
    WITHIN a source, so applyInPandas with one Arrow batch per source
    (only (source, doc_id, tok) crosses the boundary — text never
    leaves the JVM), parallel across sources; at 100 TB the key refines
    to (source, shard).  Oracle: the identical walk as a recursive CTE
    in the NFD sort order.  Cites corpus.py's corpus_pack_next_fit."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.size(F.split("text", " ")).cast("long").alias("tok")
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["tok", "doc_id"], ascending=[False, True])
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


# --------------------------------------------------------------------------
# text_char_diversity_screen — character-bigram gibberish screen
# --------------------------------------------------------------------------

CHAR_DIV_FLOOR_PPM = 250_000  # flag docs whose char-bigram diversity < 25%

_CHAR_DIVERSITY_ORACLE = f"""
    WITH p AS (
        SELECT doc_id, lang, text,
               unnest(range(1, len(text))) AS pos
        FROM documents
    ), cb AS (
        SELECT doc_id, lang, substr(text, CAST(pos AS INT), 2) AS bg FROM p
    ), g AS (
        SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS tot,
               CAST(COUNT(DISTINCT bg) AS BIGINT) AS dst
        FROM cb GROUP BY doc_id, lang
    ), scored AS (
        SELECT lang, CAST(dst * 1000000 // tot AS BIGINT) AS div_ppm FROM g
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(div_ppm) AS BIGINT) AS min_div_ppm,
           CAST(SUM(div_ppm) // COUNT(*) AS BIGINT) AS avg_div_ppm,
           CAST(SUM(CASE WHEN div_ppm < {CHAR_DIV_FLOOR_PPM} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged
    FROM scored GROUP BY lang
"""


@query("text_char_diversity_screen", oracle=_CHAR_DIVERSITY_ORACLE)
def text_char_diversity_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram diversity screen — the GIBBERISH detector that
    token-level measures can't be: a doc of "aaaa bbbb aaaa" has healthy
    token diversity but a collapsed character-bigram set, and OCR noise /
    encoding mangling / key-mash spam all show the same signature.  Per
    doc, distinct char-bigrams over total (ppm, floor-scaled); per
    language, the minimum, the average, and the count under the
    {CHAR_DIV_FLOOR_PPM} ppm floor (fixture range is ~20%-86%, so the
    25% floor flags the genuinely degenerate tail, not normal text).

    Scale: the bigram explode is length(text)−1 rows per doc — linear in
    corpus bytes, the same cost class as tokenization; the distinct
    count shuffles on doc_id (documents are the parallel unit).  At
    100 TB this runs as the same explode with the doc_id partitioner the
    dedup tier already uses."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    cb = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr("transform(sequence(1, length(text) - 1), i -> substring(text, i, 2))")
        ).alias("bg"),
    )
    g = cb.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("tot"),
        F.countDistinct("bg").cast("long").alias("dst"),
    )
    scored = g.select("lang", F.expr("dst * 1000000 div tot").alias("div_ppm"))
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("div_ppm").cast("long").alias("min_div_ppm"),
        F.expr("sum(div_ppm) div count(*)").cast("long").alias("avg_div_ppm"),
        F.sum(F.when(F.col("div_ppm") < CHAR_DIV_FLOOR_PPM, 1).otherwise(0))
        .cast("long")
        .alias("n_flagged"),
    )


# --------------------------------------------------------------------------
# corpus_pack_waste_report — next-fit vs next-fit-decreasing, priced
# --------------------------------------------------------------------------

_WASTE_REPORT_ORACLE = f"""
    WITH RECURSIVE docs AS (
        SELECT source, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
               CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
                    AS BIGINT) AS idx_nf,
               CAST(ROW_NUMBER() OVER (PARTITION BY source
                                       ORDER BY len(string_split(text, ' '))
                                           DESC, doc_id)
                    AS BIGINT) AS idx_nfd
        FROM documents
    ), walk_nf AS (
        SELECT source, idx_nf AS idx, tok,
               CAST(1 AS BIGINT) AS bin_idx, tok AS fill
        FROM docs WHERE idx_nf = 1
        UNION ALL
        SELECT d.source, d.idx_nf, d.tok,
               CASE WHEN w.fill + d.tok <= {PACK_BIN_CAPACITY}
                    THEN w.bin_idx ELSE w.bin_idx + 1 END,
               CASE WHEN w.fill + d.tok <= {PACK_BIN_CAPACITY}
                    THEN w.fill + d.tok ELSE d.tok END
        FROM walk_nf w JOIN docs d
          ON d.source = w.source AND d.idx_nf = w.idx + 1
    ), walk_nfd AS (
        SELECT source, idx_nfd AS idx, tok,
               CAST(1 AS BIGINT) AS bin_idx, tok AS fill
        FROM docs WHERE idx_nfd = 1
        UNION ALL
        SELECT d.source, d.idx_nfd, d.tok,
               CASE WHEN w.fill + d.tok <= {PACK_BIN_CAPACITY}
                    THEN w.bin_idx ELSE w.bin_idx + 1 END,
               CASE WHEN w.fill + d.tok <= {PACK_BIN_CAPACITY}
                    THEN w.fill + d.tok ELSE d.tok END
        FROM walk_nfd w JOIN docs d
          ON d.source = w.source AND d.idx_nfd = w.idx + 1
    ), nf AS (
        SELECT source, CAST(MAX(bin_idx) AS BIGINT) AS n_bins,
               CAST(SUM(tok) AS BIGINT) AS toks
        FROM walk_nf GROUP BY source
    ), nfd AS (
        SELECT source, CAST(MAX(bin_idx) AS BIGINT) AS n_bins,
               CAST(SUM(tok) AS BIGINT) AS toks
        FROM walk_nfd GROUP BY source
    )
    SELECT nf.source, nf.toks AS total_tokens,
           nf.n_bins AS nf_bins, nfd.n_bins AS nfd_bins,
           CAST(nf.n_bins - nfd.n_bins AS BIGINT) AS bins_saved,
           CAST(nf.toks * 10000 // (nf.n_bins * {PACK_BIN_CAPACITY})
                AS BIGINT) AS nf_utilization_bp,
           CAST(nfd.toks * 10000 // (nfd.n_bins * {PACK_BIN_CAPACITY})
                AS BIGINT) AS nfd_utilization_bp
    FROM nf JOIN nfd ON nf.source = nfd.source
"""


@query("corpus_pack_waste_report", oracle=_WASTE_REPORT_ORACLE)
def corpus_pack_waste_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-strategy price sheet: next-fit (arrival order) vs
    next-fit-decreasing per source — bin counts, bins saved by NFD, and
    floor-scaled utilization basis points for each.  This is the table
    that decides whether giving up arrival-order locality is worth the
    padding reclaimed: at a fixed {PACK_BIN_CAPACITY}-token context,
    bins_saved × capacity is exactly the compute NFD returns to the
    training run.

    Spark shape: BOTH packers run as their registered applyInPandas
    walks (corpus.py:corpus_pack_next_fit / the NFD twin above — one
    Arrow batch per source, parallel across sources), each folded to a
    per-source summary, then a 5-row join.  The oracle replays both
    greedy walks as two recursive CTEs over one shared doc scan."""
    from etl_pipeline_aws_spark.llm.corpus import corpus_pack_next_fit

    nf = (
        corpus_pack_next_fit(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.max("bin_idx").cast("long").alias("nf_bins"),
            F.sum("fill_tokens").cast("long").alias("total_tokens"),
        )
    )
    nfd = (
        corpus_pack_next_fit_decreasing(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.max("bin_idx").cast("long").alias("nfd_bins"),
            F.sum("fill_tokens").cast("long").alias("nfd_toks"),
        )
    )
    return (
        nf.join(nfd, "source")
        .select(
            "source",
            "total_tokens",
            "nf_bins",
            "nfd_bins",
            (F.col("nf_bins") - F.col("nfd_bins")).cast("long").alias("bins_saved"),
            F.expr(f"total_tokens * 10000 div (nf_bins * {PACK_BIN_CAPACITY})")
            .cast("long")
            .alias("nf_utilization_bp"),
            F.expr(f"nfd_toks * 10000 div (nfd_bins * {PACK_BIN_CAPACITY})")
            .cast("long")
            .alias("nfd_utilization_bp"),
        )
    )


# --------------------------------------------------------------------------
# pipeline_curation_screens_e2e — the round-7 screens composed end-to-end
# --------------------------------------------------------------------------

_CURATION_SCREENS_ORACLE = f"""
    WITH u AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w,
               unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
        FROM documents
    ), tok_c AS (
        SELECT doc_id, w, COUNT(*) AS n FROM u GROUP BY doc_id, w
    ), tok_stats AS (
        SELECT doc_id, CAST(SUM(n) AS BIGINT) AS tok,
               CAST(COUNT(*) AS BIGINT) AS dtok,
               CAST(MAX(n) AS BIGINT) AS topn
        FROM tok_c GROUP BY doc_id
    ), b AS (
        SELECT doc_id,
               w || '|' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos)
                   AS bg
        FROM u
    ), bi_c AS (
        SELECT doc_id, bg, COUNT(*) AS n
        FROM b WHERE bg IS NOT NULL GROUP BY doc_id, bg
    ), bi_stats AS (
        SELECT doc_id,
               CAST((SUM(n) - COUNT(*)) * 1000000 // SUM(n) AS BIGINT)
                   AS dup_ppm
        FROM bi_c GROUP BY doc_id
    ), cpos AS (
        SELECT doc_id, unnest(range(1, len(text))) AS pos, text
        FROM documents
    ), cb AS (
        SELECT doc_id, substr(text, CAST(pos AS INT), 2) AS bg FROM cpos
    ), cb_stats AS (
        SELECT doc_id,
               CAST(COUNT(DISTINCT bg) * 1000000 // COUNT(*) AS BIGINT)
                   AS div_ppm
        FROM cb GROUP BY doc_id
    ), folded AS (
        SELECT d.doc_id, d.lang,
               MIN(d.doc_id) OVER (PARTITION BY md5(d.text)) AS keeper_id,
               t.tok, t.dtok, t.topn, bi.dup_ppm, cbs.div_ppm
        FROM documents d
        JOIN tok_stats t ON t.doc_id = d.doc_id
        JOIN bi_stats bi ON bi.doc_id = d.doc_id
        JOIN cb_stats cbs ON cbs.doc_id = d.doc_id
    )
    SELECT CAST(keeper_id % {KFOLD_K} AS BIGINT) AS fold, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS n_tokens
    FROM folded
    WHERE tok >= {FUNNEL_MIN_TOK} AND tok <= {FUNNEL_MAX_TOK}
      AND dtok * 100 >= tok * {FUNNEL_MIN_DISTINCT_PCT}
      AND topn * {FUNNEL_TOP_TOKEN_DIV} <= tok
      AND dup_ppm <= {REP_DUP_FLAG_PPM}
      AND div_ppm >= {CHAR_DIV_FLOOR_PPM}
    GROUP BY 1, 2
"""


@query("pipeline_curation_screens_e2e", oracle=_CURATION_SCREENS_ORACLE)
def pipeline_curation_screens_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-7 screens composed as ONE job — the curation pass a
    training-data team would actually schedule: quality-funnel rules
    (length / diversity / dominance), the Gopher duplicate-bigram gate,
    and the char-bigram gibberish floor all applied per document, the
    survivors assigned their leakage-safe fold (exact-duplicate group
    keeper mod {KFOLD_K}), and the output reduced to the (fold × lang)
    loader manifest with token totals.

    r11 OPTIMIZATION (guide §2.3/§2.4 — remove shuffles outright): every
    per-document statistic here depends only on that document's text, so
    the former three explode→groupBy branches (token counts, word-bigram
    counts, char-bigram counts: 6 exchanges of corpus-token-scale rows)
    plus three doc-keyed joins are replaced by ONE row-local projection
    over the scan — higher-order array functions compute tok/dtok/topn/
    dup_ppm/div_ppm per row, the token array bound ONCE via a transform
    lambda behind an explode fence (the winnowing CollapseProject
    lesson: without the Generate boundary the optimizer inlines the
    split() into every consumer).  The only remaining exchanges are the
    md5 keeper window and the final 25-cell rollup — and the window
    input is pre-filtered and projected to 4 narrow columns.

    Filter-before-keeper-window is VALUE-IDENTICAL to the oracle's
    filter-after: keeper groups are md5(text) groups, every member
    shares the same text, every funnel statistic is a pure function of
    text, so a group passes or fails ATOMICALLY — the min doc_id over a
    surviving group equals the min over the original group.  (Per-doc
    stats match the exploded spellings exactly: tok = size(split),
    dup_ppm over the same '|'-encoded adjacent pairs, div_ppm guarded to
    length>=2 / size>=2 to reproduce the inner joins' drop of bigramless
    docs.)  Verified by the unchanged oracle at sf0.001/0.01/0.1.

    Scale: one corpus scan, one narrow keeper exchange, one bounded
    rollup — strictly fewer shuffled bytes than the branch-and-join
    spelling at any scale.  The scan is cpu_parallel'd (r12): the r11
    A/B at sf0.1 measured it neutral (2.67 vs 2.71 s) and left it out,
    but the 10x probe exposed the real regime — the replica's documents
    table is ONE row group, so the whole row-local HOF kernel ran in
    ONE task at any core count (19.8 s at 32 cores, 22.4 s at 8: an
    8-vs-32 ratio of 1.13 on pure per-row CPU work).  With the
    round-robin spread the same probe runs 19.8 -> 3.3 s at 32 cores;
    a no-op at 100 TB where the scan out-splits the cores."""
    docs = cpu_parallel(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    )
    one = "CAST(1 AS BIGINT)"
    word_stats = F.expr(f"""
        transform(array(split(text, ' ')), ws -> named_struct(
            'tok', CAST(size(ws) AS BIGINT),
            'dtok', CAST(size(array_distinct(ws)) AS BIGINT),
            'topn', aggregate(array_sort(ws),
                named_struct('prev', CAST(NULL AS STRING),
                             'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)),
                (acc, x) -> named_struct('prev', x,
                    'run', IF(x <=> acc.prev, acc.run + {one}, {one}),
                    'best', GREATEST(acc.best,
                        IF(x <=> acc.prev, acc.run + {one}, {one}))),
                acc -> acc.best),
            'dup_ppm', CASE WHEN size(ws) >= 2 THEN CAST(
                (size(ws) - 1 - size(array_distinct(
                    transform(sequence(1, size(ws) - 1),
                        i -> concat(element_at(ws, i), '|', element_at(ws, i + 1))))))
                * 1000000 DIV (size(ws) - 1) AS BIGINT) END,
            'div_ppm', CASE WHEN length(text) >= 2 THEN CAST(
                size(array_distinct(transform(sequence(1, length(text) - 1),
                    i -> substring(text, i, 2))))
                * 1000000 DIV (length(text) - 1) AS BIGINT) END
        ))
    """)
    # div_ppm lives INSIDE the generated struct (r12): as a free-standing
    # projection its funnel predicate depended only on `text`, so Catalyst
    # pushed the filter below the cpu_parallel round-robin exchange into
    # the SCAN stage — the whole char-bigram kernel then ran at the
    # scan's parallelism (one task on a single-row-group table; the 10x
    # probe measured the survivors stage at 20.2 s vs 3.8 s for the stats
    # projection alone).  A predicate on a Generate output cannot sink
    # below the Generate, which sits above the exchange.
    stats = docs.select(
        "doc_id",
        "lang",
        F.md5("text").alias("h"),
        F.explode(word_stats).alias("s"),
    ).select("doc_id", "lang", "h", "s.*")
    survivors = stats.filter(
        (F.col("tok") >= FUNNEL_MIN_TOK)
        & (F.col("tok") <= FUNNEL_MAX_TOK)
        & (F.col("dtok") * 100 >= F.col("tok") * FUNNEL_MIN_DISTINCT_PCT)
        & (F.col("topn") * FUNNEL_TOP_TOKEN_DIV <= F.col("tok"))
        & (F.col("dup_ppm") <= REP_DUP_FLAG_PPM)
        & (F.col("div_ppm") >= CHAR_DIV_FLOOR_PPM)
    ).select("doc_id", "lang", "tok", "h")
    folded = survivors.select(
        "lang",
        "tok",
        F.min("doc_id").over(Window.partitionBy("h")).alias("keeper_id"),
    )
    return folded.groupBy(
        (F.col("keeper_id") % KFOLD_K).cast("long").alias("fold"), "lang"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("tok").cast("long").alias("n_tokens"),
    )


# --------------------------------------------------------------------------
# text_template_prefix_families — shared-opening boilerplate detector
# --------------------------------------------------------------------------

TEMPLATE_PREFIX_TOKENS = 8  # family key = the first 8 tokens

_TEMPLATE_FAMILIES_ORACLE = f"""
    WITH p AS (
        SELECT doc_id, source,
               array_to_string(
                   list_slice(string_split(text, ' '), 1,
                              {TEMPLATE_PREFIX_TOKENS}), ' ') AS prefix
        FROM documents
    ), fam AS (
        SELECT prefix, CAST(COUNT(*) AS BIGINT) AS family_size,
               CAST(MIN(doc_id) AS BIGINT) AS exemplar_doc_id,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        FROM p GROUP BY prefix
    )
    SELECT prefix, family_size, exemplar_doc_id, n_sources
    FROM fam WHERE family_size > 1
"""


@query("text_template_prefix_families", oracle=_TEMPLATE_FAMILIES_ORACLE)
def text_template_prefix_families(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template/boilerplate FAMILY detection by shared opening: documents
    whose first {TEMPLATE_PREFIX_TOKENS} tokens are identical are one
    family (form letters, scraped page shells, generated reports — the
    near-dup class where the BODY varies but the opening is stamped,
    which full-document MinHash under-scores when the shared prefix is a
    small fraction of a long doc; dedup_prefix_containment is the
    character-level sibling, this is the token-level family census).
    Families of size > 1 are reported with an exemplar doc and how many
    sources they span — cross-source families are the scraper-duplication
    signal corpus_contamination_by_source prices.

    Scale: one narrow map (slice of the split array — the full token
    list never shuffles, only the 8-token prefix string), one groupBy on
    the prefix hash.  Exactly the dedup_exact shuffle shape with a
    derived key."""
    docs = load_table(spark, sf_dir, "documents")
    p = docs.select(
        "doc_id",
        "source",
        F.concat_ws(
            " ", F.slice(F.split("text", " "), 1, TEMPLATE_PREFIX_TOKENS)
        ).alias("prefix"),
    )
    return (
        p.groupBy("prefix")
        .agg(
            F.count(F.lit(1)).cast("long").alias("family_size"),
            F.min("doc_id").cast("long").alias("exemplar_doc_id"),
            F.countDistinct("source").cast("long").alias("n_sources"),
        )
        .filter(F.col("family_size") > 1)
    )


# --------------------------------------------------------------------------
# text_unigram_surprisal_gate — perplexity-style quality filter (CCNet shape)
# --------------------------------------------------------------------------

# Gates in micro-nats per token, straddling the fixture corpus entropy
# (~3.40e6 µnat/token over a 31-type vocabulary) so BOTH tails fire at
# sf0.01: the low tail is "too predictable" (templated/stamped text), the
# high tail is "too surprising" (rare-token salad / gibberish).
SURPRISAL_LOW_UNAT = 3_394_000
SURPRISAL_HIGH_UNAT = 3_424_000

_SURPRISAL_ORACLE = f"""
    WITH u AS (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
        FROM documents
    ), cw AS (
        SELECT doc_id, source, w, CAST(COUNT(*) AS BIGINT) AS n
        FROM u GROUP BY doc_id, source, w
    ), vocab AS (
        SELECT w, CAST(SUM(n) AS BIGINT) AS cnt FROM cw GROUP BY w
    ), tot AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab
    ), s AS (
        SELECT w, CAST(FLOOR(LN(CAST(total AS DOUBLE) / CAST(cnt AS DOUBLE))
                             * 1000000) AS BIGINT) AS s_unat
        FROM vocab, tot
    ), per_doc AS (
        SELECT c.doc_id, c.source,
               CAST(SUM(c.n) AS BIGINT) AS tok,
               CAST(SUM(c.n * s.s_unat) AS BIGINT) AS sur
        FROM cw c JOIN s ON c.w = s.w
        GROUP BY c.doc_id, c.source
    ), scored AS (
        SELECT source, sur // tok AS mean_unat FROM per_doc
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(mean_unat) // COUNT(*) AS BIGINT) AS avg_surprisal_unat,
           CAST(SUM(CASE WHEN mean_unat < {SURPRISAL_LOW_UNAT} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_too_predictable,
           CAST(SUM(CASE WHEN mean_unat > {SURPRISAL_HIGH_UNAT} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_too_surprising
    FROM scored GROUP BY source
"""


@query("text_unigram_surprisal_gate", oracle=_SURPRISAL_ORACLE)
def text_unigram_surprisal_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality gate in the CCNet/Wenzek et al. 2020 shape:
    score every document by its MEAN TOKEN SURPRISAL under a language
    model trained on the corpus itself (here the exact unigram LM — the
    engine's KN-bigram tier, text_bigram_kneser_ney, is the model
    upgrade path), then flag both tails per source: too-predictable
    (templated/stamped text the low tail catches) and too-surprising
    (rare-token salad the high tail catches).  This is the filter that
    actually ranks web text for pre-training — length/punct heuristics
    (text_quality_score) can't see distributional oddness.

    Determinism: the ONLY double op is one LN per VOCABULARY TYPE (31
    here), computed from two exact BIGINTs and immediately floor-scaled
    to integer micro-nats; per-document totals are then exact integer
    dot products (n·s_unat), so engines cannot drift in a summation
    order.  (A last-ulp libm difference in LN would need to land within
    ~1e-10 of a floor boundary to flip one integer — and it would flip
    identically for every document sharing that type.)

    Scale: token-count groupBy (the TF shuffle every text op shares) →
    vocabulary-sized surprisal table (broadcast side) → per-doc integer
    fold.  The vocab table is |V| rows regardless of corpus size; the
    1-row total broadcast is the q11 scalar pattern."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    u = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("w")
    )
    cw = u.groupBy("doc_id", "source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    vocab = cw.groupBy("w").agg(F.sum("n").cast("long").alias("cnt"))
    tot = vocab.agg(F.sum("cnt").cast("long").alias("total"))
    s = (
        vocab.crossJoin(F.broadcast(tot))
        .select(
            "w",
            F.floor(
                F.log(F.col("total").cast("double") / F.col("cnt").cast("double"))
                * 1_000_000
            )
            .cast("long")
            .alias("s_unat"),
        )
    )
    per_doc = (
        cw.join(F.broadcast(s), "w")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("n").cast("long").alias("tok"),
            F.sum(F.col("n") * F.col("s_unat")).cast("long").alias("sur"),
        )
    )
    scored = per_doc.select("source", F.expr("sur div tok").alias("mean_unat"))
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr("sum(mean_unat) div count(*)").cast("long").alias("avg_surprisal_unat"),
        F.sum(F.when(F.col("mean_unat") < SURPRISAL_LOW_UNAT, 1).otherwise(0))
        .cast("long")
        .alias("n_too_predictable"),
        F.sum(F.when(F.col("mean_unat") > SURPRISAL_HIGH_UNAT, 1).otherwise(0))
        .cast("long")
        .alias("n_too_surprising"),
    )


# --------------------------------------------------------------------------
# corpus_filter_bias_audit — who does the quality gate reject?
# --------------------------------------------------------------------------


def _bias_audit_sql(tok_gen: str, hashfn: str, idiv: str) -> str:
    """Shared filter-bias text; per-dialect tokenizer, content hash and
    integer division.  Length quintiles bin by the integer mid-rank
    (the ml_brier_decomposition trick), never a percentile broadcast."""
    return f"""
WITH f AS (
    SELECT doc_id, source, n_chars,
           CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY {hashfn})
                 AND {tok_gen} BETWEEN 20 AND 1000
                THEN 1 ELSE 0 END AS kept
    FROM {{documents}}
), pv AS (
    SELECT n_chars, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM f GROUP BY n_chars
), qmap AS (
    SELECT n_chars,
           CAST(((2 * SUM(cnt) OVER (ORDER BY n_chars ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) - cnt) * 5)
                {idiv} (2 * SUM(cnt) OVER ()) + 1 AS BIGINT) AS len_quintile
    FROM pv
), cells AS (
    SELECT f.source, q.len_quintile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(f.kept) AS BIGINT) AS n_kept
    FROM f JOIN qmap q ON f.n_chars = q.n_chars
    GROUP BY f.source, q.len_quintile
)
SELECT source, len_quintile, n_docs, n_kept,
       CAST(n_kept * 10000 {idiv} n_docs AS BIGINT) AS keep_bp,
       CAST((n_kept * CAST(SUM(n_docs) OVER () AS BIGINT) * 1000000)
            {idiv} (n_docs * CAST(SUM(n_kept) OVER () AS BIGINT)) AS BIGINT)
           AS lift_vs_overall_ppm
FROM cells
"""


_BIAS_ORACLE = _bias_audit_sql(
    "len(string_split(text, ' '))", "sha256(text)", "//"
)
_BIAS_SPARK = _bias_audit_sql(
    "size(split(text, ' '))", "sha2(text, 256)", "DIV"
)


@query("corpus_filter_bias_audit", oracle=bare_tables(_BIAS_ORACLE))
def corpus_filter_bias_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-BIAS audit of the curation gate — the fairness/coverage
    check a training-data pipeline owes its corpus: per (source,
    length-quintile) cell, the keep rate of the shared gate rules
    (exact-dup keeper + the 20..1000-token screen of
    corpus_curation_gate) and its LIFT against the overall keep rate.
    A quality filter that silently rejects one source's long tail —
    the documented failure mode of perplexity/quality screens on
    low-resource languages and technical prose — shows up here as a
    cell with lift far below 10⁶ ppm BEFORE the model quietly loses
    that distribution (Dodge et al. 2021's C4 audit, as an operator).

    Exactness: gate flags are exact integer predicates (hash-window
    keeper + token bounds); length quintiles bin by the integer
    mid-rank over the per-value table (equal-population, no percentile
    broadcast, no floats); rates and lifts are integer basis
    points/ppm.

    Scale: one content-hash dedup shuffle (the gate's own cost), one
    |distinct n_chars| reduction with one ordered window over it, one
    value-keyed hash join back, one bounded-cell rollup.  The lift
    window runs over |sources|×5 rows."""
    return spark.sql(_BIAS_SPARK, documents=load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# pipeline_source_scorecard_e2e — one-job per-source curation scorecard
# --------------------------------------------------------------------------


def _scorecard_sql(tok_len: str, tok_gen: str, hashfn: str, idiv: str) -> str:
    """Shared source-scorecard text; per-dialect token length/generator,
    content hash, and integer division.  Three source-keyed folds over
    the same documents scan, hash-joined on the bounded source key."""
    return f"""
WITH gate AS (
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN is_keeper = 1
                          AND n_tokens BETWEEN 20 AND 1000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM (
        SELECT source, {tok_len} AS n_tokens,
               CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY {hashfn})
                    THEN 1 ELSE 0 END AS is_keeper
        FROM {{documents}}
    ) g GROUP BY source
), stats AS (
    SELECT source,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM {{documents}} GROUP BY source
), cells AS (
    SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
    FROM ({tok_gen}) toks GROUP BY source, w
), marg AS (
    SELECT source, w, c,
           CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS n
    FROM cells
), ent AS (
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CAST(FLOOR(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                * LN(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                * 1000000000e0) AS BIGINT)) AS BIGINT) AS entropy_e9
    FROM marg GROUP BY source
)
SELECT g.source, g.n_docs, g.n_kept,
       CAST(g.n_kept * 10000 {idiv} g.n_docs AS BIGINT) AS keep_bp,
       CAST(s.total_chars {idiv} g.n_docs AS BIGINT) AS avg_chars,
       s.n_langs, e.n_types, e.entropy_e9
FROM gate g
JOIN stats s ON s.source = g.source
JOIN ent e ON e.source = g.source
"""


_SCORECARD_ORACLE = _scorecard_sql(
    "len(string_split(text, ' '))",
    "SELECT source, unnest(string_split(text, ' ')) AS w FROM documents",
    "sha256(text)",
    "//",
)
_SCORECARD_SPARK = _scorecard_sql(
    "size(split(text, ' '))",
    "SELECT source, explode(split(text, ' ')) AS w FROM {documents}",
    "sha2(text, 256)",
    "DIV",
)


@query("pipeline_source_scorecard_e2e", oracle=bare_tables(_SCORECARD_ORACLE))
def pipeline_source_scorecard_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source CURATION SCORECARD as one job — the table a data
    lead reads before every mix decision, with one row per source
    carrying the three signal families this engine computes separately:
    gate outcomes (docs, kept, keep-rate — the corpus_curation_gate
    rules rolled up), shape (average chars, language spread), and
    lexical health (type count, unigram entropy in nano-nats — the
    text_source_token_entropy signal).  The composition proof that the
    curation members share the documents contract; a foreachBatch sink
    writes exactly this shape as the per-ingest source report.

    Each leg is the member's exact arithmetic (hash-window keeper +
    token-bound screen; exact integer char sums; floor-scaled LN per
    cell).  The three folds hash-join on the bounded source key —
    |sources| rows a side, broadcast-trivial.

    Scale: the documents scan feeds three source-keyed partial
    aggregations (the entropy leg's cell table is the posting-list
    reduction); joins and output are |sources|-bounded.  One job, no
    fact-sized join anywhere."""
    return spark.sql(_SCORECARD_SPARK, documents=load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# corpus_length_percentile_trim — exact global P1/P99 length fences
# --------------------------------------------------------------------------


def _length_trim_report_sql(cum_src: str) -> str:
    """Shared trim-report text over a cumulative-count relation
    ``{cum_src}`` with columns (v, cum_c, n_total): P1/P99 fences ride
    scalar subqueries; the report is a per-source groupBy."""
    lo = f"(SELECT MIN(v) FROM {cum_src} WHERE cum_c * 100 >= n_total)"
    hi = f"(SELECT MIN(v) FROM {cum_src} WHERE cum_c * 100 >= 99 * n_total)"
    # The fence subqueries ride the pre-aggregation PROJECTION (Spark
    # rejects scalar subqueries inside aggregate arguments).
    return f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(is_low) AS BIGINT) AS n_trimmed_low,
       CAST(SUM(is_high) AS BIGINT) AS n_trimmed_high,
       CAST(SUM(1 - is_low - is_high) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN is_low = 0 AND is_high = 0
                     THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
FROM (
    SELECT source, n_chars,
           CASE WHEN n_chars < {lo} THEN 1 ELSE 0 END AS is_low,
           CASE WHEN n_chars > {hi} THEN 1 ELSE 0 END AS is_high
    FROM {{documents}}
) flagged
GROUP BY source
"""


_LENGTH_TRIM_ORACLE = f"""
WITH pv AS (
    SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
    FROM documents GROUP BY n_chars
), cumv AS (
    SELECT v,
           CAST(SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS BIGINT) AS cum_c,
           CAST(SUM(c) OVER () AS BIGINT) AS n_total
    FROM pv
)
{_length_trim_report_sql("cumv")}
"""

_LENGTH_PV_SPARK = """
SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
FROM {documents} GROUP BY n_chars
"""


@query("corpus_length_percentile_trim", oracle=bare_tables(_LENGTH_TRIM_ORACLE))
def corpus_length_percentile_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-outlier TRIM report at exact global P1/P99 character-count
    fences — the curation screen that drops truncation stubs (sub-P1)
    and concatenation monsters (super-P99) before packing, reported per
    source so a mix owner sees WHICH domains lose mass (a crawl dump
    loses tail-heavy docs; a reference corpus should lose ~2% flat).
    Fences are ATTAINED values at the pooled ECDF (min v with
    100·cum ≥ q·n) — exact, not t-digest approximations, because a trim
    boundary becomes a reproducibility constant of the dataset card.

    Determinism: per-length counts and fence selection are exact
    BIGINT arithmetic; no floats anywhere.

    Scale: |distinct(n_chars)| is fact-scaling in a heterogeneous crawl,
    so the ECDF accumulation rides the two-phase ranked_prefix_sum
    (functions/prefix.py, no unpartitioned window); the fences ride
    scalar subqueries over the cumulative table (guard-clean) and the
    report is one map-side-combinable per-source groupBy over a second
    narrow documents scan."""
    from etl_pipeline_aws_spark.functions.prefix import ranked_prefix_sum

    pv = spark.sql(_LENGTH_PV_SPARK, documents=load_table(spark, sf_dir, "documents"))
    ranked, totals = ranked_prefix_sum(pv, [F.asc("v")], ["c"])
    n = totals["c"]
    return spark.sql(
        _length_trim_report_sql("{cum}"),
        cum=ranked.withColumn("n_total", F.lit(n).cast("long")),
        documents=load_table(spark, sf_dir, "documents"),
    )


# --------------------------------------------------------------------------
# text_code_detection_screen — code-vs-prose curation gate
# --------------------------------------------------------------------------

CODE_SYMBOLS = ";={}()[]"  # the punctuation prose essentially never stacks
CODE_SYM_PPM_MIN = 30_000  # >=3% symbol chars => code-like
CODE_IDENT_PPM_MIN = 50_000  # >=5% snake_case tokens => code-like


def _code_screen_sql(tok_filter: str, idiv: str) -> str:
    """Shared code-screen text; the snake_case token counter differs per
    dialect (Spark filter() vs DuckDB list_filter), the per-char symbol
    counters are portable replace() arithmetic."""
    sym_count = " + ".join(
        f"(LENGTH(text) - LENGTH(REPLACE(text, '{c}', '')))"
        for c in CODE_SYMBOLS
    )
    # the '{' and '}' literals are doubled: the text is str.format-ed
    # (spark.sql's input binding, bare_tables for the oracle)
    sym_count = sym_count.replace("{", "{{").replace("}", "}}")
    return f"""
WITH feats AS (
    SELECT source,
           CAST(({sym_count}) * 1000000
                / GREATEST(CAST(1 AS BIGINT), LENGTH(text)) AS BIGINT)
               AS sym_ppm,
           CAST({tok_filter} * 1000000
                / GREATEST(CAST(1 AS BIGINT), n_tokens) AS BIGINT)
               AS ident_ppm
    FROM (
        SELECT source, text,
               CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1
                    AS BIGINT) AS n_tokens
        FROM {{documents}}
    ) base
), flagged AS (
    SELECT source, sym_ppm, ident_ppm,
           CASE WHEN sym_ppm >= {CODE_SYM_PPM_MIN}
                     OR ident_ppm >= {CODE_IDENT_PPM_MIN}
                THEN 1 ELSE 0 END AS is_code
    FROM feats
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(is_code) AS BIGINT) AS n_code_like,
       CAST(SUM(is_code) * 1000000 {idiv} COUNT(*) AS BIGINT) AS code_ppm,
       CAST(SUM(sym_ppm) {idiv} COUNT(*) AS BIGINT) AS avg_sym_ppm,
       CAST(SUM(ident_ppm) {idiv} COUNT(*) AS BIGINT) AS avg_ident_ppm
FROM flagged
GROUP BY source
"""


_CODE_SCREEN_ORACLE = _code_screen_sql(
    "CAST(len(list_filter(string_split(text, ' '), w -> contains(w, '_')))"
    " AS BIGINT)",
    "//",
)
_CODE_SCREEN_SPARK = _code_screen_sql(
    "CAST(size(filter(split(text, ' '), w -> contains(w, '_'))) AS BIGINT)",
    "DIV",
)


@query("text_code_detection_screen", oracle=bare_tables(_CODE_SCREEN_ORACLE))
def text_code_detection_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose SCREEN — the routing gate every mixed crawl needs
    before a text-only training mix (code wants its own tokenizer
    budget, dedup keys, and quality rules; The Stack-style pipelines
    split here first).  Two cheap, deterministic signals per doc:
    stacked-punctuation density ({CODE_SYMBOLS!r} chars per char, ppm)
    and snake_case identifier share of tokens — prose essentially never
    clears {CODE_SYM_PPM_MIN} ppm symbols or {CODE_IDENT_PPM_MIN} ppm
    underscore tokens.  Per-source rollup: doc counts, flagged share,
    and both average signals (the audit row a mix owner reads before
    trusting the gate).

    Determinism: symbol counts are portable LENGTH/REPLACE arithmetic
    (no regex — flag spellings differ between dialects); token counts
    and shares are exact integer ppm; no doubles anywhere.

    Scale: one documents scan, all features row-local string
    expressions, one map-side-combinable per-source groupBy.  No join,
    no window."""
    return spark.sql(
        _CODE_SCREEN_SPARK,
        documents=load_table(spark, sf_dir, "documents"),
    )


# --------------------------------------------------------------------------
# corpus_dataset_card — the one-job datasheet per source
# --------------------------------------------------------------------------


def _dataset_card_sql(idiv: str, toklen: str) -> str:
    return f"""
WITH base AS (
    SELECT source, lang, n_chars,
           CAST({toklen} AS BIGINT) AS n_toks,
           MD5(text) AS h
    FROM {{documents}}
), per_source AS (
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(COUNT(DISTINCT h) AS BIGINT) AS n_uniq
    FROM base GROUP BY source
), langs AS (
    SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
    FROM base GROUP BY source, lang
), top_lang AS (
    SELECT source,
           MIN(CASE WHEN c = mx THEN lang END) AS top_lang,
           CAST(MAX(mx) AS BIGINT) AS top_c
    FROM (
        SELECT source, lang, c, MAX(c) OVER (PARTITION BY source) AS mx
        FROM langs
    ) t GROUP BY source
)
SELECT p.source,
       p.n_docs,
       p.n_tokens,
       p.n_chars,
       CAST((p.n_docs - p.n_uniq) * 1000000 {idiv} p.n_docs AS BIGINT)
           AS dup_ppm,
       t.top_lang,
       CAST(t.top_c * 1000000 {idiv} p.n_docs AS BIGINT) AS top_lang_ppm,
       CAST(p.n_tokens {idiv} p.n_docs AS BIGINT) AS avg_tokens
FROM per_source p JOIN top_lang t ON t.source = p.source
"""


@query(
    "corpus_dataset_card",
    oracle=bare_tables(_dataset_card_sql("//", "len(string_split(text, ' '))")),
)
def corpus_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card ("Datasheets for Datasets", Gebru et al. 2021)
    in one job: per source — document/token/character volume, exact-dup
    rate (content-hash distinct), dominant language with its share, and
    mean document length.  This is the summary table a corpus release
    publishes and the first thing a training-mix design reads; keeping
    it ONE scan means the numbers can never disagree about which
    snapshot they describe (the drift that happens when volume, dup and
    language stats come from three different runs).

    Determinism: counts/sums are exact integers; dedup is MD5 content
    identity (both engines' MD5 agree byte-for-byte); dominant-language
    ties break to the lexicographically smallest language; shares are
    exact integer-division ppm.

    Scale: one documents scan into three map-side-combinable groupBys
    (source; source×lang; the distinct-hash count shuffles on the hash
    within source); the per-source window runs over the |sources×langs|
    bounded table.  No text leaves the scan stage — only hashes and
    counts shuffle."""
    return spark.sql(
        _dataset_card_sql("DIV", "size(split(text, ' '))"),
        documents=load_table(spark, sf_dir, "documents"),
    )


# --------------------------------------------------------------------------
# text_instruction_format_screen — route chat/QA-formatted docs
# --------------------------------------------------------------------------

# Role markers counted as LINE PREFIXES (newline-anchored occurrences), in
# portable LENGTH/REPLACE arithmetic — no regex-flag dialect traps.
_INSTR_MARKERS = ("Q:", "A:", "Question:", "Answer:", "User:", "Assistant:")


def _marker_count_expr(marker: str) -> str:
    """Occurrences of '\\n<marker>' in text, by length differencing."""
    probe = "chr(10) || '" + marker + "'"
    return (
        f"(LENGTH(body) - LENGTH(REPLACE(body, {probe}, '')))"
        f" / (1 + LENGTH('{marker}'))"
    )


def _instruction_screen_sql(idiv: str) -> str:
    terms = " + ".join(_marker_count_expr(m) for m in _INSTR_MARKERS)
    return f"""
WITH qa AS (
    -- fixture shaping (the multimodal convention: the synthetic corpus
    -- carries no dialogue formatting, so the modality is synthesized
    -- DETERMINISTICALLY in-query): every third document is recast as a
    -- two-turn Q/A transcript; the rest stay prose.  Both engines
    -- derive the identical corpus, so the screen is exercised on a
    -- mixed population, not a zero vector.
    SELECT source,
           CASE WHEN doc_id % 3 = 0 THEN
               'Q: ' || SUBSTR(text, 1, 40) || chr(10)
                   || 'A: ' || SUBSTR(text, 41, 80) || chr(10)
                   || 'Q: ' || SUBSTR(text, 121, 40) || chr(10)
                   || 'A: ' || SUBSTR(text, 161)
           ELSE text END AS doc
    FROM {{documents}}
), base AS (
    SELECT source, chr(10) || doc AS body FROM qa
), scored AS (
    SELECT source,
           CAST({terms} AS BIGINT) AS n_markers,
           CAST(LENGTH(body) - LENGTH(REPLACE(body, chr(10), ''))
                AS BIGINT) AS n_lines
    FROM base
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_markers >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_instruction_like,
       CAST(SUM(CASE WHEN n_markers >= 2 THEN 1 ELSE 0 END) * 1000000
            {idiv} COUNT(*) AS BIGINT) AS instruction_ppm,
       CAST(SUM(n_markers) AS BIGINT) AS total_markers,
       CAST(SUM(n_lines) AS BIGINT) AS total_lines
FROM scored GROUP BY source
"""


@query(
    "text_instruction_format_screen",
    oracle=bare_tables(_instruction_screen_sql("//")),
)
def text_instruction_format_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instruction/chat-format routing screen: count newline-anchored role
    markers (Q:/A:/Question:/Answer:/User:/Assistant:) per document and
    flag docs with >= 2 as instruction-formatted — the router that
    separates dialogue/QA material from plain prose BEFORE mix assembly
    (instruction data is upsampled in SFT recipes and either excluded or
    tagged in pretraining mixes; mixing it in silently skews both).
    The fixture carries no dialogue formatting, so every third document
    is deterministically recast as a two-turn Q/A transcript in-query
    (the multimodal family's fixture-shaping convention) — the screen
    is certified on a mixed population.
    Reported per source: docs, instruction-like count/ppm, total markers
    and lines — the audit row a mix design reads.

    Determinism: marker counting is LENGTH/REPLACE differencing on a
    newline-prefixed body (the text_code_detection_screen discipline —
    portable, no regex dialect traps); prefix anchoring comes from
    probing for chr(10)||marker, so mid-line mentions don't count; all
    outputs are exact integers with integer-division ppm.  Spark and
    DuckDB run the IDENTICAL SQL text.

    Scale: one documents scan, row-local string arithmetic, one
    map-side-combinable per-source groupBy.  No join, no window."""
    return spark.sql(
        _instruction_screen_sql("DIV"),
        documents=load_table(spark, sf_dir, "documents"),
    )


# --------------------------------------------------------------------------
# text_memorization_span_mass — cross-doc repeated-span exposure per doc
# --------------------------------------------------------------------------

SPAN_K = 8  # tokens per span (shingle length)

_SPAN_MASS_SQL_DUCK = f"""
WITH toks AS (
    SELECT doc_id, source, tok,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS i
    FROM (
        SELECT doc_id, source,
               unnest(string_split(text, ' ')) AS tok,
               unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
        FROM documents
    ) t WHERE tok <> ''
), spans AS (
    SELECT a.doc_id, a.source, a.i,
           MD5(string_agg(b.tok, ' ' ORDER BY b.i)) AS h
    FROM toks a JOIN toks b
      ON b.doc_id = a.doc_id AND b.i >= a.i AND b.i < a.i + {SPAN_K}
    GROUP BY a.doc_id, a.source, a.i
    HAVING COUNT(*) = {SPAN_K}
), span_docs AS (
    SELECT h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
    FROM spans GROUP BY h
), per_doc AS (
    SELECT s.doc_id, s.source,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN d.df > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared
    FROM spans s JOIN span_docs d ON d.h = s.h
    GROUP BY s.doc_id, s.source
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_spans) AS BIGINT) AS n_spans,
       CAST(SUM(n_shared) AS BIGINT) AS n_shared_spans,
       CAST(SUM(n_shared) * 1000000 // (1 + SUM(n_spans)) AS BIGINT)
           AS shared_ppm,
       CAST(SUM(CASE WHEN n_shared * 2 > n_spans THEN 1 ELSE 0 END)
            AS BIGINT) AS n_high_risk_docs
FROM per_doc GROUP BY source
"""


@query("text_memorization_span_mass", oracle=_SPAN_MASS_SQL_DUCK)
def text_memorization_span_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memorization-risk census (the exact-substring concern of Lee et
    al. 2022 as a per-source AUDIT): every {SPAN_K}-token rolling span
    is fingerprinted; a span appearing in more than one document is
    SHARED, and a document where shared spans are the majority is
    high-risk (its content is mostly cross-document boilerplate the
    model will memorize).  Reported per source: span volume, shared
    mass ppm, high-risk doc count — the table that decides whether a
    source needs exact-substring dedup before training.  Granularity
    sits between exact-dup (whole doc) and winnowing (selected
    fingerprints): EVERY span counts, none are sampled.

    Determinism: spans are MD5 of the space-joined token window
    (identical on both engines); all outputs exact integers.

    Scale: span building is ROW-LOCAL — split once, fingerprint every
    window by array slicing in one projection (the windowed self-join
    form measured 12x at the 10x probe; this form is flat), so nothing
    shuffles before the span-hash groupBy; span-document frequency is
    one hash-key shuffle; the per-doc and per-source rollups are
    map-side combinable.  Hot spans
    (a boilerplate sentence in every doc) concentrate one hash key —
    at 100 TB, salt the df count (it is an additive count, the
    standard two-level fold)."""
    docs = load_table(spark, sf_dir, "documents")
    # Row-local span build: split once, fingerprint every K-window by
    # array slicing inside ONE projection — zero shuffle until the hash
    # groupBy (the windowed self-join form measured 12x at the 10x
    # probe: it shuffled every token x K).  The persist() boundary pins
    # single evaluation of the token array (the dedup_winnowing_pairs
    # CollapseProject lesson: without it Catalyst inlines the O(tokens)
    # split into every slice() call).
    arrs = docs.select(
        "doc_id",
        "source",
        F.filter(F.split("text", " "), lambda t: t != "").alias("arr"),
    ).persist()
    spans = arrs.select(
        "doc_id",
        "source",
        F.explode(
            F.when(
                F.size("arr") >= SPAN_K,
                F.transform(
                    F.sequence(F.lit(1), F.size("arr") - (SPAN_K - 1)),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice("arr", i, SPAN_K))
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("h"),
    )
    span_docs = spans.groupBy("h").agg(
        F.countDistinct("doc_id").alias("df")
    )
    per_doc = (
        spans.join(span_docs, "h")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("df") > 1, 1).otherwise(0)).alias("n_shared"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_spans").cast("long").alias("n_spans"),
        F.sum("n_shared").cast("long").alias("n_shared_spans"),
        F.expr(
            "CAST(SUM(n_shared) * 1000000 DIV (1 + SUM(n_spans)) AS BIGINT)"
        ).alias("shared_ppm"),
        F.sum(F.when(F.col("n_shared") * 2 > F.col("n_spans"), 1).otherwise(0))
        .cast("long")
        .alias("n_high_risk_docs"),
    )
