"""Text-analysis gold queries over the `documents` table.

LLM-data-pipeline operators: token counting, quality scoring,
language-ID, fingerprinting, token/cost estimation, word distributions
(SURVEY §2.2 P15/P24 generalized; §2.5 A10/A13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TXT
from ..sources.registry import parallel_docs, table
from .base import query

_EN = ", ".join(f"'{w}'" for w in TXT.STOPWORDS["en"])
_ES = ", ".join(f"'{w}'" for w in TXT.STOPWORDS["es"])
_DE = ", ".join(f"'{w}'" for w in TXT.STOPWORDS["de"])


@query(
    "doc_text_stats",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               string_split(lower(text), ' ') AS toks
        FROM documents
    )
    SELECT doc_id, lang,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct_tokens,
           CAST(len(list_filter(toks, x -> x IN ({_EN}))) AS DOUBLE)
               / GREATEST(len(toks), 1) AS stop_ratio_en,
           LEAST(CAST(len(toks) AS DOUBLE) / 200.0, 1.0)
               * (CAST(len(list_distinct(toks)) AS DOUBLE) / GREATEST(len(toks), 1)) AS quality
    FROM t
    """,
    survey_ops="P15,P24,textops",
    bench=True,
)
def doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts, stopword ratio, quality score.

    Staged projection: tokenize once, derive all four metrics from the
    materialized array (2× at 100k docs vs inlining the split into each
    metric; see gopher_rule_funnel for the pathological end of that).
    Both stages are SQL text: the same expressions as the Column
    helpers `TXT.tokens`/`stopword_ratio_toks`/`quality_score_toks`, in
    a tenth of the py4j round trips."""
    d = parallel_docs(spark, sf_dir)
    base = d.selectExpr("doc_id", "lang", "split(lower(text), ' ') AS toks")
    denom = "CAST(greatest(size(toks), 1) AS DOUBLE)"
    return base.selectExpr(
        "doc_id",
        "lang",
        "size(toks) AS n_tokens",
        "size(array_distinct(toks)) AS n_distinct_tokens",
        f"CAST(size(filter(toks, x -> x IN ({_EN}))) AS DOUBLE) / {denom} AS stop_ratio_en",
        "least(CAST(size(toks) AS DOUBLE) / 200.0D, 1.0D)"
        f" * (CAST(size(array_distinct(toks)) AS DOUBLE) / {denom}) AS quality",
    )


@query(
    "language_id_confusion",
    oracle=f"""
    WITH scored AS (
        SELECT lang,
               CAST(len(list_filter(string_split(lower(text), ' '), x -> x IN ({_EN}))) AS DOUBLE)
                   / GREATEST(len(string_split(lower(text), ' ')), 1) AS s_en,
               CAST(len(list_filter(string_split(lower(text), ' '), x -> x IN ({_ES}))) AS DOUBLE)
                   / GREATEST(len(string_split(lower(text), ' ')), 1) AS s_es,
               CAST(len(list_filter(string_split(lower(text), ' '), x -> x IN ({_DE}))) AS DOUBLE)
                   / GREATEST(len(string_split(lower(text), ' ')), 1) AS s_de
        FROM documents
    )
    SELECT lang,
           CASE WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
                WHEN s_es >= s_de THEN 'es'
                ELSE 'de' END AS predicted_lang,
           COUNT(*) AS n_docs
    FROM scored
    GROUP BY 1, 2
    """,
    survey_ops="textops",
)
def language_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic vs labeled lang — confusion-matrix counts."""
    d = parallel_docs(spark, sf_dir)
    base = d.select("lang", TXT.tokens(F.lower(F.col("text"))).alias("toks"))
    return (
        base.select("lang", TXT.language_id_toks(F.col("toks")).alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count("*").alias("n_docs"))
    )


@query(
    "word_topk",
    oracle="""
    SELECT word, COUNT(*) AS n
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
    GROUP BY word
    ORDER BY n DESC, word
    LIMIT 20
    """,
    survey_ops="A10",
)
def word_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode-then-aggregate word distribution, deterministic top-20.

    Reference parity: `refitd_style_distribution` lateral
    jsonb_array_elements + GROUP BY (docs/supabase_schema.sql:449-457).
    """
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(TXT.tokens(F.lower(F.col("text")))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(20)
    )


@query(
    "token_cost_by_source",
    oracle="""
    SELECT source,
           CAST(SUM(CAST(FLOOR(n_chars / 4) AS BIGINT)) AS BIGINT) AS est_tokens,
           CAST(SUM(CAST(FLOOR(n_chars / 4) AS BIGINT)) AS DOUBLE) / 1000000 * 25 AS est_cost_usd
    FROM documents
    GROUP BY source
    """,
    survey_ops="A13",
)
def token_cost_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chars/4 token estimate + $25/1M fine-tune cost, per source.

    Reference parity: scripts/export_training_data.py:31-37,206-238.
    """
    d = table(spark, sf_dir, "documents")
    est = F.sum(F.floor(F.col("n_chars") / 4).cast("bigint"))
    return d.groupBy("source").agg(
        est.alias("est_tokens"),
        (est.cast("double") / 1000000 * 25).alias("est_cost_usd"),
    )


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
    survey_ops="textops,U1",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5 fingerprint of normalized text."""
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", TXT.fingerprint(F.col("text")).alias("fingerprint"))


@query(
    "stratified_sample",
    oracle="""
    WITH b AS (
        SELECT doc_id, lang, source,
               (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 31, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1)
               AS sample_bucket
        FROM documents
    )
    SELECT doc_id, lang, source, CAST(sample_bucket AS INT) AS sample_bucket
    FROM b
    WHERE sample_bucket < CASE WHEN lang = 'en' THEN 26 ELSE 128 END
    """,
    survey_ops="sampling,dedup",
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for training-data curation:
    md5(doc_id) last byte → bucket 0-255, per-language keep rates
    (en ~10%, others ~50%). Unlike df.sample(), the decision is a pure
    function of the key — stable across reruns, partitionings, and
    engines, so incremental pipelines never resample old rows. The
    predicate is a scan-level filter: no shuffle, prunes at the source.
    """
    d = table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 31, 2), 16, 10).cast("int")
    rate = F.when(F.col("lang") == "en", F.lit(26)).otherwise(F.lit(128))
    return (
        d.select("doc_id", "lang", "source", bucket.alias("sample_bucket"))
        .filter(F.col("sample_bucket") < rate)
    )


@query(
    "quality_percentile_gate",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang,
               LEAST(CAST(len(string_split(lower(text), ' ')) AS DOUBLE) / 200.0, 1.0)
             * (CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
                / GREATEST(len(string_split(lower(text), ' ')), 1)) AS quality
        FROM documents
    ),
    ranked AS (
        SELECT lang, quality,
               row_number() OVER (PARTITION BY lang ORDER BY quality, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM t
    )
    SELECT lang, CAST(n AS BIGINT) AS n_docs,
           MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN quality END) AS p50_quality,
           MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN quality END) AS p90_quality
    FROM ranked GROUP BY lang, n
    """,
    survey_ops="textops,percentile",
)
def quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language p50/p90 quality cutoffs (e.g. 'keep docs above the
    p90 quality of their language'). Exact *discrete* percentiles via
    rank selection — the chosen value is an actual data point, so no
    interpolation arithmetic whose fold/rounding could differ between
    engines. One shuffle on lang; at scale the rank window parallelizes
    per stratum (skewed strata → pre-aggregate value histogram instead).
    """
    from pyspark.sql import Window

    d = parallel_docs(spark, sf_dir)
    q = d.select(
        "doc_id", "lang", TXT.tokens(F.lower(F.col("text"))).alias("toks")
    ).select("doc_id", "lang", TXT.quality_score_toks(F.col("toks")).alias("quality"))
    ranked = q.select(
        "lang",
        "quality",
        F.row_number().over(Window.partitionBy("lang").orderBy("quality", "doc_id")).alias("rn"),
        F.count("*").over(Window.partitionBy("lang")).alias("n"),
    )
    return (
        ranked.groupBy("lang", "n")
        .agg(
            F.max(F.when(F.col("rn") == F.ceil(0.5 * F.col("n")), F.col("quality"))).alias("p50_quality"),
            F.max(F.when(F.col("rn") == F.ceil(0.9 * F.col("n")), F.col("quality"))).alias("p90_quality"),
        )
        .select("lang", F.col("n").cast("bigint").alias("n_docs"), "p50_quality", "p90_quality")
    )


_BPE_PAT = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


@query(
    "bpe_token_counts",
    oracle=f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '{_BPE_PAT}'))) AS BIGINT) AS bpe_tokens,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(text, '{_BPE_PAT}'))) AS DOUBLE)
               / SUM(len(string_split(text, ' '))) AS bpe_per_word
    FROM documents GROUP BY source
    """,
    survey_ops="textops,A13",
)
def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting per source: a GPT-2-style pre-tokenizer
    regex (letter runs | digit runs | single punctuation) next to the
    whitespace count, with tokens-per-word as the fertility signal.
    The alternation uses only character classes that Java regex (Spark)
    and RE2 (DuckDB) interpret identically — no \\s, no lookarounds.
    Pure scan + map-side-combined aggregate: one shuffle of 20 rows.
    """
    d = parallel_docs(spark, sf_dir)
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_PAT), 0))
    ws = F.size(F.split(F.col("text"), " "))
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(bpe).cast("bigint").alias("bpe_tokens"),
        F.sum(ws).cast("bigint").alias("ws_tokens"),
        (F.sum(bpe).cast("double") / F.sum(ws)).alias("bpe_per_word"),
    )


@query(
    "doc_repetition_stats",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents
    ),
    wc AS (SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY 1, 2),
    agg AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
               COUNT(*) AS n_distinct, MAX(c) AS top_count
        FROM wc GROUP BY 1
    )
    SELECT doc_id, n_tokens, n_distinct, top_count,
           CAST(top_count AS DOUBLE) / n_tokens AS top_token_ratio,
           CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio
    FROM agg
    """,
    survey_ops="text-quality,dedup",
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: token count,
    distinct-token count, most-frequent-token share, type/token ratio —
    the standard gates for dropping boilerplate/spam before training.

    Two-level aggregation (token → doc): both shuffles key on doc_id
    subsets, partial-aggregated map-side; ratios are single IEEE
    divisions of exact integers, so cross-engine hashes can't drift.
    """
    d = table(spark, sf_dir, "documents")
    wc = (
        d.select("doc_id", F.explode(TXT.tokens(F.lower(F.col("text")))).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
    )
    agg = wc.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_count"),
    )
    return agg.select(
        "doc_id", "n_tokens", "n_distinct", "top_count",
        (F.col("top_count").cast("double") / F.col("n_tokens")).alias("top_token_ratio"),
        (F.col("n_distinct").cast("double") / F.col("n_tokens")).alias("distinct_ratio"),
    )


_URL_PAT = r"https?://\S+"
_EMAIL_PAT = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_PAT = r"\+?[0-9][0-9()\- ]{6,}[0-9]"

_REDACT_FIXTURE_SQL = """
    (VALUES
      (1, 'Contact john.doe@example.com or visit https://example.com/a?b=1 now'),
      (2, 'Call +1 (555) 123-4567 and email jane_a+tag@sub.example.org'),
      (3, 'No sensitive content here'),
      (4, NULL),
      (5, 'Ping http://a.io and http://b.io twice')
    ) AS t(id, text)
"""


@query(
    "text_redaction",
    # DuckDB single-quoted literals keep backslashes verbatim, so the
    # identical raw patterns drop straight into the SQL.
    oracle=f"""
    SELECT id,
           regexp_replace(
               regexp_replace(
                   regexp_replace(text, '{_URL_PAT}', '<URL>', 'g'),
                   '{_EMAIL_PAT}', '<EMAIL>', 'g'),
               '{_PHONE_PAT}', '<PHONE>', 'g') AS redacted,
           len(regexp_extract_all(text, '{_URL_PAT}')) AS n_urls,
           len(regexp_extract_all(text, '{_EMAIL_PAT}')) AS n_emails,
           len(regexp_extract_all(text, '{_PHONE_PAT}')) AS n_phones
    FROM {_REDACT_FIXTURE_SQL}
    """,
    survey_ops="text-quality,P15",
)
def text_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for training text: URLs, emails, phone numbers
    replaced with typed placeholders (URL first so an address inside a
    link isn't double-redacted), plus per-pattern match counts on the
    raw text. Pure regexp_replace — whole-stage codegen, no shuffle;
    the oracle runs the identical RE2-safe patterns in DuckDB, so this
    gates cross-engine regex semantics too (NULL text stays NULL).
    """
    df = spark.createDataFrame(
        [
            (1, "Contact john.doe@example.com or visit https://example.com/a?b=1 now"),
            (2, "Call +1 (555) 123-4567 and email jane_a+tag@sub.example.org"),
            (3, "No sensitive content here"),
            (4, None),
            (5, "Ping http://a.io and http://b.io twice"),
        ],
        "id int, text string",
    )
    txt = F.col("text")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(txt, _URL_PAT, "<URL>"),
            _EMAIL_PAT, "<EMAIL>",
        ),
        _PHONE_PAT, "<PHONE>",
    )
    count = lambda pat: F.size(F.regexp_extract_all(txt, F.lit(pat), 0))  # noqa: E731
    return df.select(
        "id",
        redacted.alias("redacted"),
        count(_URL_PAT).alias("n_urls"),
        count(_EMAIL_PAT).alias("n_emails"),
        count(_PHONE_PAT).alias("n_phones"),
    )


CONTAM_N = 8  # 8-gram decontamination window (Llama-style)


@query(
    "contamination_check",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, GREATEST(len(t) - {CONTAM_N - 2}, 1)),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
                           t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7])) AS gram
        FROM toks WHERE len(t) >= {CONTAM_N}
    ),
    bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 50 = 0),
    cand AS (SELECT * FROM grams WHERE doc_id % 50 <> 0),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM cand GROUP BY 1),
    hits AS (
        SELECT c.doc_id, COUNT(*) AS n_overlap
        FROM cand c JOIN bench USING (gram) GROUP BY 1
    )
    SELECT h.doc_id, n_overlap, s.n_shingles,
           CAST(n_overlap AS DOUBLE) / s.n_shingles AS contamination_ratio
    FROM hits h JOIN sizes s USING (doc_id)
    """,
    survey_ops="dedup,decontamination",
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: flags training documents sharing any
    8-gram with the benchmark set (here the deterministic doc_id%50==0
    slice standing in for held-out eval data). Reports overlap count and
    contaminated fraction per flagged document.

    The benchmark gram set is eval-benchmark-sized, so it broadcasts:
    the scan side never shuffles for the probe — at 100 TB this is one
    pass over training text plus a broadcast hash join, the same plan
    at any corpus size.
    """
    d = table(spark, sf_dir, "documents")
    # stage the split: slice(toks, ...) inside the lambda would
    # re-evaluate it per gram (the staged-projection lesson)
    base = d.select("doc_id", F.split(F.lower(F.col("text")), " ").alias("toks"))
    toks = F.col("toks")
    # slice+array_join builds each gram in one node instead of
    # CONTAM_N element_at lookups
    grams = F.when(
        F.size(toks) >= CONTAM_N,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - CONTAM_N),
            lambda i: F.array_join(F.slice(toks, i + 1, CONTAM_N), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # cache: the gram plan feeds BOTH the benchmark set and the
    # candidate side — without it the explode is computed twice
    g = base.select("doc_id", F.explode(F.array_distinct(grams)).alias("gram")).cache()
    bench = g.filter(F.col("doc_id") % 50 == 0).select("gram").distinct()
    cand = g.filter(F.col("doc_id") % 50 != 0)
    sizes = cand.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (
        cand.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    return hits.join(sizes, "doc_id").select(
        "doc_id", "n_overlap", "n_shingles",
        (F.col("n_overlap").cast("double") / F.col("n_shingles")).alias("contamination_ratio"),
    )


# Bigram collocation mining: lift = P(w1 w2) / (P(w1) P(w2)) — the
# exponentiated PMI. We output the raw lift ratio instead of log-PMI so
# the hash gate never touches a transcendental (ln is not guaranteed
# bit-identical across engines; IEEE divide/multiply of identical
# inputs is).
PMI_MIN_COUNT = 5
PMI_TOP_K = 30


@query(
    "bigram_collocations",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ),
    bi AS (
        SELECT t[i] AS w1, t[i + 1] AS w2
        FROM toks, unnest(range(1, len(t))) AS r(i)
        WHERE len(t) >= 2
    ),
    bic AS (SELECT w1, w2, COUNT(*) AS n_pair FROM bi GROUP BY w1, w2),
    uni AS (
        SELECT u AS tok, COUNT(*) AS c
        FROM (SELECT unnest(t) AS u FROM toks) GROUP BY u
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_uni FROM uni),
    totb AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS n_bi FROM bic)
    SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair,
           (CAST(n_pair AS DOUBLE) / CAST(n_bi AS DOUBLE))
               / ((CAST(u1.c AS DOUBLE) / CAST(n_uni AS DOUBLE))
                  * (CAST(u2.c AS DOUBLE) / CAST(n_uni AS DOUBLE))) AS lift
    FROM bic
    JOIN uni u1 ON w1 = u1.tok
    JOIN uni u2 ON w2 = u2.tok, tot, totb
    WHERE n_pair >= {PMI_MIN_COUNT}
    ORDER BY lift DESC, w1, w2
    LIMIT {PMI_TOP_K}
    """,
    survey_ops="text-analysis,A10",
)
def bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 bigram collocations by lift (exponentiated PMI): token
    pairs that co-occur far more than their unigram frequencies predict
    — the phrase-mining signal a tokenizer-training or quality-analysis
    pass computes over the corpus.

    Plan: one explode builds the bigram stream (adjacent pairs within a
    document, never across documents), a second the unigram stream;
    both aggregate with map-side combine. The two corpus totals are
    1-row aggregates joined back via broadcast (no global window), and
    the unigram table joins onto the bigram counts twice by key — at
    100 TB the vocabulary is many orders smaller than the corpus, so
    both sides of those joins are the post-aggregation tables, not raw
    token streams. Top-30 is TakeOrderedAndProject. The lift division
    tree mirrors the oracle's exactly: same IEEE ops in the same order.
    """
    d = parallel_docs(spark, sf_dir)
    # stage the split: element_at(toks, i) inside the lambda would
    # re-evaluate it per element (the staged-projection lesson)
    base = d.select(TXT.tokens(F.lower(F.col("text"))).alias("toks"))
    toks = F.col("toks")
    pairs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bi = base.select(F.explode(pairs).alias("p")).select("p.w1", "p.w2")
    bic = bi.groupBy("w1", "w2").agg(F.count("*").alias("n_pair"))
    uni = base.select(F.explode(toks).alias("tok")).groupBy("tok").agg(
        F.count("*").alias("c")
    )
    tot = uni.agg(F.sum("c").cast("bigint").alias("n_uni"))
    totb = bic.agg(F.sum("n_pair").cast("bigint").alias("n_bi"))
    u1 = uni.select(F.col("tok").alias("t1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("tok").alias("t2"), F.col("c").alias("c2"))
    lift = (F.col("n_pair").cast("double") / F.col("n_bi").cast("double")) / (
        (F.col("c1").cast("double") / F.col("n_uni").cast("double"))
        * (F.col("c2").cast("double") / F.col("n_uni").cast("double"))
    )
    return (
        bic.where(F.col("n_pair") >= PMI_MIN_COUNT)
        .join(u1, F.col("w1") == F.col("t1"))
        .join(u2, F.col("w2") == F.col("t2"))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(totb))
        .select("w1", "w2", "n_pair", lift.alias("lift"))
        .orderBy(F.desc("lift"), "w1", "w2")
        .limit(PMI_TOP_K)
    )


# BM25 keyword retrieval (the lexical half of hybrid search, beside
# plans/similarity's embedding half). Classic BM25 wraps idf in ln();
# ln is not bit-identical cross-engine, so the gate-safe scoring keeps
# the Robertson idf RATIO un-logged — same ranking monotonicity per
# term, exact IEEE arithmetic. k1/b are the standard 1.2/0.75; the
# fixed query is three corpus terms of very different selectivity.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("dup", "vector", "spark")
BM25_TOP_K = 15


def _bm25_term_sql(term: str) -> str:
    """One term's score: idf_ratio * (tf*(k1+1)) / (tf + k1*(1-b+b*dl/avgdl)).

    The expression tree below is mirrored node-for-node in the Spark
    plan — identical IEEE ops in identical order.
    """
    tf = f"CAST(len(list_filter(t, x -> x = '{term}')) AS DOUBLE)"
    df = f"(SELECT CAST(COUNT(*) AS DOUBLE) FROM d WHERE len(list_filter(t, x -> x = '{term}')) > 0)"
    idf = f"((nd - {df}) + 0.5) / ({df} + 0.5)"
    denom = f"({tf} + {BM25_K1} * ({1 - BM25_B} + {BM25_B} * (dl / avgdl)))"
    return f"({idf} * ({tf} * {BM25_K1 + 1}) / {denom})"


@query(
    "bm25_keyword_topk",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, source, string_split(lower(text), ' ') AS t FROM documents
    ),
    g AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
               CAST(SUM(len(t)) AS BIGINT) AS sum_dl
        FROM d
    ),
    scored AS (
        SELECT doc_id, source, t,
               CAST(len(t) AS DOUBLE) AS dl,
               CAST(sum_dl AS DOUBLE) / nd AS avgdl, nd
        FROM d, g
    ),
    s2 AS (
        SELECT doc_id, source,
               (({_bm25_term_sql(BM25_TERMS[0])}
                 + {_bm25_term_sql(BM25_TERMS[1])})
                 + {_bm25_term_sql(BM25_TERMS[2])}) AS bm25
        FROM scored
    )
    SELECT doc_id, source, bm25 FROM s2
    ORDER BY bm25 DESC, doc_id LIMIT {BM25_TOP_K}
    """,
    survey_ops="llm-prep,text-analysis,W2,X5",
)
def bm25_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical top-k for a fixed 3-term query — the keyword half
    of hybrid retrieval (`semantic_search_topk` is the dense half).

    Plan: term frequencies come from `filter()` over each document's
    token array in the scan stage — no token explode, no join; the
    corpus stats (N, avg doc length, per-term document frequencies) are
    ONE auxiliary 1-row aggregate broadcast back; top-15 is
    TakeOrderedAndProject. At 100 TB this is a single corpus scan plus
    a scalar broadcast — the shape an inverted index would beat only
    below ~1% selectivity, and the fallback when no index exists.
    """
    d = parallel_docs(spark, sf_dir).select(
        "doc_id", "source", TXT.tokens(F.lower(F.col("text"))).alias("t")
    )
    d = d.cache()  # corpus stats + scoring share one token-array plan

    def tf(term: str):
        return F.size(F.filter(F.col("t"), lambda x: x == F.lit(term))).cast("double")

    g = d.agg(
        F.count("*").cast("double").alias("nd"),
        F.sum(F.size("t")).cast("bigint").alias("sum_dl"),
        *[
            F.sum(F.when(tf(term) > 0, 1).otherwise(0)).cast("double").alias(f"df{i}")
            for i, term in enumerate(BM25_TERMS)
        ],
    )
    s = d.crossJoin(F.broadcast(g)).select(
        "doc_id",
        "source",
        "t",
        F.size("t").cast("double").alias("dl"),
        (F.col("sum_dl").cast("double") / F.col("nd")).alias("avgdl"),
        "nd",
        *[F.col(f"df{i}") for i in range(len(BM25_TERMS))],
    )

    def term_score(i: int, term: str):
        idf = ((F.col("nd") - F.col(f"df{i}")) + F.lit(0.5)) / (
            F.col(f"df{i}") + F.lit(0.5)
        )
        denom = tf(term) + F.lit(BM25_K1) * (
            F.lit(1 - BM25_B) + F.lit(BM25_B) * (F.col("dl") / F.col("avgdl"))
        )
        return idf * (tf(term) * F.lit(BM25_K1 + 1)) / denom

    bm25 = (
        term_score(0, BM25_TERMS[0]) + term_score(1, BM25_TERMS[1])
    ) + term_score(2, BM25_TERMS[2])
    return (
        s.select("doc_id", "source", bm25.alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(BM25_TOP_K)
    )


@query(
    "documents_profile",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_text,
           CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_lang,
           CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_source,
           COUNT(DISTINCT lang) AS n_langs,
           COUNT(DISTINCT source) AS n_sources,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(SUM(CASE WHEN len(text) <> n_chars THEN 1 ELSE 0 END) AS BIGINT)
               AS n_chars_mismatch
    FROM documents
    """,
    survey_ops="quality,A1,stats",
)
def documents_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profile: row count, per-column null counts,
    dimension cardinalities, key/value ranges, and an internal
    consistency audit (`n_chars` column vs the actual text length) —
    the data-contract check an ingest job publishes with every
    snapshot. Single scan, one aggregate, map-side combined; the two
    exact distincts ride the same shuffle and become HLL merges at
    100 TB (see sketch_profile).
    """
    d = table(spark, sf_dir, "documents")
    nul = lambda c: F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))  # noqa: E731
    return d.agg(
        F.count("*").alias("n_rows"),
        nul("text").alias("null_text"),
        nul("lang").alias("null_lang"),
        nul("source").alias("null_source"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
        F.max("doc_id").cast("bigint").alias("max_doc_id"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
        F.sum(
            F.when(F.length("text") != F.col("n_chars"), 1).otherwise(0)
        ).alias("n_chars_mismatch"),
    )


# Count-min sketch: d=4 hash rows x w=256 buckets. Unlike HLL++
# (engine-private state, rows-only gate in sketch_profile), CMS is a
# pure function of the data given fixed hash functions — md5-derived
# here, identical cross-engine — so the sketch AND its estimates
# hash-gate exactly. Estimates upper-bound true counts (est >= exact).
CMS_DEPTH = 4
CMS_WIDTH = 256


def _cms_bucket_sql(row: int, word: str = "word") -> str:
    return f"""((strpos('0123456789abcdef', substr(md5('{row}:' || {word}), 31, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5('{row}:' || {word}), 32, 1)) - 1))"""


@query(
    "cms_word_topk_estimate",
    oracle=f"""
    WITH words AS (
        SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents
    ),
    exact AS (
        SELECT word, COUNT(*) AS exact_n FROM words GROUP BY word
    ),
    top AS (
        SELECT word, exact_n FROM exact ORDER BY exact_n DESC, word LIMIT 20
    ),
    {", ".join(f'''cms{i} AS (
        SELECT {_cms_bucket_sql(i)} AS b, COUNT(*) AS c FROM words GROUP BY 1
    )''' for i in range(CMS_DEPTH))}
    SELECT t.word, CAST(t.exact_n AS BIGINT) AS exact_n,
           CAST(LEAST({", ".join(f"cms{i}.c" for i in range(CMS_DEPTH))}) AS BIGINT)
               AS cms_est
    FROM top t
    {" ".join(f"JOIN cms{i} ON cms{i}.b = {_cms_bucket_sql(i, 't.word')}" for i in range(CMS_DEPTH))}
    ORDER BY exact_n DESC, t.word
    """,
    survey_ops="sketch,A10,llm-prep",
)
def cms_word_topk_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch beside ground truth: a 4x256 CMS of the word
    stream (md5-derived bucket hashes, identical cross-engine), read
    back for the exact top-20 words — est >= exact by construction,
    and because CMS is deterministic given its hashes, the WHOLE
    result value-hashes, which no engine-private HLL state can.

    Scale shape: each sketch row is a 256-cell integer table produced
    by one map-side-combined groupBy — fixed-size mergeable state
    (the streaming/partition-merge story), vs the unbounded exact
    word table it approximates. Reads are 4 integer lookups
    (broadcast join of the 20 probe words against 256-row tables).
    """
    d = parallel_docs(spark, sf_dir)
    words = d.select(F.explode(TXT.tokens(F.lower(F.col("text")))).alias("word"))
    words = words.cache()  # feeds exact counts + all 4 sketch rows

    def bucket(row: int, col):
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{row}:"), col)), 31, 2), 16, 10
        ).cast("int")

    exact = words.groupBy("word").agg(F.count("*").alias("exact_n"))
    top = exact.orderBy(F.desc("exact_n"), "word").limit(20)
    out = top
    for i in range(CMS_DEPTH):
        cms_i = (
            words.groupBy(bucket(i, F.col("word")).alias("b"))
            .agg(F.count("*").alias(f"c{i}"))
        )
        out = out.join(
            F.broadcast(cms_i), bucket(i, F.col("word")) == F.col("b")
        ).drop("b")
    est = F.least(*[F.col(f"c{i}") for i in range(CMS_DEPTH)])
    return (
        out.select(
            "word",
            F.col("exact_n").cast("bigint").alias("exact_n"),
            est.cast("bigint").alias("cms_est"),
        )
        .orderBy(F.desc("exact_n"), "word")
    )


LEV_VOCAB_K = 50
LEV_MAX_DIST = 2


@query(
    "vocab_typo_pairs",
    oracle=f"""
    WITH freq AS (
        SELECT word, COUNT(*) AS n
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
        GROUP BY word
    ),
    top AS (SELECT word, n FROM freq ORDER BY n DESC, word LIMIT {LEV_VOCAB_K})
    SELECT a.word AS word_a, b.word AS word_b,
           CAST(levenshtein(a.word, b.word) AS INT) AS dist,
           CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b
    FROM top a JOIN top b
      ON a.word < b.word
     AND levenshtein(a.word, b.word) <= {LEV_MAX_DIST}
    """,
    survey_ops="textops,dedup,J7",
)
def vocab_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy vocabulary matching: near-identical word pairs (edit
    distance <= 2) within the top-50 vocabulary — the typo/variant
    detection primitive normalization pipelines run before treating
    tokens as distinct (the reference's slugify/normalize family is
    the exact-match end of this spectrum). Levenshtein is integer DP,
    bit-identical in both engines.

    Scale shape: edit distance is quadratic, so it only ever runs on a
    bounded candidate set — here the top-K vocabulary (a broadcast
    self-join of K rows), in production the within-bucket survivors of
    a cheap blocking key (first char, length band, phonetic bucket) —
    never the raw token stream.
    """
    d = parallel_docs(spark, sf_dir)
    freq = (
        d.select(F.explode(TXT.tokens(F.lower(F.col("text")))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    top = freq.orderBy(F.desc("n"), "word").limit(LEV_VOCAB_K)
    a = top.select(F.col("word").alias("word_a"), F.col("n").alias("n_a"))
    b = top.select(F.col("word").alias("word_b"), F.col("n").alias("n_b"))
    return (
        a.join(
            F.broadcast(b),
            (F.col("word_a") < F.col("word_b"))
            & (F.levenshtein("word_a", "word_b") <= LEV_MAX_DIST),
        )
        .select(
            "word_a",
            "word_b",
            F.levenshtein("word_a", "word_b").cast("int").alias("dist"),
            F.col("n_a").cast("bigint"),
            F.col("n_b").cast("bigint"),
        )
    )


# ---------------------------------------------------------------------------
# Gopher-style document-quality rule funnel (Rae et al. 2021, §A1.1)
# ---------------------------------------------------------------------------

_GOPHER_MIN_WORDS = 30
_GOPHER_MAX_WORDS = 100_000
_GOPHER_MEAN_LEN_LO = 3.0
_GOPHER_MEAN_LEN_HI = 10.0
_GOPHER_DISTINCT_MIN = 0.4
_GOPHER_STOP_MIN = 2
_GOPHER_HEAD_MAX = 0.125


@query(
    "gopher_rule_funnel",
    oracle=f"""
    WITH t AS (
        SELECT source, string_split(lower(text), ' ') AS toks FROM documents
    ),
    m AS (
        SELECT source,
               len(toks) AS n_tok,
               CAST(list_reduce(list_transform(toks, x -> len(x)), (a, b) -> a + b)
                    AS DOUBLE) / len(toks) AS mean_len,
               CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio,
               len(list_filter(toks, x -> x IN ({_EN}))) AS n_stop,
               CAST(list_max(list_transform(list_distinct(toks),
                    x -> len(list_filter(toks, t -> t = x)))) AS DOUBLE)
                   / len(toks) AS head_share
        FROM t
    ),
    r AS (
        SELECT source, n_tok,
               (n_tok BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}) AS r_wordcount,
               (mean_len >= {_GOPHER_MEAN_LEN_LO} AND mean_len <= {_GOPHER_MEAN_LEN_HI})
                   AS r_meanlen,
               (distinct_ratio >= {_GOPHER_DISTINCT_MIN}) AS r_distinct,
               (n_stop >= {_GOPHER_STOP_MIN}) AS r_stopwords,
               (head_share <= {_GOPHER_HEAD_MAX}) AS r_headshare
        FROM m
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN r_wordcount THEN 1 ELSE 0 END) AS BIGINT) AS pass_wordcount,
           CAST(SUM(CASE WHEN r_meanlen THEN 1 ELSE 0 END) AS BIGINT) AS pass_meanlen,
           CAST(SUM(CASE WHEN r_distinct THEN 1 ELSE 0 END) AS BIGINT) AS pass_distinct,
           CAST(SUM(CASE WHEN r_stopwords THEN 1 ELSE 0 END) AS BIGINT) AS pass_stopwords,
           CAST(SUM(CASE WHEN r_headshare THEN 1 ELSE 0 END) AS BIGINT) AS pass_headshare,
           CAST(SUM(CASE WHEN r_wordcount AND r_meanlen AND r_distinct
                          AND r_stopwords AND r_headshare THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(SUM(CASE WHEN r_wordcount AND r_meanlen AND r_distinct
                          AND r_stopwords AND r_headshare THEN n_tok ELSE 0 END) AS DOUBLE)
               / SUM(n_tok) AS kept_token_share
    FROM r
    GROUP BY source
    """,
    survey_ops="llm-prep,quality,textops",
)
def gopher_rule_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-rule funnel (Rae et al. 2021 §A1.1 adapted
    to this corpus's shape): per source, how many documents pass each
    rule — word-count bounds, mean-word-length bounds, distinct-token
    ratio, minimum stopword evidence, head-token domination — plus the
    joint keep count and the token mass the kept set retains.

    Plan: one scan, staged projections. Tokenization materializes ONCE
    into an array column, rule metrics into scalar columns, and only
    then the boolean rules — Spark's CollapseProject keeps non-cheap
    expressions referenced more than once from being re-inlined, so
    the text is split exactly once per row. Flattening everything into
    a single projection instead re-evaluates the tokenizer inside
    every rule and blows the generated method past JIT limits:
    measured 40.2s vs 0.09s on the same 100k-doc corpus (447×). The
    head-share inner product stays O(tokens × distinct) per row —
    bounded, embarrassingly parallel; the funnel is one
    map-side-combined groupBy(source). Scan-bound at any corpus size.
    """
    d = parallel_docs(spark, sf_dir)
    base = d.select("source", TXT.tokens(F.lower(F.col("text"))).alias("toks"))
    toks = F.col("toks")
    n_tok = F.size(toks)
    metrics = base.select(
        "source",
        n_tok.alias("n_tok"),
        (
            F.aggregate(toks, F.lit(0), lambda a, x: a + F.length(x)).cast("double")
            / n_tok
        ).alias("mean_len"),
        (F.size(F.array_distinct(toks)).cast("double") / n_tok).alias("distinct_ratio"),
        F.size(F.filter(toks, lambda x: x.isin(*TXT.STOPWORDS["en"]))).alias("n_stop"),
        (
            F.array_max(
                F.transform(
                    F.array_distinct(toks),
                    lambda x: F.size(F.filter(toks, lambda t: t == x)),
                )
            ).cast("double")
            / n_tok
        ).alias("head_share"),
    )
    m = metrics.select(
        "source",
        "n_tok",
        ((F.col("n_tok") >= _GOPHER_MIN_WORDS) & (F.col("n_tok") <= _GOPHER_MAX_WORDS)).alias("r_wordcount"),
        ((F.col("mean_len") >= _GOPHER_MEAN_LEN_LO) & (F.col("mean_len") <= _GOPHER_MEAN_LEN_HI)).alias("r_meanlen"),
        (F.col("distinct_ratio") >= _GOPHER_DISTINCT_MIN).alias("r_distinct"),
        (F.col("n_stop") >= _GOPHER_STOP_MIN).alias("r_stopwords"),
        (F.col("head_share") <= _GOPHER_HEAD_MAX).alias("r_headshare"),
    )
    kept = (
        F.col("r_wordcount")
        & F.col("r_meanlen")
        & F.col("r_distinct")
        & F.col("r_stopwords")
        & F.col("r_headshare")
    )

    def npass(c):
        return F.sum(F.when(c, 1).otherwise(0)).cast("bigint")

    return m.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        npass(F.col("r_wordcount")).alias("pass_wordcount"),
        npass(F.col("r_meanlen")).alias("pass_meanlen"),
        npass(F.col("r_distinct")).alias("pass_distinct"),
        npass(F.col("r_stopwords")).alias("pass_stopwords"),
        npass(F.col("r_headshare")).alias("pass_headshare"),
        npass(kept).alias("n_kept"),
        (
            F.sum(F.when(kept, F.col("n_tok")).otherwise(0)).cast("double")
            / F.sum("n_tok")
        ).alias("kept_token_share"),
    )


TFIDF_TOP_N = 3
TFIDF_DOC_CAP = 100


@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT t.doc_id, t.term, CAST(t.tf AS BIGINT) AS tf, CAST(d.df AS BIGINT) AS df,
               CAST(t.tf AS DOUBLE) * n.n_docs / d.df AS tfidf_ratio,
               row_number() OVER (
                   PARTITION BY t.doc_id
                   ORDER BY CAST(t.tf AS DOUBLE) * n.n_docs / d.df DESC, t.term
               ) AS rnk
        FROM tf t JOIN df d USING (term), n
        WHERE t.doc_id < {TFIDF_DOC_CAP}
    )
    SELECT doc_id, CAST(rnk AS INT) AS rnk, term, tf, df, tfidf_ratio
    FROM scored WHERE rnk <= {TFIDF_TOP_N}
    """,
    survey_ops="textops,A10,W3",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms — the classic salient-term
    extraction behind keyword labeling and near-dup explainability.
    IDF is the rational N/df ratio, not log(N/df): same ranking
    (log is monotone), zero transcendentals, so the hash gate stays
    exact. Corpus statistics (tf, df, N) come from the full corpus;
    output is capped to the first {100} documents to bound the gate.

    Plan: one explode feeds BOTH tf (groupBy doc,term) and df (groupBy
    term) — two partial-aggregated shuffles over token keys; the scored
    join is term-keyed; per-doc top-3 is one doc-keyed window. No step
    holds more than key-partitioned state, so the same plan shards at
    corpus scale.
    """
    from pyspark.sql import Window

    d = parallel_docs(spark, sf_dir)
    toks = d.select(
        "doc_id", F.explode(TXT.tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.filter(F.col("doc_id") < TFIDF_DOC_CAP)
        .join(df_, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            (F.col("tf").cast("double") * F.col("n_docs") / F.col("df")).alias(
                "tfidf_ratio"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf_ratio"), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= TFIDF_TOP_N)
        .select("doc_id", "rnk", "term", "tf", "df", "tfidf_ratio")
    )
