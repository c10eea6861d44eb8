"""Text-analysis column expressions (JVM-side, no Python UDFs).

Generalizes the reference's string handling (SURVEY §2.2 P2/P3/P8-P11/
P15/P22-P24) into reusable builders, plus the LLM-data-pipeline text
operators (language-ID heuristic, quality scoring, token counting,
document fingerprinting). Everything here is a pure `pyspark.sql.functions`
composition — whole-stage-codegen friendly, deterministic, and
re-expressible in ANSI SQL for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lexicons for the n-gram/stopword language-ID
# heuristic. Deliberately small and closed so the same lists embed in the
# SQL oracle verbatim.
STOPWORDS = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "for", "on"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "se", "no"),
    "de": ("der", "die", "und", "das", "ist", "ein", "zu", "den", "mit", "nicht"),
}


def tokens(text: Column) -> Column:
    """Single-space tokenization — literal ' ' separator, NOT \\s+.

    Pinned to match the DuckDB oracles' ``string_split(text, ' ')``
    exactly (Spark's split keeps trailing empty tokens, same as
    DuckDB), so multi-space/tab/newline documents hash identically
    cross-engine instead of silently diverging.
    """
    return F.split(text, " ")


def stopword_ratio_toks(toks: Column, lang: str = "en") -> Column:
    """`stopword_ratio` over a pre-tokenized (lowercased) array column.

    Prefer this in multi-metric projections: materialize
    ``tokens(lower(text))`` ONCE as its own projection stage and derive
    every metric from it — inlining the tokenizer into each metric
    re-splits the text per metric and can push the generated method
    past JIT limits (measured 447× on gopher_rule_funnel)."""
    hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS[lang])))
    return hits.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    """Fraction of whitespace tokens that are stopwords of `lang`."""
    return stopword_ratio_toks(tokens(F.lower(text)), lang)


def language_id_toks(toks: Column) -> Column:
    """`language_id` over a pre-tokenized (lowercased) array column."""
    s_en, s_es, s_de = (stopword_ratio_toks(toks, lang) for lang in ("en", "es", "de"))
    return (
        F.when((s_en >= s_es) & (s_en >= s_de), F.lit("en"))
        .when(s_es >= s_de, F.lit("es"))
        .otherwise(F.lit("de"))
    )


def language_id(text: Column) -> Column:
    """Heuristic language-ID: argmax stopword-hit ratio, tie → en > es > de."""
    return language_id_toks(tokens(F.lower(text)))


def quality_score_toks(toks: Column) -> Column:
    """`quality_score` over a pre-tokenized (lowercased) array column."""
    n = F.size(toks).cast("double")
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")
    length_component = F.least(n / F.lit(200.0), F.lit(1.0))
    return length_component * distinct_ratio


def quality_score(text: Column) -> Column:
    """Deterministic [0,1] quality heuristic.

    length component (saturating at 200 tokens) × distinctness ratio —
    short and highly repetitive documents score low. Mirrors the
    reference's rule-based quality gates (name-length / required-field
    filters, zara_extractor.py:478-488) generalized to documents.
    """
    return quality_score_toks(tokens(F.lower(text)))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.

    Normalization: lowercase, collapse whitespace runs to single spaces,
    trim — the reference's name/description normalization
    (product_transformer.py:53-67) applied before hashing.
    """
    norm = F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))
    return F.md5(norm)


def normalize_name(name: Column) -> Column:
    """P2: collapse whitespace, trim, Title Case; empty → 'Unknown Product'.

    Reference: product_transformer.py:53-59.
    """
    cleaned = F.initcap(F.trim(F.regexp_replace(name, r"\s+", " ")))
    return F.when((cleaned.isNull()) | (cleaned == ""), F.lit("Unknown Product")).otherwise(cleaned)


def clean_description(desc: Column) -> Column:
    """P3: collapse whitespace; empty → NULL. Reference: product_transformer.py:61-67."""
    return F.nullif(F.trim(F.regexp_replace(desc, r"\s+", " ")), F.lit(""))


def product_id_from_url(url: Column) -> Column:
    """P8: `-p(\\d+).html` → id; else URL tail. Reference: zara_extractor.py:929-935."""
    rx = F.regexp_extract(url, r"-p(\d+)\.html", 1)
    tail = F.element_at(F.split(F.regexp_replace(url, r"/+$", ""), "/"), -1)
    return F.when(rx != "", rx).otherwise(tail)


def name_from_url(url: Column) -> Column:
    """P9: slug before `-p<digits>.html`, dashes → spaces, Title Case.

    Reference: zara_extractor.py:915-927.
    """
    slug = F.regexp_extract(url, r"/([^/]+)-p\d+\.html", 1)
    return F.initcap(F.replace(slug, F.lit("-"), F.lit(" ")))


def slugify(value: Column) -> Column:
    """P10: lowercase, non-alnum runs → '_', strip '_', empty → 'unknown'.

    Reference: zara_extractor.py:24-30.
    """
    slug = F.regexp_replace(F.regexp_replace(F.lower(value), r"[^a-z0-9]+", "_"), r"^_+|_+$", "")
    return F.when((slug.isNull()) | (slug == ""), F.lit("unknown")).otherwise(slug)


def parse_price_text(txt: Column) -> Column:
    """P11: first `[\\d.,]+` run, strip commas, cast to decimal.

    Reference: zara_extractor.py:950-1015.
    """
    raw = F.regexp_replace(F.regexp_extract(txt, r"([\d.,]+)", 1), ",", "")
    return F.nullif(raw, F.lit("")).cast("decimal(10,2)")


def sanitize_filename(name: Column) -> Column:
    """P22: drop non-word chars, spaces → '_', cap 50. Reference: file_loader.py:32-37."""
    return F.substring(F.regexp_replace(F.regexp_replace(name, r"[^\w\s-]", ""), r"\s+", "_"), 1, 50)
