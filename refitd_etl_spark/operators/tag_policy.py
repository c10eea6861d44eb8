"""Tag-policy engine — the deterministic decision layer (SURVEY §2.3 T1-T9).

Re-expresses the reference's per-row ``apply_tag_policy``
(src/ai/tag_policy.py:557-976) as pure Spark column expressions over a
DataFrame of sensor outputs: vocabulary validation (T1), per-field
confidence thresholds (T2), stable top-N by confidence (T3),
category-aware field gating (T4), defaults with audit records (T5),
curation-status derivation (T6), order-preserving reason dedup (T7).

Exact-parity notes (all verified against the reference source):
- ``_pick_top_n`` uses a *stable* Python sort — ties keep input order;
  the array_sort comparator here orders by (confidence desc, input
  index asc) to match.
- Tags that pass thresholds but lose the top-N cut are silently
  dropped (not suppressed, no reason) — reference behavior.
- Construction details are gated at ``details_flag`` (0.70), not
  ``details_allow`` (0.80): the reference's ``details_allow`` is dead
  code (tag_policy.py:814-824 only ever compares against
  ``details_flag``), so 0.70-0.80 details are accepted. We reproduce
  the code, not the comment.
- A low-confidence shoe_type is simultaneously suppressed (audit) and
  accepted into tags_final (tag_policy.py:886-892).
- Missing confidence defaults to 0.0; a missing/illegal tag string is
  suppressed with the raw (possibly NULL) tag value.

No Python UDFs: at 100 TB this runs entirely inside whole-stage
codegen, narrow projections, no shuffle.

Construction: the policy is built as SQL text in plain Python and
applied in a few ``selectExpr`` stages. The first stages name the
shared pieces as ``_tp_*`` columns (category and its gating flags, the
per-field indexed tag arrays and top-N selections, a 0-3 state per
scalar field, the reasons); the last builds the six outputs from those
names and leaves the ``_tp_*`` columns out. Two reasons:
- py4j: built from Column objects, every literal, lambda and field
  access is its own driver→JVM round trip, about 12,000 per call;
  the strings cross in under a hundred.
- plan size: inlined, a shared sub-expression is copied into every
  use (``curation_status`` alone analyses to 54 KB of SQL that way);
  named, Catalyst analyses each once, and CollapseProject keeps the
  stages apart, so each is also evaluated once per row.
Fit, silhouette and construction details take one per-row vocabulary
(``CASE WHEN _tp_is_bottom THEN <bottom> ELSE <upper> END``): one
evaluation per field, not one per vocabulary.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

POLICY_VERSION = "tag_policy_v2.5"

# Canonical vocabularies (ReFitd Item Tagging Specification; reference
# refitd_tagger.py:56-252).
STYLE_IDENTITY_TAGS = (
    "minimal", "classic", "preppy", "workwear", "streetwear", "rugged",
    "tailoring", "elevated-basics", "normcore", "sporty", "outdoorsy",
    "western", "vintage", "grunge", "punk", "utilitarian",
)
FIT_TAGS_BOTTOM = ("skinny", "slim", "regular", "relaxed", "baggy")
FIT_TAGS_UPPER = ("skinny", "slim", "regular", "relaxed", "oversized")
LENGTH_TAGS = ("cropped", "regular", "long")
SILHOUETTE_BOTTOM_TAGS = ("straight", "tapered", "wide")
SILHOUETTE_UPPER_TAGS = ("neutral", "relaxed", "boxy", "structured", "tailored", "longline")
FORMALITY_TAGS = ("athletic", "casual", "smart-casual", "business-casual", "formal")
CONTEXT_TAGS = ("everyday", "work-appropriate", "travel", "evening", "weekend")
DETAILS_BOTTOM_TAGS = ("pleated", "flat-front", "cargo", "drawstring", "elastic-waist")
DETAILS_UPPER_TAGS = ("structured-shoulder", "dropped-shoulder")
PATTERN_TAGS = ("solid", "stripe", "check", "textured")
PAIRING_TAGS = (
    "neutral-base", "statement-piece", "easy-dress-up", "easy-dress-down", "high-versatility",
)
SHOE_TYPE_TAGS = ("sneakers", "boots", "loafers", "derbies", "oxfords", "sandals", "dress-shoes")
SHOE_PROFILE_TAGS = ("sleek", "standard", "chunky")
SHOE_CLOSURE_TAGS = ("lace-up", "slip-on", "buckle")

# Top-layer-role keyword lists (tag_policy.py:251-274); mid checked first.
TOP_LAYER_BASE = ("tshirt", "t-shirt", "tee", "long sleeve", "shirt", "polo", "tank", "henley")
TOP_LAYER_MID = (
    "sweater", "cardigan", "hoodie", "hoodies", "knit", "knitwear",
    "pullover", "sweatshirt", "fleece", "quarter-zip", "half-zip", "zip-up",
)


@dataclass(frozen=True)
class PolicyThresholds:
    """Confidence thresholds (reference tag_policy.py:285-340)."""

    style_identity_auto: float = 0.85
    style_identity_flag: float = 0.70
    fit_auto: float = 0.80
    fit_flag: float = 0.65
    silhouette_auto: float = 0.80
    silhouette_allow: float = 0.65
    length_allow: float = 0.70
    context_allow: float = 0.70
    details_allow: float = 0.80  # dead in reference; kept for config parity
    details_flag: float = 0.70
    pattern_allow: float = 0.70
    pairing_allow: float = 0.65
    formality_auto: float = 0.80
    formality_flag: float = 0.65
    shoe_type_auto: float = 0.80
    shoe_profile_allow: float = 0.70
    shoe_closure_allow: float = 0.70


DEFAULT_THRESHOLDS = PolicyThresholds()

# --- SQL-text builders ------------------------------------------------------
# Every expression below is a plain Python string; a stage is one
# selectExpr over them, which costs a py4j call per expression, not one
# per literal, lambda and field access inside it.

_PLAIN = re.compile(r"[A-Za-z0-9 _.\-]*")
_AI_TAGS = "array<struct<tag:string,confidence:double,reasoning:string>>"
_SUPP_TYPE = "array<struct<field:string,tag:string,confidence:double,reason:string>>"


def _str(v: str | None) -> str:
    """The one way a string value enters the policy's SQL. Vocabulary
    can come from a user table (`vocab_from_table`), so anything beyond
    plain tag characters is passed as its UTF-8 bytes: no quote or
    backslash in it can end the literal, whatever the parser's
    escaped-string setting."""
    if v is None:
        return "CAST(NULL AS STRING)"
    if _PLAIN.fullmatch(v):
        return f"'{v}'"
    return f"CAST(X'{v.encode().hex()}' AS STRING)"


def _num(x: float) -> str:
    """Double literal: a bare 0.70 is DECIMAL in Spark SQL."""
    return f"{float(x)!r}D"


def _arr(values) -> str:
    return f"array({', '.join(_str(v) for v in values)})"


def _when(cond: str, value: str) -> str:
    return f"CASE WHEN {cond} THEN {value} END"


def _indexed(src: str) -> str:
    """Attach input position and 0.0-coalesced confidence to each tag obj."""
    return (
        f"transform(coalesce({src}, CAST(array() AS {_AI_TAGS})), "
        f"(x, i) -> named_struct('tag', x.tag, 'conf', coalesce(x.confidence, 0.0D), 'idx', i))"
    )


def _valid(vocab: str, x: str = "x") -> str:
    return f"coalesce(array_contains({vocab}, {x}.tag), false)"


def _supp(field: str, tag: str, conf: str, reason: str) -> str:
    return (
        f"named_struct('field', {_str(field)}, 'tag', {tag}, "
        f"'confidence', {conf}, 'reason', {_str(reason)})"
    )


# confidence desc, then input index asc: the reference's stable sort
_STABLE_DESC = (
    "(l, r) -> CASE WHEN l.conf > r.conf THEN -1 WHEN l.conf < r.conf THEN 1 "
    "WHEN l.idx < r.idx THEN -1 WHEN l.idx > r.idx THEN 1 ELSE 0 END"
)


def _selected(idx: str, vocab: str, min_conf: float, top_n: int) -> str:
    """Stable top-N of the legal tags at or above `min_conf`."""
    eligible = f"filter({idx}, x -> {_valid(vocab)} AND x.conf >= {_num(min_conf)})"
    return f"slice(array_sort({eligible}, {_STABLE_DESC}), 1, {top_n})"


def _tags(selected: str) -> str:
    return f"transform({selected}, x -> x.tag)"


def _multi_supp(idx: str, field: str, vocab: str, min_conf: float,
                illegal_reason: str = "illegal_tag", low_reason: str = "below_allow_threshold") -> str:
    """Suppressed entries of a list-of-tags field, in input order. Tags
    that pass but lose the top-N cut are dropped silently (reference)."""
    entry = (
        f"CASE WHEN NOT {_valid(vocab)} THEN {_supp(field, 'x.tag', 'x.conf', illegal_reason)} "
        f"WHEN x.conf < {_num(min_conf)} THEN {_supp(field, 'x.tag', 'x.conf', low_reason)} END"
    )
    return f"filter(transform({idx}, x -> {entry}), s -> s IS NOT NULL)"


def _any_illegal(idx: str, vocab: str) -> str:
    return f"exists({idx}, x -> NOT {_valid(vocab)})"


# scalar-field state: 0 absent, 1 illegal, 2 legal but below threshold, 3 accepted
_ABSENT, _ILLEGAL, _LOW, _OK = 0, 1, 2, 3


def _conf(obj: str) -> str:
    return f"coalesce({obj}.confidence, 0.0D)"


def _state(obj: str, vocab: str, min_conf: float) -> str:
    return (
        f"CASE WHEN {obj} IS NULL THEN {_ABSENT} WHEN NOT {_valid(vocab, obj)} THEN {_ILLEGAL} "
        f"WHEN {_conf(obj)} < {_num(min_conf)} THEN {_LOW} ELSE {_OK} END"
    )


def _scalar_supp(state: str, obj: str, field: str,
                 illegal_reason: str = "illegal_tag", low_reason: str = "below_allow_threshold") -> str:
    return (
        f"CASE WHEN {state} = {_ILLEGAL} THEN array({_supp(field, obj + '.tag', _conf(obj), illegal_reason)}) "
        f"WHEN {state} = {_LOW} THEN array({_supp(field, obj + '.tag', _conf(obj), low_reason)}) END"
    )


def _nullif_empty(arr: str) -> str:
    return _when(f"size({arr}) > 0", arr)


def _ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def apply_tag_policy(
    df: DataFrame,
    thresholds: PolicyThresholds = DEFAULT_THRESHOLDS,
    extra_vocab: dict[str, tuple[str, ...]] | None = None,
) -> DataFrame:
    """Apply the tag policy to a DataFrame with columns
    (product_id, category, product_name, subcategory, tags_ai_raw).

    Adds: tags_final (struct), curation_status, curation_reasons,
    suppressed_tags, defaults_applied, tag_policy_version.

    `extra_vocab` extends a field's accepted vocabulary (X4: the
    reference merges the `custom_vocabulary` table into the built-in
    dict, style_tagger.py:155-200) — e.g.
    ``{"style_identity": ("gorpcore",)}``. Collect the custom table to
    the driver first; it is vocabulary-sized, not data-sized.

    Intermediate columns are named ``_tp_*`` and dropped again; input
    columns of that prefix are not supported.
    """
    t = thresholds
    extras = extra_vocab or {}

    def vocab(field: str, base: tuple[str, ...]) -> str:
        return _arr(base + tuple(v for v in extras.get(field, ()) if v not in base))

    def per_row(field: str, bottom: tuple[str, ...], upper: tuple[str, ...]) -> str:
        return f"CASE WHEN _tp_is_bottom THEN {vocab(field, bottom)} ELSE {vocab(field, upper)} END"

    raw = "tags_ai_raw"
    style_v = vocab("style_identity", STYLE_IDENTITY_TAGS)
    ctx_v = vocab("context", CONTEXT_TAGS)
    pair_v = vocab("pairing_tags", PAIRING_TAGS)
    det_v = per_row("construction_details", DETAILS_BOTTOM_TAGS, DETAILS_UPPER_TAGS)
    # scalar fields with a fixed vocabulary: (state column, field, vocab, threshold)
    scalars = {
        "_tp_fm": ("formality", vocab("formality", FORMALITY_TAGS), t.formality_flag),
        "_tp_ln": ("length", vocab("length", LENGTH_TAGS), t.length_allow),
        "_tp_pat": ("pattern", vocab("pattern", PATTERN_TAGS), t.pattern_allow),
        "_tp_st": ("shoe_type", vocab("shoe_type", SHOE_TYPE_TAGS), t.shoe_type_auto),
        "_tp_pr": ("profile", vocab("profile", SHOE_PROFILE_TAGS), t.shoe_profile_allow),
        "_tp_cl": ("closure", vocab("closure", SHOE_CLOSURE_TAGS), t.shoe_closure_allow),
    }

    def obj(field: str) -> str:
        return f"{raw}.{field}"

    stages: list[dict[str, str]] = [
        {
            # Reference uses Python truthiness (`category or
            # raw.get('category','top')`), so '' falls through like None —
            # nullif('') mirrors that; plain coalesce would keep an
            # empty-string category and flip the category gating.
            "_tp_cat": f"coalesce(nullif(category, ''), nullif({raw}.category, ''), 'top')",
            "_tp_role_text": "lower(concat_ws(' ', coalesce(product_name, ''), coalesce(subcategory, '')))",
            "_tp_style": _indexed(obj("style_identity")),
            "_tp_ctx": _indexed(obj("context")),
            "_tp_det": _indexed(obj("construction_details")),
            "_tp_pair": _indexed(obj("pairing_tags")),
            **{col: _state(obj(f), v, m) for col, (f, v, m) in scalars.items()},
        },
        {
            "_tp_is_top": "_tp_cat IN ('top', 'top_base', 'top_mid')",
            "_tp_is_bottom": "_tp_cat = 'bottom'",
            "_tp_is_shoes": "_tp_cat = 'footwear'",
            # top-layer-role keywords (tag_policy.py:251-274); mid checked first
            "_tp_role": (
                f"CASE WHEN exists({_arr(TOP_LAYER_MID)}, k -> contains(_tp_role_text, k)) THEN 'mid' "
                f"WHEN exists({_arr(TOP_LAYER_BASE)}, k -> contains(_tp_role_text, k)) THEN 'base' END"
            ),
            "_tp_style_sel": _selected("_tp_style", style_v, t.style_identity_flag, 2),
            "_tp_ctx_tags": _tags(_selected("_tp_ctx", ctx_v, t.context_allow, 2)),
            "_tp_pair_tags": _tags(_selected("_tp_pair", pair_v, t.pairing_allow, 3)),
        },
        {
            # fit and silhouette vocabularies depend on the row's category
            "_tp_fit": _state(obj("fit"), per_row("fit", FIT_TAGS_BOTTOM, FIT_TAGS_UPPER), t.fit_flag),
            "_tp_sil": _state(
                obj("silhouette"),
                per_row("silhouette", SILHOUETTE_BOTTOM_TAGS, SILHOUETTE_UPPER_TAGS),
                t.silhouette_allow,
            ),
            # construction details: apparel only, top-2, gated at details_flag
            # (the reference's details_allow is dead code, tag_policy.py:814-824)
            "_tp_det_tags": _when("NOT _tp_is_shoes", _tags(_selected("_tp_det", det_v, t.details_flag, 2))),
        },
    ]

    role_defaulted = "(_tp_is_top AND _tp_role IS NULL)"
    style_missing = "size(_tp_style_sel) = 0"
    fit_defaulted = f"(NOT _tp_is_shoes AND _tp_fit != {_OK})"
    sil_defaulted = f"(NOT _tp_is_shoes AND _tp_sil != {_OK})"
    # a low-confidence shoe_type is suppressed for audit but still accepted
    # (tag_policy.py:886-892)
    st_kept = f"_tp_st IN ({_LOW}, {_OK})"
    sil_default = "CASE WHEN _tp_is_bottom THEN 'straight' ELSE 'neutral' END"

    def low_conf(state: str, field: str, auto: float) -> str:
        return f"{state} = {_OK} AND {_conf(obj(field))} < {_num(auto)}"

    # reasons in the reference's append order; dedup keeps first occurrences
    # (reference: dict.fromkeys)
    reason_items = [
        (role_defaulted, "missing_top_layer_role"),
        (_any_illegal("_tp_style", style_v), "illegal_tag_returned"),
        (style_missing, "missing_style_identity"),
        (
            f"NOT {style_missing} AND exists(_tp_style_sel, x -> x.conf < {_num(t.style_identity_auto)})",
            "style_identity_needs_passive_review",
        ),
        (f"_tp_fm = {_ILLEGAL}", "illegal_formality_tag"),
        (low_conf("_tp_fm", "formality", t.formality_auto), "formality_low_confidence"),
        (fit_defaulted, "missing_fit"),
        (f"NOT _tp_is_shoes AND {low_conf('_tp_fit', 'fit', t.fit_auto)}", "fit_low_confidence"),
        (sil_defaulted, "missing_silhouette"),
        (f"NOT _tp_is_shoes AND {low_conf('_tp_sil', 'silhouette', t.silhouette_auto)}", "silhouette_low_confidence"),
        (f"NOT _tp_is_shoes AND {_any_illegal('_tp_det', det_v)}", "category_inappropriate_detail"),
        (f"_tp_is_shoes AND _tp_st IN ({_ABSENT}, {_ILLEGAL})", "missing_shoe_type"),
        (f"_tp_is_shoes AND _tp_st = {_LOW}", "shoe_type_low_confidence"),
        (f"_tp_is_shoes AND _tp_pr = {_ABSENT}", "missing_shoe_profile"),
    ]
    items = ", ".join(_when(cond, _str(reason)) for cond, reason in reason_items)
    stages.append({"_tp_reasons": f"array_distinct(filter(array({items}), r -> r IS NOT NULL))"})

    # suppressed audit, reference append order
    suppressed = [
        _multi_supp("_tp_style", "style_identity", style_v, t.style_identity_flag,
                    low_reason="below_flag_threshold"),
        _scalar_supp("_tp_fm", obj("formality"), "formality", low_reason="below_flag_threshold"),
        _when("NOT _tp_is_shoes", _scalar_supp("_tp_fit", obj("fit"), "fit", "invalid_for_category",
                                               "below_flag_threshold")),
        _when("NOT _tp_is_shoes", _scalar_supp("_tp_sil", obj("silhouette"), "silhouette",
                                               "invalid_for_category")),
        _when("NOT _tp_is_shoes", _scalar_supp("_tp_ln", obj("length"), "length")),
        _multi_supp("_tp_ctx", "context", ctx_v, t.context_allow),
        _when("NOT _tp_is_shoes", _multi_supp("_tp_det", "construction_details", det_v, t.details_flag,
                                              "invalid_for_category", "below_flag_threshold")),
        _scalar_supp("_tp_pat", obj("pattern"), "pattern"),
        _multi_supp("_tp_pair", "pairing_tags", pair_v, t.pairing_allow),
        _when("_tp_is_shoes", _scalar_supp("_tp_st", obj("shoe_type"), "shoe_type",
                                           low_reason="below_auto_threshold")),
        _when("_tp_is_shoes", _scalar_supp("_tp_pr", obj("profile"), "profile")),
        _when("_tp_is_shoes", _scalar_supp("_tp_cl", obj("closure"), "closure")),
    ]
    empty_supp = f"CAST(array() AS {_SUPP_TYPE})"

    def default(cond: str, field: str, value: str, reason: str) -> str:
        return _when(cond, f"named_struct('field', {_str(field)}, 'value', {value}, 'reason', {_str(reason)})")

    defaults = [
        default(role_defaulted, "top_layer_role", "'base'", "could_not_determine_from_name"),
        default(f"_tp_fm != {_OK}", "formality", "'casual'", "default_fallback"),
        default(fit_defaulted, "fit", "'regular'", "required_missing_or_suppressed"),
        default(sil_defaulted, "silhouette", sil_default, "required_missing_or_suppressed"),
        default(f"_tp_is_shoes AND NOT {st_kept}", "shoe_type", "'dress-shoes'", "required_missing_or_suppressed"),
        default(f"_tp_is_shoes AND _tp_pr != {_OK}", "profile", "'standard'", "default_fallback"),
    ]

    def accepted(state: str, field: str, otherwise: str = "NULL") -> str:
        return f"CASE WHEN {state} = {_OK} THEN {obj(field)}.tag ELSE {otherwise} END"

    tags_final = {
        "category": "_tp_cat",
        "style_identity": _nullif_empty(_tags("_tp_style_sel")),
        "fit": _when("NOT _tp_is_shoes", accepted("_tp_fit", "fit", "'regular'")),
        "silhouette": _when("NOT _tp_is_shoes", accepted("_tp_sil", "silhouette", sil_default)),
        "length": _when("NOT _tp_is_shoes", accepted("_tp_ln", "length")),
        "formality": accepted("_tp_fm", "formality", "'casual'"),
        "context": _nullif_empty("_tp_ctx_tags"),
        "construction_details": _nullif_empty("coalesce(_tp_det_tags, CAST(array() AS array<string>))"),
        "pattern": accepted("_tp_pat", "pattern"),
        "pairing_tags": _nullif_empty("_tp_pair_tags"),
        "top_layer_role": _when("_tp_is_top", "coalesce(_tp_role, 'base')"),
        "shoe_type": _when("_tp_is_shoes", f"CASE WHEN {st_kept} THEN {obj('shoe_type')}.tag ELSE 'dress-shoes' END"),
        "profile": _when("_tp_is_shoes", accepted("_tp_pr", "profile", "'standard'")),
        "closure": _when("_tp_is_shoes", accepted("_tp_cl", "closure")),
    }
    critical = _arr(("missing_style_identity", "missing_shoe_type"))
    review = _arr((
        "style_identity_needs_passive_review",
        "category_inappropriate_detail",
        "illegal_tag_returned",
        "silhouette_low_confidence",
        "shoe_type_low_confidence",
    ))
    outputs = {
        "tags_final": "named_struct({})".format(", ".join(f"'{k}', {v}" for k, v in tags_final.items())),
        "curation_status": (
            f"CASE WHEN arrays_overlap(_tp_reasons, {critical}) THEN 'needs_fix' "
            f"WHEN arrays_overlap(_tp_reasons, {review}) THEN 'needs_review' ELSE 'approved' END"
        ),
        "curation_reasons": "_tp_reasons",
        # rebuilding each entry types the array's elements non-null
        "suppressed_tags": "transform(concat({}), {})".format(
            ", ".join(f"coalesce({s}, {empty_supp})" for s in suppressed),
            "s -> named_struct('field', s.field, 'tag', s.tag, 'confidence', s.confidence, 'reason', s.reason)",
        ),
        "defaults_applied": f"filter(array({', '.join(defaults)}), d -> d IS NOT NULL)",
        "tag_policy_version": _str(POLICY_VERSION),
    }

    staged = df
    for stage in stages:
        staged = staged.selectExpr("*", *[f"{sql} AS {name}" for name, sql in stage.items()])
    # like withColumns: an existing output column is replaced in place;
    # the _tp_ columns are left out
    cols = df.columns
    return staged.selectExpr(
        *[f"{outputs[c]} AS {_ident(c)}" if c in outputs else _ident(c) for c in cols],
        *[f"{sql} AS {name}" for name, sql in outputs.items() if name not in cols],
    )


def merge_composition(
    df: DataFrame,
    composition_col: str = "composition",
    structured_col: str = "composition_structured",
) -> DataFrame:
    """T8: merge the SCRAPED composition into ``tags_final`` so one
    struct carries every tag dimension the generator reads.

    Reference: ``merge_composition_into_tags_final``
    (src/ai/tag_policy.py:535-549), called between the policy and the
    DB write at src/pipeline.py:501-509 (and the main.py:622-630 twin).

    Parity note: the reference merges into a dict and OMITS the key
    when the source value is None; Spark structs have a fixed schema,
    so an absent key becomes a NULL field — the same contract the
    tag-diff layer already uses (operators/tag_diff.py treats NULL
    fields as absent). Rows whose scraped composition is NULL therefore
    keep NULL ``tags_final.composition`` / ``.composition_structured``,
    and rows with only one of the two get the other as NULL.

    Pure ``withField`` projection — no shuffle, stays in whole-stage
    codegen at any scale.
    """
    return df.withColumn(
        "tags_final",
        F.col("tags_final")
        .withField("composition", F.col(composition_col))
        .withField("composition_structured", F.col(structured_col)),
    )


def vocab_from_table(df: DataFrame) -> dict[str, tuple[str, ...]]:
    """X4: collect a `custom_vocabulary` table of (field, tag) rows into
    the ``extra_vocab`` mapping that `apply_tag_policy` merges with the
    built-in vocab — the reference merges built-in ⊕ custom_vocabulary
    per field (style_tagger.py:155-200).

    The table is vocabulary-sized (dozens of rows), not data-sized, so
    the driver-side collect is the intended plan: the merged vocab then
    broadcasts into the policy expressions as literals.
    """
    out: dict[str, list[str]] = {}
    for r in df.select("field", "tag").distinct().collect():
        out.setdefault(r["field"], []).append(r["tag"])
    return {k: tuple(sorted(v)) for k, v in out.items()}
