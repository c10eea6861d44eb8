"""Golden tests for the tag-policy engine.

Expectations are hand-derived from the reference implementation
(src/ai/tag_policy.py:557-976) — including its worked __main__ example
(p1, tag_policy.py:1014-1043) — NOT from running our own code.
"""

from __future__ import annotations

import pytest

from refitd_etl_spark.operators.fixtures import policy_fixture
from refitd_etl_spark.operators.tag_policy import apply_tag_policy


@pytest.fixture(scope="module")
def results(spark):
    df = apply_tag_policy(policy_fixture(spark))
    return {r["product_id"]: r.asDict(recursive=True) for r in df.collect()}


def tf(r):
    return r["tags_final"]


def test_p1_reference_worked_example(results):
    r = results["p1"]
    assert r["curation_status"] == "needs_review"
    assert r["curation_reasons"] == ["style_identity_needs_passive_review", "missing_fit"]
    t = tf(r)
    assert t["category"] == "bottom"
    assert t["style_identity"] == ["workwear"]
    assert t["fit"] == "regular"  # defaulted
    assert t["silhouette"] == "straight"
    assert t["length"] is None
    assert t["formality"] == "casual"  # defaulted
    assert t["context"] == ["everyday"]
    assert t["construction_details"] == ["flat-front"]  # 0.74 >= details_flag 0.70
    assert t["pattern"] == "solid"
    assert t["pairing_tags"] == ["neutral-base", "easy-dress-down"]
    assert t["top_layer_role"] is None
    assert r["suppressed_tags"] == [
        {"field": "style_identity", "tag": "rugged", "confidence": 0.65, "reason": "below_flag_threshold"}
    ]
    assert r["defaults_applied"] == [
        {"field": "formality", "value": "casual", "reason": "default_fallback"},
        {"field": "fit", "value": "regular", "reason": "required_missing_or_suppressed"},
    ]
    assert r["tag_policy_version"] == "tag_policy_v2.5"


def test_p2_top_mid_layer_and_topn_cut(results):
    r = results["p2"]
    assert r["curation_status"] == "approved"
    assert r["curation_reasons"] == []
    t = tf(r)
    assert t["style_identity"] == ["streetwear", "minimal"]  # top-2 by conf
    assert t["top_layer_role"] == "mid"  # "hoodie" keyword
    assert t["fit"] == "oversized"
    assert t["silhouette"] == "boxy"
    assert t["length"] == "regular"
    assert t["context"] is None  # 0.6 < 0.70 suppressed → empty → NULL
    assert t["construction_details"] == ["dropped-shoulder"]
    assert t["pattern"] is None  # 0.5 < 0.70
    assert t["pairing_tags"] is None
    assert r["suppressed_tags"] == [
        {"field": "context", "tag": "everyday", "confidence": 0.6, "reason": "below_allow_threshold"},
        {"field": "pattern", "tag": "solid", "confidence": 0.5, "reason": "below_allow_threshold"},
    ]
    assert r["defaults_applied"] == []


def test_p3_all_defaults(results):
    r = results["p3"]
    assert r["curation_status"] == "needs_fix"
    assert r["curation_reasons"] == [
        "missing_top_layer_role",
        "missing_style_identity",
        "missing_fit",
        "missing_silhouette",
    ]
    t = tf(r)
    assert t["style_identity"] is None
    assert t["fit"] == "regular"
    assert t["silhouette"] == "neutral"  # non-bottom default
    assert t["formality"] == "casual"
    assert t["top_layer_role"] == "base"
    assert r["defaults_applied"] == [
        {"field": "top_layer_role", "value": "base", "reason": "could_not_determine_from_name"},
        {"field": "formality", "value": "casual", "reason": "default_fallback"},
        {"field": "fit", "value": "regular", "reason": "required_missing_or_suppressed"},
        {"field": "silhouette", "value": "neutral", "reason": "required_missing_or_suppressed"},
    ]


def test_p4_illegal_style_and_deadzone_details(results):
    r = results["p4"]
    assert r["curation_status"] == "needs_fix"
    assert r["curation_reasons"] == [
        "illegal_tag_returned",
        "missing_style_identity",
        "formality_low_confidence",
        "fit_low_confidence",
        "silhouette_low_confidence",
    ]
    t = tf(r)
    assert t["style_identity"] is None
    assert t["fit"] == "baggy"  # bottom vocab, 0.70 >= flag 0.65
    assert t["silhouette"] == "tapered"
    assert t["length"] is None  # 0.65 < 0.70
    assert t["formality"] == "formal"
    assert t["construction_details"] == ["cargo"]  # 0.72: dead-zone accepted
    assert t["pattern"] == "check"
    assert t["pairing_tags"] == ["statement-piece"]
    assert r["suppressed_tags"] == [
        {"field": "style_identity", "tag": "futuristic", "confidence": 0.95, "reason": "illegal_tag"},
        {"field": "style_identity", "tag": "classic", "confidence": 0.65, "reason": "below_flag_threshold"},
        {"field": "length", "tag": "cropped", "confidence": 0.65, "reason": "below_allow_threshold"},
    ]
    assert r["defaults_applied"] == []


def test_p5_low_conf_shoe_type_suppressed_and_accepted(results):
    r = results["p5"]
    assert r["curation_status"] == "needs_review"
    assert r["curation_reasons"] == ["shoe_type_low_confidence"]
    t = tf(r)
    assert t["shoe_type"] == "sneakers"  # accepted despite suppression
    assert t["profile"] == "chunky"
    assert t["closure"] is None  # illegal
    assert t["fit"] is None and t["silhouette"] is None and t["length"] is None
    assert t["style_identity"] == ["sporty"]
    assert t["formality"] == "athletic"
    assert r["suppressed_tags"] == [
        {"field": "shoe_type", "tag": "sneakers", "confidence": 0.75, "reason": "below_auto_threshold"},
        {"field": "closure", "tag": "velcro", "confidence": 0.9, "reason": "illegal_tag"},
    ]
    assert r["defaults_applied"] == []


def test_p6_missing_shoe_fields(results):
    r = results["p6"]
    assert r["curation_status"] == "needs_fix"
    assert r["curation_reasons"] == ["missing_shoe_type", "missing_shoe_profile"]
    t = tf(r)
    assert t["shoe_type"] == "dress-shoes"
    assert t["profile"] == "standard"
    assert t["style_identity"] == ["rugged", "workwear"]
    assert r["defaults_applied"] == [
        {"field": "formality", "value": "casual", "reason": "default_fallback"},
        {"field": "shoe_type", "value": "dress-shoes", "reason": "required_missing_or_suppressed"},
        {"field": "profile", "value": "standard", "reason": "default_fallback"},
    ]


def test_p7_category_gating(results):
    r = results["p7"]
    assert r["curation_status"] == "needs_review"
    assert r["curation_reasons"] == ["missing_fit", "category_inappropriate_detail"]
    t = tf(r)
    assert t["fit"] == "regular"  # baggy invalid for outerwear → default
    assert t["silhouette"] == "structured"
    assert t["construction_details"] is None  # pleated invalid for upper
    assert t["context"] == ["weekend", "travel"]  # top-2 by conf; evening cut
    assert t["pattern"] == "textured"
    assert t["top_layer_role"] is None  # outerwear is not "top"
    assert r["suppressed_tags"] == [
        {"field": "fit", "tag": "baggy", "confidence": 0.9, "reason": "invalid_for_category"},
        {"field": "construction_details", "tag": "pleated", "confidence": 0.9, "reason": "invalid_for_category"},
    ]
    assert r["defaults_applied"] == [
        {"field": "fit", "value": "regular", "reason": "required_missing_or_suppressed"},
    ]


def test_p8_stable_sort_ties(results):
    r = results["p8"]
    assert r["curation_status"] == "needs_review"
    assert r["curation_reasons"] == [
        "style_identity_needs_passive_review",
        "formality_low_confidence",
        "fit_low_confidence",
        "silhouette_low_confidence",
    ]
    t = tf(r)
    assert t["style_identity"] == ["classic", "minimal"]  # input order on tie
    assert t["context"] == ["everyday", "weekend"]
    assert t["pairing_tags"] == ["statement-piece", "neutral-base", "easy-dress-up"]
    assert t["top_layer_role"] == "base"  # "tee"/"tshirt" keyword
    assert t["pattern"] == "stripe"


def test_custom_vocabulary_injection(spark):
    """X4: custom_vocabulary table tags extend the accepted vocab."""
    from refitd_etl_spark.operators.fixtures import _raw, t

    rows = [
        {
            "product_id": "cv1",
            "category": "top",
            "product_name": "Trail Shell",
            "subcategory": None,
            "tags_ai_raw": _raw(style_identity=[t("gorpcore", 0.9)]),
        }
    ]
    from refitd_etl_spark.schemas import POLICY_INPUT

    df = spark.createDataFrame(rows, schema=POLICY_INPUT)
    # without injection: illegal tag → suppressed, missing style → needs_fix
    base = apply_tag_policy(df).first()
    assert base["tags_final"]["style_identity"] is None
    assert "illegal_tag_returned" in base["curation_reasons"]
    # with injection: accepted
    custom = apply_tag_policy(df, extra_vocab={"style_identity": ("gorpcore",)}).first()
    assert custom["tags_final"]["style_identity"] == ["gorpcore"]
    assert "illegal_tag_returned" not in custom["curation_reasons"]


def test_custom_vocab_with_quote_and_backslash_is_literal(spark):
    """A custom-vocabulary tag (which may come from a user table) enters
    the policy as a value, never as SQL text: a quote or a backslash in
    it is accepted verbatim and cannot end the literal."""
    from refitd_etl_spark.operators.fixtures import _raw, t
    from refitd_etl_spark.schemas import POLICY_INPUT

    odd = "it's\\raw'), 'x"
    rows = [
        {
            "product_id": "q1",
            "category": "top",
            "product_name": "Trail Shell",
            "subcategory": None,
            "tags_ai_raw": _raw(style_identity=[t(odd, 0.9), t("it's", 0.9)]),
        }
    ]
    df = spark.createDataFrame(rows, schema=POLICY_INPUT)
    got = apply_tag_policy(df, extra_vocab={"style_identity": (odd,)}).first()
    assert got["tags_final"]["style_identity"] == [odd]
    assert [(s["tag"], s["reason"]) for s in got["suppressed_tags"]] == [("it's", "illegal_tag")]


def test_empty_string_category_falls_through(spark):
    """Reference uses Python truthiness (`category or raw.get('category',
    'top')`), so '' must fall through to the raw category / default
    exactly like NULL — not be kept as a real category."""
    from refitd_etl_spark.operators.fixtures import _raw, t
    from refitd_etl_spark.schemas import POLICY_INPUT

    rows = [
        {
            "product_id": "es1",
            "category": "",  # empty → raw category 'bottom' must win
            "product_name": "Pleat Trouser",
            "subcategory": None,
            "tags_ai_raw": _raw(
                category="bottom",
                silhouette=t("wide", 0.9),
                fit=t("relaxed", 0.9),
            ),
        },
        {
            "product_id": "es2",
            "category": "",  # empty and no raw category → default 'top'
            "product_name": "Plain Tee",
            "subcategory": None,
            "tags_ai_raw": _raw(fit=t("regular", 0.9)),
        },
    ]
    df = spark.createDataFrame(rows, schema=POLICY_INPUT)
    got = {r["product_id"]: r.asDict(recursive=True) for r in apply_tag_policy(df).collect()}
    # es1: bottom gating active — bottom-vocab silhouette accepted
    assert got["es1"]["tags_final"]["category"] == "bottom"
    assert got["es1"]["tags_final"]["silhouette"] == "wide"
    # es2: default 'top' — top_layer_role derived ('tee' → base)
    assert got["es2"]["tags_final"]["category"] == "top"
    assert got["es2"]["tags_final"]["top_layer_role"] == "base"


def test_merge_composition_reference_parity(spark):
    """T8 (reference merge_composition_into_tags_final,
    tag_policy.py:535-549): None inputs leave the field NULL (the
    struct analog of the reference's omitted dict key); present inputs
    are copied verbatim; one-sided merges touch only their side; every
    pre-merge tags_final field is preserved."""
    from refitd_etl_spark.operators.tag_policy import merge_composition

    before = apply_tag_policy(policy_fixture(spark))
    pre = {r["product_id"]: r.asDict(recursive=True)["tags_final"]
           for r in before.collect()}
    after = {r["product_id"]: r.asDict(recursive=True)
             for r in merge_composition(before).collect()}

    # p1: both merged verbatim
    tf1 = after["p1"]["tags_final"]
    assert tf1["composition"] == "98% cotton, 2% elastane"
    comps = tf1["composition_structured"]["parts"][0]["areas"][0]["components"]
    assert comps == [
        {"material": "cotton", "percentage": "98%"},
        {"material": "elastane", "percentage": "2%"},
    ]
    # p2: flat-only — structured stays NULL
    tf2 = after["p2"]["tags_final"]
    assert tf2["composition"] == "60% cotton, 40% polyester"
    assert tf2["composition_structured"] is None
    # p5: structured-only — flat stays NULL
    tf5 = after["p5"]["tags_final"]
    assert tf5["composition"] is None
    assert tf5["composition_structured"]["parts"][0]["name"] == "UPPER"
    # p3 (no composition at all): both NULL — the 'absent key' contract
    tf3 = after["p3"]["tags_final"]
    assert tf3["composition"] is None and tf3["composition_structured"] is None
    # merge must not disturb any pre-existing field on any row
    for pid, tf_pre in pre.items():
        tf_post = after[pid]["tags_final"]
        for k, v in tf_pre.items():
            assert tf_post[k] == v, (pid, k)
