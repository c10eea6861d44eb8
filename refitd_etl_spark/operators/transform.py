"""Bronze→silver product transform (SURVEY §2.2 P1-P22, §2.1 S4).

One declarative ``select`` replaces the reference's row-at-a-time
pydantic/transformer pipeline (product_transformer.py:94-149;
supabase_loader.py:136-192; pipeline.py:252-340). At 100 TB this is a
pure narrow map stage: no shuffle, fully whole-stage-codegen, with the
24-row slot mapping applied as a literal map lookup (no join).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import arrays as ARR
from ..functions import text as TXT

# Retailer category → (category_refitd, top_layer_role); reference
# refitd_category_mapping.py:13-43 (+ default ("top","base") at :56).
RETAILER_TO_REFITD: dict[str, tuple[str, str | None]] = {
    "tshirts": ("top", "base"),
    "shirts": ("top", "base"),
    "polo-shirts": ("top", "base"),
    "polos": ("top", "base"),
    "sweaters": ("top", "mid"),
    "hoodies": ("top", "mid"),
    "quarter-zip": ("top", "mid"),
    "knitwear": ("top", "mid"),
    "sweatshirts": ("top", "mid"),
    "sweatsuits": ("top", "mid"),
    "trousers": ("bottom", None),
    "jeans": ("bottom", None),
    "shorts": ("bottom", None),
    "swimwear": ("bottom", None),
    "jackets": ("outerwear", None),
    "outerwear": ("outerwear", None),
    "leather": ("outerwear", None),
    "blazers": ("outerwear", None),
    "overshirts": ("outerwear", None),
    "coats": ("outerwear", None),
    "suits": ("outerwear", None),
    "shoes": ("footwear", None),
    "boots": ("footwear", None),
    "footwear": ("footwear", None),
}

# Display-name map (product_transformer.py:88-92); default (title(cat), NULL).
CATEGORY_DISPLAY = {
    "tshirts": ("Tops", "T-Shirts"),
    "pants": ("Bottoms", "Pants"),
    "jackets": ("Outerwear", "Jackets"),
}


def _slot_map_sql() -> str:
    """P18's lookup table as one map literal: key → (cat, role)."""
    entries = []
    for key, (cat, role) in RETAILER_TO_REFITD.items():
        role_sql = f"'{role}'" if role else "CAST(NULL AS STRING)"
        entries.append(f"'{key}', named_struct('cat', '{cat}', 'role', {role_sql})")
    return f"map({', '.join(entries)})"


_SLOT_MAP = _slot_map_sql()


def attach_refitd_slots(df: DataFrame, category_col: str = "category") -> DataFrame:
    """P18 as a literal map lookup on the trimmed, lower-cased category;
    unmapped categories default to (top, base)."""
    key = F.lower(F.trim(F.coalesce(F.col(category_col), F.lit(""))))
    slots = F.expr(_SLOT_MAP)[key]
    return df.withColumns(
        {
            "category_refitd": F.coalesce(slots["cat"], F.lit("top")),
            "top_layer_role": F.when(slots.isNull(), F.lit("base")).otherwise(slots["role"]),
        }
    )


def discount_percentage(cur: Column, orig: Column) -> Column:
    """P5: round((1 - cur/orig)*100, 1) only when orig > cur.

    Reference: product_transformer.py:97-102.
    """
    return F.when((orig.isNotNull()) & (cur.isNotNull()) & (orig > cur), F.round((1 - cur / orig) * 100, 1))


def storage_category(cat: Column) -> Column:
    """P20: shoes/footwear/boots → 'footwear'. Reference: supabase_loader.py:136-141."""
    return F.when(F.lower(F.trim(F.coalesce(cat, F.lit("")))).isin("shoes", "footwear", "boots"), F.lit("footwear")).otherwise(cat)


def infer_extension(url: Column, content_type: Column) -> Column:
    """P21: URL substring then content-type → extension.

    Reference: supabase_loader.py:297-318 (.png/.webp/.gif substrings in
    URL, else content-type mapping, default .jpg).
    """
    u = F.lower(url)
    ct = F.lower(F.coalesce(content_type, F.lit("")))
    return (
        F.when(u.contains(".png"), F.lit(".png"))
        .when(u.contains(".webp"), F.lit(".webp"))
        .when(u.contains(".gif"), F.lit(".gif"))
        .when(u.contains(".jpg") | u.contains(".jpeg"), F.lit(".jpg"))
        .when(ct.contains("png"), F.lit(".png"))
        .when(ct.contains("webp"), F.lit(".webp"))
        .when(ct.contains("gif"), F.lit(".gif"))
        .otherwise(F.lit(".jpg"))
    )


def normalize_sizes(sizes_detail: Column, sizes_raw: Column) -> Column:
    """P7: struct-or-string size lists → (sizes_simple, sizes_availability).

    Detail rows pass through (simple name = struct.size, '' when null);
    legacy string rows get available=true structs.
    Reference: supabase_loader.py:148-161.
    """
    detail_simple = F.transform(sizes_detail, lambda s: F.coalesce(s["size"], F.lit("")))
    legacy_avail = F.transform(
        sizes_raw,
        lambda s: F.struct(
            s.alias("size"),
            F.lit(True).alias("available"),
            F.lit(None).cast("string").alias("availability"),
            F.lit(None).cast("bigint").alias("sku"),
        ),
    )
    return F.when(
        sizes_detail.isNotNull(),
        F.struct(detail_simple.alias("sizes_simple"), sizes_detail.alias("sizes_availability")),
    ).otherwise(
        F.struct(F.coalesce(sizes_raw, F.expr("array()").cast("array<string>")).alias("sizes_simple"), legacy_avail.alias("sizes_availability"))
    )


def is_purchasable(availability: Column, include_coming_soon: bool = False) -> Column:
    """P13: availability ∈ {in_stock, low_on_stock} (+coming_soon variant path).

    Reference: zara_extractor.py:879-891,1100-1110.
    """
    allowed = ["in_stock", "low_on_stock"] + (["coming_soon"] if include_coming_soon else [])
    return availability.isin(*allowed)


# ---------------------------------------------------------------------------
# P14: structured composition parse
# ---------------------------------------------------------------------------

_COMP_SCHEMA = (
    "array<struct<description:string,"
    "areas:array<struct<description:string,components:array<struct<material:string,percentage:string>>>>,"
    "components:array<struct<material:string,percentage:string>>>>"
)


def _clean_components(comps: Column) -> Column:
    return F.filter(
        F.coalesce(comps, F.expr("array()").cast("array<struct<material:string,percentage:string>>")),
        lambda c: c["material"].isNotNull()
        & (c["material"] != "")
        & c["percentage"].isNotNull()
        & (c["percentage"] != ""),
    )


def parse_composition(detailed: Column, category: Column) -> Column:
    """P14: detailedComposition.parts[].areas[].components[] → typed struct
    + flat "pct material, …" string; shoes/boots keep only UPPER parts
    (falling through to all parts when no UPPER part exists).

    Reference: zara_extractor.py:1157-1433 (UPPER filter 1305-1326).
    """
    parts = F.coalesce(detailed["parts"], F.expr("array()").cast(_COMP_SCHEMA))

    def build_part(p: Column) -> Column:
        areas = F.coalesce(
            p["areas"],
            F.expr("array()").cast(
                "array<struct<description:string,components:array<struct<material:string,percentage:string>>>>"
            ),
        )
        named_areas = F.filter(
            F.transform(
                areas,
                lambda a: F.struct(
                    F.coalesce(a["description"], F.lit("")).alias("name"),
                    _clean_components(a["components"]).alias("components"),
                ),
            ),
            lambda a: F.size(a["components"]) > 0,
        )
        direct = _clean_components(p["components"])
        direct_area = F.when(
            F.size(direct) > 0,
            F.array(F.struct(F.lit("").alias("name"), direct.alias("components"))),
        ).otherwise(F.expr("array()").cast("array<struct<name:string,components:array<struct<material:string,percentage:string>>>>"))
        return F.struct(
            F.coalesce(p["description"], F.lit("")).alias("name"),
            F.concat(named_areas, direct_area).alias("areas"),
        )

    structured = F.filter(F.transform(parts, build_part), lambda p: F.size(p["areas"]) > 0)

    is_shoes = F.lower(F.coalesce(category, F.lit(""))).isin("shoes", "boots")
    upper_parts = F.filter(structured, lambda p: F.upper(F.trim(p["name"])) == "UPPER")
    final_parts = F.when(is_shoes & (F.size(upper_parts) > 0), upper_parts).otherwise(structured)

    flat = F.flatten(
        F.transform(
            final_parts,
            lambda p: F.flatten(
                F.transform(
                    p["areas"],
                    lambda a: F.transform(
                        a["components"], lambda c: F.concat(c["percentage"], F.lit(" "), c["material"])
                    ),
                )
            ),
        )
    )
    return F.struct(
        F.when(F.size(final_parts) > 0, F.concat_ws(", ", flat)).alias("composition"),
        F.when(F.size(final_parts) > 0, F.struct(final_parts.alias("parts"))).alias(
            "composition_structured"
        ),
    )


def _display_category(cat: Column) -> Column:
    """P6: display map; default title-cased category.

    Reference: product_transformer.py:88-92,104-106. (Python .title()
    also capitalizes after hyphens; initcap only after whitespace — the
    mapped keys are single words so behavior matches.)
    """
    expr = None
    for k, (disp, _sub) in CATEGORY_DISPLAY.items():
        expr = (expr.when if expr is not None else F.when)(cat == k, F.lit(disp))
    return expr.otherwise(F.initcap(cat))


def _display_subcategory(cat: Column) -> Column:
    expr = None
    for k, (_disp, sub) in CATEGORY_DISPLAY.items():
        expr = (expr.when if expr is not None else F.when)(cat == k, F.lit(sub))
    return expr.otherwise(F.lit(None).cast("string"))


# ---------------------------------------------------------------------------
# Full bronze→silver projection
# ---------------------------------------------------------------------------


def transform_products(bronze: DataFrame) -> DataFrame:
    """P1-P22 composed: normalize, validate, derive — one narrow select.

    Expects bronze columns: product_id, name, category, url, description,
    price_current_cents, price_original_cents, currency, colors,
    sizes_detail, sizes_raw, materials, image_urls_all,
    detailed_composition, color, parent_product_id.
    """
    name_fallback = F.coalesce(
        F.nullif(F.col("name"), F.lit("")), TXT.name_from_url(F.col("url"))
    )
    cur = (F.col("price_current_cents") / 100).cast("double")
    orig = (F.col("price_original_cents") / 100).cast("double")
    sizes = normalize_sizes(F.col("sizes_detail"), F.col("sizes_raw"))
    comp = parse_composition(F.col("detailed_composition"), F.col("category"))
    chosen = ARR.select_images(F.col("category"), F.col("image_urls_all"))

    out = bronze.select(
        F.coalesce(
            F.nullif(TXT.product_id_from_url(F.col("url")), F.lit("")), F.col("product_id")
        ).alias("product_id"),
        F.col("parent_product_id"),
        TXT.normalize_name(name_fallback).alias("name"),
        F.col("category"),
        storage_category(F.col("category")).alias("category_storage"),
        _display_category(F.col("category")).alias("display_category"),
        _display_subcategory(F.col("category")).alias("display_subcategory"),
        F.col("url"),
        TXT.clean_description(F.col("description")).alias("description"),
        cur.alias("price_current"),
        orig.alias("price_original"),
        discount_percentage(cur, orig).alias("discount_percentage"),
        F.col("currency"),
        ARR.clean_dedup_list(F.col("colors")).alias("colors"),
        TXT.slugify(F.coalesce(F.col("color"), F.lit(""))).alias("color_slug"),
        sizes["sizes_simple"].alias("sizes"),
        sizes["sizes_availability"].alias("sizes_availability"),
        F.col("materials"),
        comp["composition"].alias("composition"),
        comp["composition_structured"].alias("composition_structured"),
        F.col("image_urls_all"),
        chosen.alias("image_urls"),
        ARR.stored_indices(F.col("image_urls_all"), chosen).alias("image_urls_stored_indices"),
        F.size(F.coalesce(F.col("image_urls_all"), F.expr("array()").cast("array<string>"))).alias(
            "image_count"
        ),
    )
    # P1 required-field filter: drop unnamed rows, and rows with neither
    # images nor a price (zara_extractor.py:478-488,538-543).
    out = out.filter(
        (F.length("name") >= 2)
        & (F.col("name") != "Unknown Product")
        & ((F.col("image_count") > 0) | F.col("price_current").isNotNull())
    )
    return attach_refitd_slots(out)


# ---------------------------------------------------------------------------
# S2: raw ITXRest API JSON → bronze product projection
# (reference zara_extractor.py:698-788, _get_product_from_api)
# ---------------------------------------------------------------------------

API_PRODUCT_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("seo", T.StructType([T.StructField("description", T.StringType())])),
        T.StructField(
            "detail",
            T.StructType(
                [
                    T.StructField("description", T.StringType()),
                    T.StructField("longDescription", T.StringType()),
                    T.StructField(
                        "colors",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField("name", T.StringType()),
                                    T.StructField(
                                        "xmedia",
                                        T.ArrayType(
                                            T.StructType(
                                                [
                                                    T.StructField(
                                                        "extraInfo",
                                                        T.StructType(
                                                            [T.StructField("deliveryUrl", T.StringType())]
                                                        ),
                                                    ),
                                                    T.StructField("path", T.StringType()),
                                                    T.StructField("name", T.StringType()),
                                                ]
                                            )
                                        ),
                                    ),
                                    T.StructField(
                                        "sizes",
                                        T.ArrayType(
                                            T.StructType(
                                                [
                                                    T.StructField("price", T.LongType()),
                                                    T.StructField("oldPrice", T.LongType()),
                                                ]
                                            )
                                        ),
                                    ),
                                ]
                            )
                        ),
                    ),
                ]
            ),
        ),
    ]
)


def project_api_product(df: DataFrame, json_col: str = "raw_json") -> DataFrame:
    """S2: the raw product-API JSON → bronze projection as pure column
    expressions (reference `_get_product_from_api`,
    zara_extractor.py:698-788 — every branch mirrored):

    - ``name``: top-level; a row with empty/missing name (or
      unparseable JSON — ``from_json`` nulls it exactly where the
      reference's ``json.JSONDecodeError`` bails) is DROPPED, matching
      the reference's ``if result.get("name")`` guard.
    - ``"detail": null`` (key PRESENT, value null) DROPS the row: the
      reference's ``"colors" in data["detail"]`` raises TypeError on
      None (and ``data["detail"].get(key)`` AttributeError on the
      description path), caught by the outer except → product
      discarded. Detected here via ``json_object_keys`` (key presence)
      + null parsed struct, so ``"detail"`` ABSENT still projects
      normally. A present-but-non-object detail also parses to null
      under PERMISSIVE mode and is likewise dropped — same outcome as
      the reference's TypeError for every non-dict, non-str payload
      (a detail that is a bare JSON *string* could survive in the
      reference when seo.description is set; treated as malformed →
      dropped here, divergence confined to that corner).
    - ``description``: ``seo.description`` when truthy, else the
      space-join of truthy ``detail.description``/``detail.
      longDescription`` when ``detail`` exists, else NULL.
    - ``colors``: names of ``detail.colors`` entries with truthy names;
      NULL when the colors array is missing or empty (key never set).
    - ``images``: from the FIRST color's ``xmedia`` only —
      ``extraInfo.deliveryUrl`` + ``&w=850``/``?w=850`` (query-string
      aware), else the static-photos URL built from path+name, else the
      media entry is skipped; NULL when ``xmedia`` is absent.
    - ``price`` / ``original_price``: first color's first size,
      cents → dollars (one IEEE division, no rounding).

    Declarative from_json → select keeps this inside whole-stage
    codegen: at 100 TB the raw-response table scans once, no Python.
    """
    parsed = F.from_json(F.col(json_col), API_PRODUCT_SCHEMA)
    name = F.nullif(parsed["name"], F.lit(""))
    detail_key_null = F.array_contains(
        F.coalesce(F.json_object_keys(F.col(json_col)), F.array()),
        F.lit("detail"),
    ) & parsed["detail"].isNull()
    seo_desc = F.nullif(parsed["seo"]["description"], F.lit(""))
    detail = parsed["detail"]
    joined_desc = F.nullif(
        F.concat_ws(
            " ",
            F.nullif(detail["description"], F.lit("")),
            F.nullif(detail["longDescription"], F.lit("")),
        ),
        F.lit(""),
    )
    description = F.when(seo_desc.isNotNull(), seo_desc).otherwise(
        F.when(detail.isNotNull(), joined_desc)
    )

    colors_data = detail["colors"]
    color_names = F.filter(
        F.transform(colors_data, lambda c: c["name"]),
        lambda n: n.isNotNull() & (n != ""),
    )
    colors = F.when(F.size(colors_data) > 0, color_names)

    # try_element_at, not element_at: ANSI mode (default on Spark 4)
    # makes element_at THROW on an empty array, and an API response
    # with "colors": [] is normal reference input, not an error
    fc = F.try_element_at(colors_data, F.lit(1))
    url = lambda m: F.nullif(m["extraInfo"]["deliveryUrl"], F.lit(""))  # noqa: E731
    media_url = lambda m: (  # noqa: E731
        F.when(
            url(m).isNotNull(),
            F.concat(
                url(m),
                F.when(url(m).contains("?"), F.lit("&w=850")).otherwise(F.lit("?w=850")),
            ),
        ).when(
            F.nullif(m["path"], F.lit("")).isNotNull()
            & F.nullif(m["name"], F.lit("")).isNotNull(),
            F.concat(
                F.lit("https://static.zara.net/photos/"),
                m["path"],
                F.lit("/"),
                m["name"],
                F.lit(".jpg?w=850"),
            ),
        )
    )
    images = F.when(
        fc["xmedia"].isNotNull(),
        F.filter(F.transform(fc["xmedia"], media_url), lambda u: u.isNotNull()),
    )

    fs = F.try_element_at(fc["sizes"], F.lit(1))
    price = (fs["price"] / F.lit(100)).cast("double")
    original_price = (fs["oldPrice"] / F.lit(100)).cast("double")

    return df.select(
        "*",
        name.alias("_api_name"),
        description.alias("_api_description"),
        colors.alias("_api_colors"),
        images.alias("_api_images"),
        price.alias("_api_price"),
        original_price.alias("_api_original_price"),
    ).filter(F.col("_api_name").isNotNull() & ~detail_key_null).select(
        *df.columns,
        F.col("_api_name").alias("name"),
        F.col("_api_description").alias("description"),
        F.col("_api_colors").alias("colors"),
        F.col("_api_images").alias("images"),
        F.col("_api_price").alias("price"),
        F.col("_api_original_price").alias("original_price"),
    )
