"""Array/nested column expressions (SURVEY §2.2 P4/P7/P16/P17, §2.7 U2/U4).

All higher-order-function based — JVM-side, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def clean_dedup_list(arr: Column) -> Column:
    """P4: strip items, drop empties, case-insensitive dedup keeping the
    first occurrence (and its original casing).

    Reference: product_transformer.py:69-81.
    """
    stripped = F.filter(
        F.transform(arr, lambda x: F.trim(x)), lambda x: x.isNotNull() & (x != "")
    )
    # keep element i iff no earlier element has the same lowercase form
    return F.filter(
        stripped,
        lambda x, i: ~F.exists(
            F.slice(stripped, 1, i), lambda prev: F.lower(prev) == F.lower(x)
        ),
    )


def select_images(category: Column, urls: Column) -> Column:
    """P16: per-category lay-flat image selection rule.

    - pants/jeans/shorts: urls[-4:-2] (needs ≥4 urls, else fall through
      to default)
    - shoes/boots: [urls[-3], urls[-4]] (needs ≥4 urls)
    - swimwear: first 2
    - default: last 2

    Reference: src/pipeline.py:259-274; rules config/settings.py:105-114,
    including the len<4 fall-through (pipeline.py:266-271).
    """
    n = F.size(urls)
    last_2 = F.when(n >= 2, F.slice(urls, -2, 2)).otherwise(urls)
    pants = F.when(n >= 4, F.slice(urls, n - 3, 2)).otherwise(last_2)
    shoes = F.when(n >= 4, F.array(F.element_at(urls, -3), F.element_at(urls, -4))).otherwise(last_2)
    swim = F.slice(urls, 1, 2)
    cat = F.lower(category)
    return (
        F.when(cat.isin("pants", "trousers", "jeans", "shorts"), pants)
        .when(cat.isin("shoes", "boots"), shoes)
        .when(cat == "swimwear", swim)
        .otherwise(last_2)
    )


def stored_indices(all_urls: Column, chosen: Column) -> Column:
    """P17: 0-based indices of chosen URLs within the full gallery list.

    Reference: src/pipeline.py:289-295.
    """
    return F.transform(chosen, lambda u: F.array_position(all_urls, u).cast("int") - 1)
