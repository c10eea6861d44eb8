"""Seeded bronze batches for the catalog workloads, derived from the
``part`` table of a TPC-H-style scale-factor directory.

Every product is one ``part`` row dressed up as a scraped listing. Rows
come in variant groups of 1-3 (about 2 on average) that share a parent
id, a category and a name; categories include ones the slot mapping
does not know, galleries hold 1-7 images and about a quarter of the
products carry a discount.

The product id travels in the URL (``-p<digits>.html``) because the
transform derives ``product_id`` from it. Base ids are below
``DELTA_ID0``; delta ids start there, so a delta never collides with a
base.

Rows are plain tuples in ``BRONZE_SCHEMA`` column order, so the same
seed can be checked for identical output without a Spark session.
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow.parquet as pq

BASE_ID0 = 10_000_000
DELTA_ID0 = 90_000_000
_ID_STRIDE = 4_000  # base id i lies in [BASE_ID0 + i*stride, BASE_ID0 + (i+1)*stride)
_DELTA_STRIDE = 100_000  # ids per delta batch

# (retailer category, display noun); the last four are not in the slot
# mapping and fall back to its default
CATEGORIES = [
    ("tshirts", "Tee"), ("shirts", "Shirt"), ("polos", "Polo"), ("sweaters", "Sweater"),
    ("hoodies", "Hoodie"), ("knitwear", "Cardigan"), ("trousers", "Chinos"), ("jeans", "Jeans"),
    ("shorts", "Shorts"), ("swimwear", "Swim Shorts"), ("jackets", "Jacket"), ("coats", "Coat"),
    ("blazers", "Blazer"), ("overshirts", "Overshirt"), ("shoes", "Derby"), ("boots", "Boots"),
    ("vests", "Vest"), ("pants", "Pants"), ("accessories", "Scarf"), ("bags", "Tote"),
]
COLORS = ["Black", "White", "Navy", "Olive", "Ecru", "Grey", "Brown", "Blue", "Red", "Green"]
MATERIALS = ["cotton", "wool", "linen", "polyester", "elastane", "leather", "viscose"]
SIZES = ["XS", "S", "M", "L", "XL"]


def read_part(sf_dir: str) -> dict[str, list]:
    """The ``part`` columns the generator uses, as Python lists."""
    cols = ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"]
    return pq.read_table(f"{sf_dir}/part.parquet", columns=cols).to_pydict()


def product_id(row: tuple) -> str:
    """The id ``transform_products`` derives from the row's URL."""
    return re.search(r"-p(\d+)\.html", row[3]).group(1)


def groups(rows: list[tuple]) -> int:
    """Variant groups in ``rows``: the sensor's representatives."""
    return len({r[15] if r[15] is not None else product_id(r) for r in rows})


def _group_sizes(rng: np.random.Generator, n: int) -> list[int]:
    sizes: list[int] = []
    while sum(sizes) < n:
        sizes.append(int(rng.choice([1, 2, 3], p=[0.3, 0.4, 0.3])))
    sizes[-1] -= sum(sizes) - n
    return sizes


def _rows(part: dict[str, list], rng: np.random.Generator, ids: list[int], group_tag: str) -> list[tuple]:
    n_part = len(part["p_partkey"])
    rows = []
    i = 0
    for g, size in enumerate(_group_sizes(rng, len(ids))):
        src = int(rng.integers(n_part))
        cat, noun = CATEGORIES[int(rng.integers(len(CATEGORIES)))]
        base_name = f"{part['p_name'][src].title()} {noun}"
        brand, ptype = part["p_brand"][src], part["p_type"][src]
        psize, price = part["p_size"][src], part["p_retailprice"][src]
        parent = f"{group_tag}{g}" if size > 1 else None
        for _ in range(size):
            pid = ids[i]
            i += 1
            colors = [str(c) for c in rng.choice(COLORS, size=int(rng.integers(1, 4)), replace=False)]
            if rng.random() < 0.2:
                colors.append(colors[0].lower())  # casing duplicate for the dedup rule
            name = base_name if rng.random() < 0.9 else f"  {base_name.lower()}  "
            cur = int(price * (0.02 + psize / 250) * 100) + int(rng.integers(100))
            disc = rng.random()
            orig = int(cur / (1 - (0.1 + 0.4 * disc))) if disc < 0.25 else (cur if disc < 0.8 else None)
            n_img = int(rng.integers(1, 8))
            material = MATERIALS[int(rng.integers(len(MATERIALS)))]
            comp = (
                {"parts": [{"description": "MAIN", "areas": None,
                            "components": [{"material": material, "percentage": "100%"}]}]}
                if rng.random() < 0.5 else None
            )
            slug = base_name.lower().replace(" ", "-")
            rows.append((
                f"b{pid}",
                name,
                cat,
                f"/us/en/{slug}-p{pid}.html",
                f"{ptype.title()} {base_name} by {brand}, size {psize}." if rng.random() < 0.8 else None,
                cur,
                orig,
                "USD",
                colors,
                None,
                [s for s in SIZES if rng.random() < 0.6],
                [f"100% {material}"] if comp is None else [],
                [f"https://img.example/{pid}/{k}.jpg" for k in range(n_img)],
                comp,
                colors[0],
                parent,
            ))
    return rows


def base_rows(part: dict[str, list], seed: int, n: int) -> list[tuple]:
    """``n`` seeded products with ids below ``DELTA_ID0``."""
    if n * _ID_STRIDE > DELTA_ID0 - BASE_ID0:
        raise ValueError(f"base batch of {n} rows overflows the base id range")
    rng = np.random.default_rng([seed, 0])
    ids = [BASE_ID0 + i * _ID_STRIDE + int(o) for i, o in enumerate(rng.integers(_ID_STRIDE, size=n))]
    return _rows(part, rng, ids, f"g{seed}-")


def delta_rows(part: dict[str, list], seed: int, batch: int, n: int) -> list[tuple]:
    """Delta batch number ``batch``: ``n`` new products with ids at or
    above ``DELTA_ID0``, disjoint from every other batch."""
    if n > _DELTA_STRIDE:
        raise ValueError(f"delta batch of {n} rows overflows its id range")
    rng = np.random.default_rng([seed, 1, batch])
    ids = [DELTA_ID0 + batch * _DELTA_STRIDE + i for i in range(n)]
    return _rows(part, rng, ids, f"d{seed}-{batch}-")
