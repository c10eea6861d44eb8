"""External-model surface (SURVEY §2.10 X1-X4): vision tag sensor and
text embedder behind a pluggable, mockable Arrow-batched interface.

The reference calls GPT-vision per product in a sequential loop
(refitd_tagger.py:1280-1504) and OpenAI embeddings in batches of 10
(embeddings.py:167-191). Here the sensor is a `mapInPandas` operator:

- Arrow batches cross the JVM↔Python boundary (no per-row pickling);
- each partition processes its batch stream independently → at 100 TB
  the sensor fleet scales with executors, and per-partition token-bucket
  rate limiting + bounded retries replace the reference's per-call
  sleeps (settings.py:63-65, tenacity retries);
- the `Sensor`/`Embedder` protocols keep the network client out of the
  engine: production plugs an HTTP client in, tests plug deterministic
  mocks (the driver's correctness runs never hit a network).

Variant handling reproduces J4 (pipeline.py:383-434): group variants by
parent, tag only the representative (most images, id tie-break), then
fan the result back to every member by join — one sensor call per
parent at any scale.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Callable, Iterator
from typing import Protocol

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import TAGS_AI_RAW

# ---------------------------------------------------------------------------
# P24: embedding text builder (embeddings.py:115-165)
# ---------------------------------------------------------------------------


def embedding_text(
    name: Column, category: Column, description: Column, colors: Column, tags: Column, price: Column
) -> Column:
    """Concat name | Category: … | desc[:500] | Colors: … | Style: … |
    price-band phrase, skipping absent parts; ' | ' separator."""
    parts = [
        F.nullif(name, F.lit("")),
        F.when(F.nullif(category, F.lit("")).isNotNull(), F.concat(F.lit("Category: "), category)),
        F.substring(F.nullif(description, F.lit("")), 1, 500),
        F.when(
            colors.isNotNull() & (F.size(colors) > 0),
            F.concat(F.lit("Colors: "), F.concat_ws(", ", colors)),
        ),
        F.when(
            tags.isNotNull() & (F.size(tags) > 0),
            F.concat(F.lit("Style: "), F.concat_ws(", ", tags)),
        ),
        F.when(price < 50, F.lit("budget-friendly affordable")).when(
            price > 150, F.lit("premium luxury")
        ),
    ]
    return F.concat_ws(" | ", *parts)


# ---------------------------------------------------------------------------
# Sensor protocol + deterministic mock
# ---------------------------------------------------------------------------


class Sensor(Protocol):
    """X1/X2: proposes tags-with-confidence for a batch of products."""

    def tag_batch(self, batch: pd.DataFrame) -> list[dict]:
        """batch columns: product_id, name, category, image_urls.
        Returns one TAGS_AI_RAW-shaped dict per row."""
        ...


def _h01(key: str) -> float:
    """Deterministic [0,1) from md5 — the mock's 'confidence' source."""
    return int(hashlib.md5(key.encode()).hexdigest()[:8], 16) / 0xFFFFFFFF


class MockTagSensor:
    """Deterministic stand-in for the GPT-vision sensor: picks vocab tags
    and confidences from md5 of (product_id, field). Stable across runs,
    partitionings, and engines — the correctness tier's sensor."""

    def tag_batch(self, batch: pd.DataFrame) -> list[dict]:
        from .tag_policy import (
            CONTEXT_TAGS,
            FIT_TAGS_UPPER,
            FORMALITY_TAGS,
            PATTERN_TAGS,
            SILHOUETTE_UPPER_TAGS,
            STYLE_IDENTITY_TAGS,
        )

        out = []
        for pid in batch["product_id"]:
            def pick(vocab, key):
                return vocab[int(_h01(f"{pid}:{key}") * len(vocab))]

            def conf(key):
                return round(0.5 + _h01(f"{pid}:conf:{key}") * 0.5, 2)

            out.append(
                {
                    "style_identity": [
                        {"tag": pick(STYLE_IDENTITY_TAGS, "style"), "confidence": conf("style"), "reasoning": None}
                    ],
                    "fit": {"tag": pick(FIT_TAGS_UPPER, "fit"), "confidence": conf("fit"), "reasoning": None},
                    "silhouette": {
                        "tag": pick(SILHOUETTE_UPPER_TAGS, "sil"), "confidence": conf("sil"), "reasoning": None
                    },
                    "formality": {
                        "tag": pick(FORMALITY_TAGS, "form"), "confidence": conf("form"), "reasoning": None
                    },
                    "context": [
                        {"tag": pick(CONTEXT_TAGS, "ctx"), "confidence": conf("ctx"), "reasoning": None}
                    ],
                    "pattern": {"tag": pick(PATTERN_TAGS, "pat"), "confidence": conf("pat"), "reasoning": None},
                }
            )
        return out


def _tag_via_representatives(
    products: DataFrame, sense: Callable[[DataFrame], DataFrame]
) -> DataFrame:
    """J4: pick one representative per variant group (most images,
    product_id tie-break — pipeline.py:429-434), run `sense` on the
    representatives, and fan its (group_id, tags_ai_raw) rows back to
    every variant row. Returns the input plus `tags_ai_raw`."""
    group_key = F.coalesce(F.col("parent_product_id"), F.col("product_id"))
    w = Window.partitionBy("group_id").orderBy(F.desc("image_count"), F.asc("product_id"))
    # mapInPandas is opaque to Catalyst's column pruning, so every
    # selected column is Arrow-serialized into the Python worker per
    # batch: ship only the group key + the Sensor-contract columns
    # (product_id, name, category) — image_count is rep-selection
    # state, dead past the window.
    reps = (
        products.withColumn("group_id", group_key)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("group_id", "product_id", "name", "category")
    )
    return (
        products.withColumn("group_id", group_key)
        .join(sense(reps), "group_id", "left")
        .drop("group_id")
    )


def tag_representatives(products: DataFrame, sensor: Sensor | None = None) -> DataFrame:
    """X1+J4: tag one representative per variant group, fan out to members.

    Returns the input plus a `tags_ai_raw` column on every variant row.
    """
    sensor = sensor or MockTagSensor()
    result_schema = T.StructType(
        [T.StructField("group_id", T.StringType()), T.StructField("tags_ai_raw", TAGS_AI_RAW)]
    )

    def run_sensor(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            tags = sensor.tag_batch(pdf)
            yield pd.DataFrame({"group_id": pdf["group_id"].values, "tags_ai_raw": tags})

    return _tag_via_representatives(
        products, lambda reps: reps.mapInPandas(run_sensor, schema=result_schema)
    )


# ---------------------------------------------------------------------------
# Embedder protocol + deterministic mock (X3)
# ---------------------------------------------------------------------------

EMBED_DIM = 16


class Embedder(Protocol):
    def embed_batch(self, texts: pd.Series) -> list[list[float]]: ...


class MockEmbedder:
    """Deterministic unit vectors from md5 bytes of the text — stable,
    engine-independent; dimension 16 for fixtures (1536 in production)."""

    def embed_batch(self, texts: pd.Series) -> list[list[float]]:
        out = []
        for text in texts:
            h = hashlib.md5((text or "").encode()).digest()
            v = [(b / 255.0) * 2 - 1 for b in h[:EMBED_DIM]]
            n = math.sqrt(sum(x * x for x in v)) or 1.0
            out.append([x / n for x in v])
        return out


def with_embeddings(df: DataFrame, text_col: str = "embed_text", embedder: Embedder | None = None) -> DataFrame:
    """Arrow-batched embedding column (ArrayType(Double))."""
    embedder = embedder or MockEmbedder()

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def embed(texts: pd.Series) -> pd.Series:
        return pd.Series(embedder.embed_batch(texts))

    return df.withColumn("embedding", embed(F.col(text_col)))


class ThrottledSensor:
    """Per-partition rate limiting + bounded retries around any Sensor.

    Replaces the reference's fixed sleeps (settings.py:63-65) and
    tenacity retries (refitd_tagger.py:1287,1376-1411) with a token
    bucket local to each executor partition: N executors → N independent
    buckets, so the aggregate request rate scales with the fleet and is
    still bounded per worker. Injectable clock/sleep keep it testable.
    """

    def __init__(
        self,
        inner: Sensor,
        max_batches_per_sec: float = 5.0,
        max_retries: int = 2,
        backoff_base_s: float = 1.0,
        clock=None,
        sleep=None,
    ):
        import time as _time

        self.inner = inner
        self.rate = max_batches_per_sec
        self.max_retries = max_retries
        self.backoff_base_s = backoff_base_s
        self._clock = clock or _time.monotonic
        self._sleep = sleep or _time.sleep
        self._next_allowed = 0.0
        self.calls = 0
        self.retries = 0

    def _throttle(self) -> None:
        now = self._clock()
        if now < self._next_allowed:
            self._sleep(self._next_allowed - now)
        self._next_allowed = max(now, self._next_allowed) + 1.0 / self.rate

    def tag_batch(self, batch: pd.DataFrame) -> list[dict]:
        last_err: Exception | None = None
        for attempt in range(self.max_retries + 1):
            self._throttle()
            self.calls += 1
            try:
                return self.inner.tag_batch(batch)
            except Exception as e:  # bounded retry with exponential backoff
                last_err = e
                if attempt < self.max_retries:
                    self.retries += 1
                    self._sleep(self.backoff_base_s * (2**attempt))
        raise last_err  # type: ignore[misc]


# ---------------------------------------------------------------------------
# Raw-text sensor tier (T9 integration): the production LLM returns messy
# text, not typed structs — reference flow is respond → parse_ai_response
# → policy (refitd_tagger.py:1280-1504 → 1144-1272). The raw tier wraps
# any Sensor, serializes its output into an LLM-style blob, and the
# pipeline re-enters through operators.response_parse.
# ---------------------------------------------------------------------------


class RawTextSensor(Protocol):
    """X1/T9: returns one raw LLM-style response string per row."""

    def respond_batch(self, batch: pd.DataFrame) -> list[str]: ...


class MockRawTextSensor:
    """Serializes MockTagSensor output into a fenced-markdown blob with
    prose around it — deterministic, and deliberately messy so the parse
    stage's span extraction is exercised end-to-end."""

    def __init__(self, inner: Sensor | None = None) -> None:
        self.inner = inner or MockTagSensor()

    def respond_batch(self, batch: pd.DataFrame) -> list[str]:
        import json

        outs = []
        for tags in self.inner.tag_batch(batch):
            blob = json.dumps({k: v for k, v in tags.items() if v is not None})
            outs.append(
                "Here are the tags you requested!\n```json\n"
                + blob
                + "\n```\nLet me know if you need anything else."
            )
        return outs


def tag_representatives_raw(
    products: DataFrame, sensor: RawTextSensor | None = None
) -> DataFrame:
    """The raw-text twin of `tag_representatives`: representative
    selection and fan-out are the same code, but the sensor emits messy
    response text and `parse_sensor_response` (T9) recovers the typed
    struct — the exact production shape for a real LLM backend."""
    from .response_parse import parse_sensor_response

    sensor = sensor or MockRawTextSensor()
    result_schema = T.StructType(
        [
            T.StructField("group_id", T.StringType()),
            T.StructField("category", T.StringType()),
            T.StructField("raw_response", T.StringType()),
        ]
    )

    def run_sensor(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            responses = sensor.respond_batch(pdf)
            yield pd.DataFrame(
                {
                    "group_id": pdf["group_id"].values,
                    "category": pdf["category"].values,
                    "raw_response": responses,
                }
            )

    def sense(reps: DataFrame) -> DataFrame:
        responded = reps.mapInPandas(run_sensor, schema=result_schema)
        return parse_sensor_response(responded).select("group_id", "tags_ai_raw")

    return _tag_via_representatives(products, sense)
