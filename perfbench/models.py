"""Counting stand-ins for the external models.

They subclass the library's deterministic mocks, so tags and embeddings
are exactly what ``run_pipeline`` produces by default, and add Spark
accumulators for the rows each model sees and the seconds it is busy.
Both are pickled into the Python workers, so this module must stay
importable there (the benchmark puts the repository root on
``PYTHONPATH``).
"""

from __future__ import annotations

import time

import pandas as pd

from refitd_etl_spark.operators.sensor import MockEmbedder, MockTagSensor


class CountingSensor(MockTagSensor):
    def __init__(self, sc):
        self.rows = sc.accumulator(0)
        self.busy_s = sc.accumulator(0.0)

    def tag_batch(self, batch: pd.DataFrame) -> list[dict]:
        t0 = time.perf_counter()
        out = super().tag_batch(batch)
        self.busy_s.add(time.perf_counter() - t0)
        self.rows.add(len(batch))
        return out


class CountingEmbedder(MockEmbedder):
    def __init__(self, sc):
        self.rows = sc.accumulator(0)
        self.busy_s = sc.accumulator(0.0)

    def embed_batch(self, texts: pd.Series) -> list[list[float]]:
        t0 = time.perf_counter()
        out = super().embed_batch(texts)
        self.busy_s.add(time.perf_counter() - t0)
        self.rows.add(len(texts))
        return out


def model_counts(sensor: CountingSensor, embedder: CountingEmbedder) -> dict[str, float]:
    """Current accumulator totals; take differences around an op."""
    return {
        "sensor_rows": sensor.rows.value,
        "sensor_busy_s": sensor.busy_s.value,
        "embed_rows": embedder.rows.value,
        "embed_busy_s": embedder.busy_s.value,
    }
