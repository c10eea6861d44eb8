"""The PQ index-store contract (`plans/similarity._pq_store`): a store
is built once per (spec, input fingerprint) and served many times; a
rewritten embeddings table is never served from an index built over
its old contents; and each trained level is trained once per input
and shared by every trained store and both drift audits, which read
it without building a store."""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest

from refitd_etl_spark.plans import ALL_QUERIES
from refitd_etl_spark.plans import similarity as sim

from .oracle_compare import compare

SERVING = (
    "pq_codes_serving",
    "ivf_pq_codes_serving",
    "pq_codes_append_serving",
    "pq_trained_codes_serving",
    "ivf_pq_codes_append_serving",
    "ivf_pq_trained_store_serving",
)
AUDITS = ("pq_codebook_drift_audit", "coarse_centroid_drift_audit")


@pytest.fixture
def emb_copy(sf_dir, tmp_path):
    """A private copy of the embeddings table: a fingerprint no other
    test has built a store for."""
    shutil.copyfile(f"{sf_dir}/embeddings.parquet", tmp_path / "embeddings.parquet")
    return str(tmp_path)


def _oracle_compare(spark, d, name):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{d}/embeddings.parquet')")
    try:
        df = ALL_QUERIES[name].fn(spark, d)
        compare(df, con, ALL_QUERIES[name].oracle, name)
        return [tuple(r) for r in df.collect()]
    finally:
        con.close()


def test_rewritten_input_is_not_served_a_stale_index(spark, emb_copy):
    """Serve the trained store, rewrite `embeddings.parquet` in place
    as a filtered subset, serve again: the second answer must be the
    oracle's on the NEW file, which means the store was rebuilt."""
    import pyarrow.parquet as pq

    name = "pq_trained_codes_serving"
    before = _oracle_compare(spark, emb_copy, name)

    path = os.path.join(emb_copy, "embeddings.parquet")
    t = pq.read_table(path)
    # keep every seed row (vec_id < 8) and drop a third of the rest
    keep = [i for i, v in enumerate(t["vec_id"].to_pylist()) if v < 8 or v % 3 != 1]
    pq.write_table(t.take(keep), path + ".tmp")
    os.replace(path + ".tmp", path)

    after = _oracle_compare(spark, emb_copy, name)
    assert after != before  # the rewrite changes the answer


def test_trained_levels_train_once_per_input(spark, emb_copy, monkeypatch):
    """All six stores and both drift audits over one input run the
    coarse trainer and the sub-codebook trainer exactly once each."""
    calls = {"_km_train": 0, "_pq_train_cb": 0}

    def counting(fn_name):
        fn = getattr(sim, fn_name)

        def wrapper(*args, **kwargs):
            calls[fn_name] += 1
            return fn(*args, **kwargs)

        return wrapper

    for fn_name in calls:
        monkeypatch.setattr(sim, fn_name, counting(fn_name))
    for name in SERVING + AUDITS:
        assert ALL_QUERIES[name].fn(spark, emb_copy).collect()
    assert calls == {"_km_train": 1, "_pq_train_cb": 1}


def test_drift_audits_build_no_code_store(spark, emb_copy):
    """Both drift audits read their trained artifact directly: on a
    fresh input they leave the two trained artifacts in the memo and
    no code store."""
    fp = sim._input_fingerprint(emb_copy)
    for name in AUDITS:
        assert ALL_QUERIES[name].fn(spark, emb_copy).collect()
    built = [k[0] for k in sim._PQ_BUILT if k[1] == fp]
    assert not [k for k in built if isinstance(k, sim.PQStoreSpec)], built
    assert sorted(built) == ["centroids", "codebook"]
