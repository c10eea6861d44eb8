"""The PQ index-store contract (`plans/similarity._pq_store`): a store
is built once per (spec, input fingerprint) and served many times; a
rewritten embeddings table is never served from an index built over
its old contents; and each trained level is trained once per input,
by the one Lloyd loop, and shared by every trained store, both drift
audits and the full-corpus readers, which read it without building a
store or starting a job."""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest

from refitd_etl_spark.plans import ALL_QUERIES
from refitd_etl_spark.plans import similarity as sim

from .oracle_compare import compare
from .spark_counters import jobs_started

SERVING = (
    "pq_codes_serving",
    "ivf_pq_codes_serving",
    "pq_codes_append_serving",
    "pq_trained_codes_serving",
    "ivf_pq_codes_append_serving",
    "ivf_pq_trained_store_serving",
)
AUDITS = ("pq_codebook_drift_audit", "coarse_centroid_drift_audit")
# full-corpus consumers that read a trained artifact instead of training
READERS = ("embedding_kmeans_clusters", "ivf_kmeans_topk", "pq_trained_profile")


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
    """All six stores, both drift audits and the full-corpus artifact
    readers over one input run the coarse trainer and the sub-codebook
    trainer exactly once each; `pq_sample_train_profile` reads the
    full arm's codebook too, so its sample arm is the only extra run."""
    calls = {"_km_train": 0, "_pq_train_cb": 0}

    def counting(fn_name):
        fn = getattr(sim, fn_name)

        def wrapper(*args, **kwargs):
            calls[fn_name] += 1
            return fn(*args, **kwargs)

        return wrapper

    for fn_name in calls:
        monkeypatch.setattr(sim, fn_name, counting(fn_name))
    for name in SERVING + AUDITS + READERS:
        assert ALL_QUERIES[name].fn(spark, emb_copy).collect()
    assert calls == {"_km_train": 1, "_pq_train_cb": 1}
    assert ALL_QUERIES["pq_sample_train_profile"].fn(spark, emb_copy).collect()
    assert calls == {"_km_train": 1, "_pq_train_cb": 2}


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


@pytest.mark.parametrize("name", READERS)
def test_artifact_reader_build_starts_no_job(spark, sf_dir, name):
    """A warm build of a full-corpus reader starts no Spark job: the
    trained artifact is memoized per input and read with the schema it
    was written with (no training, no schema inference)."""
    raw = ALL_QUERIES[name].raw
    raw(spark, sf_dir)  # trains or memoizes the artifact
    with jobs_started(spark) as jobs:
        raw(spark, sf_dir)
    assert jobs == []


def test_sample_profile_build_trains_one_chain(spark, sf_dir):
    """A warm `pq_sample_train_profile` build starts no more jobs than
    the one training chain it still runs, its sample arm."""
    from refitd_etl_spark.sources.registry import table

    raw = ALL_QUERIES["pq_sample_train_profile"].raw
    raw(spark, sf_dir)
    with jobs_started(spark) as chain:
        sim._pq_train_cb(sim._pq_sample(table(spark, sf_dir, "embeddings")))
    with jobs_started(spark) as jobs:
        raw(spark, sf_dir)
    assert chain and len(jobs) <= len(chain), (jobs, chain)


def _lloyd_fixture(spark):
    """64-dim vectors in three clusters around seeds 0, 1 and 2 (a, b
    and c); seed 3 is a copy of seed 0, so under either metric it ties
    with cid 0 on every vector and loses the tie: cid 3 attracts no
    vector in any round."""
    a, b, c = [1.0] * 64, [-1.0] * 64, [1.0, -1.0] * 32
    rows = [
        (0, a), (1, b), (2, c), (3, a),
        (10, [-0.9] * 64), (11, [1.1, -0.9] * 32),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_coarse_binding_drops_an_empty_cluster(spark):
    """The coarse oracle's rule: a cluster that receives no vector is
    dropped from the next round's centroids."""
    cent = sim._km_train(_lloyd_fixture(spark)).collect()
    assert sorted(r.cid for r in cent) == [0, 1, 2]


def test_pq_binding_keeps_an_empty_cells_centroid(spark):
    """The PQ oracle's rule: a (subspace, cid) cell that receives no
    vector keeps its previous centroid, here its seed, while the
    others move to their members' means."""
    cb = sim._pq_train_cb(_lloyd_fixture(spark)).collect()
    by_cell = {(r.m, r.cid): r.c_sub for r in cb}
    assert sorted(by_cell) == [(m, k) for m in range(sim.PQ_M) for k in range(sim.PQ_K)]
    for m in range(sim.PQ_M):
        assert by_cell[(m, 3)] == [1.0] * sim.PQ_SUB
        assert by_cell[(m, 1)] == [-0.95] * sim.PQ_SUB  # mean of b and -0.9
