"""Value-identity pins for the r15 broadcast array-fold argmax/argmin
rewrite (`_km_assign`, `_pq_sub_assign`, `coarse_centroid_drift_audit`).

The rewrite's correctness rests on ONE Catalyst fact: `array_max` /
`array_min` over struct elements, the `max` / `min` aggregate over
struct rows, and `row_number() OVER (ORDER BY ...)` all use the SAME
total order — lexicographic over struct fields, doubles ordered with
NaN largest (and -0.0 == 0.0). These tests pin that fact on crafted
NaN / tie / negative-zero fixtures so a Spark upgrade that diverged
any of the three would fail loudly here, not as a silent oracle
mismatch at sf0.1.

Shapes mirrored 1:1 from production:
- `_km_assign`:  argmax cosine, ties on smallest cid
    window:    row_number OVER (PARTITION BY vec_id ORDER BY c DESC, cid)
    aggregate: max(struct(c, -cid))
    fold:      array_max(transform(cents, struct(c, -cid)))
- `_pq_sub_assign`: argmin d2, ties on smallest cid
    window:    row_number ... ORDER BY d2, cid
    aggregate: min(struct(d2, cid))
    fold:      array_min(transform(cents, struct(d2, cid)))
- coarse gate: best cosine only (no winner id)
    aggregate: max(c)   vs   fold: array_max(values)
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

NAN = float("nan")

# (vec_id, cid, c) — c plays cosine for argmax and d2 for argmin.
# Crafted classes: plain winner, exact tie (two cids share the extreme
# value), NaN present (NaN sorts LARGEST: argmax winner, argmin loser),
# two NaNs (tie broken on cid), all-NaN, negative values, -0.0 vs 0.0
# (equal under Spark comparisons → tie broken on cid).
FIXTURE = [
    (1, 1, 0.30), (1, 2, 0.90), (1, 3, 0.50),          # plain
    (2, 2, 0.50), (2, 1, 0.50), (2, 3, 0.10),          # tie at 0.50
    (3, 5, NAN), (3, 1, 0.90), (3, 2, 0.99),           # one NaN
    (4, 5, NAN), (4, 4, NAN), (4, 1, 0.10),            # two NaNs
    (5, 2, NAN), (5, 1, NAN),                          # all NaN
    (6, 1, -0.70), (6, 2, -0.20), (6, 3, -0.90),       # negatives
    (7, 2, -0.0), (7, 1, 0.0), (7, 3, -1.0),           # -0.0 == 0.0 tie
]


def _fixture_df(spark):
    return spark.createDataFrame(FIXTURE, "vec_id long, cid long, c double")


def _rows(df):
    return sorted(
        ((r.vec_id, r.cid, str(r.c)) for r in df.collect()),
        key=lambda t: t[0],
    )


def _best_rows(df):
    return sorted(((r.vec_id, str(r.c)) for r in df.collect()))


def test_argmax_fold_aggregate_and_window_agree(spark):
    rows = _fixture_df(spark)

    w = Window.partitionBy("vec_id").orderBy(F.col("c").desc(), F.col("cid"))
    windowed = (
        rows.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "cid", "c")
    )

    agg = (
        rows.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(F.col("c").alias("c"), (-F.col("cid")).alias("nc"))
            ).alias("b")
        )
        .select("vec_id", (-F.col("b.nc")).alias("cid"), F.col("b.c").alias("c"))
    )

    fold = (
        rows.groupBy("vec_id")
        .agg(F.collect_list(F.struct("cid", "c")).alias("cents"))
        .select(
            "vec_id",
            F.array_max(
                F.transform(
                    F.col("cents"),
                    lambda e: F.struct(
                        e["c"].alias("c"), (-e["cid"]).alias("nc")
                    ),
                )
            ).alias("b"),
        )
        .select("vec_id", (-F.col("b.nc")).alias("cid"), F.col("b.c").alias("c"))
    )

    rw, ra, rf = _rows(windowed), _rows(agg), _rows(fold)
    assert rw == ra, f"window vs aggregate diverged:\n{rw}\n{ra}"
    assert rw == rf, f"window vs array fold diverged:\n{rw}\n{rf}"
    # NaN-largest + smallest-cid tiebreak spot checks (vec 2/3/4)
    by_vec = {v: (c, cs) for v, c, cs in rw}
    assert by_vec[2][0] == 1
    assert by_vec[3] == (5, "nan")
    assert by_vec[4] == (4, "nan")
    assert by_vec[7][0] == 1


def test_argmin_fold_aggregate_and_window_agree(spark):
    rows = _fixture_df(spark)

    w = Window.partitionBy("vec_id").orderBy(F.col("c"), F.col("cid"))
    windowed = (
        rows.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "cid", "c")
    )

    agg = (
        rows.groupBy("vec_id")
        .agg(F.min(F.struct(F.col("c").alias("c"), F.col("cid"))).alias("b"))
        .select("vec_id", F.col("b.cid").alias("cid"), F.col("b.c").alias("c"))
    )

    fold = (
        rows.groupBy("vec_id")
        .agg(F.collect_list(F.struct("cid", "c")).alias("cents"))
        .select(
            "vec_id",
            F.array_min(
                F.transform(
                    F.col("cents"),
                    lambda e: F.struct(e["c"].alias("c"), e["cid"].alias("cid")),
                )
            ).alias("b"),
        )
        .select("vec_id", F.col("b.cid").alias("cid"), F.col("b.c").alias("c"))
    )

    rw, ra, rf = _rows(windowed), _rows(agg), _rows(fold)
    assert rw == ra, f"window vs aggregate diverged:\n{rw}\n{ra}"
    assert rw == rf, f"window vs array fold diverged:\n{rw}\n{rf}"
    # NaN sorts LARGEST so it never wins an argmin unless all-NaN (vec 5)
    by_vec = {v: (c, cs) for v, c, cs in rw}
    assert by_vec[3][1] != "nan"
    assert by_vec[4] == (1, "0.1")
    assert by_vec[5] == (1, "nan")


def test_plain_double_fold_matches_max_aggregate(spark):
    """The coarse-gate shape: best cosine only (array_max over a plain
    double fold vs the retired groupBy max)."""
    rows = _fixture_df(spark)
    agg = rows.groupBy("vec_id").agg(F.max("c").alias("c"))
    fold = (
        rows.groupBy("vec_id")
        .agg(F.collect_list("c").alias("cs"))
        .select("vec_id", F.array_max(F.col("cs")).alias("c"))
    )
    assert _best_rows(agg) == _best_rows(fold)


def test_km_assign_preconditions(spark):
    """ADVICE r15: the fold's value-identity vs the retired
    groupBy/window shapes rests on two preconditions — pin the
    behavior at each boundary so a future caller trips a test, not a
    silent semantic change.

    1. EMPTY centroid set: collect_list still yields one row with an
       empty array, where the fold would emit one row per corpus
       vector with NULL cid (array_max of empty = NULL) and the old
       shapes emitted zero rows. The broadcast row raises the named
       EMPTY_CENTROID_SET error instead.
    2. DUPLICATE vec_id: the fold is a pure map — duplicates pass
       through one row each where the old groupBy collapsed them.
    """
    import pytest

    from refitd_etl_spark.plans.similarity import EMPTY_CENTROID_SET, _km_assign

    e = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    cent_schema = "cid long, c_emb array<double>"

    # 1. empty centroids → the named error, never NULL-cid rows
    empty_cent = spark.createDataFrame([], cent_schema)
    with pytest.raises(Exception) as err:
        _km_assign(e, empty_cent).collect()
    assert EMPTY_CENTROID_SET in str(err.value), err.value

    # 2. duplicate vec_id → one output row PER input row (no collapse)
    dup = spark.createDataFrame(
        [(1, [1.0, 0.0]), (1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    cent = spark.createDataFrame([(0, [1.0, 0.0])], cent_schema)
    assert len(_km_assign(dup, cent).collect()) == 2

    # in-repo callers satisfy both: non-empty centroids, unique vec_id
    out = sorted(_km_assign(e, cent).collect())
    assert [(r.vec_id, r.cid) for r in out] == [(1, 0), (2, 0)]
