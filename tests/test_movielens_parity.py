"""The reference's core correctness check, reproduced on its own data:
3-entity collective fit vs stock ALS on MovieLens ml-latest-small
(reference MovieLensALS.scala:8-46, MovieLensCollectiveALS.scala:9-51).
"""

import os

import pytest

ML = "/root/reference/src/test/resources/ml-latest-small"


@pytest.mark.skipif(not os.path.isdir(ML), reason="ml-latest-small not present")
def test_movielens_collective_parity_with_stock_als(spark):
    from collective_als_spark.movielens import movielens_parity

    rows = {r.model: r for r in movielens_parity(spark).collect()}
    base, coll = rows["als_baseline"], rows["collective_3entity"]
    print(
        f"\nALS baseline:        RMSE={base.rmse} MAE={base.mae} n={base.n_pairs}"
        f"\ncollective 3-entity: RMSE={coll.rmse} MAE={coll.mae} n={coll.n_pairs}"
        f"\ncommon {base.n_common} pairs:  RMSE {base.rmse_common} vs {coll.rmse_common}"
        f" | MAE {base.mae_common} vs {coll.mae_common}"
    )
    # dataset sanity: ~1% chronological holdout of 100,004 ratings;
    # the chronological tail is cold-heavy, so stock ALS scores roughly
    # half the ~1000 held-out pairs (the rest are NaN cold starts)
    assert 400 <= base.n_pairs <= 800
    assert base.n_common == coll.n_common
    # the collective model must score MORE pairs: the genre relation
    # gives factors to movies unseen in ratings-train (CMF's point)
    assert coll.n_pairs > base.n_pairs
    # the reference's acceptance: collective RMSE/MAE comparable to the
    # stock-ALS baseline on the same pairs (within 5%)
    assert coll.rmse_common <= base.rmse_common * 1.05, (
        coll.rmse_common,
        base.rmse_common,
    )
    assert coll.mae_common <= base.mae_common * 1.10, (coll.mae_common, base.mae_common)
    # both models are real fits, not degenerate output
    assert 0.5 < base.rmse_common < 2.0
    assert 0.5 < coll.rmse_common < 2.0


def _planted_parity(spark, ratings, genres):
    from collective_als_spark.movielens import collective_parity

    rows = {
        r.model: r
        for r in collective_parity(spark, ratings, genres, max_iter=10, holdout=0.1).collect()
    }
    return rows["als_baseline"], rows["collective_3entity"]


def test_planted_collective_parity_with_stock_als(spark):
    """The same comparison on seeded MovieLens-shaped data (planted
    user/movie/genre factors, 60 ratings per user), so it runs on every
    host, with the same checks as the real-data test."""
    from collective_als_spark.movielens import planted_movielens

    data = planted_movielens(spark)
    base, coll = _planted_parity(spark, data["ratings"], data["genres"])
    assert base.n_common == coll.n_common == base.n_pairs > 0
    # the late-released movies have no training rating: only the genre
    # relation gives them factors
    assert coll.n_pairs > base.n_pairs
    assert coll.rmse_common <= base.rmse_common * 1.05, (coll.rmse_common, base.rmse_common)
    assert coll.mae_common <= base.mae_common * 1.10, (coll.mae_common, base.mae_common)
    # both fits recover the planted structure: noise sd is 0.3 and the
    # signal sd about 1, so a real fit lands well under the signal
    assert 0.2 < base.rmse_common < 0.9 and 0.2 < coll.rmse_common < 0.9


def test_planted_sparse_gap_to_stock_als(spark):
    """Known gap (ROADMAP item 2): at 25 ratings per user, near
    MovieLens's minimum of 20, and the reference's reg 0.01, the
    collective fit trails stock ALS on the common pairs; the two fits
    start from different inits, and the ROADMAP item tracks the cause.
    These are the measured numbers: a change to the init or the solve
    that moves them updates this test and the ROADMAP."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from collective_als_spark.movielens import planted_movielens

    data = planted_movielens(spark)
    # each user's 25 ratings with the smallest hash: a seeded subsample
    w = Window.partitionBy("userId").orderBy(F.xxhash64("userId", "movieId"))
    sparse = (
        data["ratings"].withColumn("n", F.row_number().over(w)).filter("n <= 25").drop("n")
    )
    base, coll = _planted_parity(spark, sparse, data["genres"])
    assert base.n_common == coll.n_common == 458
    assert base.rmse_common == pytest.approx(0.6004, abs=0.01)
    assert coll.rmse_common == pytest.approx(0.6856, abs=0.01)
    assert coll.rmse_common > base.rmse_common * 1.05
