"""MovieLens parity: the reference's own core correctness check, on its
own data.

The reference validates CollectiveALS by fitting MovieLens
``ml-latest-small`` (100,004 ratings) two ways and comparing RMSE/MAE:

- stock MLlib ALS baseline — reference ``MovieLensALS.scala:8-46``
  (maxIter=20, regParam=0.01, chronological 99/1 split);
- 3-entity collective fit (userId, movieId, genreId) over relations
  (userId,movieId)=ratings and (movieId,genreId)=genre membership —
  reference ``MovieLensCollectiveALS.scala:9-51``; comparable metrics
  mean the multi-entity extension didn't break the factorization.

This module reproduces both runs Spark-first: explicit-schema CSV scans
(S1/S2, ``MovieLens.scala:25-41``), the exact chronological split (W1,
``Utils.scala:11-36``), genre explode + dense dictionary coding
(A8/F1, ``MovieLensCollectiveALS.scala:16-25``), stock
``pyspark.ml.recommendation.ALS`` vs this package's ``CollectiveALS``,
and the same NaN-pair filter + RegressionMetrics aggregates
(P5/A10, ``MovieLensALS.scala:39-45``).

Comparison semantics: each reference app reports metrics over its OWN
finite prediction pairs. The collective model scores MORE test pairs
than the baseline — movies absent from ratings-train still get factors
from the genre relation (the point of CMF) — and those genre-only
predictions are intrinsically coarser. So this module reports both
views per model: metrics over the model's own finite pairs (what the
reference apps print) and metrics restricted to the pairs BOTH models
score (the apples-to-apples factorization-quality comparison).

The dataset lives in the read-only reference checkout; loading it as
input is fine (nothing is written there). Where it is absent,
:func:`planted_movielens` generates seeded inputs of the same shape
from planted user, movie and genre factors, and :func:`collective_parity`
runs the same comparison on them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from collective_als_spark.operators.dictionary import dense_codes
from collective_als_spark.operators.split import split_chronologically
from collective_als_spark.sources.files import load_dataset

ML_LATEST_SMALL = "/root/reference/src/test/resources/ml-latest-small"

# explicit schemas — the reference's case classes (MovieLens.scala:12-15)
ML_SCHEMAS = {
    "ratings": "userId int, movieId int, rating float, timestamp long",
    "movies": "movieId int, title string, genres string",
    "links": "movieId int, imdbId string, tmdbId string",
    "tags": "userId int, movieId int, tag string, timestamp long",
}


def load_movielens(spark: SparkSession, base: str = ML_LATEST_SMALL) -> dict[str, DataFrame]:
    """S2: the 4-table MovieLens loader (``MovieLens.scala:32-41``)."""
    return load_dataset(spark, base, ML_SCHEMAS, fmt="csv", header=True)


def genre_relation(movies: DataFrame) -> DataFrame:
    """(movieId, genreId, rating=1.0f): genre membership as a rating
    relation — explode ``genres.split('|')`` and code each genre with a
    dense id in sorted order, exactly the reference's driver-side
    dictionary (``MovieLensCollectiveALS.scala:16-25``) but built as a
    broadcast-joined dictionary frame instead of a collected map."""
    exploded = movies.select(
        "movieId", F.explode(F.split("genres", "\\|")).alias("genre")
    )
    codes = dense_codes(exploded, "genre", "genreId")
    return (
        exploded.join(F.broadcast(codes), "genre")
        .select("movieId", "genreId", F.lit(1.0).cast("float").alias("rating"))
    )


def planted_movielens(spark: SparkSession) -> dict[str, DataFrame]:
    """Seeded MovieLens-shaped inputs from planted user, movie and genre
    factors, for hosts without ``ml-latest-small``.

    ``ratings`` (userId, movieId, rating, timestamp): 300 users rate 60
    of 200 movies each, drawn with Zipf-like popularity, at
    3 + u·v/sqrt(rank) + noise. 60 lies inside MovieLens's range:
    ml-latest-small has 100,004 ratings from 671 users, about 149 each,
    and every user rated at least 20. Ratings fall at uniform times over
    a year, except that 10 movies are released in its last 5%, so, as in
    MovieLens's chronological tail, a late holdout holds movies that no
    training rating covers. ``genres`` (movieId, genreId, rating=1.0):
    each movie belongs to the 1-3 genres whose planted factors align
    best with its own, so the side relation carries signal about the
    movie factors, as genres do in MovieLens.
    """
    n_users, n_movies, n_genres, per_user, n_new = 300, 200, 12, 60, 10
    rank, noise, year = 4, 0.3, 365 * 86400
    rng = np.random.default_rng(0)
    U = rng.normal(size=(n_users, rank))
    V = rng.normal(size=(n_movies, rank))
    G = rng.normal(size=(n_genres, rank))
    pop = 1.0 / np.arange(1, n_movies + 1) ** 0.8
    pop /= pop.sum()
    users = np.repeat(np.arange(n_users), per_user)
    movies = np.concatenate(
        [rng.choice(n_movies, size=per_user, replace=False, p=pop) for _ in range(n_users)]
    )
    rating = 3.0 + np.einsum("ij,ij->i", U[users], V[movies]) / np.sqrt(rank)
    rating += rng.normal(scale=noise, size=len(users))
    release = np.zeros(n_movies, dtype=np.int64)
    release[rng.choice(n_movies, size=n_new, replace=False)] = year - year // 20
    ts = release[movies] + (rng.random(len(users)) * (year - release[movies])).astype(np.int64)
    ratings = pd.DataFrame({
        "userId": users.astype(np.int32),
        "movieId": movies.astype(np.int32),
        "rating": rating.astype(np.float32),
        "timestamp": ts,
    })
    k = rng.integers(1, 4, size=n_movies)
    best = np.argsort(-(V @ G.T), axis=1)
    mg = [(m, int(g)) for m in range(n_movies) for g in best[m, : k[m]]]
    genres = pd.DataFrame({
        "movieId": np.array([m for m, _ in mg], dtype=np.int32),
        "genreId": np.array([g for _, g in mg], dtype=np.int32),
        "rating": np.ones(len(mg), dtype=np.float32),
    })
    return {
        "ratings": spark.createDataFrame(ratings, ML_SCHEMAS["ratings"]),
        "genres": spark.createDataFrame(genres, "movieId int, genreId int, rating float"),
    }


def movielens_parity(
    spark: SparkSession,
    base: str = ML_LATEST_SMALL,
    **kwargs,
) -> DataFrame:
    """:func:`collective_parity` on ``ml-latest-small`` at ``base``, with
    the genre relation from its movies table."""
    data = load_movielens(spark, base)
    return collective_parity(spark, data["ratings"], genre_relation(data["movies"]), **kwargs)


def collective_parity(
    spark: SparkSession,
    ratings: DataFrame,
    genres: DataFrame,
    rank: int = 10,
    max_iter: int = 20,
    reg_param: float = 0.01,
    seed: int = 42,
    num_blocks: int = 8,
    holdout: float = 0.01,
) -> DataFrame:
    """Run both reference apps end-to-end on ``ratings`` (userId,
    movieId, rating, timestamp) and ``genres`` (movieId, genreId,
    rating); one row per model with
    (model, rmse, mae, n_pairs, rmse_common, mae_common, n_common).

    ``rmse``/``mae``/``n_pairs`` are over the model's own finite pairs
    (what the reference apps print); ``*_common`` restrict to pairs both
    models score — the factorization-parity number the reference's
    "comparable RMSE/MAE" claim is about.

    Defaults are the reference's hyperparameters: rank 10 (ALS default,
    ``CollectiveALS.scala:27``), maxIter=20 + regParam=0.01
    (``MovieLensALS.scala:16-17``), chronological 99/1 split
    (``MovieLensALS.scala:13``; ``holdout`` is the test share).
    """
    from pyspark.ml.recommendation import ALS

    from collective_als_spark.cmf import CollectiveALS

    # 20 iterations needs lineage truncation: MLlib ALS checkpoints every
    # checkpointInterval=10 iterations ONLY when a checkpoint dir is set
    # (otherwise the deep iteration lineage StackOverflows at
    # deserialization) — same requirement as the reference's production
    # jobs (IHRCollectiveALS.scala:53-58 sets checkpointInterval=3)
    if spark.sparkContext.getCheckpointDir() is None:
        spark.sparkContext.setCheckpointDir("/tmp/spark-checkpoints-movielens")

    train, test = split_chronologically(
        ratings, [1 - holdout, holdout], "timestamp", tie_break=["userId", "movieId"]
    )

    # --- baseline: stock ALS (MovieLensALS.scala:15-27)
    als = (
        ALS(rank=rank, maxIter=max_iter, regParam=reg_param, seed=seed)
        .setUserCol("userId")
        .setItemCol("movieId")
        .setRatingCol("rating")
    )
    base_pred = als.fit(train).transform(test).select(
        "userId", "movieId", "rating", F.col("prediction").alias("p_base")
    )

    # --- collective: 3-entity CMF (MovieLensCollectiveALS.scala:28-35)
    cals = CollectiveALS(
        "userId",
        "movieId",
        "genreId",
        rank=rank,
        max_iter=max_iter,
        reg_param=reg_param,
        seed=seed,
        num_blocks=num_blocks,
    )
    model = cals.fit(
        {("userId", "movieId"): train,
         ("movieId", "genreId"): genres}
    )
    coll_pred = model.predict(test, "userId", "movieId").select(
        "userId", "movieId", F.col("prediction").alias("p_coll")
    )

    # full outer on the test pairs: per-model own-pairs metrics and
    # both-finite common-pairs metrics from ONE joined frame
    j = base_pred.join(coll_pred, ["userId", "movieId"], "full_outer").select(
        "rating",
        F.when(~F.isnan("p_base"), F.col("p_base")).alias("p_base"),
        F.when(~F.isnan("p_coll"), F.col("p_coll")).alias("p_coll"),
    ).localCheckpoint()  # both rows read it; evaluate the two fits once

    def metrics(pred_col: str, name: str) -> DataFrame:
        own = F.col(pred_col).isNotNull()
        common = F.col("p_base").isNotNull() & F.col("p_coll").isNotNull()
        err = F.col(pred_col) - F.col("rating")
        return j.agg(
            F.lit(name).alias("model"),
            F.round(F.sqrt(F.avg(F.when(own, err * err))), 6).alias("rmse"),
            F.round(F.avg(F.when(own, F.abs(err))), 6).alias("mae"),
            F.sum(own.cast("long")).alias("n_pairs"),
            F.round(F.sqrt(F.avg(F.when(common, err * err))), 6).alias("rmse_common"),
            F.round(F.avg(F.when(common, F.abs(err))), 6).alias("mae_common"),
            F.sum(common.cast("long")).alias("n_common"),
        )

    return metrics("p_base", "als_baseline").unionByName(
        metrics("p_coll", "collective_3entity")
    )
