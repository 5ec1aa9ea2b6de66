"""Model-lifecycle queries: chronological split, CMF fit/predict,
regression + ranking evaluation (SURVEY §2.4 A10/A11, §2.5 W1, §2.10).

CMF fits are not SQL-expressible → rows-only checks (no oracle).
Split sizes and ranking metrics ARE SQL-expressible → full oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from collective_als_spark.operators.evaluation import ranking_metrics, regression_metrics
from collective_als_spark.operators.split import split_chronologically
from collective_als_spark.registry import register
from collective_als_spark.sources import load_table


@register(
    "chrono_split_sizes",
    oracle="""
    WITH ranked AS (
        SELECT row_number() OVER (ORDER BY ts, event_id) - 1 AS rk,
               count(*) OVER () AS n
        FROM events
    )
    SELECT CAST(CASE WHEN rk < 0.9 * n THEN 0 ELSE 1 END AS INTEGER) AS slice,
           count(*) AS n_rows
    FROM ranked
    GROUP BY 1
    ORDER BY 1
    """,
)
def chrono_split_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 end-to-end: splitChronologically([0.9, 0.1]) slice sizes —
    reference Utils.scala:11-36. Float rank bounds (`rk < 0.9*n`) match
    the reference's `lower <= rank && rank < upper` comparison."""
    from collective_als_spark.operators.split import chronological_slice_labels

    ev = load_table(spark, sf_dir, "events")
    labeled = chronological_slice_labels(
        ev, [0.9, 0.1], "ts", tie_break=["event_id"]
    )
    return (
        labeled.groupBy("slice")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("slice")
    )


@register(
    "ranking_metrics_at_k",
    oracle="""
    WITH ranked AS (
        SELECT o_custkey AS user_id, o_orderkey AS item_id,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS pos
        FROM orders
    ),
    truth AS (
        SELECT DISTINCT o_custkey AS user_id, o_orderkey AS item_id
        FROM orders WHERE o_orderstatus = 'F'
    ),
    n_rel AS (
        SELECT user_id, count(*) AS n_rel FROM truth GROUP BY user_id
    ),
    hits AS (
        SELECT r.user_id, r.pos,
               CASE WHEN t.item_id IS NOT NULL THEN 1.0 ELSE 0.0 END AS hit
        FROM ranked r LEFT JOIN truth t
          ON r.user_id = t.user_id AND r.item_id = t.item_id
        WHERE r.pos <= 100
    ),
    cum AS (
        SELECT user_id, pos, hit,
               sum(hit) OVER (PARTITION BY user_id ORDER BY pos) AS cum_hits
        FROM hits
    ),
    idcg_tbl AS (
        SELECT i AS m, sum(1.0 / log2(j + 1)) AS idcg
        FROM generate_series(1, 100) s1(i)
        JOIN generate_series(1, 100) s2(j) ON j <= i
        GROUP BY i
    ),
    per_user AS (
        SELECT k.k, c.user_id,
               sum(CASE WHEN c.pos <= k.k THEN c.hit ELSE 0 END) AS hits_k,
               sum(CASE WHEN c.pos <= k.k AND c.hit > 0
                        THEN c.cum_hits / c.pos ELSE 0 END) AS ap_num,
               sum(CASE WHEN c.pos <= k.k AND c.hit > 0
                        THEN 1.0 / log2(c.pos + 1) ELSE 0 END) AS dcg
        FROM cum c CROSS JOIN (SELECT unnest([5, 10, 20, 50, 100]) AS k) k
        GROUP BY k.k, c.user_id
    ),
    scored AS (
        SELECT p.k,
               p.hits_k / p.k AS prec,
               p.hits_k / n.n_rel AS rec,
               p.dcg / i.idcg AS ndcg,
               p.ap_num / least(p.k, n.n_rel) AS ap
        FROM per_user p
        JOIN n_rel n ON p.user_id = n.user_id
        JOIN idcg_tbl i ON i.m = least(p.k, n.n_rel)
    )
    SELECT CAST(k AS INTEGER) AS k,
           round(avg(prec), 6) AS precision,
           round(avg(rec), 6) AS recall,
           round(avg(CASE WHEN prec + rec > 0
                          THEN 2 * prec * rec / (prec + rec) ELSE 0 END), 6) AS f1,
           round(avg(ndcg), 6) AS ndcg,
           round(avg(ap), 6) AS map
    FROM scored
    GROUP BY k ORDER BY k
    """,
)
def ranking_metrics_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: Precision/Recall/F1/NDCG/MAP @ {5,10,20,50,100} — native
    rebuild of the reference's SparkRankingMetrics dep at the reference
    job's full k-set (IHRALS.scala:43-57, IHRCollectiveALS.scala:63-77).
    Deterministic fixture: rank each customer's orders by totalprice,
    relevant = orders with status 'F'."""
    orders = load_table(spark, sf_dir, "orders")
    preds = orders.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderkey").alias("item_id"),
        F.col("o_totalprice").alias("score"),
    )
    truth = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("user_id"), F.col("o_orderkey").alias("item_id")
    )
    m = ranking_metrics(
        preds, truth, "user_id", "item_id", "score", ks=[5, 10, 20, 50, 100]
    )
    return m.select(
        "k",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
        F.round("ndcg", 6).alias("ndcg"),
        F.round("map", 6).alias("map"),
    )


# ------------------------------------------------------- CMF fits (rows-only)
@register("cmf_fit_predict")
def cmf_fit_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1-M5 end-to-end: implicit events->ratings, 2-entity fit, score
    the held-out chronological slice (rows-only check: not SQL)."""
    from collective_als_spark.flagship import flagship

    return flagship(spark, sf_dir, rank=8, max_iter=5)


@register("cmf_fit_3entity")
def cmf_fit_3entity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3: 3-entity collective fit — (user,event_type) strength +
    (event_type,hour-of-day) occurrence — return the hour-entity factors
    (rows-only; mirrors MovieLensCollectiveALS's genre side-relation)."""
    from collective_als_spark.cmf import CollectiveALS
    from collective_als_spark.operators.dictionary import dense_codes

    ev = load_table(spark, sf_dir, "events")
    type_dict = dense_codes(ev, "event_type", "type_code")
    coded = ev.join(F.broadcast(type_dict), "event_type")
    main = coded.groupBy("user_id", "type_code").agg(
        F.sum("value").cast("float").alias("rating")
    )
    side = coded.withColumn("hour_code", F.hour("ts")).groupBy(
        "type_code", "hour_code"
    ).agg(F.count(F.lit(1)).cast("float").alias("rating"))

    als = CollectiveALS(
        "user_id", "type_code", "hour_code",
        rank=8, max_iter=3, reg_param=0.1, seed=42, num_blocks=8,
    )
    model = als.fit({("user_id", "type_code"): main, ("type_code", "hour_code"): side})
    return model.factors_for("hour_code").select(
        "id", F.size("features").alias("rank_dim")
    )


@register("cmf_fit_implicit")
def cmf_fit_implicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5/Q6 under the driver: 2-entity fit with ``implicit_prefs=True``
    over SIGNED ratings through the NATIVE solver (``force_native``) —
    the reference's most idiosyncratic semantics
    (CollectiveALS.scala:1014-1023): confidence c1 = alpha*|rating| from
    the magnitude, preference 1 only for rating > 0, YtY added once.
    Ratings mirror the iHeartRadio thumbs recode (±, IHRALS.scala:30):
    per-(user, event-bucket) strength log1p(sum(value)), negated for odd
    buckets so negative preferences are genuinely exercised (item
    cardinality 200 >> rank keeps YtY well-conditioned). Returns the
    per-user factor norms (rows-only: iterative fit; the solver algebra
    is pinned exactly in tests/test_cmf.py)."""
    from collective_als_spark.cmf import CollectiveALS
    from collective_als_spark.functions.vector import dot

    ev = load_table(spark, sf_dir, "events")
    ratings = (
        ev.select(
            F.col("user_id").cast("int").alias("user"),
            F.pmod("event_id", F.lit(200)).cast("int").alias("item"),
            "value",
        )
        .groupBy("user", "item")
        .agg(F.log1p(F.sum("value")).cast("float").alias("_strength"))
        .withColumn(
            "rating",
            F.when(F.col("item") % 2 == 1, -F.col("_strength")).otherwise(
                F.col("_strength")
            ),
        )
        .drop("_strength")
    )
    model = CollectiveALS(
        "user",
        "item",
        rank=8,
        max_iter=3,
        reg_param=0.1,
        implicit_prefs=True,
        alpha=1.0,
        seed=42,
        num_blocks=8,
        force_native=True,
    ).fit(ratings)
    uf = model.factors_for("user")
    return uf.select(
        "id",
        F.size("features").alias("rank_dim"),
        F.sqrt(dot(F.col("features"), F.col("features"))).cast("float").alias("norm"),
    )


@register(
    "cmf_quality_gate",
    oracle="""
    SELECT TRUE AS beats_global_mean,
           TRUE AS rmse_below_3,
           TRUE AS scored_pairs_min_10
    """,
)
def cmf_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle-checkable CMF fit-quality gate (r04 verdict #6): a
    seeded, fixed-partitioning end-to-end fit whose DRIVER row asserts
    model quality as threshold BOOLEANS — DuckDB's oracle is the
    constant expected truths, so a quality regression flips the hash
    red instead of hiding behind a rows-only check.

    Pipeline: events -> log1p((user, event-type) strength) ratings
    (the reference's log-strength recode, IHRALS.scala:30) -> 90/10
    chronological split -> 5-iter rank-8 CollectiveALS (seed 42,
    num_blocks 8 — fully pinned, deterministic across runs) -> score
    the held-out slice. Gates:

    - ``beats_global_mean``: holdout RMSE under the model < RMSE of
      predicting the train global mean (the fit learned signal);
    - ``rmse_below_3``: absolute sanity band on the log scale
      (measured ~2.39-2.46 at sf0.001/sf0.01; divergence trips it);
    - ``scored_pairs_min_10``: the chrono holdout actually scored
      pairs (cold-start NaNs excluded, as model.predict defines).

    One declarative plan after the fit: the 1-row train-mean aggregate
    broadcast-crossed into the scored frame — no driver-side floats,
    so the booleans are computed where the data is."""
    from collective_als_spark.cmf import CollectiveALS
    from collective_als_spark.operators.dictionary import dense_codes
    from collective_als_spark.operators.split import split_chronologically

    events = load_table(spark, sf_dir, "events")
    type_dict = dense_codes(events, "event_type", "type_code")
    coded = events.join(F.broadcast(type_dict), "event_type")
    train_ev, test_ev = split_chronologically(
        coded, [0.9, 0.1], "ts", tie_break=["event_id"], exact=False
    )

    def to_ratings(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id", "type_code").agg(
            F.log1p(F.sum("value")).cast("float").alias("rating")
        )

    train, test = to_ratings(train_ev), to_ratings(test_ev)
    model = CollectiveALS(
        "user_id",
        "type_code",
        rank=8,
        max_iter=5,
        reg_param=0.1,
        seed=42,
        num_blocks=8,
    ).fit(train)
    scored = model.predict(test).filter(~F.isnan("prediction"))
    gmean = train.agg(F.avg("rating").alias("_gmean"))
    return (
        scored.crossJoin(F.broadcast(gmean))
        .agg(
            F.sqrt(F.avg((F.col("rating") - F.col("prediction")) ** 2)).alias("_m"),
            F.sqrt(F.avg((F.col("rating") - F.col("_gmean")) ** 2)).alias("_b"),
            F.count(F.lit(1)).alias("_n"),
        )
        .select(
            (F.col("_m") < F.col("_b")).alias("beats_global_mean"),
            (F.col("_m") < 3.0).alias("rmse_below_3"),
            (F.col("_n") >= 10).alias("scored_pairs_min_10"),
        )
    )


@register("movielens_parity_metrics")
def movielens_parity_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's core correctness check (MovieLensALS.scala:8-46 vs
    MovieLensCollectiveALS.scala:9-51): stock-ALS baseline vs 3-entity
    collective fit, RMSE/MAE per model plus common-pair metrics, on
    seeded MovieLens-shaped data with planted user/movie/genre factors
    (``movielens.planted_movielens``; ignores ``sf_dir``). Rows-only
    (two iterative fits); tests/test_movielens_parity.py asserts the
    parity, and runs the real ml-latest-small where it is present."""
    from collective_als_spark.movielens import collective_parity, planted_movielens

    data = planted_movielens(spark)
    return collective_parity(
        spark, data["ratings"], data["genres"], max_iter=10, holdout=0.1
    )


@register("als_regression_eval")
def als_regression_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 over a real model: RMSE/MAE of the flagship fit on its test
    slice (rows-only; model output not SQL-reproducible)."""
    from collective_als_spark.flagship import flagship

    scored = flagship(spark, sf_dir, rank=8, max_iter=5)
    return regression_metrics(scored, "rating", "prediction")


@register("cmf_recommend_topk")
def cmf_recommend_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 recommendations for every user from the flagship fit —
    broadcast factor matmul, zero-shuffle (rows-only; see
    cmf/recommend.py)."""
    from collective_als_spark.cmf import CollectiveALS
    from collective_als_spark.cmf.recommend import recommend_topk
    from collective_als_spark.operators.dictionary import dense_codes

    ev = load_table(spark, sf_dir, "events")
    type_dict = dense_codes(ev, "event_type", "type_code")
    ratings = (
        ev.join(F.broadcast(type_dict), "event_type")
        .groupBy("user_id", "type_code")
        .agg(F.log1p(F.sum("value")).cast("float").alias("rating"))
    )
    model = CollectiveALS("user_id", "type_code", rank=8, max_iter=5, seed=42).fit(
        ratings
    )
    return recommend_topk(
        model.factors_for("user_id"), model.factors_for("type_code"), k=5
    )


@register("cmf_rec_coverage_novelty")
def cmf_rec_coverage_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-accuracy recommendation metrics over the top-5 serve:
    catalog coverage (share of items ever recommended) and novelty
    (mean -log2 popularity share of recommended items — higher = less
    obvious recommendations). Completes the evaluation family next to
    RMSE/MAE (A10) and ranking@k (A11) (rows-only; model output).

    Scale: recs come from the zero-shuffle broadcast top-k serve; both
    metrics are one aggregate over the recs frame with a broadcast join
    onto item popularity (item-dictionary sized)."""
    from collective_als_spark.cmf import CollectiveALS
    from collective_als_spark.cmf.recommend import recommend_topk
    from collective_als_spark.operators.dictionary import dense_codes

    ev = load_table(spark, sf_dir, "events")
    type_dict = dense_codes(ev, "event_type", "type_code")
    coded = ev.join(F.broadcast(type_dict), "event_type")
    ratings = coded.groupBy("user_id", "type_code").agg(
        F.log1p(F.sum("value")).cast("float").alias("rating")
    )
    model = CollectiveALS(
        "user_id", "type_code", rank=8, max_iter=5, seed=42
    ).fit(ratings)
    recs = recommend_topk(
        model.factors_for("user_id"), model.factors_for("type_code"), k=5
    )
    # item popularity from the interaction log (share of interactions)
    pop = coded.groupBy("type_code").agg(F.count(F.lit(1)).alias("n_int"))
    tot = pop.agg(F.sum("n_int").alias("t"))
    pop_share = (
        pop.crossJoin(F.broadcast(tot))
        .select(
            F.col("type_code").alias("rec_id"),
            (F.col("n_int") / F.col("t")).alias("share"),
        )
    )
    n_items = type_dict.count()
    joined = recs.join(F.broadcast(pop_share), "rec_id")
    return joined.agg(
        F.count(F.lit(1)).alias("n_recs"),
        (F.count_distinct("rec_id") / F.lit(float(n_items))).alias(
            "catalog_coverage"
        ),
        F.round(F.avg(-F.log2("share")), 6).alias("novelty"),
    )


@register("cmf_grid_search")
def cmf_grid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model selection: rank sweep over the flagship implicit-ratings
    task, holdout-scored chronologically — the tuning loop a reference
    user runs around CollectiveALS's setters (rows-only; model metrics
    not SQL-reproducible). Each candidate is one distributed fit + a
    1-row aggregate evaluation; the grid is kept to two candidates so
    the correctness sweep stays fast (grid_search_als itself takes any
    rank x reg grid)."""
    from collective_als_spark.cmf.tuning import grid_search_als
    from collective_als_spark.operators.dictionary import dense_codes

    ev = load_table(spark, sf_dir, "events")
    type_dict = dense_codes(ev, "event_type", "type_code")
    coded = ev.join(F.broadcast(type_dict), "event_type")
    train_ev, val_ev = split_chronologically(
        coded, [0.8, 0.2], "ts", tie_break=["event_id"], exact=False
    )

    def to_ratings(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id", "type_code").agg(
            F.sum("value").cast("float").alias("rating")
        )

    results = grid_search_als(
        to_ratings(train_ev),
        to_ratings(val_ev),
        "user_id",
        "type_code",
        ranks=[4, 8],
        reg_params=[0.1],
        max_iter=2,
        seed=42,
        num_blocks=8,
    )
    best = results[0]
    return spark.createDataFrame(
        [
            (
                r.rank,
                r.reg_param,
                round(r.rmse, 6),
                round(r.mae, 6),
                r.n_scored,
                r.rank == best.rank and r.reg_param == best.reg_param,
            )
            for r in results
        ],
        "rank int, reg_param double, rmse double, mae double, "
        "n_scored long, is_best boolean",
    )


@register("cmf_foldin_predict")
def cmf_foldin_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cold-start fold-in serving (cmf/foldin.py): fit on most users,
    fold the held-out users' interactions against the fixed item
    factors (the exact ALS half-step), score their pairs — users the
    fitted model alone would NaN. Rows-only (iterative fit inside);
    ridge-optimality of the folded factors is pinned in
    tests/test_foldin.py. Every held-out user is folded in at once, so
    this is the batch path: ``fold_in`` plus ``predict`` against the
    fixed item factors, not the request call ``fold_in_predict``."""
    from collective_als_spark.cmf.als import CollectiveALS, CollectiveALSModel
    from collective_als_spark.cmf.foldin import fold_in
    from collective_als_spark.sources.testdata import load_table

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("int").alias("user"),
        F.pmod("event_id", F.lit(500)).cast("int").alias("item"),
        F.col("value").cast("float").alias("rating"),
    )
    train = ev.filter(F.col("user") % 7 != 0)
    cold = ev.filter(F.col("user") % 7 == 0)
    model = CollectiveALS(rank=8, max_iter=3, seed=1, num_blocks=8).fit(
        {("user", "item"): train}
    )
    history = cold.select(
        F.col("user").alias("user_id"), F.col("item").alias("item_id"), "rating"
    )
    # user fold-in only: items unseen at fit time are the separate
    # item-cold-start problem, so score only catalog items
    known_items = train.select(F.col("item").alias("item_id")).distinct()
    pairs = (
        history.select("user_id", "item_id")
        .distinct()
        .join(known_items, "item_id", "left_semi")
    )
    folded = CollectiveALSModel(model.rank, model.entities, {
        "user": fold_in(model, history, "user_id", "item", "item_id"),
        "item": model.factors_for("item"),
    })
    return folded.predict(pairs, "user", "item", "user_id", "item_id")
