"""Invariant tests for the round-3 extension set (queries/extended4.py).

Oracle hash parity runs in test_oracle_parity.py; these pin the
mathematical properties the oracles can't express directly.
"""

import math

import pytest


def test_cms_overestimates_and_orders(spark, sf_small):
    from collective_als_spark.registry import spark_queries

    rows = spark_queries()["heavy_hitters_cms"](spark, sf_small).collect()
    assert rows, "sketch probe returned nothing"
    # count-min error is one-sided: estimate >= exact, always
    assert all(r.est_count >= r.exact_count for r in rows)
    ests = [r.est_count for r in rows]
    assert ests == sorted(ests, reverse=True)


def test_unigram_logprob_negative_and_boilerplate_high(spark, sf_small):
    from collective_als_spark.registry import spark_queries

    rows = spark_queries()["unigram_logprob_score"](spark, sf_small).collect()
    assert all(r.avg_logprob < 0 for r in rows)  # log of p<1
    assert all(r.n_tokens > 0 for r in rows)


def test_word_entropy_bounds(spark, sf_small):
    from collective_als_spark.registry import spark_queries

    rows = spark_queries()["word_entropy_score"](spark, sf_small).collect()
    for r in rows:
        assert -1e-9 <= r.entropy <= math.log2(r.n_tokens) + 1e-9


def test_containment_catches_embedded_doc(spark):
    """A short doc fully contained in a longer one: containment ~1 in
    the A->B direction even though Jaccard is far below threshold."""
    from collective_als_spark.operators import dedup as D

    short = "alpha beta gamma delta epsilon"
    long = short + " " + " ".join(f"filler{i}" for i in range(40))
    other = "totally different words here okay"
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, other)], "doc_id int, text string"
    )
    pairs = {
        (r.id_a, r.id_b): (r.cont_ab, r.cont_ba)
        for r in D.ngram_containment_pairs(
            df, "doc_id", "text", shingle_n=3, threshold=0.8
        ).collect()
    }
    assert (1, 2) in pairs
    cont_ab, cont_ba = pairs[(1, 2)]
    assert cont_ab == 1.0  # every shingle of the short doc is in the long one
    assert cont_ba < 0.2
    # Jaccard would have missed it at the same bar
    jac = D.ngram_jaccard_pairs(
        df, "doc_id", "text", shingle_n=3, threshold=0.8
    ).collect()
    assert not jac


def test_semantic_dedup_marks_near_duplicate_vectors(spark):
    """Constructed embeddings: an exact-duplicate vector pair must land
    in one cluster with the higher id marked not-kept."""
    import numpy as np

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as F

    from collective_als_spark.functions.vector import cosine_similarity

    rng = np.random.default_rng(7)
    base = rng.normal(size=(20, 8)).astype(float)
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    rows.append((100, [float(x) for x in base[0]]))  # exact dup of vec 0
    emb = spark.createDataFrame(rows, "vec_id int, e array<double>")
    feat = emb.withColumn("v", array_to_vector("e"))
    model = KMeans(k=4, seed=42, featuresCol="v", predictionCol="cluster").fit(feat)
    assigned = model.transform(feat).select("vec_id", "cluster", "e")
    a, b = assigned.alias("a"), assigned.alias("b")
    dups = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn("cos", cosine_similarity(F.col("a.e"), F.col("b.e")))
        .filter(F.col("cos") > 0.95)
        .select(F.col("a.vec_id").alias("keep"), F.col("b.vec_id").alias("drop"))
        .collect()
    )
    assert any(r.keep == 0 and r.drop == 100 for r in dups)


def test_semantic_dedup_query_shape(spark, sf_small):
    from collective_als_spark.registry import spark_queries

    rows = spark_queries()["semantic_dedup_kmeans"](spark, sf_small).collect()
    assert rows
    assert {x.cluster for x in rows} <= set(range(8))
    assert all(x.is_kept in (True, False) for x in rows)


def test_tws_user_stats_matches_batch(spark, sf_small):
    """transformWithStateInPandas running totals must equal the plain
    batch aggregate over the same events."""
    from pyspark.sql import functions as F

    from collective_als_spark.registry import spark_queries
    from collective_als_spark.sources.testdata import load_table

    stream = {
        (r.user_id, r.n_events, r.total_v, r.max_v)
        for r in spark_queries()["streaming_tws_user_stats"](spark, sf_small).collect()
    }
    batch = {
        (r.user_id, r.n_events, r.total_v, r.max_v)
        for r in load_table(spark, sf_small, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_v"),
            F.max("value").alias("max_v"),
        )
        .collect()
    }
    assert stream == batch


def test_pq_topk_recall_vs_brute_force(spark, sf_small):
    from pyspark.sql import functions as F

    from collective_als_spark.operators.similarity import brute_force_topk, pq_topk
    from collective_als_spark.sources.testdata import load_table

    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.orderBy("vec_id").limit(50)
    approx = pq_topk(
        emb, k=5, m=8, n_codes=16, rerank_depth=50, n_queries=50
    )
    exact = brute_force_topk(emb, queries, k=5)
    got = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    truth = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.6, recall


def test_dimsum_exact_mode_matches_numpy(spark):
    """dimsum_cosine(threshold<=0) disables sampling and must
    reproduce numpy cosine on a constructed binary interaction
    matrix — the exactness anchor for the sampled estimator."""
    import numpy as np

    from collective_als_spark.operators.similarity import dimsum_cosine

    rng = np.random.default_rng(3)
    m = (rng.random((30, 6)) < 0.4).astype(float)
    m[:, 5] = m[:, 4]  # identical columns -> cosine 1
    pairs = [
        (int(u), int(i)) for u in range(30) for i in range(6) if m[u, i]
    ]
    ui = spark.createDataFrame(pairs, "u long, i long")
    sims = {
        (r.item_a, r.item_b): r.cosine_est
        for r in dimsum_cosine(ui, "u", "i", threshold=0.0).collect()
    }
    norms = np.sqrt((m**2).sum(0))
    for i in range(6):
        for j in range(i + 1, 6):
            want = float(m[:, i] @ m[:, j] / (norms[i] * norms[j] + 1e-12))
            got = sims.get((i, j), 0.0)
            assert abs(got - want) < 1e-9, (i, j, got, want)
    assert abs(sims[(4, 5)] - 1.0) < 1e-9


def test_dimsum_sampled_estimates_close(spark):
    """threshold>0 sampling: estimates stay within DIMSUM's bounded
    relative error of the exact cosine for above-threshold pairs on a
    dense-enough matrix (seeded rand -> deterministic plan)."""
    import numpy as np

    from collective_als_spark.operators.similarity import dimsum_cosine

    rng = np.random.default_rng(11)
    m = (rng.random((400, 8)) < 0.5).astype(float)
    pairs = [
        (int(u), int(i)) for u in range(400) for i in range(8) if m[u, i]
    ]
    ui = spark.createDataFrame(pairs, "u long, i long")
    est = {
        (r.item_a, r.item_b): r.cosine_est
        for r in dimsum_cosine(ui, "u", "i", threshold=0.2, seed=5).collect()
    }
    norms = np.sqrt((m**2).sum(0))
    errs = []
    for i in range(8):
        for j in range(i + 1, 8):
            want = float(m[:, i] @ m[:, j] / (norms[i] * norms[j]))
            if want >= 0.2:
                errs.append(abs(est.get((i, j), 0.0) - want) / want)
    assert errs and max(errs) < 0.5, errs


def test_dimsum_query_rows(spark, sf_small):
    from collective_als_spark.registry import spark_queries

    rows = spark_queries()["item_item_dimsum"](spark, sf_small).collect()
    assert rows
    assert all(r.part_i < r.part_j and 0 < r.cosine_est <= 1.2 for r in rows)


def test_pq_topk_never_returns_self_pair(spark, sf_small):
    """Regression: when an Arrow batch has <= rerank_depth rows (e.g. a
    partition tail), the ADC argpartition used to pull the query's own
    -inf-masked row into the candidate set, and the exact rerank scored
    it cos=1.0 — the query became its own top-1 neighbor."""
    from collective_als_spark.operators.similarity import pq_topk
    from collective_als_spark.sources.testdata import load_table

    emb = load_table(spark, sf_small, "embeddings").limit(40).repartition(16)
    out = pq_topk(emb, k=5, m=4, n_codes=8, rerank_depth=50, n_queries=20)
    rows = out.collect()
    assert rows
    assert all(r.query_id != r.neighbor_id for r in rows)


def test_ivfadc_topk_recall_vs_brute_force(spark, sf_small):
    from pyspark.sql import functions as F

    from collective_als_spark.operators.similarity import brute_force_topk, ivfadc_topk
    from collective_als_spark.sources.testdata import load_table

    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.orderBy("vec_id").limit(50)
    approx = ivfadc_topk(
        emb, k=5, n_cells=8, n_probe=6, m=8, n_codes=16, rerank_depth=50, n_queries=50
    )
    exact = brute_force_topk(emb, queries, k=5)
    got = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    truth = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.5, recall
