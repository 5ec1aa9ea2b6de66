"""Invariant tests for the extension-set-3 operators and their
neighbours — properties the oracle hash can't express (statistic
domains, self-consistency), checked at sf0.001 for speed."""

from __future__ import annotations

from collective_als_spark.queries import extended3 as X


def test_psi_aa_split_is_small(spark, sf_small):
    r = X.psi_drift(spark, sf_small).collect()[0]
    # A/A split of the same distribution: PSI must be far below the
    # 0.2 "significant drift" rule-of-thumb
    assert r.psi >= 0.0
    assert r.psi < 0.1
    assert r.n_bins <= X._PSI_NBINS


def test_grid_search_orders_by_rmse(spark, sf_small):
    from pyspark.sql import functions as F

    from collective_als_spark.cmf.tuning import grid_search_als
    from collective_als_spark.operators.dictionary import dense_codes
    from collective_als_spark.sources import load_table

    ev = load_table(spark, sf_small, "events")
    type_dict = dense_codes(ev, "event_type", "type_code")
    ratings = (
        ev.join(F.broadcast(type_dict), "event_type")
        .groupBy("user_id", "type_code")
        .agg(F.sum("value").cast("float").alias("rating"))
    )
    # pair-level split so users AND items stay warm in train
    key = F.col("user_id") * 7 + F.col("type_code")
    train = ratings.filter(key % 5 != 0)
    val = ratings.filter(key % 5 == 0)
    res = grid_search_als(
        train, val, "user_id", "type_code",
        ranks=[2, 4], reg_params=[0.1], max_iter=2, num_blocks=8,
    )
    assert len(res) == 2
    assert res[0].rmse <= res[1].rmse  # sorted best-first
    assert all(r.n_scored > 0 for r in res)


def test_streaming_sliding_agg_matches_batch(spark, sf_small):
    from collective_als_spark.registry import spark_queries

    q = spark_queries()
    batch = {tuple(r) for r in q["sliding_window_agg"](spark, sf_small).collect()}
    stream = {tuple(r) for r in q["streaming_sliding_agg"](spark, sf_small).collect()}
    assert batch == stream


def test_prefix_jaccard_equals_exact_and_prunes(spark, sf_small):
    from collective_als_spark.operators import dedup as D
    from collective_als_spark.sources import load_table

    docs = load_table(spark, sf_small, "documents")
    exact = {
        tuple(r)
        for r in D.ngram_jaccard_pairs(
            docs, "doc_id", "text", shingle_n=3, threshold=0.2
        ).collect()
    }
    prefix = {
        tuple(r)
        for r in D.prefix_jaccard_pairs(
            docs, "doc_id", "text", shingle_n=3, threshold=0.2
        ).collect()
    }
    assert prefix == exact  # lossless candidate pruning


def test_rec_coverage_novelty_domains(spark, sf_small):
    from collective_als_spark.registry import spark_queries

    r = spark_queries()["cmf_rec_coverage_novelty"](spark, sf_small).collect()[0]
    assert 0.0 < r.catalog_coverage <= 1.0
    assert r.novelty > 0.0  # -log2(share) of shares < 1
    assert r.n_recs > 0


def test_ngram_jaccard_hot_shingle_guard(spark):
    """max_df drops viral boilerplate shingles before the d^2 self-join
    (r02 verdict #3). Two docs whose ONLY overlap is a hot shingle must
    not pair once the shingle's DF exceeds the cap; genuinely similar
    docs still do, with jaccard computed over the pruned sets."""
    from collective_als_spark.operators import dedup as D

    hot = "the quick fox"
    rows = [(i, f"{hot} unique{i} tail{i} end{i}") for i in range(6)]
    rows += [(100, f"alpha beta gamma delta {hot}"),
             (101, f"alpha beta gamma delta other{hot}x")]
    df = spark.createDataFrame(rows, "doc_id int, text string")

    capped = D.ngram_jaccard_pairs(
        df, "doc_id", "text", shingle_n=3, threshold=0.1, max_df=5
    ).collect()
    # docs 0..5 shared only hot-prefix shingles (DF 6-8 > cap) -> no pairs
    assert all({r.id_a, r.id_b} == {100, 101} for r in capped)
    assert len(capped) == 1
    # uncapped: the hot shingle alone links the boilerplate docs
    uncapped = D.ngram_jaccard_pairs(
        df, "doc_id", "text", shingle_n=3, threshold=0.1, max_df=None
    ).collect()
    assert len(uncapped) > 1

    # cap above every DF reproduces uncapped results exactly (the
    # property that keeps the registered oracle hash unchanged)
    wide = D.ngram_jaccard_pairs(
        df, "doc_id", "text", shingle_n=3, threshold=0.1, max_df=5000
    ).collect()
    assert {tuple(r) for r in wide} == {tuple(r) for r in uncapped}
