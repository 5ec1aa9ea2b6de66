"""Tests for the SQL-callable user-function registration surface."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from collective_als_spark.functions.registration import register_engine_functions
from collective_als_spark.sources import register_views


def test_geomean_udaf(spark, sf_small):
    register_engine_functions(spark)
    register_views(spark, sf_small)
    got = {
        r["o_orderpriority"]: r["g"]
        for r in spark.sql(
            """
            SELECT o_orderpriority, geomean(o_totalprice) AS g
            FROM orders GROUP BY o_orderpriority
            """
        ).collect()
    }
    import numpy as np

    rows = spark.table("orders").select("o_orderpriority", "o_totalprice").collect()
    by_key: dict[str, list[float]] = {}
    for r in rows:
        by_key.setdefault(r["o_orderpriority"], []).append(r["o_totalprice"])
    for k, vals in by_key.items():
        expect = math.exp(np.mean(np.log(vals)))
        assert abs(got[k] - expect) / expect < 1e-9


def test_vec_cosine_scalar_udf(spark, sf_small):
    register_engine_functions(spark)
    register_views(spark, sf_small)
    row = spark.sql(
        """
        SELECT vec_cosine(CAST(a.embedding AS ARRAY<DOUBLE>),
                          CAST(a.embedding AS ARRAY<DOUBLE>)) AS c
        FROM embeddings a WHERE a.vec_id = 1
        """
    ).first()
    assert abs(row["c"] - 1.0) < 1e-9


def test_explode_ngrams_udtf(spark):
    register_engine_functions(spark)
    rows = spark.sql(
        "SELECT * FROM explode_ngrams('a b c d', 2)"
    ).collect()
    assert [(r["pos"], r["ngram"]) for r in rows] == [
        (0, "a b"), (1, "b c"), (2, "c d"),
    ]
    # lateral join usage over a table
    df = spark.createDataFrame([(1, "x y z")], "id int, t string")
    df.createOrReplaceTempView("_udtf_docs")
    out = spark.sql(
        """
        SELECT id, n.pos, n.ngram
        FROM _udtf_docs, LATERAL explode_ngrams(t, 2) n
        """
    ).collect()
    assert [(r["id"], r["pos"], r["ngram"]) for r in out] == [(1, 0, "x y"), (1, 1, "y z")]


def test_registry_priority_ordering():
    """Every priority name exists, no duplicates, and the returned dict
    front-loads the §2/fix-validation queries (the driver checks only
    the first DRIVER_CAP registered queries)."""
    from collective_als_spark.registry import DRIVER_CAP, _PRIORITY, spark_queries

    q = spark_queries()
    names = list(q)
    assert len(names) == len(set(names))
    missing = [n for n in _PRIORITY if n not in q]
    assert not missing, f"priority list names unregistered queries: {missing}"
    assert len(_PRIORITY) == len(set(_PRIORITY))
    assert names[: len(_PRIORITY)] == [n for n in _PRIORITY if n in q]
    head = set(names[:DRIVER_CAP])
    for must in ["token_count_by_source", "pipeline_clean_corpus",
                 "multimodal_features", "embedding_neardup_pairs",
                 "rank_range_filter", "orderby_limit",
                 "rmse_mae", "cmf_fit_predict"]:
        assert must in head, f"{must} fell below the driver cap"
    # family representatives that must keep their driver row
    for promoted in ["lake_identity_columns",
                     "lake_merge_matrix",
                     "lake_merge_on_predicates",
                     "dq_expectations_suite",
                     "multimodal_ppm_decode", "lake_incremental_view",
                     "benchmark_decontamination", "lake_cdf_stream",
                     "lake_mor_upsert_nullstats",
                     "lake_predicate_dml", "lake_tracked_apply",
                     "lake_column_mapping", "snapshot_batch_read",
                     "ann_filtered_topk",
                     "lake_sql_dml", "lake_scd2_history",
                     "lake_type_widening"]:
        assert promoted in head, f"{promoted} not promoted into the cap"


def test_survey2_operators_witnessed_inside_cap():
    """Every SURVEY §2 operator keeps >=1 representative query inside
    the driver's first DRIVER_CAP slots (r02 verdict #1's guard): slot
    reshuffles must never silently drop an operator's driver evidence."""
    from collective_als_spark.registry import (
        DRIVER_CAP,
        SURVEY2_WITNESSES,
        spark_queries,
    )

    names = list(spark_queries())
    head = set(names[:DRIVER_CAP])
    for op, witnesses in SURVEY2_WITNESSES.items():
        unregistered = [w for w in witnesses if w not in names]
        assert not unregistered, f"{op}: unregistered witnesses {unregistered}"
        assert head & set(witnesses), (
            f"SURVEY §2 operator {op} has no witness inside the first "
            f"{DRIVER_CAP} driver slots (witnesses: {witnesses})"
        )


def test_name_lists_are_registered():
    """Every name the registry and the harnesses list is a registered
    query, and _PRIORITY has no duplicates. _ordered_names() drops an
    unknown name silently, so a stale name would otherwise vanish."""
    import bench
    import bench_scale_ramp
    from collective_als_spark.registry import _PRIORITY, SURVEY2_WITNESSES, spark_queries
    from tests.test_plan_audit import CROSS_JOIN_ALLOWED, SKIP

    registered = set(spark_queries())
    lists = {
        "registry._PRIORITY": _PRIORITY,
        "registry.SURVEY2_WITNESSES": [n for ws in SURVEY2_WITNESSES.values() for n in ws],
        "bench.HEADLINE": bench.HEADLINE,
        "bench_scale_ramp.HEAVY": bench_scale_ramp.HEAVY,
        "test_plan_audit.CROSS_JOIN_ALLOWED": CROSS_JOIN_ALLOWED,
        "test_plan_audit.SKIP": SKIP,
    }
    for where, names in lists.items():
        stale = sorted(set(names) - registered)
        assert not stale, f"{where} names unregistered queries: {stale}"
    dupes = sorted({n for n in _PRIORITY if _PRIORITY.count(n) > 1})
    assert not dupes, f"registry._PRIORITY repeats {dupes}"
