"""Registry-wide physical-plan audit.

Sweeps every registered query and asserts the global plan invariants
that matter at 100 TB:

  - no accidental cartesian/broadcast-nested-loop joins (only the
    brute-force similarity operators may cross join, by design);
  - every parquet scan prunes columns (a scan reading every column of
    a wide table for a narrow projection means pruning broke);
  - no un-partitioned windows (single-task global sort — the r01
    chronological-split weakness, now served by two-phase global_rank).

Queries that execute work at plan-build time (CMF fits, k-means,
streaming drives) are skipped here — their execution tests live in
test_cmf.py, test_extended2.py (streaming) and test_extended6.py.
"""

from __future__ import annotations

import pytest

from collective_als_spark.plans import plan_summary
from collective_als_spark.registry import spark_queries

# cross join is the documented exact-path design for these
CROSS_JOIN_ALLOWED = {
    "ann_topk_cosine",
    # the REGISTERED query runs exact=True so the all-pairs oracle hash
    # is deterministic (r02 ADVICE #1: LSH recall at cos≈threshold is
    # probabilistic); the library default stays LSH-bucketed — that
    # scale path is audited via its own recall test in test_similarity
    "embedding_neardup_pairs",
    # single-row corpus-stats frame broadcast to every doc (scalar join)
    "bm25_scores",
    "source_mixture_sample",
    "hybrid_retrieval",
    # users x dictionary-sized broadcast(event types): a genuine
    # dimension cross, bounded by |types|
    "negative_sampling",
    # 1-row scalar broadcasts (corpus size / token totals / bin totals)
    "unigram_logprob_score",
    "psi_drift",
    "rrf_fusion",
    "source_kl_divergence",
    # 1-row total broadcast + 4-literal-row k-probe NLJ against the vocab
    "vocab_coverage_curve",
    # two 1-row count frames joined for the closing rate
    "timed_funnel_conversion",
    # 1-row seed frontier — Catalyst constant-folds the equi key
    # (node == 0), so the graph-bounded hop joins plan as BNLJ over the
    # localCheckpointed |nations|^2 edge frame
    "nation_trade_bfs",
}

# build() executes eagerly (fit / stream drive / label propagation) —
# audited elsewhere
SKIP = {
    "dedup_clusters",
    # r04: label propagation (cluster pass) / MLlib LR fit execute at
    # plan-build time; audited in tests/test_extended6.py
    "cluster_safe_split",
    "quality_classifier_scores",
    "bpe_merge_table",
    "semantic_dedup_kmeans",
    "cmf_fit_predict",
    "cmf_fit_3entity",
    "cmf_recommend_topk",
    "cmf_quality_gate",
    "cmf_grid_search",
    "cmf_foldin_predict",
    "cmf_rec_coverage_novelty",
    "als_regression_eval",
    "ann_topk_ivf",
    "ann_topk_pq",
    "ann_topk_ivfadc",
    "ann_index_roundtrip",
    "streaming_tumbling_agg",
    "streaming_sliding_agg",
    "streaming_stateful_totals",
    "streaming_session_window",
    "streaming_tws_user_stats",
    "streaming_dedup",
    "streaming_stream_join",
    "streaming_upsert_totals",
    "streaming_static_enrich",
    "streaming_ewma",
    "streaming_multimodal_ingest",
    "multimodal_features",
    "multimodal_frame_sample",
    "multimodal_audio_energy",
}

# full-width scans that are legitimate: tables narrow enough that the
# query genuinely touches every column
FULL_SCAN_ALLOWED = {
    "sql_passthrough",  # orders: 2 of 6 cols via view — view scan prunes; keep audit on others
}

_WIDE_TABLE_MIN_COLS = 6  # lineitem(11), orders(6), events(6), documents(5)


def _audit_names():
    return sorted(n for n in spark_queries() if n not in SKIP)


@pytest.mark.parametrize("name", _audit_names())
def test_plan_invariants(spark, sf_small, name):
    df = spark_queries()[name](spark, sf_small)
    s = plan_summary(df)
    if name not in CROSS_JOIN_ALLOWED:
        assert s["n_cartesian"] == 0, f"{name}: unexpected cartesian\n{s['plan']}"
    assert s["n_global_windows"] == 0, (
        f"{name}: un-partitioned window (single-task sort)\n{s['plan']}"
    )
    if name not in FULL_SCAN_ALLOWED:
        for scan in s["scans"]:
            cols = scan["read_columns"]
            if cols is not None and len(cols) >= _WIDE_TABLE_MIN_COLS + 5:
                pytest.fail(
                    f"{name}: scan reads {len(cols)} columns — pruning broke?\n"
                    f"{cols}"
                )


def test_no_rdd_in_package_source():
    """Registry-wide source lint: `.rdd` drops out of Catalyst into
    pickled-Python row processing — a per-row interpreter hop that
    forfeits codegen, pruning, and AQE. Nothing in the package may
    use it (the r07 item_item_dimsum collect+rdd.map path was the
    last one). Docstrings/comments mentioning `.rdd` are fine.
    Exemption: `.rdd.getNumPartitions()` is a driver-side PLANNER
    probe (partition count of the physical plan — no job, no row ever
    crosses to Python); `testdata.spread` uses it to decide whether a
    map-heavy input needs a parallelism floor."""
    import pathlib
    import re

    pkg = pathlib.Path("collective_als_spark")
    offenders = []
    for py in pkg.rglob("*.py"):
        for lineno, line in enumerate(
            py.read_text().splitlines(), start=1
        ):
            code = line.split("#", 1)[0]
            if re.search(r"\.rdd\.getNumPartitions\(\)", code):
                continue
            if re.search(r"\.rdd\b", code) and "``" not in line:
                offenders.append(f"{py}:{lineno}: {line.strip()}")
    assert not offenders, "\n".join(offenders)
