"""Benchmark harness: times headline queries at $SPARK_GRAFT_SF_DIR
(default sf0.1) on local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Each query executes to a no-op sink (full plan runs, nothing collected
to the driver), mirroring cluster execution cost.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# headline set: relational spine, windows, sessionization, dedup suite,
# similarity search, text analysis, ranking metrics, CMF fit+predict
HEADLINE = [
    "pricing_summary",
    "star_join_revenue",
    "topk_per_group",
    "sessionization",
    "tumbling_window_agg",
    "exact_dedup",
    "minhash_signature",
    "lsh_candidate_pairs",
    "simhash_fingerprint",
    "text_quality_metrics",
    "doc_fingerprint",
    "pipeline_clean_corpus",
    "ann_topk_cosine",
    "ranking_metrics_at_k",
    "cmf_fit_predict",
    # round-3 additions (r02 verdict #5): track the round-2 operator
    # families' cost per-round
    "prefix_jaccard_pairs",
    "item_item_cosine",
    "pagerank_trade_graph",
    "tfidf_term_stats",
    # round-3 new families: winnowing fingerprints, corpus-LM scoring
    "winnowing_fingerprints",
    "unigram_logprob_score",
    # round-4 new families: corpus repetition signal, drift scoring,
    # winnowing-candidate exact containment, real multimodal decode
    # (Arrow round trip)
    "duplicate_ngram_fraction",
    "source_kl_divergence",
    "substring_containment_pairs",
    "multimodal_ppm_decode",
    # round-4 session-2 families: the fused DQ constraint suite,
    # seasonal anomaly scoring
    "dq_expectations_suite",
    "seasonal_hourly_anomalies",
    # round-5 families: output-bounded neighbor lists (the scale-ramp
    # finding's production form), the oracle-checked CMF quality gate,
    # the lake commit protocol end-to-end (CAS appends, stats+bloom
    # pruned merge/delete, time travel on a scratch table)
    "item_item_topk",
    "cmf_quality_gate",
    "lake_snapshot_lifecycle",
    # deletion vectors + change feed + incremental view maintenance
    # exercised end-to-end (4 commits, 4 refreshes on a scratch table)
    "lake_incremental_view",
    # round-6 families: merge-on-read upsert + null-count skipping
    # end-to-end (the streaming-upsert commit shape), and the
    # broadcast 8-gram benchmark-decontamination gate
    "lake_mor_upsert_nullstats",
    "benchmark_decontamination",
    # round-8 family: one-commit CDC APPLY CHANGES (sequence-ordered
    # upserts + deletes, merge-on-read) end-to-end on a scratch table
    "lake_apply_changes",
    # round-9 families: arbitrary-predicate DELETE/UPDATE (conjunct-
    # extracted pruning + exact-complement survivors) and sequence-
    # tracked out-of-order CDC apply, both end-to-end on scratch tables
    "lake_predicate_dml",
    "lake_tracked_apply",
    # round-11 families: the SQL statement surface end-to-end (DELETE
    # with a mixed-precedence predicate + UPDATE + MERGE upsert, each
    # delegating through the dispatcher) and SCD TYPE 2 history apply
    # (seed + live + fully-gated stale batch on a scratch table)
    "lake_sql_dml",
    "lake_scd2_history",
    # round-14 (r13 verdict #1): the newest lake machinery under
    # per-round cost tracking — the full MERGE clause matrix, the
    # arbitrary-ON matcher (rename + residual), generated/identity
    # column write paths, the CDF table-valued function, and column
    # DEFAULT fills
    "lake_merge_matrix",
    "lake_merge_on_predicates",
    "lake_generated_columns",
    "lake_identity_columns",
    "lake_table_changes",
    "lake_column_defaults",
    # round-15: SHALLOW CLONE SQL + clone-side DML/TBLPROPERTIES, and
    # identity through the CDC write paths (MOR carry + apply_changes),
    # under cost tracking (the PARTITIONED BY declared-layout cost
    # rides the extended lake_sql_dml row)
    "lake_shallow_clone",
    "lake_identity_cdc",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from collective_als_spark.registry import spark_queries
    from collective_als_spark.session import get_spark

    spark = get_spark("collective_als_spark_bench")
    qs = spark_queries()

    # Shared intermediate: a real dedup pipeline computes minhash
    # signatures ONCE and feeds both the signature sink and the LSH
    # banding pass from the persisted result — the signature pass (md5
    # over every shingle) is the dominant cost and must not run twice.
    # `minhash_signature` times the signature materialization;
    # `lsh_candidate_pairs` times banding+self-join over the cached
    # signatures. Oracle semantics are unchanged (the registered
    # queries still define each operator end-to-end).
    from collective_als_spark.operators import dedup as D
    from collective_als_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")

    # each timed run of minhash_signature must RECOMPUTE the signatures
    # (unpersist the previous run's cache first) — otherwise the
    # second min-of-2 sample would just re-save the persisted result
    # and report cache-read time, not the operator
    sig_state: dict[str, object] = {"df": None}

    def _fresh_sigs():
        if sig_state["df"] is not None:
            sig_state["df"].unpersist()
        sig_state["df"] = D.minhash_signatures(
            docs, "doc_id", "text", num_hashes=8
        ).persist()
        return sig_state["df"]

    overrides = {
        "minhash_signature": _fresh_sigs,
        "lsh_candidate_pairs": lambda: D.lsh_candidate_pairs(
            sig_state["df"], "doc_id", num_hashes=8, band_size=2
        ),
    }

    # Honest-comparison guard: the split override must stay semantically
    # identical to the registered queries it stands in for. Checked once
    # per run at sf0.001 (cheap) by comparing full sorted result sets of
    # the override construction vs the registered definitions.
    def _override_guard() -> str:
        gdir = "/root/testdata/sf0.001"
        gd = load_table(spark, gdir, "documents")
        gsigs = D.minhash_signatures(gd, "doc_id", "text", num_hashes=8).persist()
        try:
            for name, ov in (
                ("minhash_signature", gsigs),
                (
                    "lsh_candidate_pairs",
                    D.lsh_candidate_pairs(gsigs, "doc_id", num_hashes=8, band_size=2),
                ),
            ):
                reg = qs[name](spark, gdir)
                a = sorted(map(str, ov.collect()))
                b = sorted(map(str, reg.collect()))
                assert a == b, f"bench override diverged from registered {name}"
        finally:
            gsigs.unpersist()
        return "overrides==registered@sf0.001"

    override_guard = _override_guard()

    # warm the JVM/codegen path once with a cheap query, and the MLlib
    # ALS class-loading/BLAS-init path with a toy fit (first-fit warmup
    # costs ~8s of pure JVM setup that would otherwise be attributed to
    # whichever CMF query runs first)
    qs["pricing_summary"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    from pyspark.ml.recommendation import ALS as _ALS

    _toy = spark.createDataFrame(
        [(i % 7, i % 5, float(i % 3)) for i in range(60)],
        "user int, item int, rating float",
    )
    _ALS(rank=2, maxIter=1, seed=1).setUserCol("user").setItemCol("item").setRatingCol(
        "rating"
    ).fit(_toy)

    import gc

    # Timing discipline (r04): each query is executed TWICE and the
    # minimum is reported. Two distinct noise sources make a single
    # shot unrepresentative of engine cost, both measured this round:
    # (1) the first execution of a plan pays whole-stage-codegen
    # javac/JIT compilation of its unique generated source (pagerank
    # 12s cold vs 3.2s warm, winnowing 6.5s vs 1.1s) — a per-PLAN
    # constant a real cluster job amortizes over hours; (2) this host
    # shows intermittent multi-second hypervisor stall windows (steal%
    # spikes; winnowing observed 1.1s isolated vs 30s mid-bench on an
    # idle box, zero GC time, zero cgroup throttling). min-of-2 removes
    # (1) by construction and survives (2) unless a stall hits both
    # runs. Raw per-run timings are emitted alongside ("runs") so a
    # reviewer can audit exactly what the min hides; load averages
    # bracket the run as before.
    def _psi_total(resource: str) -> float:
        """Seconds any task stalled on `resource` (PSI 'some' total)."""
        try:
            with open(f"/proc/pressure/{resource}") as f:
                line = f.readline()
            return int(line.rsplit("total=", 1)[-1]) / 1e6
        except (OSError, ValueError):
            return None  # no PSI on this host; JSON must stay strict (no NaN)

    # Machine-drift calibration (r12 verdict #6): a deterministic
    # CPU-bound whole-stage-codegen loop over a CACHED range — zero IO,
    # zero shuffle variance, constant work every round. Its wall time
    # moves with the HOST (JIT state, hypervisor steal, thermal), never
    # with engine code, so round-over-round per-query comparisons can
    # divide out machine drift (ann_topk_cosine swung 1.55x across
    # rounds on byte-untouched code; this separates that from real
    # regressions). Run once BEFORE and once AFTER the timed passes
    # (brackets any mid-run stall episode); min reported.
    import pyspark.sql.functions as F  # noqa: N812

    cal_base = spark.range(0, 20_000_000, 1, 32).cache()
    cal_base.count()  # materialize outside the timed region

    def _calibration_run() -> float:
        col = F.col("id")
        t0 = time.perf_counter()
        for i in range(8):
            col = F.xxhash64(col, F.lit(i))
        # pmod before the sum: an ANSI-mode long sum of raw 64-bit
        # hashes overflows
        cal_base.select(
            F.sum(F.pmod(col, F.lit(1_000_000))).alias("s")
        ).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    _calibration_run()  # pay this plan's codegen compile once
    cal_runs = [_calibration_run()]

    load_before = [round(x, 2) for x in os.getloadavg()]
    psi_before = {r: _psi_total(r) for r in ("cpu", "io")}
    raw_runs: dict[str, list[float]] = {name: [] for name in HEADLINE}
    # two full interleaved passes (A over every query, then B), min per
    # query — NOT back-to-back repeats: the host's stall episodes last
    # on the order of a minute, so consecutive runs of one query can
    # both land inside an episode, while a full pass later the same
    # query runs clean (observed: duplicate_ngram_fraction min-of-2
    # back-to-back = 32s during an episode vs 1.7s any other time)
    for _pass in range(2):
        for name in HEADLINE:
            # plan construction stays inside the timed region: some
            # queries (CMF fits, approx-quantile splits) execute work
            # eagerly there
            t0 = time.perf_counter()
            df = overrides[name]() if name in overrides else qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            raw_runs[name].append(round(time.perf_counter() - t0, 3))
            # queries are independent: drop this query's DataFrame refs
            # and force collection so ContextCleaner releases its
            # localCheckpoint RDD blocks before the next run — otherwise
            # checkpointed blocks pile up in executor storage across the
            # run and inflate later heavy queries (measured:
            # item_item_cosine 16.7s late in the run vs 7.4s isolated)
            del df
            gc.collect()
            # ContextCleaner releases persisted/localCheckpointed blocks
            # via JVM weak references — which only enqueue on a JVM GC.
            # Python gc frees the py4j refs, but without a JVM GC the
            # blocks linger in executor storage across queries and the
            # r05 heavy tail (ALS fit + eager checkpoints) measurably
            # polluted every pass-B run (range_join 0.9s pass A vs 3.7s
            # pass B, reproducibly). One System.gc() per query (~0.1s)
            # makes queries independent, which is what min-of-2 assumes.
            spark.sparkContext._jvm.System.gc()
    cal_runs.append(_calibration_run())
    calibration = min(cal_runs)
    cal_base.unpersist()
    timings: dict[str, float] = {name: min(raw_runs[name]) for name in HEADLINE}
    if sig_state["df"] is not None:
        sig_state["df"].unpersist()
    # the end-to-end dedup cost is signatures + banding combined; the
    # split timings share one signature pass (see above), so the sum is
    # the honest cross-round comparison number (r02 verdict nit #3)
    timings["minhash_plus_lsh"] = round(
        timings["minhash_signature"] + timings["lsh_candidate_pairs"], 3
    )

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    psi_stall = {
        r: (
            round(_psi_total(r) - psi_before[r], 1)
            if psi_before[r] is not None and _psi_total(r) is not None
            else None
        )
        for r in ("cpu", "io")
    }
    # Output protocol (r05 verdict #1): the driver captures a BOUNDED
    # TAIL of stdout and json-parses the LAST line; rounds 4 and 5 both
    # lost the headline because raw runs + the inlined scale ramp pushed
    # it past the window. So: everything verbose (raw per-run timings,
    # load averages, override guard, scale-ramp curve) goes to
    # BENCH_DETAIL.json on disk, and the final stdout line is ONE
    # compact JSON object — total, per-query mins, sf, PSI — small
    # enough to always fit the tail window.
    detail = {
        "load_before": load_before,
        "load_after": [round(x, 2) for x in os.getloadavg()],
        "override_guard": override_guard,
        "timing": "min of 2 interleaved passes (pass A pays codegen compile; "
        "see bench.py comment)",
        "runs": raw_runs,
        "calibration_runs": cal_runs,
    }
    # Normalized round-over-round delta table (r12 verdict #6): for
    # each query shared with the newest prior BENCH_r*.json, report the
    # raw ratio AND the ratio divided by the calibration drift — a
    # query whose normalized ratio ~1.0 moved with the machine, not the
    # code. Prior rounds without a calibration value get raw-only.
    try:
        import glob as _glob
        import re as _re

        benches = {}
        here = os.path.dirname(os.path.abspath(__file__))
        for p in _glob.glob(os.path.join(here, "BENCH_r*.json")):
            m = _re.search(r"BENCH_r(\d+)\.json$", p)
            if m:
                benches[int(m.group(1))] = p
        if benches:
            prev_n = max(benches)
            with open(benches[prev_n]) as f:
                prev_doc = json.load(f)
            prev_tail = prev_doc.get("tail", "")
            prev_line = json.loads(
                prev_tail[prev_tail.rindex("\n{") + 1:]
                if "\n{" in prev_tail
                else prev_tail
            ) if isinstance(prev_tail, str) and prev_tail.strip() else prev_doc
            pq = prev_line.get("queries", {})
            pcal = prev_line.get("calibration_sec")
            drift = round(calibration / pcal, 3) if pcal else None
            table = {}
            for n, t in timings.items():
                if pq.get(n):
                    raw = round(t / pq[n], 3)
                    table[n] = {
                        "prev": pq[n],
                        "now": t,
                        "ratio": raw,
                        "ratio_normalized": (
                            round(raw / drift, 3) if drift else None
                        ),
                    }
            detail["normalized_delta"] = {
                "vs_round": prev_n,
                "calibration_drift": drift,
                "queries": table,
            }
    except (OSError, ValueError, KeyError):
        pass  # the delta table is best-effort observability
    ramp_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "SCALE_RAMP.json")
    if os.path.exists(ramp_path):
        try:
            with open(ramp_path) as f:
                ramp = json.load(f)
            detail["scale_ramp"] = {
                "replicas": ramp.get("replicas"),
                "queries": {
                    n: {k: v for k, v in q.items() if k != "runs"}
                    for n, q in ramp.get("queries", {}).items()
                },
                "timing": ramp.get("timing"),
            }
        except (OSError, ValueError):
            pass
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass  # detail is best-effort; the headline line below must still print
    out = {
        "metric": "headline_queries_wall_sec",
        # the derived minhash_plus_lsh entry is informational — exclude
        # it from the total so its components aren't counted twice
        "value": round(sum(timings[n] for n in HEADLINE), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        # host-drift calibration: deterministic CPU-bound codegen loop,
        # excluded from the total (it times the MACHINE, not the engine)
        "calibration_sec": calibration,
        "psi_stall_sec": psi_stall,
        "detail": "BENCH_DETAIL.json",
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
