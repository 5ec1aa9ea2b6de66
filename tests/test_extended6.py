"""Behavioral tests for the round-4 extension queries (oracle parity
itself is swept by test_oracle_parity)."""

from __future__ import annotations

import bisect
import hashlib

from pyspark.sql import functions as F

from collective_als_spark.registry import spark_queries


def test_duplicate_ngram_fraction_bounds(spark, sf_small):
    rows = spark_queries()["duplicate_ngram_fraction"](spark, sf_small).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0.0 <= r["dup_frac"] <= 1.0
        assert r["n_shingles"] >= 1
    # synthetic corpus shares vocabulary: some docs must have dup'd 3-grams
    assert any(r["dup_frac"] > 0 for r in rows)
    # and not every 3-gram everywhere is duplicated
    assert any(r["dup_frac"] < 1 for r in rows)


def test_winnowing_overlap_scores(spark, sf_small):
    rows = spark_queries()["winnowing_overlap_pairs"](spark, sf_small).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["id_a"] < r["id_b"]
        assert r["shared_fps"] >= 5
        assert 0.0 < r["overlap"] <= 1.0


def test_substring_containment_is_exact(spark, sf_small):
    """Every emitted pair must truly satisfy word-aligned containment,
    and the candidate pruning must be lossless vs brute force."""
    pairs = spark_queries()["substring_containment_pairs"](spark, sf_small)
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf_small}/documents.parquet").collect()
    }
    got = {(r["id_inner"], r["id_outer"]) for r in pairs.collect()}
    assert len(got) > 0
    for inner, outer in got:
        assert f" {docs[inner]} " in f" {docs[outer]} "
    brute = {
        (a, b)
        for a, ta in docs.items()
        for b, tb in docs.items()
        if a != b and len(ta.split(" ")) >= 6 and f" {ta} " in f" {tb} "
    }
    assert got == brute


def test_source_kl_nonnegative_and_complete(spark, sf_small):
    rows = spark_queries()["source_kl_divergence"](spark, sf_small).collect()
    sources = {r["source"] for r in rows}
    expected = {
        r["source"]
        for r in spark.read.parquet(f"{sf_small}/documents.parquet")
        .select("source")
        .distinct()
        .collect()
    }
    assert sources == expected
    for r in rows:
        # Gibbs: sum p*log2(p/q) >= 0 when q is a (sub)distribution;
        # quantization error is bounded by 0.5 micro-bit per term
        assert r["kl_micro_bits"] >= -1000
        assert r["n_tokens"] > 0


def test_cluster_safe_split_no_leakage(spark, sf_small):
    """Members of one duplicate cluster must land in the same split,
    and the split must be roughly 80/20."""
    rows = spark_queries()["cluster_safe_split"](spark, sf_small).collect()
    by_comp: dict[int, set[str]] = {}
    n_train = 0
    for r in rows:
        by_comp.setdefault(r["component"], set()).add(r["split"])
        n_train += r["split"] == "train"
    assert all(len(s) == 1 for s in by_comp.values()), "cluster straddles split"
    frac = n_train / len(rows)
    assert 0.6 < frac < 0.95, frac


def test_quality_classifier_holdout_auc(spark, sf_small):
    rows = spark_queries()["quality_classifier_scores"](spark, sf_small).collect()
    assert len(rows) > 0

    def held_out(doc_id: int) -> bool:
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 5 == 0

    ho = [(r["label"], r["p_high_quality"]) for r in rows if held_out(r["doc_id"])]
    pos = sorted(p for l, p in ho if l == 1.0)
    neg = sorted(p for l, p in ho if l == 0.0)
    assert pos and neg
    wins = sum(
        bisect.bisect_left(neg, p)
        + 0.5 * (bisect.bisect_right(neg, p) - bisect.bisect_left(neg, p))
        for p in pos
    )
    auc = wins / (len(pos) * len(neg))
    assert auc > 0.8, auc


def test_holt_reduces_to_ewma_when_beta_zero_trend(spark, sf_small):
    """Trend starts at 0 and with β=0.2 stays bounded; level tracks the
    value range; n_events matches the raw per-user counts."""
    rows = spark_queries()["holt_linear_user_value"](spark, sf_small).collect()
    ev = spark.read.parquet(f"{sf_small}/events.parquet")
    counts = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    vmin, vmax = ev.agg(F.min("value"), F.max("value")).first()
    for r in rows:
        assert r["n_events"] == counts[r["user_id"]]
        # level is an exponential average of (value + bounded trend drift)
        assert vmin - abs(vmax) <= r["level"] <= vmax + abs(vmax)
        # forecast rounds the unrounded l+t, so compare with tolerance
        assert abs(r["forecast_1"] - (r["level"] + r["trend"])) < 2e-6


def test_nation_bfs_hops_are_shortest(spark, sf_small):
    """BFS distances: seed at 0 hops; every hop-k node has an in-edge
    from a hop-(k-1) node; no node closer than its reported hops."""
    rows = spark_queries()["nation_trade_bfs"](spark, sf_small).collect()
    dist = {r["nationkey"]: r["hops"] for r in rows}
    assert dist.get(0) == 0
    # recompute edges independently
    li = spark.read.parquet(f"{sf_small}/lineitem.parquet")
    s = spark.read.parquet(f"{sf_small}/supplier.parquet")
    o = spark.read.parquet(f"{sf_small}/orders.parquet")
    c = spark.read.parquet(f"{sf_small}/customer.parquet")
    edges = {
        (r["src"], r["dst"])
        for r in li.join(s, s.s_suppkey == li.l_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst"))
        .distinct()
        .collect()
    }
    # python BFS reference
    from collections import deque

    adj: dict[int, list[int]] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
    ref = {0: 0}
    q = deque([0])
    while q:
        n = q.popleft()
        if ref[n] >= 3:
            continue
        for m in adj.get(n, []):
            if m not in ref:
                ref[m] = ref[n] + 1
                q.append(m)
    assert dist == ref


def test_incremental_rollup_both_sides_nonempty(spark, sf_small):
    """The cutoff must actually split the data or the merge is
    vacuous; and the merged rollup equals a direct recompute."""
    from collective_als_spark.queries.extended6 import _ROLLUP_CUTOFF
    from collective_als_spark.sources.testdata import load_table

    ev = load_table(spark, sf_small, "events")
    cutoff = F.lit(_ROLLUP_CUTOFF).cast("timestamp")
    assert ev.filter(F.col("ts") < cutoff).count() > 0
    assert ev.filter(F.col("ts") >= cutoff).count() > 0


def test_streaming_ewma_matches_batch(spark, sf_med):
    """One micro-batch reproduces the batch recurrence e_i = 0.3·x_i +
    0.7·e_{i-1}, seeded with the first value, over each user's events in
    (ts, event_id) order."""
    from collective_als_spark.sources.testdata import load_table

    rows = sorted(
        load_table(spark, sf_med, "events")
        .select("user_id", "ts", "event_id", "value")
        .collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    batch: dict[int, tuple[int, float]] = {}
    for r in rows:
        n, e = batch.get(r["user_id"], (0, None))
        v = float(r["value"])
        batch[r["user_id"]] = (n + 1, v if e is None else e * 0.7 + v * 0.3)
    batch = {u: (n, round(e, 6)) for u, (n, e) in batch.items()}
    stream = {
        r["user_id"]: (r["n_events"], r["ewma"])
        for r in spark_queries()["streaming_ewma"](spark, sf_med).collect()
    }
    assert stream == batch


def test_hll_estimate_within_bound(spark, sf_med):
    """lgK=12 HLL keeps relative error ~1.6%; assert 5% against the
    exact distinct count, and that the per-day sketch count is the
    calendar coverage."""
    rows = spark_queries()["hll_incremental_distinct"](spark, sf_med).collect()
    ev = spark.read.parquet(f"{sf_med}/events.parquet")
    exact = {
        r["event_type"]: r["d"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    assert len(rows) == len(exact)
    for r in rows:
        e = exact[r["event_type"]]
        assert abs(r["approx_users"] - e) <= max(1, 0.05 * e), (r, e)
        assert r["n_days"] >= 1


def test_timed_funnel_nonvacuous_and_bounded(spark, sf_small):
    r = spark_queries()["timed_funnel_conversion"](spark, sf_small).first()
    assert r["n_views"] > 0
    assert 0 < r["converted_views"] <= r["n_views"]
    assert 0.0 < r["conversion_rate"] <= 1.0


def test_decode_ppm_exact_pixels_and_errors():
    import numpy as np
    import pytest as _pytest

    from collective_als_spark.multimodal import decode_ppm, synthesize_ppm

    # known 2x2 image with a header comment
    raster = bytes([1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12])
    payload = b"P6\n# a comment\n2 2\n255\n" + raster
    img = decode_ppm(payload)
    assert img.shape == (2, 2, 3)
    assert img.tolist() == [[[1, 2, 3], [4, 5, 6]], [[7, 8, 9], [10, 11, 12]]]
    # synthesize/decode round trip matches the closed form
    img2 = decode_ppm(synthesize_ppm(7, 5, 4))
    y, x = np.mgrid[0:4, 0:5]
    assert (img2[..., 0] == (3 * x + 7 * y + 7) % 256).all()
    assert (img2[..., 1] == (5 * x + y + 14) % 256).all()
    assert (img2[..., 2] == (x + 11 * y + 21) % 256).all()
    with _pytest.raises(ValueError):
        decode_ppm(b"P5\n2 2\n255\n" + raster)  # wrong magic
    with _pytest.raises(ValueError):
        decode_ppm(b"P6\n2 2\n255\n" + raster[:-1])  # truncated raster
    with _pytest.raises(ValueError):
        decode_ppm(b"P6\n2 2\n65535\n" + raster)  # unsupported depth


def test_decode_wav_exact_samples_and_errors():
    import numpy as np
    import pytest as _pytest

    from collective_als_spark.multimodal import decode_wav, synthesize_wav

    # synthesized stereo clip round-trips to the closed form, and the
    # decoy LIST chunk forces real chunk walking
    rate, ch, samples = decode_wav(synthesize_wav(5, n_frames=10, channels=2))
    assert (rate, ch) == (8000, 2)
    assert samples.shape == (10, 2)
    i = np.arange(10)[:, None]
    c = np.arange(2)[None, :]
    assert (samples == ((7 * i + 13 * c + 5) % 4001) - 2000).all()
    # odd-sized chunk is word-aligned: a 3-byte LIST body must not
    # desync the walker
    wav = synthesize_wav(1, n_frames=4)
    odd = b"odd"
    patched = (
        wav[:12]
        + b"LIST" + len(odd).to_bytes(4, "little") + odd + b"\x00"
        + wav[12:]
    )
    rate2, ch2, s2 = decode_wav(patched)
    assert s2.shape == (4, 1)
    with _pytest.raises(ValueError):
        decode_wav(b"RIFX" + wav[4:])  # wrong magic
    with _pytest.raises(ValueError):
        decode_wav(wav[:20])  # missing chunks
    # non-PCM format code rejected
    bad = bytearray(synthesize_wav(2, n_frames=4))
    fmt_pos = bad.find(b"fmt ") + 8
    bad[fmt_pos : fmt_pos + 2] = (3).to_bytes(2, "little")  # IEEE float
    with _pytest.raises(ValueError):
        decode_wav(bytes(bad))


def test_decode_y4m_exact_planes_and_errors():
    import numpy as np
    import pytest as _pytest

    from collective_als_spark.multimodal import decode_y4m, synthesize_y4m

    w, h, planes = decode_y4m(synthesize_y4m(9, width=6, height=4, n_frames=3))
    assert (w, h) == (6, 4)
    assert planes.shape == (3, 4, 6)
    y, x = np.mgrid[0:4, 0:6]
    for f in range(3):
        assert (planes[f] == (5 * x + 3 * y + 11 * f + 9) % 256).all()
    with _pytest.raises(ValueError):
        decode_y4m(b"YUV4MPEG3 W2 H2 C420\nFRAME\n" + b"\x00" * 6)
    with _pytest.raises(ValueError):
        decode_y4m(b"YUV4MPEG2 W3 H2 C420\n")  # odd width
    with _pytest.raises(ValueError):
        decode_y4m(b"YUV4MPEG2 W2 H2 C444\n")  # unsupported colorspace
    ok = synthesize_y4m(1, 4, 4, 2)
    with _pytest.raises(ValueError):
        decode_y4m(ok[:-3])  # truncated last frame


def test_pareto_abc_partition(spark, sf_small):
    rows = sorted(
        spark_queries()["pareto_abc_parts"](spark, sf_small).collect(),
        key=lambda r: r["cum_share"],
    )
    assert {r["abc_class"] for r in rows} == {"A", "B", "C"}
    # cum_share is strictly increasing and ends at 1
    shares = [r["cum_share"] for r in rows]
    assert all(b > a for a, b in zip(shares, shares[1:]))
    assert abs(shares[-1] - 1.0) < 1e-6
    # class boundaries: every A row is below every B row, etc.
    last_a = max(i for i, r in enumerate(rows) if r["abc_class"] == "A")
    first_b = min(i for i, r in enumerate(rows) if r["abc_class"] == "B")
    last_b = max(i for i, r in enumerate(rows) if r["abc_class"] == "B")
    first_c = min(i for i, r in enumerate(rows) if r["abc_class"] == "C")
    assert last_a < first_b and last_b < first_c
    # the A class stops at the 70% boundary
    assert rows[last_a]["cum_share"] <= 0.7 < rows[first_b]["cum_share"]


def test_rolling_median_matches_python(spark, sf_small):
    from collective_als_spark.sources.testdata import load_table

    got = {
        r["event_id"]: r["rolling_median"]
        for r in spark_queries()["rolling_median_user_value"](spark, sf_small).collect()
    }
    ev = sorted(
        load_table(spark, sf_small, "events")
        .select("event_id", "user_id", "ts", "value")
        .collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    by_user: dict[int, list] = {}
    for r in ev:
        hist = by_user.setdefault(r["user_id"], [])
        hist.append(float(r["value"]))
        win = sorted(hist[-5:])
        n = len(win)
        med = (win[(n + 1) // 2 - 1] + win[n // 2]) / 2
        assert got[r["event_id"]] == round(med, 6), r["event_id"]


def test_streaming_multimodal_matches_batch(spark, sf_med):
    qs = spark_queries()
    batch = {tuple(r) for r in qs["multimodal_ppm_decode"](spark, sf_med).collect()}
    stream = {
        tuple(r) for r in qs["streaming_multimodal_ingest"](spark, sf_med).collect()
    }
    assert stream == batch and len(batch) > 0


def test_multimodal_curation_gates_discriminate(spark, sf_small):
    """Both gates must actually drop documents (brightness alone and
    token-length alone), or the cross-modal filter is vacuous."""
    from collective_als_spark.multimodal import (
        attach_media_columns,
        ppm_image_stats,
        synthetic_ppm_payloads,
    )
    from collective_als_spark.sources.testdata import load_table

    docs = load_table(spark, sf_small, "documents")
    n_docs = docs.count()
    stats = ppm_image_stats(
        attach_media_columns(
            synthetic_ppm_payloads(docs.select("doc_id"), "doc_id"),
            "doc_id", "payload", "image/x-ppm",
        )
    ).withColumn(
        "bright",
        (F.col("sum_r") + F.col("sum_g") + F.col("sum_b"))
        / (3 * F.col("width") * F.col("height")),
    )
    n_bright = stats.filter(F.col("bright") >= 120).count()
    assert 0 < n_bright < n_docs
    n_long = docs.filter(F.size(F.split("text", " ")) >= 20).count()
    assert 0 < n_long < n_docs
    kept = spark_queries()["pipeline_multimodal_curation"](spark, sf_small)
    total_kept = sum(r["n_kept"] for r in kept.collect())
    assert 0 < total_kept < n_docs
