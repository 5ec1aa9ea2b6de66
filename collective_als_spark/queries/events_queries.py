"""Event-stream queries: tumbling windows, sessionization, streaming
demo, multimodal plumbing (SURVEY §2.11 new-build surface)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from collective_als_spark.registry import register
from collective_als_spark.sources import load_table
from collective_als_spark.streaming.windows import (
    sessionize,
    streaming_tumbling_agg,
    tumbling_agg,
)


@register(
    "tumbling_window_agg",
    oracle="""
    SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) AS window_start_ms,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total_v
    FROM events
    GROUP BY 1, 2
    """,
)
def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event type (batch F.window)."""
    ev = load_table(spark, sf_dir, "events")
    return tumbling_agg(ev, "ts", "event_type", "1 hour")


@register(
    "sliding_window_agg",
    oracle="""
    WITH t AS (
        SELECT event_type, value, epoch_ms(ts) AS ms FROM events
    ),
    e AS (
        SELECT event_type, value, ms,
               unnest([ms // 1800000 * 1800000,
                       ms // 1800000 * 1800000 - 1800000]) AS st
        FROM t
    )
    SELECT st AS window_start_ms, event_type,
           count(*) AS n, round(sum(value), 2) AS total_v
    FROM e
    WHERE ms - st < 3600000
    GROUP BY st, event_type
    """,
)
def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) 1-hour windows every 30 minutes per event type
    — overlapping windows mean each event counts in width/slide = 2
    windows (the oracle expands the same two slide-aligned starts).

    Scale: Spark expands the overlap map-side; one (window, key)
    groupBy shuffle with map-side combine — state is windows x keys,
    not events.
    """
    ev = load_table(spark, sf_dir, "events")
    return tumbling_agg(ev, "ts", "event_type", "1 hour", slide="30 minutes")


@register("streaming_sliding_agg")
def streaming_sliding_agg_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming sliding-window agg via the memory sink
    (rows-only: streaming execution, same results as
    sliding_window_agg — asserted in tests)."""
    return streaming_tumbling_agg(spark, sf_dir, slide="30 minutes")


@register(
    "sessionization",
    oracle="""
    WITH g AS (
        SELECT user_id, value, epoch_ms(ts) AS ms,
               CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER w IS NULL
                      OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sid AS (
        SELECT user_id, value, ms,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ms
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_no
        FROM g
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           min(ms) AS session_start_ms, max(ms) AS session_end_ms,
           count(*) AS n_events, round(sum(value), 2) AS total_v
    FROM sid
    GROUP BY user_id, session_no
    """,
)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based (30 min) sessionization per user."""
    ev = load_table(spark, sf_dir, "events")
    return sessionize(ev, "ts", "user_id", gap_minutes=30)


@register("streaming_tumbling_agg")
def streaming_tumbling_agg_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling agg driven to completion via the
    memory sink (rows-only: streaming execution, same results as
    tumbling_window_agg)."""
    return streaming_tumbling_agg(spark, sf_dir)


@register("streaming_stateful_totals")
def streaming_stateful_totals_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState
    (rows-only: arbitrary state-store execution)."""
    from collective_als_spark.streaming.stateful import streaming_stateful_totals

    return streaming_stateful_totals(spark, sf_dir)


@register("streaming_tws_user_stats")
def streaming_tws_user_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-4 transformWithStateInPandas (typed ValueState) running
    per-user stats (rows-only: arbitrary state-store execution;
    batch-equivalence tested in test_extended4.py). Falls back to the
    applyInPandasWithState twin where the tws protobuf runtime is
    absent (this sandbox) — same state transition, same output."""
    from collective_als_spark.streaming.stateful import (
        has_transform_with_state_support,
        streaming_tws_user_stats,
        streaming_tws_user_stats_fallback,
    )

    if has_transform_with_state_support():
        return streaming_tws_user_stats(spark, sf_dir)
    return streaming_tws_user_stats_fallback(spark, sf_dir)


@register("streaming_static_enrich")
def streaming_static_enrich_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment join (rows-only: streaming
    execution)."""
    from collective_als_spark.streaming.stateful import streaming_static_enrich

    return streaming_static_enrich(spark, sf_dir)


@register("streaming_session_window")
def streaming_session_window_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked session_window sessions on a stream (rows-only:
    streaming execution; batch twin is `sessionization`)."""
    from collective_als_spark.streaming.stateful import streaming_session_window

    return streaming_session_window(spark, sf_dir)


@register("streaming_dedup")
def streaming_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup via dropDuplicatesWithinWatermark —
    watermark-bounded state (rows-only: streaming execution; batch twin
    is exact_dedup, equivalence tested in test_extended2.py)."""
    from collective_als_spark.streaming.stateful import streaming_dedup

    return streaming_dedup(spark, sf_dir)


_HEXVAL = "(strpos('0123456789abcdef', h[{p}]) - 1)"


def _mm_feature_sql(i: int) -> str:
    """uint16 little-endian value of md5-digest bytes (2i, 2i+1), spelled
    from the hex string: byte j = hex chars (2j+1, 2j+2)."""
    b_lo = f"({_HEXVAL.format(p=4 * i + 1)} * 16 + {_HEXVAL.format(p=4 * i + 2)})"
    b_hi = f"({_HEXVAL.format(p=4 * i + 3)} * 16 + {_HEXVAL.format(p=4 * i + 4)})"
    return f"CAST({b_lo} + 256 * {b_hi} AS INTEGER) AS f{i}"


@register(
    "multimodal_features",
    oracle=f"""
    WITH t AS (
        SELECT doc_id AS media_id,
               'text/fake-image' AS modality,
               CAST(strlen(text) AS BIGINT) AS n_bytes,
               md5(text) AS h
        FROM documents
    )
    SELECT media_id, modality, n_bytes,
           {", ".join(_mm_feature_sql(i) for i in range(8))}
    FROM t
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload plumbing: documents' text bytes stand in for
    media payloads; metadata struct + Arrow-batched feature extraction
    (SURVEY §2.11). The fake featureizer is md5-deterministic — uint16
    little-endian slices of the payload digest scaled to [0,1] float32
    (multimodal.py::extract_features) — so it IS oracle-expressible:
    the query de-quantizes each feature back to its exact 16-bit value
    (f*65535 rounds losslessly: float32 relative error 2^-24 << 0.5)
    and DuckDB recomputes the same integers from the md5 hex string.
    Upgraded from rows-only to hash-checked per round-2 verdict #4."""
    from collective_als_spark.multimodal import attach_media_columns, extract_features

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "payload", F.encode("text", "utf-8")
    )
    media = attach_media_columns(docs, "doc_id", "payload", "text/fake-image")
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "modality",
        "n_bytes",
        *[
            F.round(F.col("features")[i].cast("double") * 65535)
            .cast("int")
            .alias(f"f{i}")
            for i in range(8)
        ],
    )


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH t AS (
        SELECT doc_id, text, length(text) AS n_bytes FROM documents
    ),
    f AS (
        SELECT doc_id,
               unnest(range(0,
                   CAST(greatest(ceil(n_bytes / 256.0), 1) AS BIGINT), 4)) AS i
        FROM t
    )
    SELECT f.doc_id AS media_id,
           CAST(f.i AS INTEGER) AS frame_idx,
           CAST(length(substring(t.text, CAST(f.i * 256 + 1 AS BIGINT), 256))
                AS INTEGER) AS n_frame_bytes,
           md5(substring(t.text, CAST(f.i * 256 + 1 AS BIGINT), 256)) AS frame_hash
    FROM f JOIN t USING (doc_id)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling over binary payloads (256-byte
    frames, every 4th kept): the row-expanding mapInPandas shape of a
    real video pipeline, with byte-slicing standing in for the codec.
    Payloads are ASCII text bytes, so the DuckDB oracle reproduces the
    byte slices with character substrings and hash-checks every frame."""
    from collective_als_spark.multimodal import attach_media_columns, sample_frames

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "payload", F.encode("text", "utf-8")
    )
    media = attach_media_columns(docs, "doc_id", "payload", "video/fake")
    return sample_frames(media, frame_bytes=256, stride=4)


@register("multimodal_audio_energy")
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-style windowed RMS energy with text bytes as raw 16-bit
    PCM — genuinely computed numpy per Arrow batch (rows-only: int16
    reinterpretation is not SQL-expressible; invariants tested in
    test_extended2.py)."""
    from collective_als_spark.multimodal import (
        attach_media_columns,
        audio_window_energy,
    )

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "payload", F.encode("text", "utf-8")
    )
    media = attach_media_columns(docs, "doc_id", "payload", "audio/fake-pcm")
    return audio_window_energy(media, window=1024)


@register("streaming_stream_join")
def streaming_stream_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (click -> purchase within 60 min) with
    watermark-bounded state on both sides (rows-only: streaming
    execution; batch-equivalence tested in test_extended2.py)."""
    from collective_als_spark.streaming.stateful import (
        streaming_click_purchase_join,
    )

    return streaming_click_purchase_join(spark, sf_dir)


@register("streaming_upsert_totals")
def streaming_upsert_totals_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch idempotent parquet upsert of per-user totals
    (rows-only: streaming execution + side-effecting sink; batch
    equivalence tested in test_extended2.py)."""
    from collective_als_spark.streaming.stateful import streaming_upsert_parquet

    return streaming_upsert_parquet(spark, sf_dir)


@register("streaming_ewma")
def streaming_ewma_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-user EWMA (stateful twin of ewma_user_value);
    rows-only — batch equivalence pinned in tests/test_extended6.py."""
    from collective_als_spark.streaming.stateful import streaming_ewma_user_value

    return streaming_ewma_user_value(spark, sf_dir)


@register(
    "multimodal_ppm_decode",
    oracle="""
    WITH dims AS (
        SELECT doc_id AS media_id,
               CAST(4 + doc_id % 5 AS INTEGER) AS width,
               CAST(3 + doc_id % 4 AS INTEGER) AS height
        FROM documents
    )
    SELECT d.media_id, d.width, d.height,
           CAST(sum((3 * t.x + 7 * u.y + d.media_id) % 256) AS BIGINT) AS sum_r,
           CAST(sum((5 * t.x + u.y + 2 * d.media_id) % 256) AS BIGINT) AS sum_g,
           CAST(sum((t.x + 11 * u.y + 3 * d.media_id) % 256) AS BIGINT) AS sum_b
    FROM dims d,
         LATERAL (SELECT unnest(range(0, d.width)) AS x) t,
         LATERAL (SELECT unnest(range(0, d.height)) AS y) u
    GROUP BY d.media_id, d.width, d.height
    """,
)
def multimodal_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, hash-checked end-to-end: deterministic P6
    PPM payloads (closed-form gradient rasters keyed by doc_id) are
    synthesized into genuine binary images, then DECODED BY PARSING
    BYTES (`multimodal.decode_ppm` — header grammar incl. comments +
    numpy raster reshape, no image library) and reduced to exact
    per-channel integer sums. The DuckDB oracle recomputes the sums
    analytically from the pixel formula, so a green hash proves the
    binary round trip (encode → parse → pixels) bit-exactly — this
    upgrades the multimodal decode step from env-stubbed to real for
    the one raster codec that needs no external library.

    Scale: synthesis and decode are both Arrow-batched map-only
    passes; payload bytes never cross a shuffle (stats extracted in
    the scan stage, the multimodal rule)."""
    from collective_als_spark.multimodal import (
        attach_media_columns,
        ppm_image_stats,
        synthetic_ppm_payloads,
    )

    from collective_als_spark.sources.testdata import spread

    # the synth + byte-parse chain is Arrow-batched map work; run it
    # at core parallelism (no-op when the scan already splits)
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id"))
    with_payload = synthetic_ppm_payloads(docs, "doc_id")
    media = attach_media_columns(with_payload, "doc_id", "payload", "image/x-ppm")
    return ppm_image_stats(media)


@register(
    "multimodal_wav_decode",
    oracle="""
    WITH dims AS (
        SELECT doc_id AS media_id,
               CAST(64 + doc_id % 64 AS BIGINT) AS n_frames
        FROM documents
    )
    SELECT d.media_id,
           CAST(8000 AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS n_channels,
           d.n_frames,
           CAST(sum(abs((7 * t.i + d.media_id) % 4001 - 2000)) AS BIGINT)
               AS sum_abs,
           CAST(max(abs((7 * t.i + d.media_id) % 4001 - 2000)) AS INTEGER)
               AS peak
    FROM dims d, LATERAL (SELECT unnest(range(0, d.n_frames)) AS i) t
    GROUP BY d.media_id, d.n_frames
    """,
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, hash-checked end-to-end: deterministic
    16-bit PCM WAV clips (closed-form samples keyed by doc_id, with a
    decoy LIST chunk so the RIFF chunk grammar is actually exercised)
    are synthesized as genuine binaries, DECODED BY WALKING THE CHUNK
    LIST (`multimodal.decode_wav` — fmt validation + numpy sample
    reshape, no audio library), and reduced to exact integer
    statistics. The DuckDB oracle recomputes |sample| sums and peaks
    analytically — a green hash proves the binary round trip exactly,
    the audio twin of `multimodal_ppm_decode`.

    Scale: synthesis and decode are Arrow-batched map-only passes;
    payload bytes never cross a shuffle."""
    from collective_als_spark.multimodal import (
        attach_media_columns,
        synthetic_wav_payloads,
        wav_audio_stats,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    with_payload = synthetic_wav_payloads(docs, "doc_id")
    media = attach_media_columns(with_payload, "doc_id", "payload", "audio/x-wav")
    return wav_audio_stats(media)


@register(
    "multimodal_y4m_frames",
    oracle="""
    WITH dims AS (
        SELECT doc_id AS media_id,
               CAST(4 + 2 * (doc_id % 3) AS INTEGER) AS width,
               CAST(4 + 2 * (doc_id % 2) AS INTEGER) AS height,
               CAST(3 + doc_id % 4 AS BIGINT) AS nf
        FROM documents
    ),
    frames AS (
        SELECT d.media_id, d.width, d.height, t.f
        FROM dims d, LATERAL (SELECT unnest(range(0, d.nf, 2)) AS f) t
    )
    SELECT fr.media_id, CAST(fr.f AS INTEGER) AS frame_idx,
           fr.width, fr.height,
           CAST(sum((5 * xx.x + 3 * yy.y + 11 * fr.f + fr.media_id) % 256)
                AS BIGINT) AS luma_sum
    FROM frames fr,
         LATERAL (SELECT unnest(range(0, fr.width)) AS x) xx,
         LATERAL (SELECT unnest(range(0, fr.height)) AS y) yy
    GROUP BY fr.media_id, fr.f, fr.width, fr.height
    """,
)
def multimodal_y4m_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode + frame sampling, hash-checked end-to-end:
    deterministic YUV4MPEG2 clips (closed-form 4:2:0 luma planes) are
    synthesized as genuine binaries, DECODED BY PARSING the stream
    header + FRAME markers (`multimodal.decode_y4m` — no video
    library), sampled every 2nd frame, and reduced to exact per-frame
    luma sums the DuckDB oracle recomputes analytically. With
    `multimodal_ppm_decode` and `multimodal_wav_decode` this makes all
    three modalities' decode paths REAL for their library-free
    container formats.

    Scale: row-expanding map-only pass (one clip in, sampled frames
    out); payload bytes never cross a shuffle."""
    from collective_als_spark.multimodal import (
        attach_media_columns,
        synthetic_y4m_payloads,
        y4m_frame_luma,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    with_payload = synthetic_y4m_payloads(docs, "doc_id")
    media = attach_media_columns(with_payload, "doc_id", "payload", "video/x-y4m")
    return y4m_frame_luma(media, stride=2)


@register("streaming_multimodal_ingest")
def streaming_multimodal_ingest_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real PPM decode running under Structured Streaming (rows-only;
    exact batch equivalence pinned in tests/test_extended6.py)."""
    from collective_als_spark.streaming.stateful import streaming_multimodal_ingest

    return streaming_multimodal_ingest(spark, sf_dir)
