"""Chronological dataset splitting.

Reference: ``Utils.splitChronologically`` (``Utils.scala:11-36``) sorts
the whole RDD by a time column (range-partition shuffle), zips with a
global index, counts, and filters one lineage per slice — three extra
jobs plus a reflection hack to recover the encoder.

Rebuild, 100 TB shapes for both modes:

- ``exact=True`` — two-phase global rank: a ``repartitionByRange``
  shuffle on the sort key (the same range shuffle the reference's
  ``sortBy`` does), a per-partition prefix count (window partitioned by
  ``spark_partition_id`` — never a single-task global window), then a
  broadcast join against the tiny per-partition cumulative-offset table.
  Global rank = local rank + partition offset, exactly ``zipWithIndex``
  semantics, fully parallel. The ranking is materialised once
  (``localCheckpoint``) and every slice filters it. Slice bounds are
  kept as floats (``lo*n <= rk < hi*n``) to match the reference's
  fractional-boundary behavior (``Utils.scala:24-27``) bit-for-bit.
- ``exact=False`` — approx quantile cuts on the time column (no rank at
  all); boundaries off by at most the approx-quantile error. Rows with
  a NULL time sort first in exact mode, so the approx path routes them
  into the first slice explicitly (they'd otherwise be silently dropped
  by the range filters).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _cumulative_bounds(weights: list[float]) -> list[tuple[float, float]]:
    total_w = float(sum(weights))
    fracs = [w / total_w for w in weights]
    cum = []
    acc = 0.0
    for frac in fracs:
        cum.append((acc, acc + frac))
        acc += frac
    cum[-1] = (cum[-1][0], 1.0 + 1e-9)
    return cum


def _global_prefix(
    df: DataFrame,
    order_cols: list,
    value: Column,
    prefix_col: str,
    total_col: str,
) -> DataFrame:
    """Exact EXCLUSIVE global prefix sum of ``value`` in ``order_cols``
    order (sum over all strictly-preceding rows), plus its grand total,
    without a single-task global window.

    Range-shuffle on the ordering key, per-partition window prefix sum,
    then add the partition's cumulative offset via a tiny broadcast join
    (one row per shuffle partition; O(P²) offset work over P shuffle
    partitions is negligible). Linear work per row.
    """
    part = df.repartitionByRange(*order_cols).withColumn(
        "_pid", F.spark_partition_id()
    ).withColumn("_pv", value)
    w_local = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = part.withColumn(
        "_lcum", F.coalesce(F.sum("_pv").over(w_local), F.lit(0)).cast("long")
    )
    sums = part.groupBy("_pid").agg(F.sum("_pv").cast("long").alias("_cnt"))
    packed = sums.agg(F.sort_array(F.collect_list(F.struct("_pid", "_cnt"))).alias("pc"))
    offsets = packed.select(
        F.explode(
            F.expr(
                "transform(pc, (x, i) -> struct("
                "x._pid AS _pid, "
                "aggregate(slice(pc, 1, i), 0L, (acc, y) -> acc + y._cnt) AS _off, "
                "aggregate(pc, 0L, (acc, y) -> acc + y._cnt) AS _tot))"
            )
        ).alias("s")
    ).select("s.*")
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(prefix_col, (F.col("_lcum") + F.col("_off")).cast("long"))
        .withColumn(total_col, F.col("_tot"))
        .drop("_pid", "_pv", "_lcum", "_off", "_tot")
    )


def global_rank(
    df: DataFrame,
    order_cols: list,
    rank_col: str = "_rk",
) -> DataFrame:
    """Exact 0-based global rank (``zipWithIndex`` semantics) without a
    global window: the exclusive prefix count. Also attaches ``_n``
    (total rows) so callers can cut by fraction without a count job."""
    return _global_prefix(df, order_cols, F.lit(1), rank_col, "_n")


def global_cumsum(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    cumsum_col: str = "_cum",
    total_col: str = "_total",
) -> DataFrame:
    """Exact EXCLUSIVE global cumulative sum of ``value_col`` in
    ``order_cols`` order, plus the grand total in ``total_col`` so
    callers can compute shares without a second pass."""
    return _global_prefix(df, order_cols, F.col(value_col), cumsum_col, total_col)


def split_chronologically(
    df: DataFrame,
    weights: list[float],
    time_col: str,
    tie_break: list[str] | None = None,
    exact: bool = True,
) -> list[DataFrame]:
    """Split ``df`` into len(weights) slices in time order.

    weights are normalized (reference ``Utils.scala:21-23``). ``exact=True``
    reproduces the reference's exact global-rank cuts with float bounds
    (``lower <= rank < upper``, ``Utils.scala:24-27``); ``exact=False``
    uses approx quantile boundaries on ``time_col`` (fully parallel,
    boundary-epsilon accuracy — prefer it anywhere exact rank cuts
    aren't demanded by an oracle).
    """
    cum = _cumulative_bounds(weights)

    if not exact:
        from pyspark.sql import types as T

        is_ts = isinstance(df.schema[time_col].dataType, T.TimestampType)
        num_col = "__split_us" if is_ts else time_col
        ndf = (
            df.withColumn(num_col, F.unix_micros(F.col(time_col))) if is_ts else df
        )
        probs = [hi for (_, hi) in cum[:-1]]
        cuts = ndf.approxQuantile(num_col, probs, 0.001)
        slices = []
        lo_cut = None
        for i, (_, _) in enumerate(cum):
            sl = ndf
            if lo_cut is not None:
                sl = sl.filter(F.col(num_col) >= F.lit(lo_cut))
            if i < len(cuts):
                pred = F.col(num_col) < F.lit(cuts[i])
                if i == 0:
                    # NULL timestamps sort first under the exact path's
                    # row_number; keep them in the first slice here too
                    # instead of silently dropping them.
                    pred = pred | F.col(num_col).isNull()
                sl = sl.filter(pred)
                lo_cut = cuts[i]
            slices.append(sl.drop("__split_us") if is_ts else sl)
        return slices

    order = [F.col(time_col)] + [F.col(c) for c in (tie_break or [])]
    # rank once: every slice filters the same materialised ranking
    # instead of re-running the range shuffle per slice
    ranked = global_rank(df, order).localCheckpoint(eager=True)
    out = []
    for lo, hi in cum:
        out.append(
            ranked.filter(
                (F.col("_rk") >= F.lit(lo) * F.col("_n"))
                & (F.col("_rk") < F.lit(hi) * F.col("_n"))
            ).drop("_rk", "_n")
        )
    return out


def chronological_slice_labels(
    df: DataFrame,
    weights: list[float],
    time_col: str,
    tie_break: list[str] | None = None,
    label_col: str = "slice",
) -> DataFrame:
    """One-frame variant of the exact split: every row gets its slice
    index as a column from a single lazy global-rank subplan. Use this
    when downstream wants all slices in one frame (size accounting,
    per-slice stats, fold-tagged training data)."""
    cum = _cumulative_bounds(weights)
    order = [F.col(time_col)] + [F.col(c) for c in (tie_break or [])]
    ranked = global_rank(df, order)
    lab = None
    for i, (lo, hi) in enumerate(cum):
        cond = (F.col("_rk") >= F.lit(lo) * F.col("_n")) & (
            F.col("_rk") < F.lit(hi) * F.col("_n")
        )
        lab = F.when(cond, i) if lab is None else lab.when(cond, i)
    return ranked.withColumn(label_col, lab.cast("int")).drop("_rk", "_n")
