"""Extended operator coverage: as-of join, factor Gramian, SQL
passthrough (SURVEY §2.7/§2.11 free-in-Spark surface + A6)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from collective_als_spark.operators.asof import asof_join
from collective_als_spark.registry import register
from collective_als_spark.sources import load_table, register_views


@register(
    "asof_join_purchase_click",
    oracle="""
    WITH purchases AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
        SELECT event_id AS click_event_id, user_id, ts FROM events
        WHERE event_type = 'click'
    )
    SELECT p.event_id, p.user_id,
           epoch_ms(p.ts) AS ts_ms,
           c.click_event_id AS asof_click_event_id,
           epoch_ms(p.ts) - epoch_ms(c.ts) AS ms_since_click
    FROM purchases p
    ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_join_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent
    click at-or-before it (union + forward-fill window, one shuffle)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event_id"), "user_id", "ts"
    )
    j = asof_join(
        purchases, clicks,
        key="user_id", left_ts="ts", right_ts="ts",
        right_payload=["click_event_id", "ts"], tie_break="event_id",
    )
    return j.select(
        "event_id", "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        "asof_click_event_id",
        (F.unix_millis("ts") - F.unix_millis("asof_ts")).alias("ms_since_click"),
    )


@register(
    "gramian_yty",
    oracle="""
    WITH elems AS (
        SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
        FROM embeddings, generate_series(1, 64) s(i)
        WHERE vec_id < 100
    )
    SELECT a.i AS row_i, b.i AS col_j,
           round(sum(a.x * b.x), 4) AS g
    FROM elems a JOIN elems b ON a.vec_id = b.vec_id
    GROUP BY a.i, b.i
    """,
)
def gramian_yty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 computeYtY: Gramian of a factor/embedding table as a
    distributed aggregation (posexplode + self-join per vector,
    groupBy (i,j)) — reference CollectiveALS.scala:1058-1065."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 100)
        .select("vec_id", F.posexplode("embedding").alias("i0", "x"))
        .select("vec_id", (F.col("i0") + 1).alias("i"), F.col("x").cast("double").alias("x"))
    )
    a, b = emb.alias("a"), emb.alias("b")
    return (
        a.join(b, F.col("a.vec_id") == F.col("b.vec_id"))
        .groupBy(F.col("a.i").alias("row_i"), F.col("b.i").alias("col_j"))
        .agg(F.round(F.sum(F.col("a.x") * F.col("b.x")), 4).alias("g"))
    )


@register(
    "sql_passthrough",
    oracle="""
    SELECT o_orderpriority, count(*) AS n, round(avg(o_totalprice), 4) AS avg_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def sql_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: raw SQL through the engine (views + spark.sql) — reference
    IHRALS.scala:25-27."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n,
               round(avg(o_totalprice), 4) AS avg_price
        FROM orders GROUP BY o_orderpriority
        """
    )
