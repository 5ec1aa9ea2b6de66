"""Extension set 3: distribution drift, hybrid-retrieval rank fusion,
and sampled item-item similarity.

Reference parity: these extend the LLM-data-pipeline surface beyond the
reference's operator set (SURVEY §2.11 north-star list). PSI is the
ML-monitoring drift score; RRF fuses the BM25 scorer in ``llm_data.py``
with embedding cosine; DIMSUM is the sampled neighborhood-model
companion to the CMF factor model.

Scale notes are per-operator; every plan here is shuffle-bounded
(no cartesian products except documented 1-row scalar broadcasts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from collective_als_spark.functions import text as TX
from collective_als_spark.registry import register
from collective_als_spark.sources.testdata import load_table

_PSI_BIN_W = 50.0
_PSI_NBINS = 10


@register(
    "psi_drift",
    oracle=f"""
    WITH tagged AS (
        SELECT least(CAST(floor(value / {_PSI_BIN_W}) AS BIGINT),
                     {_PSI_NBINS - 1}) AS bin,
               ('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8))
                   ::BIGINT % 2 AS grp
        FROM events
    ),
    b AS (
        SELECT bin,
               CAST(count(*) FILTER (grp = 0) AS BIGINT) AS n_a,
               CAST(count(*) FILTER (grp = 1) AS BIGINT) AS n_b
        FROM tagged GROUP BY bin
    ),
    t AS (
        SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb
        FROM b
    )
    SELECT CAST(count(*) AS BIGINT) AS n_bins, t.ta AS n_a, t.tb AS n_b,
           round(sum(((n_a + 1.0) / (ta + {_PSI_NBINS})
                      - (n_b + 1.0) / (tb + {_PSI_NBINS}))
                     * ln(((n_a + 1.0) / (ta + {_PSI_NBINS}))
                          / ((n_b + 1.0) / (tb + {_PSI_NBINS})))), 6) AS psi
    FROM b, t
    GROUP BY t.ta, t.tb
    """,
)
def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index between two deterministic hash-halves
    of the event stream, over fixed equi-width value bins — the
    ML-monitoring drift score (here a self-consistency A/A check; in
    production the two sides are yesterday's and today's partition).
    Laplace-smoothed so empty bins stay finite.

    Scale: the split is the engine-stable md5-mod hash (same primitive
    as `deterministic_sample`), bins are FIXED-width (no quantile pass),
    so the whole thing is one map-side-combinable groupBy(bin) with
    conditional counts + arithmetic on the bins-sized frame.
    """
    events = load_table(spark, sf_dir, "events")
    bin_ = F.least(
        F.floor(F.col("value") / _PSI_BIN_W).cast("bigint"),
        F.lit(_PSI_NBINS - 1),
    )
    grp = F.pmod(TX.word_hash(F.col("event_id").cast("string")), F.lit(2))
    b = (
        events.select(bin_.alias("bin"), grp.alias("grp"))
        .groupBy("bin")
        .agg(
            F.count(F.when(F.col("grp") == 0, 1)).alias("n_a"),
            F.count(F.when(F.col("grp") == 1, 1)).alias("n_b"),
        )
    )
    b = b.localCheckpoint(eager=True)  # bins-sized; reused for totals
    t = b.agg(
        F.sum("n_a").cast("bigint").alias("ta"),
        F.sum("n_b").cast("bigint").alias("tb"),
    )
    pa = (F.col("n_a") + 1.0) / (F.col("ta") + _PSI_NBINS)
    pb = (F.col("n_b") + 1.0) / (F.col("tb") + _PSI_NBINS)
    return (
        b.crossJoin(F.broadcast(t))
        .groupBy("ta", "tb")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
            F.round(F.sum((pa - pb) * F.log(pa / pb)), 6).alias("psi"),
        )
        .select(
            "n_bins", F.col("ta").alias("n_a"), F.col("tb").alias("n_b"), "psi"
        )
    )


_RRF_K = 60


@register(
    "rrf_fusion",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS dl,
               len(list_filter(string_split(text, ' '), w -> w = 'spark')) AS tf0,
               len(list_filter(string_split(text, ' '), w -> w = 'window')) AS tf1,
               len(list_filter(string_split(text, ' '), w -> w = 'join')) AS tf2
        FROM documents
    ),
    g AS (
        SELECT count(*) AS n,
               sum(dl) * 1.0 / count(*) AS avgdl,
               sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
               sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
               sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
        FROM t
    ),
    scored AS (
        SELECT doc_id,
               (ln(1 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2
                / (tf0 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
             + (ln(1 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2
                / (tf1 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
             + (ln(1 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.2
                / (tf2 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) AS bm25
        FROM t, g
        WHERE tf0 + tf1 + tf2 > 0
    ),
    cand AS (
        SELECT doc_id, bm25 FROM scored ORDER BY bm25 DESC, doc_id LIMIT 50
    ),
    qv AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    withcos AS (
        SELECT c.doc_id, c.bm25,
               list_cosine_similarity(e.embedding::DOUBLE[], qv.qe) AS cos
        FROM cand c JOIN embeddings e ON e.vec_id = c.doc_id, qv
    ),
    ranked AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rb,
               row_number() OVER (ORDER BY cos DESC, doc_id) AS rc
        FROM withcos
    )
    SELECT doc_id,
           round(1.0 / ({_RRF_K} + rb) + 1.0 / ({_RRF_K} + rc), 6) AS rrf
    FROM ranked
    ORDER BY rrf DESC, doc_id
    LIMIT 10
    """,
)
def rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the lexical (BM25) and semantic
    (embedding cosine) rankings — the score-free rank combiner used by
    hybrid search stacks (the score-blended twin is
    `hybrid_retrieval`). rrf = Σ 1/(k + rank), k=60.

    Scale: candidates are TakeOrdered top-50; both ranks are computed
    by packing the CANDIDATE set (bounded, 50 rows) into one sorted
    array and exploding positions — no un-partitioned window ever runs,
    so the plan stays legal even though rank is a global notion here.
    The rank join is 50x50 on doc_id (broadcast).
    """
    from collective_als_spark.functions.vector import cosine_similarity
    from collective_als_spark.queries.llm_data import bm25_raw_scores

    docs = load_table(spark, sf_dir, "documents")
    cand = (
        bm25_raw_scores(docs).orderBy(F.desc("bm25"), "doc_id").limit(50)
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("e").alias("qe"))
    withcos = (
        cand.join(emb, cand.doc_id == emb.vec_id)
        .join(F.broadcast(qv))
        .select("doc_id", "bm25", cosine_similarity("e", "qe").alias("cos"))
    )

    def rank_of(df: DataFrame, col: str, alias: str) -> DataFrame:
        packed = df.agg(
            F.sort_array(
                F.collect_list(F.struct((-F.col(col)).alias("neg"), "doc_id"))
            ).alias("arr")
        )
        return packed.select(
            F.posexplode(F.expr("transform(arr, x -> x.doc_id)")).alias(
                "pos", "doc_id"
            )
        ).select("doc_id", (F.col("pos") + 1).alias(alias))

    rb = rank_of(withcos, "bm25", "rb")
    rc = rank_of(withcos, "cos", "rc")
    rrf = F.round(
        1.0 / (_RRF_K + F.col("rb")) + 1.0 / (_RRF_K + F.col("rc")), 6
    )
    return (
        rb.join(rc, "doc_id")
        .select("doc_id", rrf.alias("rrf"))
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(10)
    )


@register("item_item_dimsum")
def item_item_dimsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIMSUM sampled item-item cosine (Zadeh & Carlsson) over
    customer x part baskets. Sampling keeps each entry with probability
    inversely proportional to its column norm, so popular-item pairs —
    the quadratic tail of an exact co-occurrence self-join — are
    DOWN-sampled with bounded relative error while rare pairs stay
    exact; shuffle size becomes O(n·log n / threshold) independent of
    the user count. Rows-only: the sampling is randomized (exactness
    of the threshold<=0 mode pinned against numpy in
    tests/test_extended4.py).

    Fully DataFrame-native (operators/similarity.py::dimsum_cosine):
    no driver-side item dictionary, no ``.rdd``, no MLlib — the plan
    is a norm aggregate, a codegen'd Bernoulli filter, and one
    self-equi-join on the user key over the sampled entries.
    """
    from collective_als_spark.operators.similarity import dimsum_cosine

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ui = (
        orders.join(li, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i"))
        .distinct()
    )
    return (
        dimsum_cosine(ui, "u", "i", threshold=0.1, seed=7)
        .filter(F.col("cosine_est") >= 0.2)
        .select(
            F.col("item_a").alias("part_i"),
            F.col("item_b").alias("part_j"),
            "cosine_est",
        )
    )
