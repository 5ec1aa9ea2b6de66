"""Round-3 extension set: corpus-LM quality scoring, subset-duplication
detection, sketch-based heavy hitters, source-weighted sampling, and
semantic (embedding-cluster) dedup.

These extend the LLM-data-pipeline surface (SURVEY §2.11 north star):
unigram log-prob is the CCNet-style LM quality filter; containment is
the RefinedWeb-style subset-duplication check Jaccard misses; the
count-min sketch is the fixed-memory frequency structure used when the
vocabulary itself no longer fits; SemDeDup-style k-means clustering
bounds the pairwise-similarity dedup search to within-cluster blocks.

Scale notes per operator; no cartesian joins except documented 1-row
scalar broadcasts, all windows key-partitioned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from collective_als_spark.functions import text as TX
from collective_als_spark.operators import dedup as D
from collective_als_spark.registry import register
from collective_als_spark.sources.testdata import load_table

_NGRAM_SHINGLES = (
    "list_transform(range(1, len(string_split(text,' ')) - 1), "
    "i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] "
    "|| ' ' || string_split(text,' ')[i+2])"
)


@register(
    "ngram_containment_pairs",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, unnest({_NGRAM_SHINGLES}) AS s FROM documents
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    sc AS (
        SELECT id_a, id_b,
               round(n_inter * 1.0 / sa.n_sh, 6) AS cont_ab,
               round(n_inter * 1.0 / sb.n_sh, 6) AS cont_ba
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
    )
    SELECT id_a, id_b, cont_ab, cont_ba
    FROM sc WHERE cont_ab >= 0.3 OR cont_ba >= 0.3
    """,
)
def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment |A∩B|/|A| over 3-gram shingle sets —
    catches a short document embedded in a longer one, which the
    symmetric Jaccard threshold misses (operators/dedup.py docstring).
    Same inverted-index + hot-shingle-cap scale shape as the Jaccard
    join: one shingle-keyed d²-bounded self-join, both directions from
    the single unordered pair row."""
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_containment_pairs(
        docs, "doc_id", "text", shingle_n=3, threshold=0.3
    )


@register(
    "unigram_logprob_score",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
    tot AS (SELECT sum(c) AS t FROM cnt)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(ln(cnt.c * 1.0 / tot.t)), 4) AS avg_logprob
    FROM tok JOIN cnt USING (w) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram-LM quality score (the CCNet/KenLM-style filter,
    degree 1): p(w) from corpus occurrence counts, document score =
    mean log p over its tokens. Low scores flag rare-word noise; high
    scores flag boilerplate.

    Scale: token explode → vocabulary-sized count agg (map-side
    combinable) → token⨝vocab join keyed on the word (broadcastable
    when the vocab is; shuffle join otherwise) → doc-keyed avg. The
    corpus total is a 1-row scalar broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(TX.words("text")).alias("w"))
    cnt = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.agg(F.sum("c").alias("t"))
    return (
        tok.join(cnt, "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(F.avg(F.log(F.col("c") * 1.0 / F.col("t"))), 4).alias(
                "avg_logprob"
            ),
        )
    )


@register(
    "word_entropy_score",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    cnt AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
    tot AS (SELECT doc_id, sum(c) AS n FROM cnt GROUP BY doc_id)
    SELECT cnt.doc_id,
           CAST(any_value(tot.n) AS BIGINT) AS n_tokens,
           round(-sum((cnt.c * 1.0 / tot.n) * log2(cnt.c * 1.0 / tot.n)), 4)
               AS entropy
    FROM cnt JOIN tot USING (doc_id)
    GROUP BY cnt.doc_id
    """,
)
def word_entropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram entropy −Σ p·log₂p — the lexical-diversity
    quality signal (near-zero entropy = repetition spam; the Gopher
    repetition filters approximate this). All shuffles are doc-keyed:
    explode → (doc, word) count → doc window for the total → doc agg;
    no global state, embarrassingly partitionable at corpus scale."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(TX.words("text")).alias("w"))
    cnt = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    per = cnt.withColumn("n", F.sum("c").over(Window.partitionBy("doc_id")))
    p = F.col("c") * 1.0 / F.col("n")
    return per.groupBy("doc_id").agg(
        F.first("n").cast("bigint").alias("n_tokens"),
        F.round(-F.sum(p * F.log2(p)), 4).alias("entropy"),
    )


_CMS_DEPTH = 4
_CMS_WIDTH = 1024


@register(
    "heavy_hitters_cms",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    rows_r AS (SELECT unnest(range({_CMS_DEPTH})) AS r),
    cells AS (
        SELECT r,
               ('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || w), 1, 8))::BIGINT
                   % {_CMS_WIDTH} AS col,
               count(*) AS c
        FROM tok CROSS JOIN rows_r
        GROUP BY r, col
    ),
    vocab AS (SELECT w, count(*) AS exact_count FROM tok GROUP BY w),
    probes AS (
        SELECT w, exact_count, r,
               ('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || w), 1, 8))::BIGINT
                   % {_CMS_WIDTH} AS col
        FROM vocab CROSS JOIN rows_r
    )
    SELECT w AS word,
           CAST(min(cells.c) AS BIGINT) AS est_count,
           CAST(any_value(exact_count) AS BIGINT) AS exact_count
    FROM probes JOIN cells USING (r, col)
    GROUP BY w
    ORDER BY est_count DESC, word
    LIMIT 50
    """,
)
def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters: a depth×width (4×1024) grid of
    counters updated per token, estimate = min over rows — the
    fixed-memory frequency structure for streams whose vocabulary
    doesn't fit. Probing the sketch with every distinct word alongside
    exact counts demonstrates the one-sided error (est ≥ exact always).

    Scale: the sketch build is a groupBy over (depth·width) = 4096
    cells — map-side combine collapses every partition to ≤4096 rows
    regardless of token count; the probe joins the vocabulary (×depth)
    against the tiny cell frame (broadcast). md5-derived cell columns
    make the sketch deterministic and DuckDB-checkable."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(TX.words("text")).alias("w"))
    r = F.explode(F.sequence(F.lit(0), F.lit(_CMS_DEPTH - 1))).alias("r")
    col = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("r").cast("string"), F.lit("|"), F.col("w"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        % _CMS_WIDTH
    ).alias("col")
    cells = (
        tok.select("w", r)
        .select(F.col("r"), col)
        .groupBy("r", "col")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vocab = tok.groupBy("w").agg(F.count(F.lit(1)).alias("exact_count"))
    probes = vocab.select("w", "exact_count", r).select("w", "exact_count", F.col("r"), col)
    return (
        probes.join(F.broadcast(cells), ["r", "col"])
        .groupBy("w")
        .agg(
            F.min("c").cast("bigint").alias("est_count"),
            F.first("exact_count").cast("bigint").alias("exact_count"),
        )
        .select(F.col("w").alias("word"), "est_count", "exact_count")
        .orderBy(F.desc("est_count"), "word")
        .limit(50)
    )


@register("semantic_dedup_kmeans")
def semantic_dedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: k-means over the embedding space
    (MLlib, seeded), then pairwise cosine ONLY within each cluster —
    marking non-canonical members of near-duplicate groups (cos >
    0.95) for removal. Clustering bounds the quadratic similarity
    search to per-cluster blocks: at corpus scale k is chosen so n/k
    keeps each block join tractable, which is the published SemDeDup
    recipe. Rows-only (iterative k-means is not SQL-expressible);
    invariants tested in tests/test_extended4.py."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from collective_als_spark.functions.vector import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    feat = emb.withColumn("v", array_to_vector("e"))
    model = KMeans(k=8, seed=42, featuresCol="v", predictionCol="cluster").fit(feat)
    assigned = model.transform(feat).select("vec_id", "cluster", "e")
    a, b = assigned.alias("a"), assigned.alias("b")
    dup_pairs = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn("cos", cosine_similarity(F.col("a.e"), F.col("b.e")))
        .filter(F.col("cos") > 0.95)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    return (
        assigned.join(dup_pairs.withColumn("_dup", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.coalesce(~F.col("_dup"), F.lit(True)).alias("is_kept"),
        )
    )


@register(
    "weighted_sample_per_source",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, source, n_chars,
               ln((('0x' || substring(md5('ws|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
                  / 4294967296.0) / n_chars AS k
        FROM documents
    ),
    r AS (
        SELECT doc_id, source, n_chars,
               row_number() OVER (PARTITION BY source ORDER BY k DESC, doc_id) AS rk
        FROM keyed
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(rk AS INTEGER) AS rk
    FROM r WHERE rk <= 20
    """,
)
def weighted_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k per source, via the
    Efraimidis–Spirakis exponential-key trick: each doc gets key
    ln(u)/w (u uniform, w = n_chars weight) and the k largest keys per
    group are an exact weighted sample — the distributed one-pass
    answer to "sample 20 docs per source, longer docs proportionally
    more likely" with NO per-group scans or rejection loops. u is
    md5-derived, so the sample is reproducible across engines, runs,
    and partitionings (same determinism contract as
    ``deterministic_sample``).

    Scale: map-side key computation + one source-partitioned top-k
    window (WindowGroupLimit pushes the k cut before the sort
    materializes full groups)."""
    docs = load_table(spark, sf_dir, "documents")
    h = TX.word_hash(F.concat(F.lit("ws|"), F.col("doc_id").cast("string")))
    u = (h + F.lit(1)) / F.lit(4294967296.0)
    keyed = docs.withColumn("k", F.log(u) / F.col("n_chars"))
    w = Window.partitionBy("source").orderBy(F.desc("k"), "doc_id")
    return (
        keyed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.col("rk").cast("int").alias("rk"),
        )
    )
