"""Round-3 extension set 2: substring-granular fingerprinting,
snapshot diffing, language-ID agreement, vocabulary coverage and
feature hashing — each a standard large-pipeline pattern,
oracle-checked.

Scale notes per operator; windows are always key-partitioned and the
only broadcasts are dimension- or 1-row-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from collective_als_spark.functions import text as TX
from collective_als_spark.registry import register
from collective_als_spark.sources.testdata import load_table

_SHINGLES_SQL = (
    "list_transform(range(1, len(string_split(text,' ')) - 1), "
    "i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] "
    "|| ' ' || string_split(text,' ')[i+2])"
)

_WINNOW_W = 4


@register(
    "winnowing_fingerprints",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id,
               generate_subscripts(sg.g, 1) AS pos,
               ('0x' || substring(md5(unnest(sg.g)), 1, 8))::BIGINT AS h
        FROM (SELECT doc_id, {_SHINGLES_SQL} AS g FROM documents) sg
    ),
    sized AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    wm AS (
        SELECT sh.doc_id, sh.pos,
               min(h) OVER (PARTITION BY sh.doc_id ORDER BY sh.pos
                            ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING)
                   AS fp,
               sized.n
        FROM sh JOIN sized USING (doc_id)
    )
    SELECT DISTINCT doc_id, fp
    FROM wm WHERE pos <= n - {_WINNOW_W} + 1
    """,
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., the MOSS
    algorithm): hash every 3-word shingle, slide a window of
    {w} consecutive hashes, keep each window's minimum — the selected
    distinct hashes are a position-robust fingerprint set that
    guarantees detection of shared substrings longer than w+k-1 tokens
    with far fewer stored hashes than full shingling (this variant
    selects per-window minima; classic winnowing's rightmost-tie rule
    only matters for duplicate hash values).

    Scale: MAP-ONLY — the shingle-hash array stays a per-document
    array column, the sliding min is ``array_min(slice(...))`` over a
    generated index sequence, and within-doc ``array_distinct`` IS the
    global distinct (doc_id is a per-row constant), so the whole
    fingerprint computation runs with ZERO shuffles (r04 rewrite; the
    r03 plan paid a per-doc count window + a sliding-min window + a
    global distinct exchange for the same output). Fingerprint density
    is ~2/(w+1) of shingle count, so the stored index is a fraction of
    MinHash's per-doc signature cost at substring granularity.
    """
    from collective_als_spark.sources.testdata import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    harr = F.transform(
        TX.shingles(F.col("text"), 3), lambda s: TX.word_hash(s)
    )
    # n shingles >= w  <=>  n words >= w + shingle_n - 1; filtering on
    # the word count keeps the md5 hashing out of the Filter operator
    # (no cross-operator CSE for the big lambda expression)
    per_doc = (
        docs.filter(F.size(TX.words(F.col("text"))) >= _WINNOW_W + 2)
        .select("doc_id", harr.alias("harr"))
        .select("doc_id", "harr", F.size("harr").alias("n"))
    )
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.col("n") - _WINNOW_W + 1),
            lambda i: F.array_min(F.slice(F.col("harr"), i, _WINNOW_W)),
        )
    )
    return per_doc.select("doc_id", F.explode(fps).alias("fp"))


@register(
    "table_diff_audit",
    oracle="""
    WITH old AS (
        SELECT o_orderkey AS k,
               md5(concat_ws('|', o_orderkey, o_custkey, o_orderstatus,
                             round(o_totalprice, 2))) AS rh
        FROM orders
    ),
    new AS (
        SELECT o_orderkey AS k,
               md5(concat_ws('|', o_orderkey, o_custkey, o_orderstatus,
                             round(CASE WHEN ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 20 = 0
                                        THEN o_totalprice * 1.1 ELSE o_totalprice END, 2))) AS rh
        FROM orders
        WHERE ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 20 <> 1
    ),
    joined AS (
        SELECT old.k AS ko, new.k AS kn, old.rh AS ro, new.rh AS rn
        FROM old FULL OUTER JOIN new ON old.k = new.k
    )
    SELECT CASE WHEN ko IS NULL THEN 'added'
                WHEN kn IS NULL THEN 'removed'
                WHEN ro <> rn THEN 'changed'
                ELSE 'unchanged' END AS status,
           CAST(count(*) AS BIGINT) AS n
    FROM joined GROUP BY 1
    """,
)
def table_diff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff: row-hash full-outer-join comparison of two table
    versions → added/removed/changed/unchanged counts (the audit a
    data-versioning layer runs between loads). The "new" snapshot is a
    deterministic md5-keyed mutation of orders (5% prices changed, 5%
    rows deleted) so the diff is reproducible and oracle-checkable.

    Scale: row hashes are computed map-side from the key+payload, the
    diff is one key-equi full outer join (both sides hash-partitioned
    on the key), and the output is 4 counter rows — no row-level
    payloads survive the aggregate."""
    o = load_table(spark, sf_dir, "orders")
    rh = F.md5(
        F.concat_ws(
            "|",
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.round("o_totalprice", 2),
        )
    )
    old = o.select(F.col("o_orderkey").alias("k"), rh.alias("ro"))
    bucket = F.pmod(TX.word_hash(F.col("o_orderkey").cast("string")), F.lit(20))
    mutated = o.withColumn(
        "o_totalprice",
        F.when(bucket == 0, F.col("o_totalprice") * 1.1).otherwise(
            F.col("o_totalprice")
        ),
    ).filter(bucket != 1)
    new = mutated.select(F.col("o_orderkey").alias("k"), rh.alias("rn"))
    joined = old.join(new, "k", "full_outer")
    status = (
        F.when(F.col("ro").isNull(), "added")
        .when(F.col("rn").isNull(), "removed")
        .when(F.col("ro") != F.col("rn"), "changed")
        .otherwise("unchanged")
    )
    return joined.groupBy(status.alias("status")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


@register(
    "lang_confusion_matrix",
    oracle="""
    WITH scores AS (
        SELECT doc_id, lang,
           len(list_filter(string_split(text,' '), w -> list_contains(['the','a','of','and','to','in','is','it','you','that'], w))) AS s_en,
           len(list_filter(string_split(text,' '), w -> list_contains(['der','die','das','und','ist','nicht','du','ich','ein','zu'], w))) AS s_de,
           len(list_filter(string_split(text,' '), w -> list_contains(['el','la','de','que','y','en','un','ser','se','no'], w))) AS s_es,
           len(list_filter(string_split(text,' '), w -> list_contains(['le','la','de','et','les','des','en','un','une','du'], w))) AS s_fr
        FROM documents
    ),
    pred AS (
        SELECT lang,
               CASE
                 WHEN s_en = 0 AND s_de = 0 AND s_es = 0 AND s_fr = 0 THEN 'unknown'
                 WHEN s_de > s_en AND s_de > s_es AND s_de > s_fr THEN 'de'
                 WHEN s_es > s_en AND s_es > s_de AND s_es > s_fr THEN 'es'
                 WHEN s_fr > s_en AND s_fr > s_de AND s_fr > s_es THEN 'fr'
                 ELSE 'en'
               END AS lang_pred
        FROM scores
    )
    SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
    FROM pred GROUP BY lang, lang_pred
    """,
)
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the declared `lang` label vs the stopword
    language-ID heuristic — the classifier-quality readout a corpus
    pipeline monitors before trusting `lang_id_heuristic` as a filter
    (per-cell counts; diagonal mass = agreement rate). Map-only scoring
    + one (lang, pred)-keyed aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    s = TX.lang_scores("text")
    en, de, es, fr = s["en"], s["de"], s["es"], s["fr"]
    pred = (
        F.when((en == 0) & (de == 0) & (es == 0) & (fr == 0), "unknown")
        .when((de > en) & (de > es) & (de > fr), "de")
        .when((es > en) & (es > de) & (es > fr), "es")
        .when((fr > en) & (fr > de) & (fr > es), "fr")
        .otherwise("en")
    )
    return (
        docs.select("lang", pred.alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


@register(
    "vocab_coverage_curve",
    oracle="""
    WITH cnt AS (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ),
    v AS (SELECT word, count(*) AS n FROM cnt GROUP BY word),
    ranked AS (
        SELECT n, row_number() OVER (ORDER BY n DESC, word) AS rk FROM v
    ),
    tot AS (SELECT sum(n) AS total FROM v),
    ks AS (SELECT unnest([5, 10, 20, 30]) AS k)
    SELECT ks.k AS k,
           CAST(count(ranked.n) AS BIGINT) AS vocab_used,
           round(COALESCE(sum(ranked.n), 0) * 1.0 / any_value(tot.total), 6)
               AS coverage
    FROM ks
    LEFT JOIN ranked ON ranked.rk <= ks.k
    CROSS JOIN tot
    GROUP BY ks.k
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage curve: fraction of corpus token
    mass covered by the top-k most frequent words, at several k — the
    diminishing-returns readout that sizes a vocabulary. Word ranking
    uses the two-phase ``global_rank`` (range shuffle + partition-local
    rank + broadcast offsets, no single-task global window); the k
    probe frame is 4 literal rows broadcast against the vocab.
    """
    from collective_als_spark.operators.split import global_rank

    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(TX.words("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ranked = global_rank(cnt, [F.col("n").desc(), F.col("word")]).withColumn(
        "rk", F.col("_rk") + 1
    )
    tot = cnt.agg(F.sum("n").alias("total"))
    ks = F.broadcast(
        docs.sparkSession.createDataFrame([(5,), (10,), (20,), (30,)], "k int")
    )
    return (
        ks.join(ranked, F.col("rk") <= F.col("k"), "left")
        .groupBy("k")
        .agg(
            F.count("n").cast("bigint").alias("vocab_used"),
            F.coalesce(F.sum("n"), F.lit(0)).alias("_mass"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "k",
            "vocab_used",
            F.round(F.col("_mass") * 1.0 / F.col("total"), 6).alias("coverage"),
        )
    )


_FH_DIM = 64


@register(
    "feature_hashing_vector",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    hashed AS (
        SELECT doc_id,
               ('0x' || substring(md5(w), 1, 8))::BIGINT % {_FH_DIM} AS feature_idx,
               CASE WHEN ('0x' || substring(md5('sign|' || w), 1, 8))::BIGINT % 2 = 0
                    THEN 1 ELSE -1 END AS sgn
        FROM tok
    )
    SELECT doc_id, CAST(feature_idx AS INTEGER) AS feature_idx,
           CAST(sum(sgn) AS BIGINT) AS val
    FROM hashed
    GROUP BY doc_id, feature_idx
    HAVING sum(sgn) <> 0
    """,
)
def feature_hashing_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick, Weinberger et al.): project
    the unbounded word space into a fixed {dim}-dim signed-count vector
    with NO vocabulary pass — idx = h(w) mod d, a second hash bit gives
    the ± sign that keeps collision noise zero-mean. The tokenless
    featurizer for linear models / MinHash-free similarity at corpus
    scale; emitted in sparse (doc, idx, val) triplet form. Map-only
    hashing + one doc-keyed aggregate; md5-derived so the projection is
    engine-reproducible."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(TX.words("text")).alias("w"))
    idx = (TX.word_hash(F.col("w")) % _FH_DIM).cast("int").alias("feature_idx")
    sgn = F.when(
        TX.word_hash(F.concat(F.lit("sign|"), F.col("w"))) % 2 == 0, 1
    ).otherwise(-1)
    return (
        tok.select("doc_id", idx, sgn.alias("sgn"))
        .groupBy("doc_id", "feature_idx")
        .agg(F.sum("sgn").cast("bigint").alias("val"))
        .filter(F.col("val") != 0)
    )
