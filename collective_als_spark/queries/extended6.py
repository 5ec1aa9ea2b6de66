"""Round-4 extension set: corpus-level duplication analytics
(duplicate-n-gram fraction, MOSS overlap reports, exact substring
containment at scale), distribution-drift scoring between corpus
slices, leakage-safe dataset splitting, a trained quality classifier,
BPE merge learning, Holt level+trend smoothing, bounded-depth BFS,
incremental rollup maintenance, mergeable HLL distinct sketches,
time-constrained funnels, Pareto/ABC contribution analysis, and
rolling exact medians — the remaining standard blocks of a
pretraining-data pipeline and its surrounding analytics, each
oracle-checked (DuckDB) except the model fits and sketch estimates.

Scale notes per operator are in each docstring; the common themes:
candidate generation is always fingerprint-banded (never all-pairs),
floats that cross the engine boundary are quantized to integer
units (micro-bits, cents) so sums are order-independent and class
boundaries are exact, global cumulatives go through the two-phase
range-shuffle helpers, and every window is key-partitioned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from collective_als_spark.functions import text as TX
from collective_als_spark.registry import register
from collective_als_spark.sources.testdata import load_table

_SHINGLES_SQL = (
    "list_transform(range(1, len(string_split(text,' ')) - 1), "
    "i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] "
    "|| ' ' || string_split(text,' ')[i+2])"
)

# DuckDB twin of queries/extended5.py winnowing (w=4, 3-word shingles,
# 32-bit md5-prefix hashes): per-doc distinct sliding-window minima
_WINNOW_FPS_CTE = f"""
    sh AS (
        SELECT doc_id,
               generate_subscripts(sg.g, 1) AS pos,
               ('0x' || substring(md5(unnest(sg.g)), 1, 8))::BIGINT AS h
        FROM (SELECT doc_id, {_SHINGLES_SQL} AS g FROM documents) sg
    ),
    sized AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    wm AS (
        SELECT sh.doc_id, sh.pos,
               min(h) OVER (PARTITION BY sh.doc_id ORDER BY sh.pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
               sized.n
        FROM sh JOIN sized USING (doc_id)
    ),
    fps AS (
        SELECT DISTINCT doc_id, fp FROM wm WHERE pos <= n - 3
    )
"""


@register(
    "duplicate_ngram_fraction",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, unnest({_SHINGLES_SQL}) AS s FROM documents
    ),
    df AS (SELECT s, CAST(count(*) AS BIGINT) AS dfc FROM sh GROUP BY s)
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           round(sum(CASE WHEN df.dfc >= 2 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS dup_frac
    FROM sh JOIN df USING (s)
    GROUP BY sh.doc_id
    """,
)
def duplicate_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicate-n-gram fraction: the share of a doc's
    distinct 3-gram shingles that also occur in at least one OTHER
    document — the RefinedWeb / Gopher "fraction of duplicated
    n-grams" repetition signal at corpus (not document) granularity,
    the standard cheap filter between exact dedup and MinHash.

    Scale: one map-only shingle explode (within-doc distinct via
    ``array_distinct`` before the explode), one vocabulary-sized
    document-frequency aggregate, one shingle-keyed join back, one
    doc-keyed aggregate. The dup_frac division is a ratio of two small
    exact integers, so rounding is engine-deterministic.
    """
    from collective_als_spark.sources.testdata import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    # per-doc shingle arrays materialized ONCE: the document-frequency
    # aggregate and the join side both consume the exploded frame, and
    # without this each consumer re-ran the scan + shingle computation
    # (guide §1.2 — same measured pattern as prefix_jaccard_pairs)
    docarr = docs.select(
        "doc_id",
        F.array_distinct(TX.shingles(F.col("text"), 3)).alias("_arr"),
    ).localCheckpoint(eager=True)
    sh = docarr.select("doc_id", F.explode("_arr").alias("s"))
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("dfc"))
    return (
        sh.join(dfreq, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.round(
                F.sum(F.when(F.col("dfc") >= 2, 1).otherwise(0))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("dup_frac"),
        )
    )


_OVERLAP_MIN_SHARED = 5
_FP_MAX_DF = 100


@register(
    "winnowing_overlap_pairs",
    oracle=f"""
    WITH {_WINNOW_FPS_CTE},
    fp_df AS (
        SELECT fp FROM fps GROUP BY fp HAVING count(*) <= {_FP_MAX_DF}
    ),
    kept AS (SELECT fps.* FROM fps JOIN fp_df USING (fp)),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf FROM kept GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS shared_fps
        FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(*) >= {_OVERLAP_MIN_SHARED}
    )
    SELECT p.id_a, p.id_b, p.shared_fps,
           round(p.shared_fps / CAST(least(sa.nf, sb.nf) AS DOUBLE), 6)
               AS overlap
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.id_a
    JOIN sizes sb ON sb.doc_id = p.id_b
    """,
)
def winnowing_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style similarity report: document pairs sharing at least
    {m} winnowing fingerprints, scored by shared-fingerprint fraction
    of the smaller fingerprint set — substring-granular near-dup
    detection (reordered/partially-copied text that defeats whole-doc
    MinHash), the report MOSS produces for code plagiarism.

    Scale: fingerprints are ~2/(w+1) of shingle volume (map-only, see
    winnowing_fingerprints); fingerprints indexing more than
    ``{_FP_MAX_DF}`` documents are dropped before pairing — the same
    hot-key guard as the n-gram Jaccard join (boilerplate fingerprints
    shared by thousands of docs would otherwise contribute k² candidate
    pairs and carry no dedup signal). The pair aggregate shuffles only
    fingerprint-cogrouped rows; per-doc sizes join back broadcast-sized.
    """
    from collective_als_spark.queries.extended5 import winnowing_fingerprints

    # materialized ONCE: the hot-fingerprint census, the join side and
    # the pair self-join below all consume the index — without this
    # each reference re-ran the scan + md5 + winnowing pass
    fps = winnowing_fingerprints(spark, sf_dir).localCheckpoint(
        eager=True
    )
    kept = fps.join(
        fps.groupBy("fp").agg(F.count(F.lit(1)).alias("_df")).filter(
            F.col("_df") <= _FP_MAX_DF
        ),
        "fp",
    ).select("doc_id", "fp")
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nf"))
    a, b = kept.alias("a"), kept.alias("b")
    pairs = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= _OVERLAP_MIN_SHARED)
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("nf").alias("nf_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("nf").alias("nf_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "shared_fps",
            F.round(
                F.col("shared_fps")
                / F.least("nf_a", "nf_b").cast("double"),
                6,
            ).alias("overlap"),
        )
    )


@register(
    "substring_containment_pairs",
    oracle="""
    SELECT a.doc_id AS id_inner, b.doc_id AS id_outer
    FROM documents a JOIN documents b ON a.doc_id <> b.doc_id
    WHERE len(string_split(a.text, ' ')) >= 6
      AND position(' ' || a.text || ' ' IN ' ' || b.text || ' ') > 0
    """,
)
def substring_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT whole-document substring containment: pairs where one
    document's full text occurs verbatim (word-aligned) inside
    another — the exact-substring tier of training-data dedup (Lee et
    al.'s suffix-array dedup finds shared substrings; this finds the
    fully-subsumed-document case that matters for keep/drop decisions)
    WITHOUT the oracle's O(N²) text scan.

    Lossless candidate pruning via winnowing: a contained document of
    >= 6 tokens shares a token run of >= w=4 consecutive shingles with
    its container, and the winnowing theorem (Schleimer et al. §3;
    both docs select the shared run's minimum hash) guarantees the
    pair shares at least one fingerprint. So candidates = pairs
    sharing a fingerprint (banded join over the ~2/(w+1)-density
    fingerprint index), then the exact word-boundary `contains` check
    runs only on candidates. Documents under 6 tokens cannot be
    winnow-detected and are excluded in BOTH engines (the oracle's
    length predicate), keeping the pruning exact rather than
    approximate.

    Scale: fingerprint index is map-only; the candidate join is
    fingerprint-cogrouped; text payloads join in only for candidate
    pairs (two dimension joins), so no full-text shuffle ever crosses
    the candidate boundary. Self-containment of byte-identical texts
    emits both directions, matching the oracle.
    """
    from collective_als_spark.queries.extended5 import winnowing_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    # the fingerprint index is materialized ONCE for its self-join:
    # both aliases would otherwise re-run the full scan + md5 shingle
    # hashing + winnowing pass (guide §1.2) — the index is ~2/(w+1) of
    # shingle volume, far cheaper to hold than to recompute
    fps = winnowing_fingerprints(spark, sf_dir).localCheckpoint(
        eager=True
    )
    a, b = fps.alias("a"), fps.alias("b")
    cand = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") != F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("id_inner"), F.col("b.doc_id").alias("id_outer")
        )
        .distinct()
    )
    inner = docs.select(
        F.col("doc_id").alias("id_inner"),
        F.concat(F.lit(" "), F.col("text"), F.lit(" ")).alias("_t_inner"),
    )
    outer = docs.select(
        F.col("doc_id").alias("id_outer"),
        F.concat(F.lit(" "), F.col("text"), F.lit(" ")).alias("_t_outer"),
    )
    return (
        cand.join(inner, "id_inner")
        .join(outer, "id_outer")
        .filter(F.expr("contains(_t_outer, _t_inner)"))
        .select("id_inner", "id_outer")
    )


@register(
    "source_kl_divergence",
    oracle="""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    sw AS (SELECT source, w, count(*) AS c FROM tok GROUP BY source, w),
    stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens FROM sw GROUP BY source),
    cw AS (SELECT w, sum(c) AS cc FROM sw GROUP BY w),
    ctot AS (SELECT sum(cc) AS ct FROM cw)
    SELECT sw.source, stot.n_tokens,
           CAST(sum(CAST(round(
               (sw.c / CAST(stot.n_tokens AS DOUBLE))
               * log2((sw.c / CAST(stot.n_tokens AS DOUBLE))
                      / (cw.cc / CAST(ctot.ct AS DOUBLE)))
               * 1000000) AS BIGINT)) AS BIGINT) AS kl_micro_bits
    FROM sw
    JOIN stot USING (source)
    JOIN cw USING (w)
    CROSS JOIN ctot
    GROUP BY sw.source, stot.n_tokens
    """,
)
def source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence KL(source ‖ corpus) over unigram
    token distributions — the drift/mixture-health readout a corpus
    pipeline runs per ingest source (CCNet monitors the same quantity
    against a reference LM). No smoothing needed: every source token
    has corpus mass by construction.

    Each p·log2(p/q) term is quantized to integer MICRO-BITS before
    the per-source sum, so the aggregate is order-independent and the
    emitted value is engine-exact (double sums of thousands of log
    terms are not; the q7 integer-cents rule applied to information
    quantities).

    Scale: token counts shuffle on (source, word) then word; the
    corpus-total is a 1-row broadcast; the word-marginal join is
    vocabulary-sized and shuffles cogrouped on the word key. Output is
    |sources| rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(TX.words(F.col("text"))).alias("w"))
    sw = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    stot = sw.groupBy("source").agg(F.sum("c").alias("n_tokens"))
    cw = sw.groupBy("w").agg(F.sum("c").alias("cc"))
    ctot = cw.agg(F.sum("cc").alias("ct"))
    p = F.col("c") / F.col("n_tokens").cast("double")
    q = F.col("cc") / F.col("ct").cast("double")
    term = F.round(p * F.log2(p / q) * 1000000).cast("bigint")
    return (
        sw.join(F.broadcast(stot), "source")
        .join(cw, "w")
        .join(F.broadcast(ctot))
        .groupBy("source", "n_tokens")
        .agg(F.sum(term).cast("bigint").alias("kl_micro_bits"))
    )


@register(
    "cluster_safe_split",
    oracle="""
    WITH RECURSIVE sh AS (
        SELECT doc_id, unnest(list_transform(
            range(1, len(string_split(text,' ')) - 1),
            i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
                 || ' ' || string_split(text,' ')[i+2])) AS s
        FROM documents
    ),
    hashed AS (
        SELECT doc_id, md5('0|' || s) AS h0, md5('1|' || s) AS h1 FROM sh
    ),
    sig AS (
        SELECT doc_id,
               min(substr(h0, 1, 8))  AS mh_0, min(substr(h0, 9, 8))  AS mh_1,
               min(substr(h0, 17, 8)) AS mh_2, min(substr(h0, 25, 8)) AS mh_3,
               min(substr(h1, 1, 8))  AS mh_4, min(substr(h1, 9, 8))  AS mh_5,
               min(substr(h1, 17, 8)) AS mh_6, min(substr(h1, 25, 8)) AS mh_7
        FROM hashed GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, 0 AS band, mh_0 || '|' || mh_1 AS bh FROM sig
        UNION ALL SELECT doc_id, 1, mh_2 || '|' || mh_3 FROM sig
        UNION ALL SELECT doc_id, 2, mh_4 || '|' || mh_5 FROM sig
        UNION ALL SELECT doc_id, 3, mh_6 || '|' || mh_7 FROM sig
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT id_a AS s, id_b AS d FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.node
    ),
    comp AS (SELECT node AS doc_id, min(lbl) AS component FROM reach GROUP BY node)
    SELECT doc_id, component,
           CASE WHEN ('0x' || substring(md5(CAST(component AS VARCHAR)), 1, 8))::BIGINT
                     % 10 < 8
                THEN 'train' ELSE 'val' END AS split
    FROM comp
    """,
)
def cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val split: documents are split by the
    md5-hash of their DUPLICATE-CLUSTER id (MinHash-LSH pairs →
    connected components), not their own id, so near-duplicate
    documents can never straddle the train/val boundary — the
    eval-contamination failure mode a doc-level hash split cannot
    prevent. ~80/20, engine- and partitioning-stable.

    Scale: the cluster pass is the dedup_clusters pipeline (banded
    LSH join, label propagation with O(cluster-diameter) rounds); the
    split assignment itself is a map-only hash expression on the
    component id. Cites `operators/graph.py::connected_components`.
    """
    from collective_als_spark.operators import dedup as D
    from collective_als_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    sigs = D.minhash_signatures(docs, "doc_id", "text", num_hashes=8)
    pairs = D.lsh_candidate_pairs(sigs, "doc_id", num_hashes=8, band_size=2)
    comp = connected_components(pairs, "id_a", "id_b")
    assigned = (
        docs.select("doc_id")
        .join(comp, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id", F.coalesce("component", F.col("doc_id")).alias("component")
        )
    )
    return assigned.withColumn(
        "split",
        F.when(
            F.pmod(TX.word_hash(F.col("component").cast("string")), F.lit(10)) < 8,
            F.lit("train"),
        ).otherwise(F.lit("val")),
    )


@register("quality_classifier_scores", oracle=None)
def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained quality classifier (the fastText-classifier stage of
    CCNet/LLaMA-style data curation, rebuilt on Spark MLlib): label
    documents by the heuristic quality median, train logistic
    regression on hashed unigram features (hashing trick — no
    vocabulary pass), and score every document with a calibrated
    P(high quality). Downstream pipelines threshold or importance-
    sample on this score instead of the raw heuristic.

    Rows-only (model fit — not SQL-expressible); generalization is
    pinned by tests/test_extended6.py (held-out AUC), determinism by
    the fixed seed + deterministic label/feature construction.

    Scale: tokenization + hashing are map-only; MLlib LR trains by
    L-BFGS with one treeAggregate gradient pass per iteration (no
    per-row driver traffic); scoring is a map-only model broadcast.
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF
    from pyspark.ml.functions import vector_to_array

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "q", TX.quality_score(F.col("text"))
    )
    med = docs.select(F.percentile_approx("q", 0.5, 10000).alias("m"))
    labeled = (
        docs.join(F.broadcast(med))
        .withColumn("label", (F.col("q") >= F.col("m")).cast("double"))
        .withColumn("tokens", F.split("text", " "))
    )
    tf = HashingTF(inputCol="tokens", outputCol="features", numFeatures=4096)
    feat = tf.transform(labeled)
    train = feat.filter(F.pmod(TX.word_hash(F.col("doc_id").cast("string")), F.lit(5)) != 0)
    lr = LogisticRegression(maxIter=30, regParam=0.01, standardization=False)
    model = lr.fit(train)
    get_p1 = F.element_at(vector_to_array(F.col("probability")), 2)
    return (
        model.transform(feat)
        .select(
            "doc_id",
            "label",
            F.round(get_p1, 6).alias("p_high_quality"),
        )
    )


@register("bpe_merge_table", oracle=None)
def bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned BPE merge table (Sennrich et al. 2016) over the corpus —
    tokenizer training as a pipeline stage. Iterative argmax (one
    bounded driver row per merge), so no SQL oracle; greedy-equivalence
    to a pure-Python reference implementation is pinned by
    tests/test_bpe.py.

    Scale: all iterations run on the (word, count) VOCABULARY frame
    (one corpus-sized aggregate up front, vocabulary-sized thereafter);
    merge application is a map-only codegen array fold
    (`operators/bpe.py::merge_pair`)."""
    from collective_als_spark.operators.bpe import learn_bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    merges = learn_bpe_merges(docs, "text", n_merges=8)
    rows = [
        (i + 1, l, r, l + r, n) for i, (l, r, n) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows, "rank int, lhs string, rhs string, merged string, pair_count bigint"
    )


@register(
    "holt_linear_user_value",
    # NOTE: the oracle is a recursive CTE, not list_reduce — DuckDB
    # 1.0.0's list_reduce with a STRUCT accumulator corrupts mid-fold
    # field references (verified: acc.l reads the just-written level
    # inside the trend expression on non-final steps), so the struct
    # fold is not a faithful reference there. The per-position
    # recursion below is plain IEEE double arithmetic in both engines.
    oracle="""
    WITH RECURSIVE s AS (
        SELECT user_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS pos,
               value::DOUBLE AS v
        FROM events
    ),
    n AS (SELECT user_id, max(pos) AS mx FROM s GROUP BY user_id),
    rec(user_id, pos, l, t) AS (
        SELECT user_id, 1::BIGINT, v, 0.0::DOUBLE FROM s WHERE pos = 1
        UNION ALL
        SELECT r.user_id, r.pos + 1,
               0.3::DOUBLE * s2.v + 0.7::DOUBLE * (r.l + r.t),
               0.2::DOUBLE * ((0.3::DOUBLE * s2.v
                               + 0.7::DOUBLE * (r.l + r.t)) - r.l)
                   + 0.8::DOUBLE * r.t
        FROM rec r JOIN s s2 ON s2.user_id = r.user_id AND s2.pos = r.pos + 1
    )
    SELECT r.user_id, CAST(n.mx AS BIGINT) AS n_events,
           round(r.l, 6) AS level, round(r.t, 6) AS trend,
           round(r.l + r.t, 6) AS forecast_1
    FROM rec r JOIN n ON n.user_id = r.user_id AND r.pos = n.mx
    """,
)
def holt_linear_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Holt double-exponential smoothing (level + trend,
    α=0.3, β=0.2) with a one-step forecast — the trend-aware upgrade
    of the EWMA recurrence, the standard per-entity forecasting signal
    (capacity planning, engagement trajectories). Like EWMA, the
    recurrence l_i = α·x_i + (1−α)(l+t); t_i = β(l_i−l) + (1−β)t is
    inexpressible as a SQL window frame, so it runs as ONE codegen
    array fold over each user's ordered values with a struct
    accumulator — one user-keyed shuffle, no global state, no UDF.

    Cross-engine determinism: both engines fold identical (ts,
    event_id)-ordered IEEE doubles with the same struct seed
    {l: x_1, t: 0}, so results match exactly (DuckDB list_reduce
    seeds with the first element; every oracle literal is cast to
    DOUBLE to keep its decimal arithmetic out of the fold).
    """
    ev = load_table(spark, sf_dir, "events")
    arr = F.sort_array(F.collect_list(F.struct("ts", "event_id", "value")))
    grouped = ev.groupBy("user_id").agg(arr.alias("arr"))
    vals = F.transform(F.col("arr"), lambda x: x["value"].cast("double"))
    alpha, beta = 0.3, 0.2

    def step(acc, x):
        new_l = F.lit(alpha) * x["l"] + F.lit(1 - alpha) * (acc["l"] + acc["t"])
        new_t = F.lit(beta) * (new_l - acc["l"]) + F.lit(1 - beta) * acc["t"]
        return F.struct(new_l.alias("l"), new_t.alias("t"))

    hw = F.aggregate(
        F.transform(
            F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
            lambda x: F.struct(x.alias("l"), F.lit(0.0).alias("t")),
        ),
        F.struct(F.element_at(vals, 1).alias("l"), F.lit(0.0).alias("t")),
        step,
    )
    return grouped.select(
        "user_id",
        F.size(vals).cast("bigint").alias("n_events"),
        F.round(hw["l"], 6).alias("level"),
        F.round(hw["t"], 6).alias("trend"),
        F.round(hw["l"] + hw["t"], 6).alias("forecast_1"),
    )


@register(
    "nation_trade_bfs",
    oracle="""
    WITH RECURSIVE e AS (
        SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE s.s_nationkey <> c.c_nationkey
    ),
    walk(node, hops) AS (
        SELECT CAST(0 AS BIGINT), 0
        UNION ALL
        SELECT e.dst, w.hops + 1
        FROM walk w JOIN e ON e.src = w.node
        WHERE w.hops < 3
    )
    SELECT node AS nationkey, CAST(min(hops) AS INTEGER) AS hops
    FROM walk GROUP BY node
    """,
)
def nation_trade_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS shortest-path over the directed
    supplier-nation → customer-nation trade graph: hop distance from
    nation 0, depth ≤ 3 — the relational traversal a recursive CTE
    expresses, unrolled as frontier joins (the Pregel/GraphX pattern
    as plain DataFrame ops).

    Scale: edge derivation is the one fact-sized stage (lineitem⨝
    orders on the order key + two broadcast dim hops), collapsed by
    DISTINCT to a nation-pair frame (≤|nations|²) and materialized
    ONCE with an eager localCheckpoint — without it each unrolled
    frontier branch re-derives the edges from the fact table (measured
    6 lineitem scans; Spark's ReuseExchange does not collapse the
    branches). Each hop is then a frontier⨝edges broadcast join over
    the tiny cached frame; the closing min-aggregate dedups multi-path
    visits. Depth is a constant in the plan, rows per frontier are
    graph-bounded, so the unroll is safe at any data scale (graph
    size, not data size, drives the iteration count).
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    edges = (
        li.join(s, s.s_suppkey == li.l_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    seed = spark.range(1).select(
        F.lit(0).cast("bigint").alias("node"), F.lit(0).alias("hops")
    )
    frontiers = [seed]
    frontier = seed
    for _ in range(3):
        frontier = (
            frontier.join(F.broadcast(edges), frontier.node == edges.src)
            .select(F.col("dst").alias("node"), (F.col("hops") + 1).alias("hops"))
        )
        frontiers.append(frontier)
    walk = frontiers[0]
    for f in frontiers[1:]:
        walk = walk.unionByName(f)
    return walk.groupBy(F.col("node").alias("nationkey")).agg(
        F.min("hops").cast("int").alias("hops")
    )


_ROLLUP_CUTOFF = "2024-01-15"


@register(
    "incremental_rollup_merge",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2)
               AS total_value,
           min(value) AS min_v, max(value) AS max_v
    FROM events
    GROUP BY event_type
    """,
)
def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: a materialized per-type
    rollup is NOT recomputed from scratch when a new partition of
    events lands — the base aggregate and the delta aggregate merge
    algebraically (counts add, integer-cent sums add, min/max fold).
    The oracle computes the same rollup directly over all events, so
    the hash match IS the proof that the merge path equals the full
    recompute — the correctness property every incremental pipeline
    (hourly rollup + late partition, streaming upsert compaction)
    depends on.

    Scale: each side aggregates map-side-combined on event_type; the
    merge re-aggregates two |types|-sized frames. At 100 TB the base
    frame is a stored table — only the delta partition is scanned,
    which is the whole point.
    """
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_ROLLUP_CUTOFF).cast("timestamp")
    cents = F.round(F.col("value") * 100).cast("bigint")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents).alias("_cents"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
        )

    base = rollup(ev.filter(F.col("ts") < cutoff))
    delta = rollup(ev.filter(F.col("ts") >= cutoff))
    return (
        base.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("_cents") / 100.0, 2).alias("total_value"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
        )
    )


@register("hll_incremental_distinct", oracle=None)
def hll_incremental_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches: per-day HyperLogLog sketches
    of active users (``hll_sketch_agg``) union-merged into per-type
    totals (``hll_union_agg``) — the incremental form of COUNT
    DISTINCT. A stored sketch per partition makes "distinct users this
    quarter" a sketch-union over 90 tiny binary values instead of a
    quarter-long shuffle; sketches also merge across engines (Apache
    DataSketches format).

    Rows-only (sketch estimates are approximate by design — no exact
    SQL oracle); the accuracy bound vs exact count-distinct is pinned
    in tests/test_extended6.py.

    Scale: the daily sketch build is one map-side-combinable aggregate
    per partition; the merge shuffles |days|×|types| sketch blobs
    (~1.5 KB each at lgK=12), independent of row count.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    return (
        daily.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
        )
    )


@register(
    "timed_funnel_conversion",
    oracle="""
    WITH v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
    conv AS (
        SELECT v.event_id
        FROM v
        WHERE EXISTS (
            SELECT 1 FROM events p
            WHERE p.event_type = 'purchase'
              AND p.user_id = v.user_id
              AND p.ts > v.ts
              AND p.ts <= v.ts + INTERVAL 1 HOUR
        )
    )
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_views,
           CAST((SELECT count(*) FROM conv) AS BIGINT) AS converted_views,
           round((SELECT count(*) FROM conv)
                 / CAST((SELECT count(*) FROM v) AS DOUBLE), 6) AS conversion_rate
    """,
)
def timed_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained conversion funnel: views that led to a purchase
    by the same user within ONE HOUR — the product-analytics funnel
    with an attribution window, stricter than an ordered-only funnel.
    Each view is counted once no matter how many qualifying purchases
    follow (left-semi semantics).

    Scale: one user-keyed left-semi join with a time-band residual —
    the same equi+range shape as `range_join_attribution`, so rows
    co-group on user_id and the band predicate filters inside each
    join group; no window, no self-cartesian. The three closing counts
    collapse to two 1-row aggregates unioned map-side.
    """
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        "event_id", F.col("user_id").alias("v_uid"), F.col("ts").alias("v_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_uid"), F.col("ts").alias("p_ts")
    )
    converted = v.join(
        p,
        (F.col("v_uid") == F.col("p_uid"))
        & (F.col("p_ts") > F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_semi",
    )
    n_v = v.agg(F.count(F.lit(1)).alias("n_views"))
    n_c = converted.agg(F.count(F.lit(1)).alias("converted_views"))
    return (
        n_v.join(F.broadcast(n_c))
        .select(
            "n_views",
            "converted_views",
            F.round(
                F.col("converted_views") / F.col("n_views").cast("double"), 6
            ).alias("conversion_rate"),
        )
    )


@register(
    "pareto_abc_parts",
    oracle="""
    WITH rev AS (
        SELECT l_partkey,
               sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT)) AS cents
        FROM lineitem GROUP BY l_partkey
    ),
    t AS (SELECT sum(cents) AS tot FROM rev),
    c AS (
        SELECT l_partkey, cents,
               sum(cents) OVER (ORDER BY cents DESC, l_partkey) AS cum
        FROM rev
    )
    SELECT c.l_partkey, round(c.cents / 100.0, 2) AS revenue,
           round(c.cum / CAST(t.tot AS DOUBLE), 6) AS cum_share,
           CASE WHEN c.cum * 10 <= t.tot * 7 THEN 'A'
                WHEN c.cum * 10 <= t.tot * 9 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c, t
    """,
)
def pareto_abc_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC contribution analysis: parts ranked by revenue
    with their INCLUSIVE cumulative revenue share, classed A (top
    70% of revenue), B (next 20%), C (tail) — the inventory-
    management standard that needs a GLOBAL cumulative sum, i.e.
    exactly the thing a naive `Window.orderBy` turns into a
    single-task sort at scale.

    Scale: reuses `operators/split.py::global_cumsum` — range-shuffle
    on the ordering key, per-partition window, tiny per-partition
    offset broadcast; no un-partitioned window anywhere. Revenue is
    exact integer cents, and the A/B/C boundaries compare
    cum*10 <= tot*{7,9} in EXACT integer arithmetic, so class
    assignment can never flip on a float boundary between engines.
    """
    from collective_als_spark.operators.split import global_cumsum

    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    rev = li.groupBy("l_partkey").agg(F.sum(cents).alias("cents"))
    cs = global_cumsum(
        rev,
        [F.col("cents").desc(), F.col("l_partkey")],
        "cents",
        cumsum_col="_cum_excl",
        total_col="_total",
    )
    cum = (F.col("_cum_excl") + F.col("cents")).cast("long")
    return cs.select(
        "l_partkey",
        F.round(F.col("cents") / 100.0, 2).alias("revenue"),
        F.round(cum / F.col("_total").cast("double"), 6).alias("cum_share"),
        F.when(cum * 10 <= F.col("_total") * 7, "A")
        .when(cum * 10 <= F.col("_total") * 9, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@register(
    "rolling_median_user_value",
    oracle="""
    SELECT event_id, user_id,
           round(median(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6)
               AS rolling_median
    FROM events
    """,
)
def rolling_median_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing exact MEDIAN over the last 5 events per user — the
    robust rolling statistic (spike-resistant baseline) that built-in
    window aggregates don't provide. Computed by collecting the
    rows-frame into a bounded array, sorting it, and interpolating the
    middle — identical to DuckDB's windowed ``median`` (quantile_cont
    0.5 averages the two middles on even counts).

    Scale: ONE user-keyed window (rows-frame bounded at 5 elements, so
    the per-row array work is O(k log k) with k=5); no global window,
    no UDF — the array sort/pick is codegen expression work.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    arr = F.array_sort(F.collect_list(F.col("value").cast("double")).over(w))
    n = F.size(arr)
    lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
    hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    return ev.select(
        "event_id",
        "user_id",
        F.round((lo + hi) / 2.0, 6).alias("rolling_median"),
    )


@register(
    "pipeline_multimodal_curation",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               CAST(4 + doc_id % 5 AS INTEGER) AS w,
               CAST(3 + doc_id % 4 AS INTEGER) AS h
        FROM documents
    ),
    sums AS (
        SELECT d.doc_id, d.w, d.h,
               sum((3 * t.x + 7 * u.y + d.doc_id) % 256
                   + (5 * t.x + u.y + 2 * d.doc_id) % 256
                   + (t.x + 11 * u.y + 3 * d.doc_id) % 256) AS rgb_sum
        FROM dims d,
             LATERAL (SELECT unnest(range(0, d.w)) AS x) t,
             LATERAL (SELECT unnest(range(0, d.h)) AS y) u
        GROUP BY d.doc_id, d.w, d.h
    ),
    joined AS (
        SELECT doc.source,
               CAST(round(s.rgb_sum * 1000000.0 / (3 * s.w * s.h)) AS BIGINT)
                   AS bright_micro,
               CAST(len(string_split(doc.text, ' ')) AS BIGINT) AS n_tokens
        FROM documents doc JOIN sums s USING (doc_id)
        WHERE len(string_split(doc.text, ' ')) >= 20
          AND s.rgb_sum * 1000000.0 / (3 * s.w * s.h) >= 120000000
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(sum(bright_micro) / count(*) / 1000000.0, 6)
               AS avg_brightness
    FROM joined GROUP BY source
    """,
)
def pipeline_multimodal_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal curation capstone: ONE declarative plan that
    synthesizes binary images, REALLY decodes them (PPM byte parsing),
    derives a brightness signal, joins it to the text-side token
    signal, gates documents on BOTH modalities (bright enough AND long
    enough — the keep/drop rule of a paired image-text corpus like an
    alt-text dataset), and aggregates per source. The DuckDB oracle
    recomputes the whole thing analytically, so the hash check covers
    decode, filter, join, and aggregate TOGETHER — not piecewise.

    Determinism: per-doc brightness is quantized to integer
    micro-units before the per-source mean (exact bigint sums, q7
    rule); the gate compares the same exact quantity in both engines.

    Scale: decode is Arrow-batched map-only with payload dropped in
    the scan stage; the doc-keyed join co-groups two doc-sized frames;
    one |sources|-sized aggregate closes the plan.
    """
    from collective_als_spark.multimodal import (
        attach_media_columns,
        ppm_image_stats,
        synthetic_ppm_payloads,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = attach_media_columns(
        synthetic_ppm_payloads(docs.select("doc_id"), "doc_id"),
        "doc_id",
        "payload",
        "image/x-ppm",
    )
    stats = ppm_image_stats(media).withColumn(
        "bright_micro",
        F.round(
            (F.col("sum_r") + F.col("sum_g") + F.col("sum_b"))
            * 1000000.0
            / (3 * F.col("width") * F.col("height"))
        ).cast("bigint"),
    )
    text_side = docs.select(
        "doc_id", "source", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )
    joined = (
        text_side.join(
            stats.select(F.col("media_id").alias("doc_id"), "bright_micro"),
            "doc_id",
        )
        .filter((F.col("n_tokens") >= 20) & (F.col("bright_micro") >= 120000000))
    )
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(
            F.sum("bright_micro") / F.count(F.lit(1)) / 1000000.0, 6
        ).alias("avg_brightness"),
    )


@register(
    "dq_expectations_suite",
    oracle="""
    WITH m AS (
        SELECT
            CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS nn,
            CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS DOUBLE) AS uq,
            CAST(sum(CASE WHEN o_totalprice NOT BETWEEN 0 AND 1000000 THEN 1 ELSE 0 END) AS DOUBLE) AS rng,
            CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS DOUBLE) AS st,
            CAST(count(*) AS DOUBLE) AS rc,
            CAST(avg(o_totalprice) AS DOUBLE) AS mn
        FROM orders
    ), ri AS (
        SELECT CAST(count(*) AS DOUBLE) AS orphans
        FROM orders o
        WHERE o.o_custkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    )
    SELECT 'not_null_o_orderkey' AS "check", 'not_null' AS kind,
           'o_orderkey' AS "column", round(nn, 4) AS metric, nn = 0 AS passed FROM m
    UNION ALL SELECT 'unique_o_orderkey', 'unique', 'o_orderkey', round(uq, 4), uq = 0 FROM m
    UNION ALL SELECT 'range_o_totalprice', 'range', 'o_totalprice', round(rng, 4), rng = 0 FROM m
    UNION ALL SELECT 'in_set_o_orderstatus', 'in_set', 'o_orderstatus', round(st, 4), st = 0 FROM m
    UNION ALL SELECT 'row_count_min_1000', 'row_count_min', '', round(rc, 4), rc >= 1000 FROM m
    UNION ALL SELECT 'mean_between_o_totalprice', 'mean_between', 'o_totalprice',
                     round(mn, 4), mn BETWEEN 50000 AND 500000 FROM m
    UNION ALL SELECT 'ref_integrity_o_custkey', 'ref_integrity', 'o_custkey',
                     round(orphans, 4), orphans = 0 FROM ri
    """,
)
def dq_expectations_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint suite (Deequ-style) over orders: five
    row-level checks FUSED into one hash aggregate over one scan
    (completeness, uniqueness, range, set membership, minimum row
    count, plus the r05 STATISTICAL tier: a mean-drift band on
    o_totalprice — the unique check's exact distinct and the mean both
    fuse into the same agg) plus one broadcast anti-join pass for
    referential integrity against customer. At 100 TB the fusion is
    the feature: a 7-check suite costs one table scan + one key-set
    anti join, not seven scans. Emits the audit artifact
    (check, kind, column, metric, passed) a pipeline gate consumes;
    metrics are rounded in BOTH engines (the mean is a float whose
    summation order differs across engines)."""
    from collective_als_spark.operators.expectations import run_checks

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    out = run_checks(
        orders,
        [
            {"kind": "not_null", "column": "o_orderkey"},
            {"kind": "unique", "column": "o_orderkey"},
            {"kind": "range", "column": "o_totalprice", "lo": 0, "hi": 1000000},
            {"kind": "in_set", "column": "o_orderstatus", "values": ["O", "F", "P"]},
            {"kind": "row_count_min", "n": 1000},
            {"kind": "mean_between", "column": "o_totalprice", "lo": 50000, "hi": 500000},
            {
                "kind": "ref_integrity",
                "column": "o_custkey",
                "ref": customer,
                "ref_column": "c_custkey",
            },
        ],
    )
    return out.withColumn("metric", F.round("metric", 4))
