"""CollectiveALS — N-entity collective matrix factorization on PySpark.

Public surface mirrors the reference (``CollectiveALS.scala:25-133``,
``CollectiveALSModel.scala:11-75``): N named entities, multiple sparse
rating relations keyed by (leftCol, rightCol), fluent setters, ``fit``
→ model with one (id, features) DataFrame per entity, ``predict`` for
any entity pair with NaN cold start.

Execution:

  - 2-entity single-relation fits delegate to
    ``pyspark.ml.recommendation.ALS`` (same algorithm family the
    reference copied from) unless ``force_native`` is set. Measured on
    a warm local[4] session (4 vCPU), on perfbench's ``make_ratings``
    seed 1 (1000 users x 800 items, 80% chronological train), rank 10,
    10 iterations, reg 0.1, runs alternating: with the native fit on
    the driver path, 50k ratings fit in 1.1-1.6 s native against
    5.4-7.4 s with MLlib, 200k in 2.0-3.0 s against 5.9-8.0 s, at equal
    holdout RMSE (0.4267 vs 0.4270; 0.3757 both). So the delegate is
    no longer the faster fit; it stays until its removal is checked
    against the planted-MovieLens numbers in
    ``tests/test_movielens_parity.py``, which compare the two inits.
  - N-entity fits run a Gauss-Seidel loop over entities (reference
    ``CollectiveALS.scala:409-425``). Each entity's factors live on the
    driver as one sorted numpy array (``ids: int64[n]``,
    ``F: float32[n, rank]``). Every entity has one in-block: the union
    of every relation direction that touches it, as (id, src, rating,
    rel) rows sorted on id. An entity update looks each row's source
    factor up with ``searchsorted`` and calls ``solver.solve_block``,
    which solves every id's merged normal equations (the fullOuterJoin
    merge at ``:1037-1047``); the solved ids are the entity's next
    array. The init, the loop, the implicit YtY Gramians (computed on
    the driver), the lookup, the solve, the guard and the model are the
    same code on both paths below; only where an update's rows come
    from differs.
  - Where the updates run: the fit first collects the union of its
    relations, at most ``MAX_LOCAL_FIT_ROWS + 1`` rows, in one Spark job
    of one task. If that is every row, the in-blocks are numpy arrays
    on the driver, and an update solves them in chunks of
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows cut at id
    boundaries, so the solve's buffers are one Arrow batch's whatever
    the input size; no update starts a Spark job, a shuffle or a Python
    worker. Otherwise each in-block is hash-partitioned on id into
    ``min(num_blocks, defaultParallelism)`` partitions, sorted on id
    within each and persisted; one job collects the entity universes;
    and an update is one ``mapInPandas`` over the in-block, with the
    source arrays broadcast, solving one Arrow batch at a time and
    carrying a batch's last id into the next, so a task holds one batch
    plus one id's rows however large its partition is. That path stays
    because it is the only one that runs above the bound.
  - ``MAX_LOCAL_FIT_ROWS`` (2M rows) is sized by driver memory, not by
    speed. A 3-entity fit (rank 10, 2 iterations) of exactly 2M rows
    (1.95M user-item + 50k item-tag) raised the driver's Python peak RSS
    from 112 MB to 460 MB and the JVM's from 896 MB to 969 MB (3 GB
    heap), so the bound costs well under 1 GB of driver memory. On a
    4-vCPU host the driver path was the faster one at every size tried:
    1.84M rows fit in 10.8 s against 18.0 s on Spark (whose JVM peaked
    at 1.4 GB against 0.8 GB), and see the 2-entity numbers above.
  - Guard: an entity with more than ``MAX_FACTOR_IDS`` ids raises
    ``ValueError`` before any factor is built, since its array must fit
    on the driver and in every executor's broadcast. The Spark path's
    id collect that feeds the guard is itself limited to
    ``MAX_FACTOR_IDS + 1`` ids per entity; the driver path's ids come
    from the bounded row collect.
  - ``checkpoint_interval`` reaches only the MLlib delegate. The native
    loop's state is the driver arrays, so it has no lineage to truncate.

The model keeps a factor cache, one (ids, F) pair per entity: the fit
fills it; for models built from DataFrames or by ``load`` it is
collected once, on first use. Fold-in serving (cmf/foldin.py) reads it.
"""

from __future__ import annotations

import sys
from functools import reduce
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from collective_als_spark.cmf import solver as S
from collective_als_spark.functions.vector import checked_cast, dot

_FACTOR_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("features", T.ArrayType(T.FloatType(), False), False),
    ]
)


def _check_numeric(df: DataFrame, col: str) -> None:
    """Schema validation — reference ``SchemaUtils.checkNumericType``
    (``spark/SchemaUtils.scala:47-55``)."""
    field = df.schema[col]
    if not isinstance(field.dataType, T.NumericType):
        raise TypeError(
            f"Column {col!r} must be numeric but is {field.dataType.simpleString()}"
        )


# Largest entity (in ids) whose factors the fit and the model's factor
# cache hold on the driver and broadcast; at rank 100 this is 800 MB.
MAX_FACTOR_IDS = 2_000_000

# Most rating rows (all relations together) a fit collects to run its
# entity updates on the driver; above it they run on Spark. Sized by
# driver memory (see the module docstring), not by speed.
MAX_LOCAL_FIT_ROWS = 2_000_000


def _check_factor_size(entity: str, n_ids: int) -> None:
    if n_ids > MAX_FACTOR_IDS:
        raise ValueError(
            f"entity {entity!r} has {n_ids} ids, above MAX_FACTOR_IDS="
            f"{MAX_FACTOR_IDS}: its factors are held on the driver and broadcast"
        )


def _sorted_arrays(pdf: pd.DataFrame, rank: int) -> tuple[np.ndarray, np.ndarray]:
    """(id, features) rows -> (sorted int64 ids, float32 [n, rank])."""
    if len(pdf) == 0:
        return np.zeros(0, dtype=np.int64), np.zeros((0, rank), dtype=np.float32)
    ids = pdf["id"].values.astype(np.int64)
    order = np.argsort(ids, kind="stable")
    return ids[order], np.stack(pdf["features"].values).astype(np.float32)[order]


def _factor_frame(spark: SparkSession, ids: np.ndarray, feats: np.ndarray) -> DataFrame:
    pdf = pd.DataFrame({"id": ids.astype(np.int32), "features": feats.tolist()})
    return spark.createDataFrame(pdf, _FACTOR_SCHEMA)


class CollectiveALSModel:
    """Fitted model: ``rank`` + one (id, features) DataFrame per entity.

    Reference: ``CollectiveALSModel.scala:11-75``.
    """

    def __init__(
        self,
        rank: int,
        entities: list[str],
        factors: dict[str, DataFrame],
        prediction_col: str = "prediction",
        arrays: dict[str, tuple[np.ndarray, np.ndarray]] | None = None,
    ):
        self.rank = rank
        self.entities = list(entities)
        self.factors = factors
        self.prediction_col = prediction_col
        self._arrays = dict(arrays or {})
        self._broadcasts: dict = {}

    def factors_for(self, entity: str) -> DataFrame:
        if entity not in self.factors:
            raise KeyError(f"unknown entity {entity!r}; have {self.entities}")
        return self.factors[entity]

    def factor_arrays(self, entity: str) -> tuple[np.ndarray, np.ndarray]:
        """The factor cache: (sorted int64 ids, float32 [n, rank]) of
        ``entity``. Filled by the fit; otherwise collected once, on
        first use, under the ``MAX_FACTOR_IDS`` guard."""
        if entity not in self._arrays:
            pdf = (
                self.factors_for(entity).select("id", "features")
                .limit(MAX_FACTOR_IDS + 1).toPandas()
            )
            _check_factor_size(entity, len(pdf))
            self._arrays[entity] = _sorted_arrays(pdf, self.rank)
        return self._arrays[entity]

    def broadcast_factors(self, entity: str):
        """``factor_arrays(entity)`` as a ``SparkContext`` broadcast,
        created once per entity."""
        if entity not in self._broadcasts:
            sc = self.factors_for(entity).sparkSession.sparkContext
            self._broadcasts[entity] = sc.broadcast(self.factor_arrays(entity))
        return self._broadcasts[entity]

    def set_prediction_col(self, value: str) -> "CollectiveALSModel":
        self.prediction_col = value
        return self

    def predict(
        self,
        dataset: DataFrame,
        left_entity: str | None = None,
        right_entity: str | None = None,
        left_col: str | None = None,
        right_col: str | None = None,
    ) -> DataFrame:
        """Append ``prediction_col`` = dot(leftFactors, rightFactors).

        Two left joins + a codegen'd dot product — the same Catalyst plan
        shape as reference ``CollectiveALSModel.transform``
        (``CollectiveALSModel.scala:54-67``); cold-start IDs yield NaN.
        """
        left_entity = left_entity or self.entities[0]
        right_entity = right_entity or self.entities[1]
        left_col = left_col or left_entity
        right_col = right_col or right_entity
        _check_numeric(dataset, left_col)
        _check_numeric(dataset, right_col)
        if self.prediction_col in dataset.columns:
            raise ValueError(f"column {self.prediction_col!r} already exists")

        lf = self.factors_for(left_entity).select(
            F.col("id").alias("_lid"), F.col("features").alias("_lfeat")
        )
        rf = self.factors_for(right_entity).select(
            F.col("id").alias("_rid"), F.col("features").alias("_rfeat")
        )
        out = (
            dataset.join(lf, checked_cast(dataset[left_col]) == F.col("_lid"), "left")
            .join(rf, checked_cast(dataset[right_col]) == F.col("_rid"), "left")
            .withColumn(
                self.prediction_col,
                dot(F.col("_lfeat"), F.col("_rfeat")).cast("float"),
            )
            .drop("_lid", "_lfeat", "_rid", "_rfeat")
        )
        return out

    # pyspark.ml-style alias
    def transform(self, dataset: DataFrame) -> DataFrame:
        return self.predict(dataset)

    def save(self, path: str, mode: str = "error") -> None:
        """Persist the model: one parquet dir per entity's factors plus a
        single-row JSON metadata dir — all via Spark writers, so the
        target can be any Hadoop-compatible FS (local, HDFS, S3). The
        reference has no persistence surface (its IHR jobs write only a
        metrics report, ``IHRCollectiveALS.scala:91-94``); this follows
        the ``pyspark.ml`` Estimator/Model convention instead."""
        import json

        some_df = next(iter(self.factors.values()))
        spark = some_df.sparkSession
        meta = {
            "rank": self.rank,
            "entities": self.entities,
            "prediction_col": self.prediction_col,
        }
        spark.createDataFrame([(json.dumps(meta),)], "meta string").coalesce(
            1
        ).write.mode(mode).text(f"{path}/metadata")
        for entity in self.entities:
            self.factors[entity].write.mode(mode).parquet(f"{path}/factors/{entity}")

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "CollectiveALSModel":
        import json

        meta = json.loads(spark.read.text(f"{path}/metadata").first()[0])
        factors = {
            e: spark.read.parquet(f"{path}/factors/{e}") for e in meta["entities"]
        }
        return cls(
            rank=meta["rank"],
            entities=meta["entities"],
            factors=factors,
            prediction_col=meta["prediction_col"],
        )


class _DriverBlocks:
    """In-blocks on the driver: per entity, the rows of every relation
    direction that targets it as numpy (id, src, rating, rel) arrays
    sorted on id. An update starts no Spark job: it solves them in
    chunks of about ``chunk`` rows cut at id boundaries, so the solve's
    buffers stay as small as a Spark task's, which solves one Arrow
    batch."""

    def __init__(self, rows: pd.DataFrame, dirs: list, rank: int, chunk: int):
        self.rank = rank
        # a non-positive Arrow batch size means one batch: here, one chunk
        self.chunk = chunk if chunk > 0 else sys.maxsize
        rel = rows["rel"].values
        self.blocks = []
        for d in dirs:
            blk = pd.concat([
                rows.loc[rel == j, [i, s, "rating"]]
                .set_axis(["id", "src", "rating"], axis=1).assign(rel=k)
                for k, (j, i, s, _) in enumerate(d)
            ], ignore_index=True)
            order = np.argsort(blk["id"].values, kind="stable")
            self.blocks.append((
                blk["id"].values.astype(np.int64)[order],
                blk["src"].values.astype(np.int64)[order],
                blk["rating"].values[order],
                blk["rel"].values[order],
            ))

    def universes(self) -> list[np.ndarray]:
        return [np.unique(ids) for ids, *_ in self.blocks]

    def update(self, e: int, solve, arrays: dict) -> tuple[np.ndarray, np.ndarray]:
        ids = self.blocks[e][0]
        if len(ids) == 0:
            return ids, np.zeros((0, self.rank), dtype=np.float32)
        cuts = np.r_[np.unique(np.searchsorted(ids, ids[::self.chunk])), len(ids)]
        out = [
            solve(*(a[lo:hi] for a in self.blocks[e]), arrays)
            for lo, hi in zip(cuts[:-1], cuts[1:])
        ]
        return np.concatenate([u for u, _ in out]), np.concatenate([x for _, x in out])

    def close(self) -> None:
        pass


class _SparkBlocks:
    """In-blocks on Spark: per entity, the same rows hash-partitioned on
    id into ``n_parts[e]`` partitions, sorted on id within each and
    persisted. An update is one ``mapInPandas`` job that reads the source
    factors from a broadcast and solves one Arrow batch at a time."""

    def __init__(self, relations: list, dirs: list, n_parts: list[int], rank: int,
                 level: StorageLevel):
        self.sc = relations[0][2].sparkSession.sparkContext
        self.rank = rank
        self.blocks = [
            reduce(DataFrame.union, [
                relations[j][2].select(F.col(i).alias("id"), F.col(s).alias("src"),
                                       "rating", F.lit(k).alias("rel"))
                for k, (j, i, s, _) in enumerate(d)
            ]).repartition(n, "id").sortWithinPartitions("id").persist(level)
            for d, n in zip(dirs, n_parts)
        ]

    def universes(self) -> list[np.ndarray]:
        # One job (which also fills the in-block caches), at most
        # MAX_FACTOR_IDS + 1 ids per entity, so the guard runs before an
        # oversized entity reaches the driver.
        u = reduce(DataFrame.union, [
            blk.select("id").distinct().limit(MAX_FACTOR_IDS + 1)
            .select(F.lit(e).alias("e"), "id")
            for e, blk in enumerate(self.blocks)
        ]).toPandas()
        return [
            np.sort(u["id"].values[u["e"].values == e].astype(np.int64))
            for e in range(len(self.blocks))
        ]

    def update(self, e: int, solve, arrays: dict) -> tuple[np.ndarray, np.ndarray]:
        b = self.sc.broadcast(arrays)

        def solve_batch(pdf: pd.DataFrame) -> pd.DataFrame:
            uids, sol = solve(
                pdf["id"].values, pdf["src"].values.astype(np.int64),
                pdf["rating"].values, pdf["rel"].values, b.value,
            )
            return pd.DataFrame({"id": uids.astype(np.int32), "features": list(sol)})

        def update(batches: Iterable[pd.DataFrame]):
            # The partition is sorted on id: solve each Arrow batch but
            # its last id, whose rows may continue in the next batch and
            # are carried into it.
            carry = None
            for pdf in batches:
                if carry is not None:
                    pdf = pd.concat([carry, pdf], ignore_index=True)
                if len(pdf) == 0:
                    continue
                ids = pdf["id"].values
                cut = int(np.searchsorted(ids, ids[-1]))
                carry = pdf.iloc[cut:]
                if cut:
                    yield solve_batch(pdf.iloc[:cut])
            if carry is not None:
                yield solve_batch(carry)

        out = self.blocks[e].mapInPandas(update, _FACTOR_SCHEMA).toPandas()
        b.destroy()
        return _sorted_arrays(out, self.rank)

    def close(self) -> None:
        for blk in self.blocks:
            blk.unpersist()


class CollectiveALS:
    """Estimator. Defaults follow the reference class defaults
    (``CollectiveALS.scala:27-58``) with quirk fixes Q4/Q7 (seed
    defaults to 0, not classname hash; train/reg default unified)."""

    def __init__(
        self,
        *entities: str,
        rank: int = 10,
        max_iter: int = 10,
        reg_param: float = 0.1,
        implicit_prefs: bool = False,
        alpha: float = 1.0,
        nonnegative: bool = False,
        rating_col: str = "rating",
        prediction_col: str = "prediction",
        num_blocks: int | str | dict[str, int] = 32,
        seed: int = 0,
        checkpoint_interval: int = 10,
        intermediate_storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
        final_storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
        force_native: bool = False,
    ):
        self.entities = list(entities) if entities else ["user", "item"]
        self.rank = rank
        self.max_iter = max_iter
        self.reg_param = reg_param
        self.implicit_prefs = implicit_prefs
        self.alpha = alpha
        self.nonnegative = nonnegative
        self.rating_col = rating_col
        self.prediction_col = prediction_col
        self.num_blocks = num_blocks
        # Fallback for entities absent from a per-entity dict; tracks the
        # last globally-configured value (ctor arg or set_num_blocks(int)).
        self._num_blocks_default = num_blocks if not isinstance(num_blocks, dict) else 32
        self.seed = seed
        self.checkpoint_interval = checkpoint_interval
        self.intermediate_storage_level = intermediate_storage_level
        self.final_storage_level = final_storage_level
        self.force_native = force_native

    # ---- fluent setters (reference's 17 setters, CollectiveALS.scala:60-83)
    def set_rank(self, v):           self.rank = v; return self
    def set_max_iter(self, v):       self.max_iter = v; return self
    def set_reg_param(self, v):      self.reg_param = v; return self
    def set_implicit_prefs(self, v): self.implicit_prefs = v; return self
    def set_alpha(self, v):          self.alpha = v; return self
    def set_nonnegative(self, v):    self.nonnegative = v; return self
    def set_rating_col(self, v):     self.rating_col = v; return self
    def set_prediction_col(self, v): self.prediction_col = v; return self

    def set_num_blocks(self, v, entity: str | None = None):
        """Block count, global (int) or per entity — reference exposes
        ``numBlocks`` per entity (``CollectiveALS.scala:29-30,63-66``;
        production configs set 2000). ``set_num_blocks(8)`` sets all;
        ``set_num_blocks(8, "user")`` sets one entity."""
        if entity is not None:
            if not isinstance(self.num_blocks, dict):
                # Keep the previously-configured global value as the
                # fallback for entities not named in the dict, so
                # CollectiveALS(num_blocks=64).set_num_blocks(8, "user")
                # trains the other entities with 64, not a hardcoded 32.
                self._num_blocks_default = self.num_blocks
                self.num_blocks = {}
            self.num_blocks[entity] = v
        else:
            self._num_blocks_default = v
            self.num_blocks = v
        return self
    def set_seed(self, v):           self.seed = v; return self
    def set_checkpoint_interval(self, v): self.checkpoint_interval = v; return self
    def set_intermediate_storage_level(self, v): self.intermediate_storage_level = v; return self
    def set_final_storage_level(self, v): self.final_storage_level = v; return self

    @staticmethod
    def _storage_level_name(level: StorageLevel) -> str:
        """StorageLevel -> the string name pyspark.ml ALS expects."""
        for name in (
            "MEMORY_AND_DISK", "MEMORY_ONLY", "DISK_ONLY",
            "MEMORY_AND_DISK_2", "MEMORY_ONLY_2", "DISK_ONLY_2", "NONE",
        ):
            if getattr(StorageLevel, name, None) == level:
                return name
        return "MEMORY_AND_DISK"

    # ------------------------------------------------------------------ fit
    def fit(
        self,
        relations: DataFrame | dict[tuple[str, str], DataFrame],
    ) -> CollectiveALSModel:
        """Fit on one DataFrame (2-entity convenience, reference
        ``CollectiveALS.scala:94``) or a dict {(leftCol, rightCol): df}
        (N-entity, reference ``:96-133``). Column names must be entity
        names; a self relation (e, e) has the column e twice, left side
        first. ``rating_col`` may be "" for implicit all-ones ratings
        (reference ``:104``)."""
        if isinstance(self.num_blocks, dict):
            unknown = set(self.num_blocks) - set(self.entities)
            if unknown:
                raise ValueError(
                    f"num_blocks names unknown entities {sorted(unknown)}; "
                    f"entities={self.entities}"
                )
        if isinstance(relations, DataFrame):
            relations = {(self.entities[0], self.entities[1]): relations}
        norm: list[tuple[int, int, DataFrame]] = []
        for (lcol, rcol), df in relations.items():
            if lcol not in self.entities or rcol not in self.entities:
                raise ValueError(
                    f"relation ({lcol},{rcol}) references unknown entity; "
                    f"entities={self.entities}"
                )
            li, ri = self.entities.index(lcol), self.entities.index(rcol)
            if lcol == rcol:
                # a self relation names its entity twice: the first
                # column is the left side, the second the right side
                names = list(df.columns)
                if names.count(lcol) != 2:
                    raise ValueError(
                        f"self relation ({lcol},{rcol}) needs the column {lcol!r} twice"
                    )
                i = names.index(lcol)
                names[i], names[names.index(lcol, i + 1)] = "_left", "_right"
                df, lcol, rcol = df.toDF(*names), "_left", "_right"
            _check_numeric(df, lcol)
            _check_numeric(df, rcol)
            if self.rating_col:
                _check_numeric(df, self.rating_col)
                rating = F.col(self.rating_col).cast("float")
            else:
                rating = F.lit(1.0).cast("float")
            nd = df.select(
                checked_cast(F.col(lcol)).alias("src"),
                checked_cast(F.col(rcol)).alias("dst"),
                rating.alias("rating"),
            ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
            norm.append((li, ri, nd))

        if (
            not self.force_native
            and len(self.entities) == 2
            and len(norm) == 1
            and norm[0][0] != norm[0][1]
        ):
            return self._fit_builtin(norm[0])
        return self._fit_native(norm)

    # ------------------------------------------------- 2-entity fast path
    def _fit_builtin(self, rel: tuple[int, int, DataFrame]) -> CollectiveALSModel:
        from pyspark.ml.recommendation import ALS

        li, ri, df = rel
        als = ALS(
            rank=self.rank,
            maxIter=self.max_iter,
            regParam=self.reg_param,
            implicitPrefs=self.implicit_prefs,
            alpha=self.alpha,
            nonnegative=self.nonnegative,
            userCol="src",
            itemCol="dst",
            ratingCol="rating",
            numUserBlocks=self._blocks_for(self.entities[li], df.sparkSession),
            numItemBlocks=self._blocks_for(self.entities[ri], df.sparkSession),
            checkpointInterval=self.checkpoint_interval,
            seed=self.seed,
            coldStartStrategy="nan",
            intermediateStorageLevel=self._storage_level_name(
                self.intermediate_storage_level
            ),
            finalStorageLevel=self._storage_level_name(self.final_storage_level),
        )
        m = als.fit(df)
        cast_feat = F.col("features").cast(T.ArrayType(T.FloatType())).alias("features")
        factors = {
            self.entities[li]: m.userFactors.select("id", cast_feat),
            self.entities[ri]: m.itemFactors.select("id", cast_feat),
        }
        return CollectiveALSModel(self.rank, self.entities, factors, self.prediction_col)

    # ------------------------------------------------- N-entity trainer
    def _blocks_for(self, entity_name: str, spark=None) -> int:
        """Per-entity block count (reference ``CollectiveALS.scala:29-30``):
        dict values override, unnamed entities use the class default.

        ``"auto"`` scales with the cluster instead of hardcoding: block
        count = max(8, defaultParallelism // 4) — 8 on a 32-core local
        run (block-scheduling overhead dominates tiny fits below that),
        2000 on a reference-production-sized cluster (200 executors x
        ~40 cores), which is exactly the reference's production setting
        (``IHRALS.scala:29``)."""
        v = self.num_blocks
        if isinstance(v, dict):
            v = v.get(entity_name, self._num_blocks_default)
        if v == "auto":
            par = (
                spark.sparkContext.defaultParallelism if spark is not None else 32
            )
            return max(8, par // 4)
        return int(v)

    def _fit_native(
        self, relations: list[tuple[int, int, DataFrame]]
    ) -> CollectiveALSModel:
        spark = relations[0][2].sparkSession
        n_ent = len(self.entities)

        # dirs[e]: every relation direction that targets entity e, as
        # (relation index, id column, source column, source entity); a
        # self relation contributes both directions. The position of a
        # direction in dirs[e] is its in-block "rel" value.
        dirs: list[list[tuple[int, str, str, int]]] = []
        for e in range(n_ent):
            d = []
            for j, (li, ri, _) in enumerate(relations):
                if ri == e:
                    d.append((j, "dst", "src", li))
                if li == e:
                    d.append((j, "src", "dst", ri))
            if not d:
                raise ValueError(f"entity {self.entities[e]!r} appears in no relation")
            dirs.append(d)

        # One bounded collect decides where the updates run. A single task
        # reads the relations in turn and stops after MAX_LOCAL_FIT_ROWS + 1
        # rows: a limit over many partitions would shuffle up to that many
        # rows from each of them.
        rows = reduce(DataFrame.union, [
            df.select("src", "dst", "rating", F.lit(j).alias("rel"))
            for j, (_, _, df) in enumerate(relations)
        ]).coalesce(1).limit(MAX_LOCAL_FIT_ROWS + 1).toPandas()
        if len(rows) <= MAX_LOCAL_FIT_ROWS:
            chunk = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
            blocks = _DriverBlocks(rows, dirs, self.rank, chunk)
        else:
            del rows
            n_parts = [
                min(self._blocks_for(name, spark), spark.sparkContext.defaultParallelism)
                for name in self.entities
            ]
            blocks = _SparkBlocks(
                relations, dirs, n_parts, self.rank, self.intermediate_storage_level
            )

        rank, reg, alpha = self.rank, self.reg_param, self.alpha
        implicit, nonneg = self.implicit_prefs, self.nonnegative
        try:
            # the deterministic per-id init (reference :394-402)
            state: list[tuple[np.ndarray, np.ndarray]] = []
            for e, ids in enumerate(blocks.universes()):
                _check_factor_size(self.entities[e], len(ids))
                state.append((ids, S.init_factors_for_ids(ids, rank, self.seed, e)))

            for _ in range(self.max_iter):
                for e in range(n_ent):
                    srcs = tuple(s for *_, s in dirs[e])
                    # YtY of each relation's source factors, added once per
                    # (id, relation) present (reference :1003,1037-1047)
                    yty = (
                        np.stack([S.compute_yty(state[s][1].astype(np.float64)) for s in srcs])
                        if implicit else None
                    )

                    def solve(ids, src, rating, rel, arrays, srcs=srcs, yty=yty):
                        X = np.empty((len(ids), rank), dtype=np.float32)
                        for j, s in enumerate(srcs):
                            m = rel == j
                            sids, SF = arrays[s]
                            X[m] = SF[np.searchsorted(sids, src[m])]
                        return S.solve_block(
                            ids, X, rating, rel, yty, reg, alpha, implicit, nonneg
                        )

                    state[e] = blocks.update(e, solve, {s: state[s] for s in set(srcs)})
        finally:
            blocks.close()

        named = {
            self.entities[e]: _factor_frame(spark, *state[e]) for e in range(n_ent)
        }
        arrays = {self.entities[e]: state[e] for e in range(n_ent)}
        return CollectiveALSModel(
            self.rank, self.entities, named, self.prediction_col, arrays=arrays
        )
