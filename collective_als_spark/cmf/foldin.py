"""Fold-in: factors for entities unseen at fit time, without refitting.

The serving gap in ``pyspark.ml.recommendation.ALS`` (SPARK-20894
territory): a user who signs up after the nightly fit gets NaN from
``predict`` until the next refit. Fold-in solves that user's normal
equations against the FIXED other-side factors with the fit's own
kernel, ``solver.solve_block``, so a folded-in entity with the same
interactions gets the factors the fit's last half-step would give it
(explicit, implicit and nonnegative alike).

Both calls read the fixed factors from the model's factor cache
(``CollectiveALSModel.factor_arrays``: filled by the fit, collected
once per entity otherwise), so neither joins ratings to factors:

  - ``fold_in`` is the distributed batch path. The cached factors go
    out once as a broadcast; one block-hashed ``applyInPandas`` looks
    each rating's factor up with ``searchsorted`` and solves the block.
  - ``fold_in_predict`` is the request call. It collects the history
    and the pairs to score, solves and scores on the driver, and
    returns a DataFrame. A request with more than
    ``MAX_REQUEST_ROWS`` history rows or pairs raises ``ValueError``
    and names ``fold_in`` as the batch path.

Ratings whose fixed-side id the model does not know are ignored, and
pairs whose new or fixed id has no factor score null.

Reference parity: the reference has no incremental path
(CollectiveALS.scala fits monolithically); this extends the model
surface the way production ALS deployments do.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from collective_als_spark.cmf import solver as S
from collective_als_spark.cmf.als import CollectiveALSModel

# Largest history (rows) and pair set fold_in_predict collects to the driver.
MAX_REQUEST_ROWS = 100_000

_FACTOR_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def _yty(Y: np.ndarray, implicit: bool) -> np.ndarray | None:
    """The fixed factors' Gramian as the one relation's YtY (implicit only)."""
    return S.compute_yty(Y.astype(np.float64))[None] if implicit else None


def _solve(
    ids: np.ndarray, fixed: np.ndarray, r: np.ndarray, fids: np.ndarray, Y: np.ndarray,
    yty: np.ndarray | None, reg: float, alpha: float, nonneg: bool,
) -> tuple[np.ndarray, np.ndarray]:
    """Fold ``ids`` in from their ratings ``r`` of the ``fixed`` ids."""
    pos, ok = S.lookup_rows(fids, fixed)
    if not ok.any():
        return np.zeros(0, dtype=np.int64), np.zeros((0, Y.shape[1]), dtype=np.float32)
    return S.solve_block(
        ids[ok], Y[pos[ok]], r[ok], np.zeros(int(ok.sum()), dtype=np.int64),
        yty, reg, alpha, yty is not None, nonneg,
    )


def fold_in(
    model: CollectiveALSModel,
    ratings: DataFrame,
    new_col: str,
    fixed_entity: str,
    fixed_col: str,
    rating_col: str = "rating",
    reg_param: float = 0.1,
    nonnegative: bool = False,
    implicit_prefs: bool = False,
    alpha: float = 1.0,
    num_blocks: int = 32,
) -> DataFrame:
    """(id, features) for every distinct id in ``ratings[new_col]`` with
    at least one rating of a known ``fixed_entity`` id, solved against
    ``model``'s fixed factors with ALS-WR λ·n regularization."""
    b = model.broadcast_factors(fixed_entity)
    yty = _yty(model.factor_arrays(fixed_entity)[1], implicit_prefs)
    args = (yty, float(reg_param), float(alpha), bool(nonnegative))

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        fids, Y = b.value
        uids, sol = _solve(
            pdf["id"].values.astype(np.int64), pdf["_fid"].values.astype(np.int64),
            pdf["rating"].values, fids, Y, *args,
        )
        # object dtype keeps an empty block (no known fixed id) Arrow-typable
        feats = pd.Series(list(sol), dtype=object)
        return pd.DataFrame({"id": uids.astype(np.int32), "features": feats})

    rows = ratings.select(
        F.col(new_col).cast("int").alias("id"),
        F.col(fixed_col).cast("int").alias("_fid"),
        F.col(rating_col).cast("double").alias("rating"),
    ).filter(F.col("id").isNotNull() & F.col("_fid").isNotNull())
    return (
        rows.groupBy(F.pmod(F.hash("id"), F.lit(num_blocks)).alias("_blk"))
        .applyInPandas(lambda key, pdf: solve(pdf), _FACTOR_SCHEMA)
    )


def _collect_request(df: DataFrame, what: str) -> pd.DataFrame:
    pdf = df.limit(MAX_REQUEST_ROWS + 1).toPandas()
    if len(pdf) > MAX_REQUEST_ROWS:
        raise ValueError(
            f"{what} has more than MAX_REQUEST_ROWS={MAX_REQUEST_ROWS} rows; "
            "fold_in_predict serves requests on the driver, use fold_in for "
            "batch fold-in"
        )
    return pdf


def _int_ids(s: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """(int64 ids with nulls as -1, non-null mask)."""
    ok = s.notna().values
    return np.where(ok, s.fillna(-1).values, -1).astype(np.int64), ok


def fold_in_predict(
    model: CollectiveALSModel,
    history: DataFrame,
    score_pairs: DataFrame,
    new_col: str,
    fixed_entity: str,
    fixed_col: str,
    rating_col: str = "rating",
    reg_param: float = 0.1,
    prediction_col: str = "prediction",
    nonnegative: bool = False,
    implicit_prefs: bool = False,
    alpha: float = 1.0,
) -> DataFrame:
    """Score ``score_pairs`` (new_col, fixed_col) for entities folded in
    from ``history`` — the end-to-end cold-start serving call. Returns
    ``score_pairs`` with ``prediction_col`` appended. The solver options
    are those of :func:`fold_in`, which gives the same factors."""
    h = _collect_request(history.select(new_col, fixed_col, rating_col), "history")
    p = _collect_request(score_pairs, "score_pairs")
    fids, Y = model.factor_arrays(fixed_entity)

    hid, hid_ok = _int_ids(h[new_col])
    hfix, hfix_ok = _int_ids(h[fixed_col])
    keep = hid_ok & hfix_ok
    uids, U = _solve(
        hid[keep], hfix[keep], h[rating_col].values[keep].astype(np.float64), fids, Y,
        _yty(Y, implicit_prefs), float(reg_param), float(alpha), bool(nonnegative),
    )

    pid, pid_ok = _int_ids(p[new_col])
    pfix, pfix_ok = _int_ids(p[fixed_col])
    upos, uok = S.lookup_rows(uids, pid)
    ipos, iok = S.lookup_rows(fids, pfix)
    hit = uok & iok & pid_ok & pfix_ok
    pred = np.full(len(p), None, dtype=object)
    pred[hit] = np.einsum(
        "ij,ij->i", U[upos[hit]].astype(np.float64), Y[ipos[hit]].astype(np.float64)
    ).astype(np.float32).tolist()
    p[prediction_col] = pred
    schema = T.StructType(score_pairs.schema.fields + [
        T.StructField(prediction_col, T.FloatType())
    ])
    return score_pairs.sparkSession.createDataFrame(p, schema)
