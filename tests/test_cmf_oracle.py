"""The collective fit against the dense numpy Gauss-Seidel reference
(tests/cmf_oracle.py), the nonnegative fit against the KKT conditions,
fold-in's two paths against each other, and the size guards."""

import numpy as np
import pytest

from collective_als_spark.cmf import CollectiveALS
from collective_als_spark.cmf.solver import init_factors_for_ids

from tests.cmf_oracle import gauss_seidel, normal_equations, relation, touching

RANK, REG, SEED = 3, 0.1, 5


def _random_relation(rng, n_src, n_dst, per_src, implicit=False):
    src, dst, r = [], [], []
    for s in range(n_src):
        for d in rng.choice(n_dst, size=per_src, replace=False):
            src.append(s)
            dst.append(int(d) + 100)  # ids need not start at 0
            r.append(rng.normal() * (2.0 if implicit else 1.0))
    return relation(src, dst, r)


def _frame(spark, rel, lcol, rcol):
    s, d, r = rel
    rows = [(int(a), int(b), float(c)) for a, b, c in zip(s, d, r)]
    df = spark.createDataFrame(rows, "l int, r int, rating double")
    return df.toDF(lcol, rcol, "rating")  # a self relation repeats its column


def _fit(spark, entities, rels, **kw):
    frames = {
        (entities[li], entities[ri]): _frame(spark, rel, entities[li], entities[ri])
        for li, ri, rel in rels
    }
    kw = dict(rank=RANK, reg_param=REG, seed=SEED, num_blocks=3, force_native=True) | kw
    return CollectiveALS(*entities, **kw).fit(frames)


def _assert_matches_oracle(model, entities, rels, max_iter, **kw):
    ids, factors = gauss_seidel(len(entities), rels, RANK, max_iter, REG, SEED, **kw)
    for e, name in enumerate(entities):
        got = model.factors_for(name).toPandas().sort_values("id")
        np.testing.assert_array_equal(got["id"].values, ids[e])
        np.testing.assert_allclose(
            np.stack(got["features"].values), factors[e], atol=1e-5, err_msg=name
        )


@pytest.mark.parametrize("batch_rows", [None, 7])
def test_two_entity_fit_matches_oracle(spark, batch_rows):
    """Update tasks solve one Arrow batch at a time; with 7-row batches
    most ids' rows span a batch boundary and are carried over."""
    rng = np.random.default_rng(0)
    rels = [(0, 1, _random_relation(rng, 20, 15, 5))]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    if batch_rows:
        spark.conf.set(key, str(batch_rows))
    try:
        model = _fit(spark, ["user", "item"], rels, max_iter=3)
    finally:
        spark.conf.set(key, old)
    _assert_matches_oracle(model, ["user", "item"], rels, 3)


def test_three_entity_fit_matches_oracle(spark):
    rng = np.random.default_rng(1)
    ratings = _random_relation(rng, 25, 15, 4)
    # item ids are 100.., so the side relation's source ids start there too
    s, d, r = _random_relation(rng, 15, 6, 2)
    rels = [(0, 1, ratings), (1, 2, relation(s + 100, d, r))]
    model = _fit(spark, ["user", "item", "tag"], rels, max_iter=3)
    _assert_matches_oracle(model, ["user", "item", "tag"], rels, 3)


def test_self_relation_fit_matches_oracle(spark):
    """A user-user relation feeds both of its directions into the
    user update, next to the user-item relation."""
    rng = np.random.default_rng(2)
    ratings = _random_relation(rng, 20, 12, 4)
    s, d, r = _random_relation(rng, 20, 20, 3)
    social = relation(s, d - 100, r)
    rels = [(0, 1, ratings), (0, 0, social)]
    model = _fit(spark, ["user", "item"], rels, max_iter=2)
    _assert_matches_oracle(model, ["user", "item"], rels, 2)


def test_implicit_fit_with_negative_ratings_matches_oracle(spark):
    """Implicit feedback: non-positive ratings carry no confidence but
    still make their relation's YtY count for the id."""
    rng = np.random.default_rng(3)
    ratings = _random_relation(rng, 20, 15, 5, implicit=True)
    assert (ratings[2] < 0).any() and (ratings[2] > 0).any()
    s, d, r = _random_relation(rng, 15, 5, 2, implicit=True)
    rels = [(0, 1, ratings), (1, 2, relation(s + 100, d, r))]
    kw = dict(implicit=True, alpha=2.0)
    model = _fit(spark, ["user", "item", "tag"], rels, max_iter=2,
                 implicit_prefs=True, alpha=2.0)
    _assert_matches_oracle(model, ["user", "item", "tag"], rels, 2, **kw)


def test_nonnegative_fit_meets_kkt(spark):
    """One sweep: the user update solves against the init item factors
    and the item update against the new user factors. Every id's
    solution x of min 1/2 x'Ax - b'x s.t. x >= 0 must have x >= 0, a
    gradient Ax - b >= 0 and x * (Ax - b) = 0."""
    rng = np.random.default_rng(4)
    s, d, r = _random_relation(rng, 20, 15, 5)
    rels = [(0, 1, relation(s, d, np.abs(r)))]
    model = _fit(spark, ["user", "item"], rels, max_iter=1, nonnegative=True)
    ids = [np.unique(s), np.unique(d)]
    factors = [np.zeros((len(ids[0]), RANK), np.float32),
               init_factors_for_ids(ids[1], RANK, SEED, 1)]
    for e, name in enumerate(["user", "item"]):
        got = model.factors_for(name).toPandas().sort_values("id")
        X = np.stack(got["features"].values).astype(np.float64)
        rows = touching(e, rels)
        for u, x in zip(ids[e], X):
            A, b = normal_equations(u, rows, ids, factors, REG, False, 1.0)
            g = A @ x - b
            tol = 1e-4 * (1.0 + np.abs(b).max())
            assert (x >= 0).all(), (name, u, x)
            assert (g >= -tol).all(), (name, u, g)
            assert np.abs(x * g).max() <= tol, (name, u, x, g)
        factors[e] = X.astype(np.float32)


@pytest.mark.parametrize("implicit", [False, True])
def test_fold_in_paths_agree(spark, implicit):
    """fold_in (distributed) and fold_in_predict (driver) run the same
    solve: the request's predictions equal dot(fold_in factors, Y)."""
    from collective_als_spark.cmf.foldin import fold_in, fold_in_predict

    rng = np.random.default_rng(6)
    rels = [(0, 1, _random_relation(rng, 20, 15, 5))]
    model = _fit(spark, ["user", "item"], rels, max_iter=2)
    hist = [(900 + u, int(i) + 100, float(rng.normal()) + (1.5 if implicit else 0.0))
            for u in range(3) for i in rng.choice(15, size=4, replace=False)]
    hist.append((903, 999, 1.0))  # an item the model does not know
    history = spark.createDataFrame(hist, "u int, i int, rating double")
    pairs = spark.createDataFrame(
        [(900 + u, 100 + i) for u in range(4) for i in range(15)] + [(900, 999)],
        "u int, i int",
    )
    kw = dict(reg_param=0.2, implicit_prefs=implicit, alpha=2.0)
    folded = {
        r.id: np.asarray(r.features, dtype=np.float64)
        for r in fold_in(model, history, "u", "item", "i", **kw).collect()
    }
    assert set(folded) == {900, 901, 902}
    iids, Y = model.factor_arrays("item")
    got = fold_in_predict(model, history, pairs, "u", "item", "i", **kw).toPandas()
    assert list(got.columns) == ["u", "i", "prediction"] and len(got) == 61
    for _, row in got.iterrows():
        u, i = int(row["u"]), int(row["i"])
        if u not in folded or i not in set(iids.tolist()):
            assert row["prediction"] is None or np.isnan(row["prediction"])
            continue
        want = folded[u] @ Y[np.searchsorted(iids, i)].astype(np.float64)
        assert abs(row["prediction"] - want) < 1e-5, (u, i)


def test_factor_cache_collects_once(spark):
    from collective_als_spark.cmf.als import CollectiveALSModel

    f = spark.createDataFrame(
        [(3, [1.0, 0.0]), (1, [0.0, 2.0])], "id int, features array<float>"
    )
    model = CollectiveALSModel(2, ["user", "item"], {"user": f, "item": f})
    ids, F = model.factor_arrays("item")
    np.testing.assert_array_equal(ids, [1, 3])
    np.testing.assert_array_equal(F, [[0.0, 2.0], [1.0, 0.0]])
    assert model.factor_arrays("item")[1] is F


def test_fit_guard_raises(spark, monkeypatch):
    from collective_als_spark.cmf import als

    # record how many rows each collect brings to the driver
    sizes = []
    frame_cls = type(spark.range(1))
    to_pandas = frame_cls.toPandas
    monkeypatch.setattr(
        frame_cls, "toPandas", lambda df: sizes.append(len(out := to_pandas(df))) or out
    )
    monkeypatch.setattr(als, "MAX_FACTOR_IDS", 10)
    rels = [(0, 1, _random_relation(np.random.default_rng(7), 20, 15, 3))]
    with pytest.raises(ValueError, match="MAX_FACTOR_IDS"):
        _fit(spark, ["user", "item"], rels, max_iter=1)
    # 20 users + 15 items, but at most MAX_FACTOR_IDS + 1 ids per entity
    assert sizes == [22]


def test_factor_cache_guard_raises(spark, monkeypatch):
    from collective_als_spark.cmf import als

    f = spark.createDataFrame(
        [(i, [float(i)]) for i in range(5)], "id int, features array<float>"
    )
    model = als.CollectiveALSModel(1, ["user", "item"], {"user": f, "item": f})
    monkeypatch.setattr(als, "MAX_FACTOR_IDS", 4)
    with pytest.raises(ValueError, match="MAX_FACTOR_IDS"):
        model.factor_arrays("item")


def test_fold_in_predict_guard_raises(spark, monkeypatch):
    from collective_als_spark.cmf import foldin
    from collective_als_spark.cmf.als import CollectiveALSModel

    f = spark.createDataFrame([(1, [1.0])], "id int, features array<float>")
    model = CollectiveALSModel(1, ["user", "item"], {"user": f, "item": f})
    history = spark.createDataFrame([(7, 1, 1.0)] * 6, "u int, i int, rating double")
    pairs = spark.createDataFrame([(7, 1)], "u int, i int")
    monkeypatch.setattr(foldin, "MAX_REQUEST_ROWS", 5)
    with pytest.raises(ValueError, match="use fold_in"):
        foldin.fold_in_predict(model, history, pairs, "u", "item", "i")
