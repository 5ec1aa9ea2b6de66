"""Dense numpy reference of the collective ALS fit, for exact tests.

One Gauss-Seidel sweep per iteration over the entities in order; each
id's normal equations are built row by row from every relation that
touches it (both directions of a self relation), with the same
deterministic init, ALS-WR ``reg * n`` and, for implicit feedback, the
source Gramian YtY added once per relation the id has rows in.
Factors are stored as float32 after every update, as the fit stores
them. Nothing here shares code with the fit except the init.
"""

from __future__ import annotations

import numpy as np

from collective_als_spark.cmf.solver import init_factors_for_ids


def relation(src, dst, rating) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    return (
        np.asarray(src, dtype=np.int64),
        np.asarray(dst, dtype=np.int64),
        np.asarray(rating, dtype=np.float32),
    )


def touching(e: int, relations: list) -> list[tuple[int, np.ndarray, np.ndarray, np.ndarray]]:
    """(source entity, target ids, source ids, ratings) per relation
    direction that targets entity ``e``, in the fit's order."""
    out = []
    for li, ri, (s, d, r) in relations:
        if ri == e:
            out.append((li, d, s, r))
        if li == e:
            out.append((ri, s, d, r))
    return out


def normal_equations(u, rows, ids, factors, reg, implicit, alpha):
    """(A + reg*n*I, b) of id ``u`` over ``rows`` (see ``touching``)."""
    k = factors[0].shape[1]
    A, b, n = np.zeros((k, k)), np.zeros(k), 0
    for o, tgt, src, r in rows:
        m = tgt == u
        if not m.any():
            continue
        Y = factors[o][np.searchsorted(ids[o], src[m])].astype(np.float64)
        rr = r[m].astype(np.float64)
        if implicit:
            Yo = factors[o].astype(np.float64)
            A += Yo.T @ Yo
            pos = rr > 0
            c = alpha * np.abs(rr[pos])
            A += Y[pos].T @ (c[:, None] * Y[pos])
            b += Y[pos].T @ (c + 1.0)
            n += int(pos.sum())
        else:
            A += Y.T @ Y
            b += Y.T @ rr
            n += int(m.sum())
    return A + reg * n * np.eye(k), b


def gauss_seidel(
    n_entities: int,
    relations: list,
    rank: int,
    max_iter: int,
    reg: float,
    seed: int,
    implicit: bool = False,
    alpha: float = 1.0,
) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """``relations``: [(left entity, right entity, relation(src, dst, r))].
    Returns per entity (sorted ids, float32 factors)."""
    ids = []
    for e in range(n_entities):
        parts = [d for _, d, _, _ in touching(e, relations)]
        ids.append(np.unique(np.concatenate(parts)))
    factors = [init_factors_for_ids(ids[e], rank, seed, e) for e in range(n_entities)]
    for _ in range(max_iter):
        for e in range(n_entities):
            rows = touching(e, relations)
            new = np.empty((len(ids[e]), rank))
            for i, u in enumerate(ids[e]):
                A, b = normal_equations(u, rows, ids, factors, reg, implicit, alpha)
                new[i] = np.linalg.solve(A, b)
            factors[e] = new.astype(np.float32)
    return ids, factors
