"""NumPy kernels for the blocked ALS / CMF normal-equation solves.

Semantics reproduced from the reference (behavior, not code):
  - NormalEquation rank-1 updates ``AtA += c*a*aT``, ``Atb += c*b*a``
    (reference ``CollectiveALS.scala:277-294``) — here vectorized as a
    segmented einsum over a whole block of IDs at once.
  - ALS-WR lambda weighting: solve with ``lambda * numExplicits``
    (reference ``CollectiveALS.scala:1030,1048-1051``).
  - Implicit feedback with negative-rating extension: confidence from
    ``|rating|``; only rating > 0 contributes, with weight ``c1`` and
    target ``(c1+1)``; the YtY Gramian of the source factors is added
    once per relation (reference ``CollectiveALS.scala:1003-1030``).
  - Cholesky solve == ridge solve (reference ``CholeskyDecomposition``),
    NNLS via projected iteration (reference ``NNLS.scala`` uses
    projected gradient + CG; we use projected Gauss-Seidel, which
    converges to the same KKT point for PD systems).

All kernels operate on a *block* of many IDs (rows sorted by id), so the
Python/Arrow boundary is crossed once per block, not once per ID — the
DataFrame analog of the reference's in-block design.
"""

from __future__ import annotations

import numpy as np

# Budget for the fully-vectorized segmented outer-product path
# (n_rows * k * k floats). Above it, fall back to per-group BLAS calls.
_OUTER_BUDGET = 150_000_000


def _segment_starts(sorted_ids: np.ndarray) -> np.ndarray:
    if len(sorted_ids) == 0:
        return np.zeros(0, dtype=np.int64)
    return np.flatnonzero(np.r_[True, sorted_ids[1:] != sorted_ids[:-1]])


def build_normal_equations(
    ids: np.ndarray,
    X: np.ndarray,
    ratings: np.ndarray,
    weights: np.ndarray | None = None,
    targets: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Segmented AtA/Atb over rows sorted by ``ids``.

    weights c (default 1) scale the outer products; targets b (default
    ``ratings``) scale Atb. Returns (unique_ids, AtA (g,k,k), Atb (g,k),
    counts (g,)) where counts = number of contributing rows per id.
    """
    n, k = X.shape
    starts = _segment_starts(ids)
    uids = ids[starts]
    g = len(uids)
    c = np.ones(n) if weights is None else weights
    b = ratings if targets is None else targets
    counts = np.diff(np.r_[starts, n]).astype(np.int64)

    if n * k * k <= _OUTER_BUDGET:
        outer = X[:, :, None] * X[:, None, :] * c[:, None, None]
        AtA = np.add.reduceat(outer.reshape(n, k * k), starts, axis=0).reshape(g, k, k)
    else:
        AtA = np.empty((g, k, k))
        ends = np.r_[starts[1:], n]
        for gi in range(g):
            s, e = starts[gi], ends[gi]
            Xg = X[s:e]
            AtA[gi] = Xg.T @ (c[s:e, None] * Xg)
    Atb = np.add.reduceat(X * (c * b)[:, None], starts, axis=0)
    return uids, AtA, Atb, counts


def solve_cholesky(AtA: np.ndarray, Atb: np.ndarray, lam: np.ndarray) -> np.ndarray:
    """Batched ridge solve: (AtA + lam*I) x = Atb; lam per group."""
    g, k, _ = AtA.shape
    A = AtA + lam[:, None, None] * np.eye(k)[None, :, :]
    try:
        return np.linalg.solve(A, Atb)
    except np.linalg.LinAlgError:
        out = np.empty((g, k))
        for i in range(g):
            try:
                out[i] = np.linalg.solve(A[i], Atb[i])
            except np.linalg.LinAlgError:
                out[i] = np.linalg.lstsq(A[i], Atb[i], rcond=None)[0]
        return out


def solve_nnls(
    AtA: np.ndarray, Atb: np.ndarray, lam: np.ndarray, iters: int = 200
) -> np.ndarray:
    """Batched nonnegative ridge solve via projected Gauss-Seidel.

    For PD systems, projected Gauss-Seidel converges to the unique
    KKT point of min ||Ax-b|| s.t. x>=0 — the same fixed point as the
    reference's projected-gradient NNLS (``NNLS.scala:44-147``).
    Vectorized across groups; sequential only over the k coordinates.
    """
    g, k, _ = AtA.shape
    A = AtA + lam[:, None, None] * np.eye(k)[None, :, :]
    diag = np.einsum("gkk->gk", A).copy()
    diag[diag <= 0] = 1e-12
    x = np.zeros((g, k))
    for _ in range(iters):
        for j in range(k):
            r = np.einsum("gk,gk->g", A[:, j, :], x) - Atb[:, j]
            x[:, j] = np.maximum(0.0, x[:, j] - r / diag[:, j])
    return x


def init_factors_for_ids(
    ids: np.ndarray, rank: int, seed: int, entity_index: int
) -> np.ndarray:
    """Deterministic per-ID unit-norm gaussian init, fully vectorized.

    Fixes reference quirk Q1 (``CollectiveALS.scala:537-543`` gives every
    ID of an entity the *same* vector): here each (entity, id) gets an
    independent stream via a splitmix64 hash of (seed, entity, id, j),
    mapped to gaussians with Box-Muller.
    """
    n = len(ids)
    j = np.arange(rank, dtype=np.uint64)[None, :]
    base = (
        ids.astype(np.uint64)[:, None] * np.uint64(0x9E3779B97F4A7C15)
        + j * np.uint64(0xBF58476D1CE4E5B9)
        + np.uint64((seed * 1000003 + entity_index) & 0xFFFFFFFFFFFFFFFF)
    )

    def splitmix64(z: np.ndarray) -> np.ndarray:
        z = (z + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
        z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(
            0xFFFFFFFFFFFFFFFF
        )
        z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & np.uint64(
            0xFFFFFFFFFFFFFFFF
        )
        return z ^ (z >> np.uint64(31))

    u1 = (splitmix64(base).astype(np.float64) + 1.0) / 18446744073709551616.0
    u2 = splitmix64(base ^ np.uint64(0xDEADBEEFCAFEBABE)).astype(np.float64) / 18446744073709551616.0
    gauss = np.sqrt(-2.0 * np.log(u1)) * np.cos(2.0 * np.pi * u2)
    norms = np.linalg.norm(gauss, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return (gauss / norms).astype(np.float32).reshape(n, rank)


def compute_yty(X: np.ndarray) -> np.ndarray:
    """Gramian of a factor chunk (combine chunks by summing) —
    reference ``computeYtY`` (``CollectiveALS.scala:1058-1065``)."""
    return X.T @ X


def solve_block(
    ids: np.ndarray,
    X: np.ndarray,
    r: np.ndarray,
    rel: np.ndarray,
    yty: np.ndarray | None,
    reg: float,
    alpha: float,
    implicit: bool,
    nonneg: bool,
) -> tuple[np.ndarray, np.ndarray]:
    """Solve the merged normal equations of every id in a block.

    One row per rating: target ``ids``, source factor row ``X``, rating
    ``r`` and relation index ``rel`` (rows in any order). Rows of all
    relations touching an id merge into one system (reference
    ``CollectiveALS.scala:1037-1047``), regularised with ALS-WR
    ``reg * n`` (``:1030,1048-1051``). With ``implicit``, ``yty[j]`` (the
    source Gramian of relation j) is added once per relation the id has
    rows in. Returns (sorted unique ids, float32 factors). The fit's
    entity update and fold-in both call this, so fold-in is the fit's
    last half-step by construction.
    """
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    X = X[order].astype(np.float64)
    r = r[order].astype(np.float64)
    if not implicit:
        uids, AtA, Atb, counts = build_normal_equations(ids, X, r)
        nexpl = counts.astype(np.float64)
    else:
        rel = rel[order]
        c1 = alpha * np.abs(r)
        pos = r > 0
        w = np.where(pos, c1, 0.0)
        # reference add(a, b=(c1+1)/c1, c=c1): Atb += c*b*a = (c1+1)*a;
        # the kernel multiplies weight*target, so target = (c1+1)/c1
        # (safe-div; w=0 rows contribute 0 to both AtA and Atb)
        tgt = np.divide(c1 + 1.0, c1, out=np.zeros_like(c1), where=c1 > 0)
        tgt = np.where(pos, tgt, 0.0)
        uids, AtA, Atb, _ = build_normal_equations(
            ids, X, np.ones_like(r), weights=w, targets=tgt
        )
        seg = np.searchsorted(uids, ids)
        nexpl = np.zeros(len(uids))
        np.add.at(nexpl, seg, pos.astype(np.float64))
        for rj in range(yty.shape[0]):
            present = np.zeros(len(uids), dtype=bool)
            np.logical_or.at(present, seg, rel == rj)
            AtA[present] += yty[rj]
    lam = nexpl * reg
    sol = solve_nnls(AtA, Atb, lam) if nonneg else solve_cholesky(AtA, Atb, lam)
    return uids, sol.astype(np.float32)


def lookup_rows(ids: np.ndarray, keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Row positions of ``keys`` in the sorted array ``ids``, and a mask
    of the keys that are present."""
    if len(ids) == 0:
        return np.zeros(len(keys), dtype=np.int64), np.zeros(len(keys), dtype=bool)
    pos = np.minimum(np.searchsorted(ids, keys), len(ids) - 1)
    return pos, ids[pos] == keys
