"""Seeded input generators for the benchmark workloads.

Everything here is numpy/pandas only: inputs are made in the benchmark
process from ``--seed`` and handed to the program as pandas frames, so
the program never sees the seed. The same seed gives the same frames.

Ratings carry a planted low-rank structure (user/item/tag factors),
Zipf item popularity, Gaussian noise and timestamps, so a fitted model
has a known quality floor (the train-global-mean baseline) to beat.
Documents carry a Zipf vocabulary plus planted exact duplicates and
planted near-duplicates one word apart, so dedup output has an oracle.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

# ratings are centred: an ALS model without bias terms needs no extra
# factor to carry a global offset, so a few iterations reach a useful fit
RATING_MEAN = 0.0


def _zipf_probs(n: int, a: float, rng: np.random.Generator) -> np.ndarray:
    """Zipf(a) popularity over ``n`` ids, assigned to a random permutation
    so that popularity is not correlated with id order."""
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** a
    p /= p.sum()
    out = np.empty(n)
    out[rng.permutation(n)] = p
    return out


def _factors(rng: np.random.Generator, n: int, rank: int) -> np.ndarray:
    # scaled so a dot product of two factor rows has unit variance
    return rng.normal(0.0, rank ** -0.25, (n, rank))


def _pairs(
    rng: np.random.Generator, n_left: int, right_p: np.ndarray, n: int
) -> tuple[np.ndarray, np.ndarray]:
    """``n`` distinct (left, right) pairs: uniform left, Zipf right."""
    left = rng.integers(0, n_left, int(n * 1.15))
    right = rng.choice(len(right_p), len(left), p=right_p)
    key = np.unique(left.astype(np.int64) * len(right_p) + right, return_index=True)[1]
    keep = np.sort(rng.permutation(key)[:n])
    return left[keep].astype(np.int32), right[keep].astype(np.int32)


@dataclass
class Ratings:
    """A rating relation plus the planted factors that generated it."""

    frame: pd.DataFrame  # user, item, rating (float32), ts (int64)
    user_f: np.ndarray
    item_f: np.ndarray
    side: pd.DataFrame | None = None  # item, tag, rating (float32)


def make_ratings(
    seed: int,
    n_users: int,
    n_items: int,
    n_ratings: int,
    rank: int,
    noise: float,
    zipf_a: float,
    n_tags: int = 0,
    n_side: int = 0,
) -> Ratings:
    """User-item ratings ``u.v + N(0, noise)`` (unit signal variance) with
    Zipf item popularity and uniform timestamps over one year; with
    ``n_tags`` an item-tag side relation ``v.t + noise`` shares the item
    factors."""
    rng = np.random.default_rng(seed)
    U, V = _factors(rng, n_users, rank), _factors(rng, n_items, rank)
    u, i = _pairs(rng, n_users, _zipf_probs(n_items, zipf_a, rng), n_ratings)
    r = RATING_MEAN + np.einsum("nk,nk->n", U[u], V[i]) + rng.normal(0, noise, len(u))
    ts = 1_700_000_000 + rng.integers(0, 365 * 86400, len(u))
    frame = pd.DataFrame(
        {"user": u, "item": i, "rating": r.astype(np.float32), "ts": ts.astype(np.int64)}
    )
    side = None
    if n_tags:
        T = _factors(rng, n_tags, rank)
        ti, tt = _pairs(rng, n_items, np.full(n_tags, 1.0 / n_tags), n_side)
        tr = RATING_MEAN + np.einsum("nk,nk->n", V[ti], T[tt]) + rng.normal(0, noise, len(ti))
        side = pd.DataFrame({"item": ti, "tag": tt, "rating": tr.astype(np.float32)})
    return Ratings(frame, U, V, side)


def chronological_train_mask(frame: pd.DataFrame, train_frac: float) -> np.ndarray:
    """Oracle for ``split_chronologically(df, [f, 1-f], "ts", ["user", "item"])``:
    rows whose 0-based rank in (ts, user, item) order is < f * n."""
    order = np.lexsort((frame["item"].values, frame["user"].values, frame["ts"].values))
    mask = np.zeros(len(frame), dtype=bool)
    mask[order[np.arange(len(frame)) < train_frac * len(frame)]] = True
    return mask


def make_coldstart_requests(
    seed: int,
    item_f: np.ndarray,
    n_requests: int,
    users_per_request: int,
    history_len: int,
    score_len: int,
    noise: float,
    first_user_id: int,
) -> list[tuple[pd.DataFrame, pd.DataFrame]]:
    """Fold-in requests: each is (history, score_pairs) for a few users
    unseen at fit time, rated through the same planted item factors."""
    rng = np.random.default_rng(seed ^ 0x5EED)
    n_items, rank = item_f.shape
    out = []
    uid = first_user_id
    for _ in range(n_requests):
        hist, pairs = [], []
        for _ in range(users_per_request):
            f = _factors(rng, 1, rank)[0]
            items = rng.choice(n_items, history_len + score_len, replace=False)
            r = RATING_MEAN + item_f[items] @ f + rng.normal(0, noise, len(items))
            hist.append(pd.DataFrame({"user": uid, "item": items[:history_len],
                                      "rating": r[:history_len].astype(np.float32)}))
            pairs.append(pd.DataFrame({"user": uid, "item": items[history_len:]}))
            uid += 1
        h = pd.concat(hist, ignore_index=True).astype({"user": np.int32, "item": np.int32})
        p = pd.concat(pairs, ignore_index=True).astype({"user": np.int32, "item": np.int32})
        out.append((h, p))
    return out


@dataclass
class DocBatch:
    frame: pd.DataFrame  # doc_id (int64), text
    mode: str  # "append" or "merge"
    exact_copies: set[int]  # ids expected to be dropped as exact duplicates
    similar_pairs: set[tuple[int, int]]  # planted (id_a < id_b) near/exact pairs
    id_range: tuple[int, int]  # [lo, hi) of the fresh ids in this batch


def make_corpus(
    seed: int,
    n_batches: int,
    docs_per_batch: int,
    vocab: int,
    zipf_a: float,
    doc_len: tuple[int, int],
    exact_frac: float,
    near_frac: float,
    merge_every: int,
    resend: int,
) -> list[DocBatch]:
    """Document batches with planted duplicates.

    In each batch, ``exact_frac`` of the originals get a verbatim copy
    and another ``near_frac`` get a copy with one word replaced; copies
    take fresh, higher ids, so the lowest id of every exact group is the
    one kept. Every ``merge_every``-th batch also re-sends ``resend``
    already-committed doc_ids with new text, to be upserted.
    """
    rng = np.random.default_rng(seed ^ 0xD0C5)
    p = _zipf_probs(vocab, zipf_a, rng)
    words = np.array([f"w{j}" for j in range(vocab)])
    batches = []
    next_id = 0
    committed: list[int] = []

    def docs(n: int) -> list[np.ndarray]:
        lens = rng.integers(doc_len[0], doc_len[1] + 1, n)
        return np.split(rng.choice(vocab, lens.sum(), p=p), np.cumsum(lens)[:-1])

    for b in range(n_batches):
        mode = "merge" if merge_every and (b + 1) % merge_every == 0 else "append"
        n_orig = docs_per_batch
        n_exact = int(round(n_orig * exact_frac))
        n_near = int(round(n_orig * near_frac))
        n_orig -= n_exact + n_near
        toks = docs(n_orig)
        ids = list(range(next_id, next_id + n_orig))
        picks = rng.choice(n_orig, n_exact + n_near, replace=False)
        exact_copies, pairs = set(), set()
        for j, src in enumerate(picks):
            t = toks[src].copy()
            new_id = next_id + len(toks)
            if j >= n_exact:
                pos = rng.integers(len(t))
                t[pos] = (t[pos] + 1 + rng.integers(vocab - 1)) % vocab
            else:
                exact_copies.add(new_id)
            toks.append(t)
            ids.append(new_id)
            pairs.add((ids[src], new_id))
        lo, hi = next_id, next_id + len(toks)
        next_id = hi
        if mode == "merge" and committed:
            old = rng.choice(committed, min(resend, len(committed)), replace=False)
            toks.extend(docs(len(old)))
            ids.extend(int(i) for i in old)
        frame = pd.DataFrame(
            {"doc_id": np.array(ids, dtype=np.int64), "text": [" ".join(words[t]) for t in toks]}
        )
        committed.extend(i for i in range(lo, hi) if i not in exact_copies)
        batches.append(DocBatch(frame, mode, exact_copies, pairs, (lo, hi)))
    return batches
