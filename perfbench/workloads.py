"""The benchmark workloads, their output checks and their metrics.

Each workload has three steps: ``inputs`` (seeded, numpy only, not
timed), ``load`` (hand the inputs to Spark; part of set-up) and ``run``
(the measured region). The measured region is one job: a fixed amount
of whole work on inputs of fixed size, so every commit measures the same
work whatever its speed. It runs in the JVM the set-up started, which
has run nothing but the set-up, as a batch job does; ``job_s`` is its
wall time over the program's calls (output checks run between the calls
and are not timed). Every call into the program runs inside a span
named ``<module>.<function>``; the span's module prefix is its layer.

At these sizes the fixed part of each call (Spark job scheduling, Python
worker round trips, plan analysis) dominates, which is the overhead a
user of the library pays per call.
"""

from __future__ import annotations

import statistics
import time
import traceback

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from collective_als_spark.cmf.als import CollectiveALS
from collective_als_spark.cmf.foldin import fold_in, fold_in_predict
from collective_als_spark.cmf.recommend import recommend_topk
from collective_als_spark.operators.dedup import (
    exact_dedup_groups,
    lsh_candidate_pairs,
    minhash_signatures,
)
from collective_als_spark.operators.evaluation import ranking_metrics, regression_metrics
from collective_als_spark.operators.split import split_chronologically
from collective_als_spark.sources.layout import SnapshotTable

from perfbench import inputs
from perfbench.spans import Tracer


def pct(xs: list[float], q: int) -> float:
    """q-th percentile (``statistics.quantiles`` inclusive method)."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


class Ledger:
    """Operations attempted, operations failed, and output-check verdicts.
    A failed check counts as a failed operation."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, list[bool]] = {}

    def op(self, n: int = 1) -> None:
        self.attempted += n

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.setdefault(name, []).append(bool(ok))
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED {name}: {detail}", flush=True)

    def crash(self, where: str) -> None:
        self.failed += 1
        print(f"OPERATION FAILED in {where}:\n{traceback.format_exc()}", flush=True)


def _collect_factors(model, entity: str) -> tuple[np.ndarray, np.ndarray]:
    pdf = model.factors_for(entity).toPandas()
    return pdf["id"].values, np.stack(pdf["features"].values) if len(pdf) else np.zeros((0, 0))


def _check_factors(led: Ledger, entity: str, ids: np.ndarray, X: np.ndarray,
                   expect_ids: np.ndarray, rank: int) -> None:
    led.check(
        f"{entity}_factor_ids",
        len(ids) == len(expect_ids) and set(ids.tolist()) == set(expect_ids.tolist()),
        f"{len(ids)} ids vs {len(expect_ids)} expected",
    )
    led.check(
        f"{entity}_factor_vectors",
        X.shape == (len(ids), rank) and bool(np.isfinite(X).all()),
        f"shape {X.shape}",
    )


# --------------------------------------------------------------------------
class CmfFitServe:
    """A 3-entity collective fit (the native Gauss-Seidel loop in cmf.als,
    the cmf.solver kernels, the applyInPandas boundary), its evaluation,
    top-k for every user, then one client sending fold-in requests for
    users unseen at fit time, each waiting for the last."""

    name = "cmf_fit_serve"
    SETUPS = 5  # session (re)starts, each followed by the input load
    SIZES = dict(n_users=1000, n_items=800, n_tags=100, n_ratings=50_000, n_side=6_000)
    PLANT = dict(rank=4, noise=0.3, zipf_a=0.9)
    RANK, ITERS, REG = 10, 2, 0.1
    TRAIN_FRAC = 0.8
    K, KS = 20, [5, 10, 20]
    RELEVANT = 1.0  # a held-out rating at least this high marks a relevant item
    REQUEST = dict(users_per_request=4, history_len=20, score_len=10)
    REQUESTS = 4  # fold-in requests per job
    SAMPLE_USERS = 25

    def inputs(self, seed: int) -> dict:
        r = inputs.make_ratings(seed, **self.SIZES, **self.PLANT)
        f = r.frame
        train = inputs.chronological_train_mask(f, self.TRAIN_FRAC)
        tr, te = f[train], f[~train]
        users = np.unique(tr["user"].values)
        items = np.union1d(tr["item"].values, r.side["item"].values)
        scored = te[np.isin(te["user"].values, users) & np.isin(te["item"].values, items)]
        err = scored["rating"].values.astype(np.float64) - tr["rating"].values.astype(np.float64).mean()
        reqs = inputs.make_coldstart_requests(
            seed, r.item_f, n_requests=self.REQUESTS, **self.REQUEST,
            noise=self.PLANT["noise"], first_user_id=10_000_000,
        )
        return {
            "ratings": f,
            "side": r.side,
            "requests": reqs,
            "n_train": int(train.sum()),
            "ids": {"user": users, "item": items, "tag": np.unique(r.side["tag"].values)},
            "n_scored": len(scored),
            "baseline_rmse": float(np.sqrt(np.mean(err**2))),
        }

    def load(self, spark, inp: dict) -> dict:
        ratings = spark.createDataFrame(inp["ratings"]).cache()
        side = spark.createDataFrame(inp["side"]).cache()
        ratings.count(), side.count()
        return {"ratings": ratings, "side": side}

    def run(self, spark, tr: Tracer, led: Ledger, loaded: dict, inp: dict, root: str) -> dict:
        out = self._job(spark, tr, loaded, inp["requests"])
        # split, fit, regression eval, top-k, ranking eval, the requests
        led.op(5 + self.REQUESTS)
        with tr.span("bench.check"):
            self._check_job(spark, led, inp, out)
        for df in out["cached"]:
            df.unpersist()
        t, lat = out["t"], out["foldin_s"]
        return {
            "detail": {
                "prep_s": (t["split"], "s"),
                "fit_s": (t["fit"], "s"),
                "holdout_rmse": (out["reg"]["rmse"], "rating"),
                "baseline_rmse": (inp["baseline_rmse"], "rating"),
                "eval_s": (t["predict"] + t["regression"] + t["ranking"], "s"),
                "recommend_users_per_s": (len(inp["ids"]["user"]) / t["topk"], "users/s"),
                "foldin_p50_ms": (pct(lat, 50) * 1e3, "ms"),
                "foldin_p75_ms": (pct(lat, 75) * 1e3, "ms"),
                "foldin_requests": (len(lat), "count"),
                **{f"ndcg_at_{r['k']}": (r["ndcg"], "ratio") for r in out["rk"]},
            },
            "job_s": out["wall"],
        }

    def _job(self, spark, tr: Tracer, frames: dict, reqs: list) -> dict:
        """Split, fit, predict + regression metrics, top-k for every user,
        ranking metrics, then the fold-in requests. Returns the outputs
        and the wall time of the calls."""
        t: dict[str, float] = {}
        t0 = time.perf_counter()
        with tr.span("operators.split.split_chronologically") as s:
            train, test = split_chronologically(
                frames["ratings"], [self.TRAIN_FRAC, 1 - self.TRAIN_FRAC], "ts",
                tie_break=["user", "item"],
            )
            train, test = train.cache(), test.cache()
            n_train, _ = train.count(), test.count()
        t["split"] = s.dur
        with tr.span("cmf.als.fit") as s:
            model = CollectiveALS(
                "user", "item", "tag", rank=self.RANK, max_iter=self.ITERS, reg_param=self.REG
            ).fit({("user", "item"): train, ("item", "tag"): frames["side"]})
        t["fit"] = s.dur
        with tr.span("cmf.als.predict") as s:
            pred = model.predict(test, "user", "item").cache()
            pred.count()
        t["predict"] = s.dur
        with tr.span("operators.evaluation.regression_metrics") as s:
            reg = regression_metrics(pred).collect()[0]
        t["regression"] = s.dur
        with tr.span("cmf.recommend.recommend_topk") as s:
            recs = recommend_topk(
                model.factors_for("user"), model.factors_for("item"), k=self.K
            ).cache()
            recs.count()
        t["topk"] = s.dur
        with tr.span("operators.evaluation.ranking_metrics") as s:
            rk = ranking_metrics(
                recs.select(F.col("id").alias("user"), F.col("rec_id").alias("item"), "score"),
                test.filter(F.col("rating") >= self.RELEVANT),
                "user", "item", "score", ks=self.KS,
            ).collect()
        t["ranking"] = s.dur
        answers, foldin_s = [], []
        for i, (h, p) in enumerate(reqs):
            with tr.span("cmf.foldin.fold_in_predict", req=f"r{i}") as s:
                answers.append((h, p, self._fold_in_predict(spark, model, h, p)))
            foldin_s.append(s.dur)
        return {
            "wall": time.perf_counter() - t0, "t": t, "foldin_s": foldin_s,
            "n_train": n_train, "model": model, "reg": reg.asDict(), "rk": [r.asDict() for r in rk],
            "answers": answers, "cached": [train, test, pred, recs], "recs": recs,
        }

    def _fold_in_predict(self, spark, model, h: pd.DataFrame, p: pd.DataFrame) -> pd.DataFrame:
        """One serving request: the new users' histories and the pairs to
        score arrive as rows; the predictions come back to the caller."""
        return fold_in_predict(
            model, spark.createDataFrame(h), spark.createDataFrame(p),
            "user", "item", "item", reg_param=self.REG,
        ).toPandas()

    def _check_job(self, spark, led: Ledger, inp: dict, out: dict) -> None:
        n_train, reg, rk = out["n_train"], out["reg"], out["rk"]
        led.check("split_train_rows", n_train == inp["n_train"], f"{n_train} vs {inp['n_train']}")
        led.check("holdout_rows_scored", reg["n"] == inp["n_scored"],
                  f"{reg['n']} vs {inp['n_scored']}")
        led.check(
            "holdout_rmse_beats_mean_baseline",
            reg["rmse"] is not None and reg["rmse"] < inp["baseline_rmse"],
            f"rmse {reg['rmse']} vs baseline {inp['baseline_rmse']:.4f}",
        )
        self._check_topk_shape(led, out["recs"], len(inp["ids"]["user"]))
        in_range = all(
            0.0 <= r[m] <= 1.0 for r in rk for m in ("precision", "recall", "f1", "ndcg", "map")
        )
        led.check("ranking_metrics_in_unit_interval", in_range and len(rk) == len(self.KS), str(rk))
        for _, p, ans in out["answers"]:
            ok = len(ans) == len(p) and bool(np.isfinite(ans["prediction"].values).all())
            led.check("foldin_predictions", ok, f"{len(ans)} rows for {len(p)} pairs")
        model = out["model"]
        facs = {e: _collect_factors(model, e) for e in ("user", "item", "tag")}
        for e, (ids, X) in facs.items():
            _check_factors(led, e, ids, X, inp["ids"][e], self.RANK)
        self._check_topk_values(led, facs, out["recs"])
        h, _, ans = out["answers"][0]
        self._check_foldin(spark, led, model, facs["item"], h, ans)

    def _check_topk_shape(self, led: Ledger, recs, n_users: int) -> None:
        k = self.K
        agg = (
            recs.groupBy("id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("rk").alias("s"), F.min("rk").alias("lo"))
            .agg(
                F.count(F.lit(1)).alias("users"),
                F.sum((F.col("n") != k).cast("int")).alias("bad_n"),
                F.sum(((F.col("s") != k * (k + 1) // 2) | (F.col("lo") != 1)).cast("int")).alias("bad_rk"),
            )
            .collect()[0]
        )
        led.check(
            "topk_rows_per_user",
            agg["users"] == n_users and agg["bad_n"] == 0 and agg["bad_rk"] == 0,
            str(agg.asDict()),
        )

    def _check_topk_values(self, led: Ledger, facs: dict, recs) -> None:
        k = self.K
        (uids, U), (iids, V) = facs["user"], facs["item"]
        item_row = {int(i): j for j, i in enumerate(iids)}
        user_row = {int(u): j for j, u in enumerate(uids)}
        sample = np.random.default_rng(0).choice(uids, min(self.SAMPLE_USERS, len(uids)), replace=False)
        got = recs.filter(F.col("id").isin([int(u) for u in sample])).toPandas()
        ok, why = True, ""
        for u in sample:
            g = got[got["id"] == u].sort_values("rk")
            scores = V @ U[user_row[int(u)]]
            want = np.sort(scores)[::-1][:k]
            mine = scores[[item_row[int(i)] for i in g["rec_id"]]]
            sc = g["score"].values
            if not (
                len(g) == k
                and np.all(np.diff(sc) <= 0)
                and np.allclose(sc, want, rtol=1e-4, atol=1e-4)
                and np.allclose(sc, mine, rtol=1e-4, atol=1e-4)
            ):
                ok, why = False, f"user {u}: {sc[:3]} vs {want[:3]}"
                break
        led.check("topk_matches_bruteforce", ok, why)

    def _check_foldin(self, spark, led: Ledger, model, item_facs, h: pd.DataFrame,
                      out: pd.DataFrame) -> None:
        """fold_in factors against a numpy ridge solve with ALS-WR
        lambda*n, and fold_in_predict against their dot products."""
        got = fold_in(model, spark.createDataFrame(h), "user", "item", "item",
                      reg_param=self.REG).toPandas()
        iids, V = item_facs
        row = {int(i): j for j, i in enumerate(iids)}
        ok, why = len(got) == h["user"].nunique(), f"{len(got)} users"
        want = {}
        for u, g in h.groupby("user"):
            keep = g[g["item"].isin(row)]
            Y = V[[row[int(i)] for i in keep["item"]]].astype(np.float64)
            A = Y.T @ Y + self.REG * len(keep) * np.eye(Y.shape[1])
            want[int(u)] = np.linalg.solve(A, Y.T @ keep["rating"].values.astype(np.float64))
        for _, r in got.iterrows():
            if not np.allclose(np.asarray(r["features"], dtype=np.float64), want[int(r["id"])],
                               rtol=1e-3, atol=1e-4):
                ok, why = False, f"user {r['id']} factors differ"
        for _, r in out.iterrows():
            y = V[row[int(r["item"])]].astype(np.float64)
            if not np.isclose(r["prediction"], want[int(r["user"])] @ y, rtol=1e-3, atol=1e-3):
                ok, why = False, f"prediction for ({r['user']}, {r['item']}) differs"
        led.check("foldin_matches_numpy_ridge", ok, why)

    def layer_metrics(self, tr: Tracer, inp: dict) -> dict:
        """cmf.solver.flops per fit: every (iteration x entity) update
        builds rows*k^2 normal-equation terms and solves groups*k^3/3."""
        k = self.RANK
        n_tr, n_side = inp["n_train"], len(inp["side"])
        rows = {"user": n_tr, "item": n_tr + n_side, "tag": n_side}
        flops = self.ITERS * sum(rows[e] * k * k + len(inp["ids"][e]) * k**3 / 3 for e in rows)
        return {"cmf.solver.flops": flops}


# --------------------------------------------------------------------------
class Ingest:
    """Seeded document batches: exact dedup, MinHash, LSH candidates, then
    an append or merge-on-read commit into a SnapshotTable with pruned
    point reads in between and a compaction at the end."""

    name = "corpus_ingest"
    SETUPS = 5  # session (re)starts, each followed by the input load
    CORPUS = dict(
        n_batches=4, docs_per_batch=1000, vocab=5000, zipf_a=1.1, doc_len=(80, 120),
        exact_frac=0.03, near_frac=0.03, merge_every=4, resend=100,
    )
    NUM_HASHES, BAND = 16, 2
    READS_PER_BATCH = 4
    READ_WIDTH = 25
    COMPACT_ROWS = 20_000

    def inputs(self, seed: int) -> dict:
        return {"batches": inputs.make_corpus(seed, **self.CORPUS), "seed": seed}

    def load(self, spark, inp: dict) -> dict:
        """Every batch in one cached frame, tagged with its batch number."""
        docs = pd.concat(
            [b.frame.assign(bat=k) for k, b in enumerate(inp["batches"])], ignore_index=True
        )
        df = spark.createDataFrame(docs).cache()
        df.count()
        return {"docs": df}

    def run(self, spark, tr: Tracer, led: Ledger, loaded: dict, inp: dict, root: str) -> dict:
        docs = loaded["docs"]
        frames = [
            docs.filter(F.col("bat") == k).drop("bat") for k in range(len(inp["batches"]))
        ]
        rng = np.random.default_rng(inp["seed"] ^ 0xBEEF)
        out = self._job(spark, tr, led, frames, inp["batches"], root, rng)
        batch_s, reads = out["batch_s"], out["read_s"]
        merges = [t for t, b in zip(batch_s, inp["batches"]) if b.mode == "merge"]
        return {
            "detail": {
                "ingest_docs_per_s": (sum(len(b.frame) for b in inp["batches"]) / sum(batch_s),
                                      "docs/s"),
                "batch_p50_s": (pct(batch_s, 50), "s"),
                "merge_batch_max_s": (max(merges), "s"),
                "read_p50_ms": (pct(reads, 50) * 1e3, "ms"),
                "read_p90_ms": (pct(reads, 90) * 1e3, "ms"),
                "compact_s": (out["compact_s"], "s"),
                "batches": (len(batch_s), "count"),
                "reads": (len(reads), "count"),
            },
            "job_s": out["wall"],
        }

    def _job(self, spark, tr: Tracer, led: Ledger, frames: list, batches: list, path: str,
             rng: np.random.Generator) -> dict:
        """Every batch deduplicated and committed into a fresh table, each
        followed by point reads, then a compaction. Returns the wall time
        of the program calls and the per-call times."""
        table = SnapshotTable(spark, path, stats_columns=["doc_id"])
        expect_rows, committed_hi = 0, 0
        batch_s, read_s = [], []
        for k, (df, b) in enumerate(zip(frames, batches)):
            dropped, cands, dur = self._batch(tr, table, df, b, f"b{k}")
            batch_s.append(dur)
            led.op(2)  # dedup + commit
            lo, hi = b.id_range
            expect_rows += hi - lo - len(b.exact_copies)
            committed_hi = hi
            with tr.span("bench.check") as chk:
                led.check("exact_dups_dropped", dropped == b.exact_copies,
                          f"{len(dropped)} dropped vs {len(b.exact_copies)} planted")
                found = set(zip(cands["id_a"].astype(int), cands["id_b"].astype(int)))
                missing = b.similar_pairs - found
                led.check("planted_pairs_in_lsh_candidates", not missing, f"missing {sorted(missing)[:5]}")
                n = table.read().count()
                led.check("rows_after_commit", n == expect_rows, f"{n} vs {expect_rows}")
                chk.attrs.update(candidates=len(cands), planted=len(b.similar_pairs))
            for j in range(self.READS_PER_BATCH):
                rlo = int(rng.integers(0, committed_hi - self.READ_WIDTH))
                with tr.span("sources.layout.read", req=f"b{k}") as s:
                    rows = table.read(where=("doc_id", rlo, rlo + self.READ_WIDTH)).collect()
                    s.attrs["rows"] = len(rows)
                read_s.append(s.dur)
                led.op()
                if j == 0 and b.mode == "merge":
                    with tr.span("bench.check"):
                        full = table.read().filter(F.col("doc_id").between(rlo, rlo + self.READ_WIDTH))
                        a = sorted((r["doc_id"], r["text"]) for r in rows)
                        bb = sorted((r["doc_id"], r["text"]) for r in full.collect())
                        led.check("pruned_read_equals_full_scan", a == bb, f"{len(a)} vs {len(bb)} rows")
        with tr.span("bench.check") as chk:
            before = self._checksum(table)
            chk.attrs["files_in_snapshot"] = table.files().count()
        with tr.span("sources.layout.compact") as s:
            table.compact(self.COMPACT_ROWS)
        led.op()
        with tr.span("bench.check"):
            after = self._checksum(table)
            led.check("compact_preserves_rows_and_checksum", before == after, f"{before} vs {after}")
        wall = sum(batch_s) + sum(read_s) + s.dur
        return {"wall": wall, "batch_s": batch_s, "read_s": read_s, "compact_s": s.dur}

    def _batch(self, tr: Tracer, table, df, b, req: str):
        """Dedup one batch and commit what it keeps: exact copies are
        dropped, the rest appended or, for a merge batch, upserted.
        Returns the dropped ids, the LSH candidates and the batch latency."""
        with tr.span("bench.batch", req=req) as span:
            with tr.span("operators.dedup.exact_dedup_groups"):
                dups = exact_dedup_groups(df, "doc_id", "text").filter("is_dup").toPandas()
            with tr.span("operators.dedup.minhash_signatures"):
                sig = minhash_signatures(df, "doc_id", "text", num_hashes=self.NUM_HASHES).cache()
                sig.count()
            with tr.span("operators.dedup.lsh_candidate_pairs"):
                cands = lsh_candidate_pairs(sig, "doc_id", self.NUM_HASHES, self.BAND).toPandas()
            drop = dups.loc[
                dups["doc_id"] != dups.groupby("content_hash")["doc_id"].transform("min"), "doc_id"
            ]
            keep = df.filter(~F.col("doc_id").isin([int(x) for x in drop]))
            raw = int(b.frame["text"].str.len().sum()) + 8 * len(b.frame)
            if b.mode == "merge":
                with tr.span("sources.layout.merge_mor", input_bytes=raw):
                    table.merge_mor(keep, "doc_id")
            else:
                with tr.span("sources.layout.append", input_bytes=raw):
                    table.append(keep)
        sig.unpersist()
        return set(int(x) for x in drop), cands, span.dur

    @staticmethod
    def _checksum(table) -> tuple[int, int]:
        r = table.read().agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64("doc_id", "text"), F.lit(1_000_000_007))).alias("h"),
        ).collect()[0]
        return int(r["n"]), int(r["h"])

    def layer_metrics(self, tr: Tracer, inp: dict) -> dict:
        spans = [s for s in tr.spans if s.name == "bench.check" and "candidates" in s.attrs]
        cands = sum(s.attrs["candidates"] for s in spans)
        planted = sum(s.attrs["planted"] for s in spans)
        return {"operators.dedup.candidates_per_true_pair": cands / planted if planted else 0.0}


WORKLOADS = {w.name: w for w in (CmfFitServe(), Ingest())}
