"""The workloads. Each one generates its inputs from the seed in
`setup`, runs one operation per `run_op` call and checks that operation's
output in `check`. The program under test receives only the generated
inputs.

Layer spans: `ctx.span(layer)` wraps a call into one public function of
the program. It is a no-op on untraced operations.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import random
import shutil
import time

import numpy as np
import pandas as pd

import gen


class Ctx:
    """What a workload needs from the runner."""

    def __init__(self, spark, seed: int, work: str, scale: float, spans=None):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.scale = scale
        self.spans = spans      # SparkSpans, or None in untraced runs
        self.tracing = False    # True while a traced operation runs

    def size(self, n: int, floor: int) -> int:
        return max(floor, int(n * self.scale))

    @contextlib.contextmanager
    def span(self, layer: str, **counts):
        """Span around one call into `layer`; `counts` may be filled in by
        the caller before the block exits."""
        if not self.tracing:
            yield counts
            return
        s = self.spans.open(layer)
        try:
            yield counts
        finally:
            self.spans.close(s, **counts)

    def parquet(self, name: str, columns: dict) -> "DataFrame":
        """Write generated columns as one parquet file and read it back, so
        every operation starts from a scan, as it would in production."""
        path = os.path.join(self.work, f"{name}.parquet")
        shutil.rmtree(path, ignore_errors=True)
        pd.DataFrame(columns).to_parquet(path, index=False)
        return self.spark.read.parquet(path)


def _median_time(fn, repeats: int):
    """Run `fn` `repeats` times; return (last result, median seconds)."""
    times, out = [], None
    for _ in range(repeats):
        t = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t)
    times.sort()
    return out, times[len(times) // 2]


def _rel_err(a, b) -> float:
    a, b = np.asarray(a, dtype=float), np.asarray(b, dtype=float)
    return float(np.max(np.abs(a - b) / np.maximum(np.abs(b), 1e-12)))


def _se_err(a, ref) -> float:
    """Largest coefficient difference in units of the reference's
    standard error (coefficients near 0 make relative error useless)."""
    beta, se = ref
    return float(np.max(np.abs(np.asarray(a, dtype=float) - beta) / se))


# ---------------------------------------------------------------------------
# model_fit
# ---------------------------------------------------------------------------

LM_FORMULA = (
    "l_extendedprice ~ l_quantity + l_discount + l_tax"
    " + l_returnflag + l_linestatus"
)
GLM_FORMULA = "is_f ~ o_totalprice + o_orderpriority"


def _dummies(values: np.ndarray, levels: np.ndarray) -> list[np.ndarray]:
    """k-1 indicator columns, first sorted level dropped (R's coding)."""
    return [(values == lv).astype(float) for lv in levels[1:]]


def lm_reference(li: dict) -> np.ndarray:
    X = np.column_stack(
        [np.ones(len(li["l_quantity"])), li["l_quantity"], li["l_discount"],
         li["l_tax"]]
        + _dummies(li["l_returnflag"], gen.RETURNFLAGS)
        + _dummies(li["l_linestatus"], gen.LINESTATUS)
    )
    y = li["l_extendedprice"]
    beta = np.linalg.lstsq(X, y, rcond=None)[0]
    resid = y - X @ beta
    sigma2 = resid @ resid / (len(y) - X.shape[1])
    return beta, np.sqrt(sigma2 * np.diag(np.linalg.inv(X.T @ X)))


def glm_reference(od: dict) -> np.ndarray:
    """Binomial logit by IRLS to convergence."""
    X = np.column_stack(
        [np.ones(len(od["o_totalprice"])), od["o_totalprice"]]
        + _dummies(od["o_orderpriority"], gen.PRIORITIES)
    )
    y = (od["o_orderstatus"] == "F").astype(float)
    beta = np.zeros(X.shape[1])
    for _ in range(100):
        mu = 1.0 / (1.0 + np.exp(-(X @ beta)))
        w = mu * (1.0 - mu)
        step = np.linalg.solve(X.T @ (X * w[:, None]), X.T @ (y - mu))
        beta = beta + step
        if np.max(np.abs(step)) < 1e-12 * (1 + np.max(np.abs(beta))):
            break
    mu = 1.0 / (1.0 + np.exp(-(X @ beta)))
    info = X.T @ (X * (mu * (1.0 - mu))[:, None])
    return beta, np.sqrt(np.diag(np.linalg.inv(info)))


def cox_columns(od: dict) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    t = od["o_totalprice"] / 1000.0
    ev = (od["o_orderpriority"] < "3").astype(float)
    x = (od["o_custkey"] % 100) / 100.0
    return t, ev, x


def cox_reference(t, ev, x, steps: int) -> float:
    """Breslow partial likelihood, one covariate, `steps` Newton steps
    from 0."""
    order = np.argsort(-t, kind="stable")
    t, ev, x = t[order], ev[order], x[order]
    # last index of each tie group in descending-time order
    ends = np.r_[np.nonzero(np.diff(t))[0], len(t) - 1]
    beta = 0.0
    for _ in range(steps):
        r = np.exp(beta * x)
        s0, s1, s2 = (np.cumsum(r)[ends], np.cumsum(r * x)[ends],
                      np.cumsum(r * x * x)[ends])
        starts = np.r_[0, ends[:-1] + 1]
        d = np.add.reduceat(ev, starts)
        dx = np.add.reduceat(ev * x, starts)
        m = d > 0
        u = np.sum(dx[m] - d[m] * s1[m] / s0[m])
        info = np.sum(d[m] * (s2[m] / s0[m] - (s1[m] / s0[m]) ** 2))
        beta += u / info
    return beta


def cindex_reference(t, ev, risk) -> tuple[int, int, int]:
    """Harrell's C counts (comparable, concordant, tied risk) over pairs
    with an event at t_i < t_j, by suffix counts per distinct risk."""
    levels, code = np.unique(risk, return_inverse=True)
    order = np.argsort(t, kind="stable")
    t, ev, code = t[order], ev[order], code[order]
    n, L = len(t), len(levels)
    # later[i, l]: rows with time strictly greater than t[i] at level l
    onehot = np.zeros((n, L), dtype=np.int64)
    onehot[np.arange(n), code] = 1
    suffix = np.cumsum(onehot[::-1], axis=0)[::-1]
    nxt = np.searchsorted(t, t, side="right")
    later = np.zeros((n + 1, L), dtype=np.int64)
    later[:n] = suffix
    ev_idx = np.nonzero(ev > 0)[0]
    rows = later[nxt[ev_idx]]
    below = np.cumsum(rows, axis=1)
    c = code[ev_idx]
    comparable = int(rows.sum())
    tied = int(rows[np.arange(len(c)), c].sum())
    conc = int(np.where(c > 0, below[np.arange(len(c)), np.maximum(c - 1, 0)], 0).sum())
    return comparable, conc, tied


class ModelFit:
    """The reference's surface: lm, predict, glm binomial, coxph, C-index,
    cycled in that order on TPC-H shaped rows."""

    name = "model_fit"
    cycle = 5
    warm_ids = range(cycle)

    def setup(self, ctx: Ctx) -> dict:
        from pyspark.sql import functions as F

        n_li = ctx.size(200_000, 2_000)
        n_od = ctx.size(30_000, 1_000)
        self.ctx = ctx

        def make():
            li = gen.lineitem(ctx.seed, n_li)
            od = gen.orders(ctx.seed, n_od)
            return li, od, ctx.parquet("lineitem", li), ctx.parquet("orders", od)

        (li, od, li_df, od_df), gen_s = _median_time(make, 3)
        self.li = li_df
        self.od = od_df.withColumn(
            "is_f", F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0)
        )
        self.cox = od_df.select(
            (F.col("o_totalprice") / 1000.0).alias("t"),
            (F.col("o_orderpriority") < "3").cast("double").alias("ev"),
            (F.col("o_custkey") % 100 / 100.0).alias("x"),
        )
        self.ci = self.cox.withColumn("risk_score", F.exp(F.lit(0.1) * F.col("x")))
        self.n_li, self.n_od = n_li, n_od
        t = time.perf_counter()
        self.ref_lm = lm_reference(li)
        self.ref_glm = glm_reference(od)
        ct, cev, cx = cox_columns(od)
        self.ref_cox = cox_reference(ct, cev, cx, 3)
        self.ref_ci = cindex_reference(ct, cev, np.exp(0.1 * cx))
        self.reference_s = time.perf_counter() - t
        self.model = None
        return {"generate_s": gen_s}

    def prepare(self, i: int):
        return None

    def run_op(self, i: int, prepared=None) -> dict:
        from sparkglm_spark.operators.glm import glm
        from sparkglm_spark.operators.lm import lm
        from sparkglm_spark.operators.survival import concordance_index, coxph

        ctx = self.ctx
        k = i % self.cycle
        if k == 0:
            with ctx.span("operators.lm.fit"):
                self.model = lm(self.li, LM_FORMULA)
            return {"kind": "lm", "rows": self.n_li, "coefs": self.model.coefs}
        if k == 1:
            with ctx.span("operators.lm.predict"):
                self.model.predict(self.li).write.format("noop").mode(
                    "overwrite").save()
            return {"kind": "predict", "rows": self.n_li}
        if k == 2:
            with ctx.span("operators.glm.fit") as c:
                g = glm(self.od, GLM_FORMULA)
                c["iterations"] = int(g.iter)
            return {"kind": "glm", "rows": self.n_od, "coefs": g.coefs}
        if k == 3:
            with ctx.span("operators.survival.coxph"):
                m = coxph(self.cox, "t", "ev", ["x"], exact_iterations=3)
            return {"kind": "coxph", "rows": self.n_od, "coefs": m.coefs}
        with ctx.span("operators.survival.cindex"):
            r = concordance_index(self.ci, "t", "ev", "risk_score")
        return {"kind": "cindex", "rows": self.n_od, "cindex": r}

    def check(self, out: dict) -> list[str]:
        kind = out["kind"]
        if kind == "lm" and _se_err(out["coefs"], self.ref_lm) > 1e-6:
            return [f"lm coefficients differ from numpy: {out['coefs']} vs {self.ref_lm[0]}"]
        if kind == "glm" and _se_err(out["coefs"], self.ref_glm) > 1e-4:
            return [f"glm coefficients differ from numpy IRLS: {out['coefs']} vs {self.ref_glm[0]}"]
        if kind == "coxph" and _rel_err(out["coefs"][0], self.ref_cox) > 1e-6:
            return [f"coxph coefficient {out['coefs'][0]} vs numpy {self.ref_cox}"]
        if kind == "cindex":
            r = out["cindex"]
            got = (int(r["n_comparable"]), int(r["n_concordant"]), int(r["n_tied_risk"]))
            if got != self.ref_ci:
                return [f"C-index counts {got} vs numpy {self.ref_ci}"]
        return []

    def probes(self, ctx: Ctx) -> None:
        """Layers lm calls internally, each called once on lm's own
        inputs, outside the operation spans."""
        from pyspark.sql import functions as F

        from sparkglm_spark.formula import parse_formula
        from sparkglm_spark.functions.encoding import (
            model_matrix,
            model_matrix_levels,
            omit_na,
        )
        from sparkglm_spark.plans.gram import gram_aggregate

        p = parse_formula(LM_FORMULA)
        data = omit_na(self.li.select(p.target, *p.predictors))
        with ctx.span("functions.encoding.levels"):
            levels = model_matrix_levels(data.select(*p.predictors))
        enc = model_matrix(data, levels=levels).withColumn("intercept", F.lit(1.0))
        x_cols = ["intercept"] + [c for c in enc.columns
                                  if c not in ("intercept", p.target)]
        with ctx.span("plans.gram.aggregate"):
            gram_aggregate(enc, x_cols, p.target)

    def finish(self, ctx: Ctx) -> list[str]:
        return []

    def record(self) -> dict:
        return {"lineitem_rows": self.n_li, "orders_rows": self.n_od,
                "reference_s": self.reference_s}

    def layer_metrics(self, L) -> dict:
        iters = L.med("operators.glm.fit", "iterations")
        return {
            "functions.encoding.levels_s": L.med("functions.encoding.levels", "wall_s"),
            "functions.encoding.levels_jobs": L.med("functions.encoding.levels", "jobs"),
            "plans.gram.aggregate_s": L.med("plans.gram.aggregate", "wall_s"),
            "plans.gram.aggregate_jobs": L.med("plans.gram.aggregate", "jobs"),
            "operators.lm.fit_s": L.med("operators.lm.fit", "wall_s"),
            "operators.lm.fit_jobs": L.med("operators.lm.fit", "jobs"),
            "operators.lm.predict_s": L.med("operators.lm.predict", "wall_s"),
            "operators.lm.predict_jobs": L.med("operators.lm.predict", "jobs"),
            "operators.glm.fit_s": L.med("operators.glm.fit", "wall_s"),
            "operators.glm.fit_jobs": L.med("operators.glm.fit", "jobs"),
            "operators.glm.iterations": iters,
            "operators.glm.s_per_iteration": (
                L.med("operators.glm.fit", "wall_s") / iters if iters else 0.0
            ),
            "operators.survival.coxph_s": L.med("operators.survival.coxph", "wall_s"),
            "operators.survival.coxph_jobs": L.med("operators.survival.coxph", "jobs"),
            "operators.survival.cindex_s": L.med("operators.survival.cindex", "wall_s"),
            "operators.survival.cindex_jobs": L.med("operators.survival.cindex", "jobs"),
            "operators.survival.shuffle_bytes": (
                L.med("operators.survival.coxph", "shuffle_write_bytes")
                + L.med("operators.survival.cindex", "shuffle_write_bytes")
            ),
        }


def _sample(rng: random.Random, xs, k: int) -> list:
    """Up to k of xs, chosen by the seeded rng."""
    xs = sorted(xs)
    return xs if len(xs) <= k else rng.sample(xs, k)


# ---------------------------------------------------------------------------
# corpus curation (run inside traced dedup_ingest runs)
# ---------------------------------------------------------------------------

THRESHOLD = 0.8
PACK_BUDGET = 2048
PACK_BUCKETS = 4


class Curation:
    """prepare_training_corpus over one seeded shard, then pack_greedy of
    the survivors, run twice: both runs must give the same output digest.
    The shard plants exact and near duplicates of its own documents."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.n_docs = ctx.size(500, 60)
        self.corpus = gen.planted_corpus(
            gen.TextSource(ctx.seed), np.random.default_rng([ctx.seed, 10]),
            first_id=0, n_docs=self.n_docs, mean_words=90, near_dup_frac=0.10,
            exact_dup_frac=0.03, edit_rate=0.06, min_jaccard=0.85,
        )
        self.df = ctx.parquet("shard", {
            "doc_id": np.array(self.corpus.ids, dtype=np.int64),
            "text": self.corpus.texts})
        self.digests: set[str] = set()
        self.kept: list[int] = []
        self.rng = random.Random(ctx.seed)

    def run(self) -> list[str]:
        from sparkglm_spark.operators.pack import pack_greedy
        from sparkglm_spark.operators.pipeline import prepare_training_corpus

        with self.ctx.span("operators.pipeline.prepare"):
            kept = prepare_training_corpus(self.df, neardup_threshold=THRESHOLD)
        with self.ctx.span("operators.pack.sink"):
            rows = [tuple(r) for r in pack_greedy(
                kept, budget=PACK_BUDGET, n_buckets=PACK_BUCKETS).collect()]
        return self.check(rows)

    def check(self, rows: list[tuple]) -> list[str]:
        errs = []
        self.digests.add(hashlib.sha256(repr(sorted(rows)).encode()).hexdigest())
        if len(self.digests) != 1:
            errs.append("curation output digest changed between repeats")
        kept = [r[0] for r in rows]
        if len(set(kept)) != len(kept):
            errs.append("curation packed a document twice")
        packs: dict[tuple[int, int], list[int]] = {}
        for _, n_tok, bucket, pack_id in rows:
            packs.setdefault((bucket, pack_id), []).append(n_tok)
        if any(len(t) > 1 and sum(t) > PACK_BUDGET for t in packs.values()):
            errs.append("curation: a pack exceeds the token budget")
        self.kept = sorted(set(kept))
        kept_set = set(kept)
        # recall: a planted copy always has a smaller-id source, so the
        # pipeline must drop it
        planted = self.corpus.planted
        self.recall = sum(1 for c in planted if c not in kept_set) / max(1, len(planted))
        # precision, on a sample of dropped documents: each must be an
        # exact or near duplicate (exact 3-gram Jaccard ≥ threshold) of a
        # smaller id, or fail the language filter
        text = self.corpus.text_of()
        dropped = [d for d in self.corpus.ids if d not in kept_set]
        for d in _sample(self.rng, dropped, 10):
            if not self._explained(d, text):
                errs.append(f"curation dropped document {d} without a reason")
        return errs

    def _explained(self, d: int, text: dict) -> bool:
        from sparkglm_spark.operators.text import LANG_PROFILES

        words = text[d].lower().split()
        if not set(LANG_PROFILES["en"]).intersection(words):
            return True
        g = gen.char_3grams(text[d])
        return any(gen.jaccard(g, gen.char_3grams(text[o])) >= THRESHOLD
                   for o in self.corpus.ids if o < d)

    def probes(self) -> None:
        """pack_greedy alone on the survivors, and batch dedup pairs and
        LSH candidates on the shard."""
        from pyspark.sql import functions as F

        from sparkglm_spark.operators.dedup import (
            minhash_dedup_pairs,
            minhash_lsh_candidates,
            minhash_signatures,
            shingles,
        )
        from sparkglm_spark.operators.pack import pack_greedy

        ctx, df = self.ctx, self.df
        kept = df.where(F.col("doc_id").isin(self.kept))
        with ctx.span("operators.pack.greedy"):
            pack_greedy(kept, budget=PACK_BUDGET, n_buckets=PACK_BUCKETS).collect()
        with ctx.span("operators.dedup.pairs") as c:
            c["pairs"] = minhash_dedup_pairs(
                df, "doc_id", "text", threshold=THRESHOLD).count()
        with ctx.span("operators.dedup.lsh_candidates") as c:
            sig = minhash_signatures(shingles(df, "doc_id", "text"))
            c["candidates"] = minhash_lsh_candidates(sig).count()

    def layer_metrics(self, L) -> dict:
        pairs = L.med("operators.dedup.pairs", "pairs")
        cands = L.med("operators.dedup.lsh_candidates", "candidates")
        return {
            "operators.pipeline.prepare_s": L.med("operators.pipeline.prepare", "wall_s"),
            "operators.pipeline.prepare_jobs": L.med("operators.pipeline.prepare", "jobs"),
            "operators.pipeline.survivor_ratio": len(self.kept) / self.n_docs,
            "operators.dedup.pairs_s": L.med("operators.dedup.pairs", "wall_s"),
            "operators.dedup.lsh_candidates": cands,
            "operators.dedup.candidate_yield": pairs / cands if cands else 0.0,
            "operators.pack.greedy_s": L.med("operators.pack.greedy", "wall_s"),
        }


# ---------------------------------------------------------------------------
# dedup_ingest
# ---------------------------------------------------------------------------

# more documents than the 32,768-document gate of the small-index match
# path, so every match takes the plan that runs at scale
INDEX_DOCS = 33_000
BATCH_DOCS = 600
# short documents keep the index build, which every run pays in set-up,
# to a few seconds of signature work
INDEX_DOC_WORDS = 25
BANDS = 16
# the est-Jaccard verify has std ≈ 0.035 at j = 0.8 with 128 permutations;
# a dropped document must have an indexed source at least this similar
DROP_MIN_JACCARD = 0.7
# least share of planted copies (exact 3-gram Jaccard ≥ 0.85 with their
# source) a run must drop: the index match verifies by estimated Jaccard,
# which misses some pairs near the threshold; the batch pipeline verifies
# exactly
RECALL_FLOOR = 0.85
CURATION_RECALL_FLOOR = 0.95


class DedupIngest:
    """One batch per operation: match against a prebuilt signature index,
    then append the survivors' signatures to the index as parquet."""

    name = "dedup_ingest"
    cycle = 1
    # two warm-up batches: after only one, the first timed match still ran
    # ~15% slower than the next
    warm_ids = (-2, -1)

    def setup(self, ctx: Ctx) -> dict:
        from sparkglm_spark.operators.dedup import minhash_index

        self.ctx = ctx
        self.n_index = ctx.size(INDEX_DOCS, 400)
        self.n_batch = ctx.size(BATCH_DOCS, 50)
        self.src = gen.TextSource(ctx.seed)
        self.index_path = os.path.join(ctx.work, "index.parquet")

        def make():
            rng = np.random.default_rng([ctx.seed, 20])
            c = gen.planted_corpus(
                self.src, rng, first_id=0, n_docs=self.n_index,
                mean_words=INDEX_DOC_WORDS, near_dup_frac=0.0,
                exact_dup_frac=0.0, edit_rate=0.06, min_jaccard=0.85,
            )
            return c, ctx.parquet("index_docs", {
                "doc_id": np.array(c.ids, dtype=np.int64), "text": c.texts})

        (self.corpus, docs), gen_s = _median_time(make, 3)
        shutil.rmtree(self.index_path, ignore_errors=True)
        t = time.perf_counter()
        with ctx.span("operators.dedup.index_build", docs=self.n_index):
            minhash_index(docs, "doc_id", "text").write.parquet(self.index_path)
        index_s = time.perf_counter() - t
        self.index_rows = self.n_index
        self.indexed_text = self.corpus.text_of()
        self.planted = 0
        self.found = 0
        self.rng = random.Random(ctx.seed)
        self.curation: Curation | None = None
        self.probe_errors: list[str] = []
        return {"generate_s": gen_s, "index_build_s": index_s}

    def _batch(self, i: int):
        # batch j = 0, 1, ... counts the warm-up batches (negative i) too;
        # batch ids start above the index's
        j = i + len(self.warm_ids)
        rng = np.random.default_rng([self.ctx.seed, 21, j])
        first = 10_000_000 * (j + 1)
        return gen.planted_corpus(
            self.src, rng, first_id=first, n_docs=self.n_batch,
            mean_words=INDEX_DOC_WORDS, near_dup_frac=0.20, exact_dup_frac=0.05,
            edit_rate=0.06, min_jaccard=0.85, sources=self.corpus,
        )

    def prepare(self, i: int):
        """Generate operation i's batch outside the timed call."""
        b = self._batch(i)
        return b, self.ctx.parquet("batch", {
            "doc_id": np.array(b.ids, dtype=np.int64), "text": b.texts})

    def run_op(self, i: int, prepared) -> dict:
        from pyspark.sql import functions as F

        from sparkglm_spark.operators.dedup import minhash_dedup_against, minhash_index

        ctx = self.ctx
        batch, df = prepared
        index = ctx.spark.read.parquet(self.index_path)
        with ctx.span("operators.dedup.match"):
            kept = minhash_dedup_against(
                df, index, "doc_id", "text", threshold=THRESHOLD, bands=BANDS)
            kept_ids = [r[0] for r in kept.select("doc_id").collect()]
        with ctx.span("sources.io.index_append"):
            minhash_index(
                df.where(F.col("doc_id").isin(kept_ids)), "doc_id", "text"
            ).write.mode("append").parquet(self.index_path)
        return {"kind": "ingest", "rows": self.n_batch, "batch": batch,
                "kept": kept_ids}

    def check(self, out: dict) -> list[str]:
        errs = []
        batch, kept = out["batch"], set(out["kept"])
        if not kept <= set(batch.ids):
            errs.append("survivors include ids that are not in the batch")
        self.planted += len(batch.planted)
        self.found += sum(1 for c in batch.planted if c not in kept)
        text = batch.text_of()
        dropped = [d for d in batch.ids if d not in kept]
        unplanted = [d for d in dropped if d not in batch.planted]
        for d in _sample(self.rng, dropped, 10) + _sample(self.rng, unplanted, 2):
            src = batch.planted.get(d)
            g = gen.char_3grams(text[d])
            cands = [src] if src is not None else list(self.indexed_text)
            if not any(gen.jaccard(g, gen.char_3grams(self.indexed_text[o]))
                       >= DROP_MIN_JACCARD for o in cands):
                errs.append(f"document {d} dropped with no similar indexed document")
        self.index_rows += len(kept)
        for d in kept:
            self.indexed_text[d] = text[d]
        return errs

    def probes(self, ctx: Ctx) -> None:
        """The batch curation layers, on a shard of their own: pipeline and
        pack twice (the digests must agree), then pack, batch dedup pairs
        and LSH candidates alone."""
        self.curation = Curation(ctx)
        for _ in range(2):
            self.probe_errors += self.curation.run()
        self.curation.probes()
        if self.curation.recall < CURATION_RECALL_FLOOR:
            self.probe_errors.append(
                f"curation dedup recall {self.curation.recall:.3f} below "
                f"{CURATION_RECALL_FLOOR}")

    def finish(self, ctx: Ctx) -> list[str]:
        errs = list(self.probe_errors)
        n = ctx.spark.read.parquet(self.index_path).count()
        if n != self.index_rows:
            errs.append(f"index holds {n} rows, expected {self.index_rows}")
        if self.planted and self.recall() < RECALL_FLOOR:
            errs.append(f"dedup recall {self.recall():.3f} below {RECALL_FLOOR}")
        return errs

    def recall(self) -> float | None:
        return self.found / self.planted if self.planted else None

    def record(self) -> dict:
        rec = {"index_docs": self.n_index, "docs_per_batch": self.n_batch,
               "index_rows_at_end": self.index_rows,
               "planted_copies": self.planted, "dedup_recall": self.recall()}
        if self.curation is not None:
            rec["curation"] = {"docs": self.curation.n_docs,
                               "survivors": len(self.curation.kept),
                               "planted_copies": len(self.curation.corpus.planted),
                               "dedup_recall": self.curation.recall}
        return rec

    def layer_metrics(self, L) -> dict:
        build = L.get("operators.dedup.index_build")
        m = {
            "operators.dedup.index_docs_per_s": (
                build[0]["docs"] / build[0]["wall_s"] if build else 0.0),
            "operators.dedup.match_s": L.med("operators.dedup.match", "wall_s"),
            "operators.dedup.match_jobs": L.med("operators.dedup.match", "jobs"),
            "operators.dedup.match_shuffle_bytes": L.med(
                "operators.dedup.match", "shuffle_write_bytes"),
            "sources.io.index_append_s": L.med("sources.io.index_append", "wall_s"),
        }
        if self.curation is not None:
            m.update(self.curation.layer_metrics(L))
        return m


WORKLOADS = {w.name: w for w in (ModelFit, DedupIngest)}
