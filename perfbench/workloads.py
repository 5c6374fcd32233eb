"""The benchmark's workloads, built from components.

A component owns one seeded input, the public ``mrmr_spark`` calls of one
pass over it, the oracle check of their results, and a traced pass that
runs the same calls as separate spans. A workload is one component or a
fixed sequence of them; its pass runs each component's calls in order.

Every operation of a pass returns a comparable result (a ranking tuple, a
chosen k) or ``None`` for queries drained through the noop sink; the
harness compares each one to the result the oracle check accepted. A
drained query keeps no output, so in a timed pass it fails only by
raising; its oracle check runs on a separate execution.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np

import sources
import status

SEL_K = 8
WIDE_K = 20


def noop(df) -> None:
    """Drain a DataFrame through the noop sink: every output column is
    computed (``count()`` would let Catalyst prune them) and nothing is
    collected."""
    df.write.format("noop").mode("overwrite").save()


def pick_margin(X32: np.ndarray, rel: np.ndarray, want: list[int], got: list[int]) -> str:
    """Where two classic quotient-mRMR rankings first differ, the oracle's
    objective for both picks and their relative gap: tells a near-tie from
    a wrong answer."""
    from oracle_sift import FLOOR

    t = next((i for i, (a, b) in enumerate(zip(want, got)) if a != b), None)
    if t is None:
        return f"length {len(got)} vs {len(want)}"
    Z = X32.astype(np.float64)
    Z = (Z - Z.mean(axis=0)) / np.where(Z.std(axis=0) > 1e-12, Z.std(axis=0), 1.0)

    def objective(j):
        if t == 0:
            return rel[j]
        red = np.mean([abs(np.mean(Z[:, j] * Z[:, s])) for s in want[:t]])
        return rel[j] / max(red, FLOOR)

    a, b = objective(want[t]), objective(got[t])
    return f"pick {t}: oracle {want[t]} ({a:.6g}) vs engine {got[t]} ({b:.6g}), margin {(a - b) / abs(a):.3g}"


def same_column(X: np.ndarray) -> np.ndarray:
    """For each column, the index of the first column bit-identical to it.
    Identical columns are one feature under two names: their relevance and
    redundancy are equal up to summation order, so which name a ranking
    reports is decided by rounding noise, not by the method."""
    first = {}
    return np.array([first.setdefault(X[:, j].tobytes(), j) for j in range(X.shape[1])])


def ranking_check(X32, rel, idx, got_names, cols):
    """(ok, detail) for an engine ranking against the oracle's ``idx``:
    equal once bit-identical columns share one name, with the pick margin
    reported wherever the raw names differ."""
    pos = [cols.index(n) for n in got_names]
    canon = same_column(X32)
    ok = [canon[i] for i in pos] == [canon[i] for i in idx]
    detail = "" if pos == list(idx) else pick_margin(X32, rel, list(idx), pos) + (
        " (identical columns)" if ok else "")
    return ok, detail


@dataclass
class Component:
    kind: str
    size: dict
    #: name -> value of every per-layer metric this component produces
    layers: dict = field(default_factory=dict)
    primary_rows: int = 0
    #: spans of the traced pass that no timed pass runs
    TRACED_ONLY = ()
    #: warm passes a run times at least when this component is in it:
    #: enough that the JIT has settled on its calls by the last of them
    WARM_PASSES = 2

    def writer(self, dir_, seed, **size):
        raise NotImplementedError

    def open(self, spark, dir_):
        raise NotImplementedError

    def ops(self, spark):
        """[(name, callable)] — one pass."""
        raise NotImplementedError

    def check(self, spark, first: dict) -> dict:
        """Check the first pass's results against the oracle. Returns
        name -> (ok, expected, detail): ``ok`` when the engine's result
        agrees with the oracle, ``expected`` the result every pass must
        reproduce, ``detail`` where they disagree."""
        raise NotImplementedError

    def traced(self, spark, sink: dict) -> None:
        raise NotImplementedError


# --------------------------------------------------------------------------
# transcript feature build -> classic mRMR (the driver-contract headline)


class Transcripts(Component):
    TARGET = "target_next_gap"
    TRACED_ONLY = ("kernels.fused_stats", "loops.mrmr_greedy")
    #: the feature build's plan keeps getting faster for four warm passes
    WARM_PASSES = 4

    def __init__(self, n_convs: int):
        super().__init__("transcripts", {"n_convs": n_convs})

    def writer(self, dir_, seed, **size):
        sources.write_transcripts(dir_, seed, **size)

    def open(self, spark, dir_):
        import pyarrow.parquet as pq

        path = f"{dir_}/transcripts.parquet"
        self.primary_rows = pq.read_metadata(path).num_rows
        self.tr = spark.read.parquet(path)

    def _features(self):
        from pyspark.sql import functions as F

        from mrmr_spark.fe import build_features

        return build_features(self.tr).where(F.col(self.TARGET).isNotNull())

    def _select(self, feats):
        from mrmr_spark.fe import FEATURE_COLS
        from mrmr_spark.select import select_mrmr

        return select_mrmr(
            feats, FEATURE_COLS, self.TARGET, SEL_K, task="regression", subsample=None
        )

    def ops(self, spark):
        return [("fe_mrmr", lambda: tuple(self._select(self._features()).names))]

    def check(self, spark, first):
        import oracle_sift as oracle

        from mrmr_spark.fe import FEATURE_COLS

        got = first["fe_mrmr"]
        if isinstance(got, Exception):
            return {"fe_mrmr": (False, None, "raised")}
        pdf = self._features().select(*FEATURE_COLS, self.TARGET).toPandas()
        X32 = oracle.impute_f32(pdf[FEATURE_COLS].to_numpy())
        w = np.ones(len(pdf))
        rel = oracle.f_regression(X32, pdf[self.TARGET].to_numpy(np.float32), w)
        idx = oracle.mrmr_classic(X32, rel, SEL_K, w, "quotient", top_m=250)
        ok, detail = ranking_check(X32, rel, idx, got, FEATURE_COLS)
        return {"fe_mrmr": (ok, got, detail)}

    def traced(self, spark, sink):
        from pyspark.storagelevel import StorageLevel

        from mrmr_spark.fe import FEATURE_COLS
        from mrmr_spark.select import loops
        from mrmr_spark.select import relevance as rel_est

        feats = self._features()
        with status.span(spark, "fe.build", sink):
            noop(feats)
        # materialize once so the selection spans below measure the scan
        # and the driver loop, not a second feature build
        feats = feats.select(*FEATURE_COLS, self.TARGET).persist(StorageLevel.MEMORY_AND_DISK)
        feats.count()
        with status.span(spark, "kernels.fused_stats", sink):
            rel_est.fused_regression_stats(
                feats, FEATURE_COLS, self.TARGET, None, True, single_pass=True
            )
        with status.span(spark, "api.select_mrmr", sink):
            res = self._select(feats)
        R, cand = res.extras["R_cand"], res.extras["cand"]
        with status.span(spark, "loops.mrmr_greedy", sink):
            loops.mrmr_greedy(R, res.relevance[cand], SEL_K, use_quotient=True)
        feats.unpersist()
        fe = sink["fe.build"]
        self.layers.update({
            "fe.build_s": fe.seconds,
            "fe.shuffle_mb": fe.shuffle_write_mb,
            "fe.spill_mb": fe.spill_mb,
            "fe.task_skew": fe.task_skew,
            "kernels.fused_stats_s": sink["kernels.fused_stats"].seconds,
            "kernels.fused_stats_jobs": sink["kernels.fused_stats"].jobs,
            "loops.mrmr_greedy_s": sink["loops.mrmr_greedy"].seconds,
            "api.select_mrmr_s": sink["api.select_mrmr"].seconds,
        })


# --------------------------------------------------------------------------
# wide planted matrix: classic mRMR (general path), copula cache, auto-k


class Wide(Component):
    TARGETS = ("y_reg1", "y_reg2")
    TRACED_ONLY = ("kernels.moments", "kernels.gram", "preprocess.subsample",
                   "copula.driver", "copula.distributed")

    def __init__(self, n_rows: int, p: int, subsample: int):
        super().__init__("wide", {"n_rows": n_rows, "p": p})
        self.subsample = subsample
        self.cols = sources.wide_columns(p)

    def writer(self, dir_, seed, **size):
        sources.write_wide(dir_, seed, **size)

    def open(self, spark, dir_):
        import pyarrow.parquet as pq

        path = f"{dir_}/wide.parquet"
        self.primary_rows = pq.read_metadata(path).num_rows
        self.df = spark.read.parquet(path)

    def _mrmr(self):
        from mrmr_spark.select import select_mrmr

        return select_mrmr(
            self.df, self.cols, "y_reg1", WIDE_K, task="regression", subsample=None
        )

    def _cache(self):
        from mrmr_spark.select.cache import build_cache

        return build_cache(self.df, self.cols, subsample=self.subsample)

    def _cached(self, cache, target):
        from mrmr_spark.select.cache import select_cached

        return select_cached(cache, target, WIDE_K, method="cefsplus")

    def _autok(self, path):
        from mrmr_spark.select.autok import AutoKConfig, select_k_evaluate

        cfg = AutoKConfig(k_method="evaluate", strategy="group_cv", max_k=WIDE_K,
                          min_k=2, n_splits=4)
        best_k, _, _ = select_k_evaluate(
            self.df, list(path), "y_reg1", cfg, group_col="group_id", task="regression"
        )
        return best_k

    def ops(self, spark):
        state = {}

        def reg():
            state["path"] = tuple(self._mrmr().names)
            return state["path"]

        def cached():
            cache = self._cache()
            try:
                return tuple(tuple(self._cached(cache, t).names) for t in self.TARGETS)
            finally:
                cache.unpersist()

        return [
            ("wide.mrmr_reg", reg),
            ("wide.cefsplus_cached", cached),
            ("wide.autok", lambda: self._autok(state["path"])),
        ]

    def check(self, spark, first):
        import oracle_sift as oracle

        from mrmr_spark.select.preprocess import deterministic_subsample

        out = {op: (False, None, "raised") for op, got in first.items()
               if op.startswith("wide.") and isinstance(got, Exception)}
        pdf = self.df.toPandas()
        X32 = oracle.impute_f32(pdf[self.cols].to_numpy())
        w = np.ones(len(pdf))
        if "wide.mrmr_reg" not in out:
            rel = oracle.f_regression(X32, pdf["y_reg1"].to_numpy(np.float32), w)
            idx = oracle.mrmr_classic(X32, rel, WIDE_K, w, "quotient", top_m=250)
            ok, detail = ranking_check(X32, rel, idx, first["wide.mrmr_reg"], self.cols)
            out["wide.mrmr_reg"] = (ok, first["wide.mrmr_reg"], detail)

        # CEFS+ on exactly the rows the cache subsamples, in the order
        # build_cache numbers them (the copula's tie order): the subsample
        # is a global sort + limit, one partition, keyed in output order
        sub = deterministic_subsample(self.df, self.subsample, 0).toPandas()
        got = first["wide.cefsplus_cached"]
        want = tuple(
            tuple(self.cols[i] for i in oracle.gaussian_select(
                sub[self.cols].to_numpy(), sub[t].to_numpy(), WIDE_K, method="cefsplus"))
            for t in self.TARGETS
        )
        if "wide.cefsplus_cached" not in out:
            detail = "" if got == want else f"oracle {want} vs engine {got}"
            out["wide.cefsplus_cached"] = (got == want, got, detail)
        # auto-k has no independent oracle: it runs on the oracle-checked
        # mRMR path, and every pass must reproduce the first pass's k
        out.setdefault("wide.autok", (True, first["wide.autok"], ""))
        return out

    def traced(self, spark, sink):
        from mrmr_spark.select import kernels, loops
        from mrmr_spark.select import relevance as rel_est
        from mrmr_spark.select.cache import ROW_KEY
        from mrmr_spark.select.copula import rank_gauss_transform
        from mrmr_spark.select.preprocess import deterministic_subsample

        with status.span(spark, "kernels.moments", sink):
            st = rel_est.f_regression_scores(self.df, self.cols, "y_reg1", None, True)
        cand = np.argsort(-st["scores"])[: min(250, len(self.cols))]
        with status.span(spark, "kernels.gram", sink):
            kernels.gram_pass(
                self.df, [self.cols[i] for i in cand], None, st["impute_means"][cand],
                st["wmeans"][cand], st["wstds"][cand], quantize_f32=True, clip=None,
            )

        # CEFS+ runs inside select_cached: time it there, on the call's own
        # inputs, by wrapping the module attribute select_cached looks up at
        # call time (the package files are untouched)
        greedy = loops.cefsplus_greedy
        greedy_s = []

        def timed_greedy(*a, **kw):
            t0 = time.perf_counter()
            try:
                return greedy(*a, **kw)
            finally:
                greedy_s.append(time.perf_counter() - t0)

        loops.cefsplus_greedy = timed_greedy
        try:
            with status.span(spark, "api.select_mrmr_reg", sink):
                path = self._mrmr().names
            with status.span(spark, "preprocess.subsample", sink):
                noop(deterministic_subsample(self.df, self.subsample, 0))
            with status.span(spark, "cache.build", sink):
                cache = self._cache()
            try:
                with status.span(spark, "cache.select_cached", sink):
                    for t in self.TARGETS:
                        self._cached(cache, t)
                imputed = cache.src.select(ROW_KEY, "weight", *self.cols)
                for name, cap in (("copula.driver", None), ("copula.distributed", 0)):
                    pins = []
                    with status.span(spark, name, sink):
                        noop(rank_gauss_transform(
                            imputed, self.cols, "weight", ROW_KEY, pin=pins,
                            n_rows=cache.n_rows, driver_max_cells=cap,
                        ))
                    for dep in pins:
                        dep.unpersist()
            finally:
                cache.unpersist()
        finally:
            loops.cefsplus_greedy = greedy
        with status.span(spark, "autok.evaluate", sink):
            self._autok(path)
        self.layers.update({
            "kernels.moments_s": sink["kernels.moments"].seconds,
            "kernels.gram_s": sink["kernels.gram"].seconds,
            "api.select_mrmr_reg_s": sink["api.select_mrmr_reg"].seconds,
            "preprocess.subsample_s": sink["preprocess.subsample"].seconds,
            "cache.build_s": sink["cache.build"].seconds,
            "cache.build_jobs": sink["cache.build"].jobs,
            "cache.select_cached_s": sink["cache.select_cached"].seconds,
            "cache.select_cached_jobs": sink["cache.select_cached"].jobs,
            "copula.driver_s": sink["copula.driver"].seconds,
            "copula.distributed_s": sink["copula.distributed"].seconds,
            "loops.cefsplus_greedy_s": sum(greedy_s),
            "autok.evaluate_s": sink["autok.evaluate"].seconds,
            "autok.jobs": sink["autok.evaluate"].jobs,
        })


# --------------------------------------------------------------------------
# gate queries over seeded documents, checked against DuckDB


class Gate(Component):
    def __init__(self, n_docs: int, queries: dict):
        super().__init__("documents", {"n_docs": n_docs})
        #: query name -> per-layer prefix ("operators" / "evalmetrics")
        self.queries = queries

    def writer(self, dir_, seed, **size):
        sources.write_documents(dir_, seed, **size)

    def open(self, spark, dir_):
        import pyarrow.parquet as pq

        self.dir = dir_
        path = f"{dir_}/documents.parquet"
        self.primary_rows = pq.read_metadata(path).num_rows
        spark.read.parquet(path).schema  # the schema read is set-up work

    def _query(self, spark, name):
        from mrmr_spark import gate

        return gate.QUERIES[name](spark, self.dir)

    def ops(self, spark):
        return [(q, lambda q=q: noop(self._query(spark, q))) for q in self.queries]

    def check(self, spark, first):
        import duckdb
        from check_exact import normalize

        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{self.dir}/documents.parquet'")
        from mrmr_spark.gate import ORACLE_SQL

        out = {}
        for q in self.queries:
            got = normalize(self._query(spark, q).toPandas())
            diff = _exact_diff(got, normalize(con.sql(ORACLE_SQL[q]).df()))
            # a noop-drained pass returns None: it fails only by raising
            out[q] = (not diff, None, diff)
        con.close()
        return out

    def traced(self, spark, sink):
        for q, prefix in self.queries.items():
            before = status.storage_held_mb(spark)
            with status.span(spark, f"{prefix}.{q}", sink):
                noop(self._query(spark, q))
            st = sink[f"{prefix}.{q}"]
            self.layers[f"{prefix}.{q}_s"] = st.seconds
            self.layers[f"{prefix}.{q}_jobs"] = st.jobs
            if prefix == "operators":
                self.layers[f"{prefix}.{q}_shuffle_mb"] = st.shuffle_write_mb
                self.layers[f"{prefix}.{q}_cache_held_mb"] = status.storage_held_mb(spark) - before


def _exact_diff(got, exp) -> str:
    """'' when two normalized frames are EXACT-equal (round-to-9, NaN ==
    NaN), else where they first differ."""
    if got.shape != exp.shape or list(got.columns) != list(exp.columns):
        return f"shape {got.shape} vs {exp.shape}"
    for c in got.columns:
        a, b = got[c].to_numpy(), exp[c].to_numpy()
        eq = (a == b) | (np.isnan(a) & np.isnan(b)) if a.dtype.kind == "f" else a == b
        if not eq.all():
            i = int(np.argmin(eq))
            return f"col {c} row {i}: {a[i]!r} vs {b[i]!r} ({int((~eq).sum())} bad)"
    return ""


# --------------------------------------------------------------------------
# registry

#: gate query -> (its per-layer prefix, docs in its seeded table): one
#: curation operator that persists inside the query, between the sizes of
#: the driver's sf0.01 and sf0.1 documents tables; one eval metric with a
#: Column/Arrow twin, at the sf0.01 size
GATE = {"duplicate_spans": ("operators", 2_000), "rouge_l": ("evalmetrics", 500)}

#: workload -> its components; the first one holds the primary table that
#: ``rows_per_s`` counts
WORKLOADS = {
    "transcript_e2e": lambda: [Transcripts(n_convs=3_000)] + [
        Gate(n_docs, {q: prefix}) for q, (prefix, n_docs) in GATE.items()
    ],
    "wide_select": lambda: [Wide(n_rows=4_000, p=72, subsample=2_000)],
}

TRANSCRIPT_LAYERS = (
    "fe.build_s", "fe.shuffle_mb", "fe.spill_mb", "fe.task_skew",
    "kernels.fused_stats_s", "kernels.fused_stats_jobs", "loops.mrmr_greedy_s",
    "api.select_mrmr_s",
)
WIDE_LAYERS = (
    "kernels.moments_s", "kernels.gram_s", "api.select_mrmr_reg_s",
    "preprocess.subsample_s",
    "cache.build_s", "cache.build_jobs", "cache.select_cached_s",
    "cache.select_cached_jobs", "copula.driver_s", "copula.distributed_s",
    "loops.cefsplus_greedy_s", "autok.evaluate_s", "autok.jobs",
)
GATE_LAYERS = tuple(
    f"{prefix}.{q}_{m}"
    for q, (prefix, _) in GATE.items()
    for m in (("s", "jobs", "shuffle_mb", "cache_held_mb") if prefix == "operators" else ("s", "jobs"))
)
#: every per-layer metric a traced run reports; layers a workload leaves
#: idle report 0
PER_LAYER = (
    "session.start_s", "session.warmup_s", "sources.load_s", "sources.generate_s",
    "session.first_pass_s",
    "trace.overhead_s", "cache_held_mb", "ops_failed_frac",
) + TRANSCRIPT_LAYERS + WIDE_LAYERS + GATE_LAYERS


def unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_jobs") or name.endswith(".jobs"):
        return "count"
    return "ratio"
