"""The benchmark's workloads: inputs, one timed pass, and the correctness
gate each pass must clear.  Every workload drives the program through its
public surface only: ``plans.validate.validate``, the
``entry_queries.REGISTRY`` callables and ``jobs/corpus_prep.py``'s
``main(argv)``.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import shutil

from perfbench import inputs


def _rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


class ValidateWorkload:
    """The seeded 15-category crawl through ``validate(...,
    results_root=...)``, once under the full-extraction suite (the fused
    Python/Arrow pass over every payload) and once under the default
    suite that ``jobs/validate.py`` runs (JVM feature projection, Bloom
    probe on the light frame, sampled extraction check).  The three
    result writes of each call are inside the pass."""

    def setup(self, ctx) -> None:
        from audio_quality_checker_spark.config import CheckSuite
        from audio_quality_checker_spark.sources.pages import (
            expected_verdicts_pdf,
        )

        self.suites = {"full": CheckSuite(check_extraction_full=True),
                       "sampled": CheckSuite()}
        built = inputs.build_pages(ctx.spark, f"{ctx.work}/in", ctx.seed)
        self.paths, self.n_docs = built["paths"], built["n_docs"]
        self.results = f"{ctx.work}/results"
        self.expected = expected_verdicts_pdf()

    def before_pass(self, ctx) -> None:
        _rmtree(self.results)

    def run_pass(self, ctx, spans) -> None:
        from audio_quality_checker_spark.plans.validate import validate

        for name, suite in self.suites.items():
            with spans.span(f"plans.validate.{name}"):
                res = validate(
                    ctx.spark, self.paths["pages"], self.paths["ref_hosts"],
                    self.paths["baseline"], suite,
                    results_root=f"{self.results}/{name}",
                )
            res.unpersist()

    def check(self, ctx) -> list[str]:
        problems = []
        for name in self.suites:
            problems += [f"{name}: {p}"
                         for p in self._check_results(ctx, name)]
        return problems

    def _check_results(self, ctx, name: str) -> list[str]:
        """All 15 verdicts equal the golden should_pass, and each
        partition's golden violation types were produced."""
        root = f"{self.results}/{name}"
        got = ctx.spark.read.parquet(f"{root}/verdicts").toPandas()
        got = got.set_index("partition_key")
        problems = []
        if len(got) != len(self.expected):
            problems.append(f"{len(got)} verdict rows, want "
                            f"{len(self.expected)}")
        for row in self.expected.itertuples():
            if row.partition_key not in got.index:
                problems.append(f"{row.partition_key}: no verdict")
                continue
            v = got.loc[row.partition_key]
            if bool(v["passed"]) != row.should_pass:
                problems.append(f"{row.partition_key}: passed={v['passed']}")
            missing = set(row.expected_violation_types) - set(
                v["violation_types"])
            if missing:
                problems.append(f"{row.partition_key}: missing {missing}")
        n_stats = ctx.spark.read.parquet(f"{root}/stats").count()
        if n_stats != len(self.expected):
            problems.append(f"{n_stats} stats rows")
        return problems


class CorpusWorkload:
    """``jobs/corpus_prep.py`` over the seeded documents table, then the
    registry queries ROADMAP targets for the order-statistics rework plus
    the KLL sketch query.  Each query result (at most a few hundred rows)
    is collected inside the pass and checked after it."""

    QUERIES = ("quantiles", "trimmed_mean", "band_contrast", "diff_p95",
               "cum_median_bucket", "kll_quantiles")

    def setup(self, ctx) -> None:
        self.sf = f"{ctx.work}/in"
        built = inputs.build_corpus(self.sf, ctx.seed)
        self.expected = built["expected"]["counters"]
        self.kept_ids = built["expected"]["kept_ids"]
        self.n_docs = built["n_docs"]
        self.out = f"{ctx.work}/prep"
        spec = importlib.util.spec_from_file_location(
            "corpus_prep", os.path.join(ctx.root, "jobs", "corpus_prep.py"))
        self.job = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.job)
        self.report = None

    def before_pass(self, ctx) -> None:
        _rmtree(self.out)

    def run_pass(self, ctx, spans) -> None:
        from audio_quality_checker_spark.entry_queries import REGISTRY

        buf = io.StringIO()
        with spans.span("jobs.corpus_prep"), contextlib.redirect_stdout(buf):
            rc = self.job.main(["--docs", f"{self.sf}/documents.parquet",
                                "--out", self.out])
        lines = buf.getvalue().strip().splitlines()
        self.report = (rc, json.loads(lines[-1]) if lines else None)
        self.results = {}
        for name in self.QUERIES:
            fn, _ = REGISTRY[name]
            with spans.span(f"entry_queries.{name}"):
                sdf = fn(ctx.spark, self.sf)
                self.results[name] = (sdf.columns,
                                      [tuple(r) for r in sdf.collect()])

    def check(self, ctx) -> list[str]:
        from pyspark.sql import functions as F

        rc, got = self.report
        if rc != 0 or got is None:
            return [f"corpus_prep returned {rc} with report {got}"]
        problems = [f"{k}={got.get(k)}, want {v}"
                    for k, v in self.expected.items() if got.get(k) != v]
        corpus = ctx.spark.read.parquet(f"{self.out}/corpus")
        ids = sorted(r[0] for r in corpus.select("doc_id").collect())
        if ids != self.kept_ids:
            problems.append(f"corpus holds {len(ids)} docs, not the "
                            f"{len(self.kept_ids)} the reference keeps")
        agg = corpus.agg(F.sum("bpe_tokens").alias("tok")).first()
        if agg["tok"] != got["total_bpe_tokens"]:
            problems.append(f"corpus tokens {agg['tok']} != "
                            f"{got['total_bpe_tokens']}")
        budget = ctx.spark.read.parquet(f"{self.out}/budget").agg(
            F.sum("n_docs"), F.sum("total_bpe_tokens")).first()
        if tuple(budget) != (got["n_after_budget"], got["total_bpe_tokens"]):
            problems.append(f"budget table {tuple(budget)}")
        return problems + self._check_queries(ctx)

    def _check_queries(self, ctx) -> list[str]:
        """Each query against its DuckDB oracle (scripts/check_oracles.py's
        order-insensitive value hash), kll_quantiles against the KLL
        rank-error bound."""
        import duckdb

        from audio_quality_checker_spark.entry_queries import REGISTRY

        oracles = _load_script(ctx.root, "check_oracles")
        con = duckdb.connect()
        try:
            for t in ("documents", "lineitem", "events"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.sf}/{t}.parquet')")
            problems = []
            for name in self.QUERIES:
                cols, rows = self.results[name]
                sql = REGISTRY[name][1]
                if sql is None:
                    problems += [f"{name}: {p}"
                                 for p in _kll_rank_errors(con, rows, cols)]
                    continue
                want = con.sql(sql)
                if sorted(cols) != sorted(want.columns) or \
                        oracles.value_hash(rows, cols) != oracles.value_hash(
                            want.fetchall(), want.columns):
                    problems.append(f"{name}: differs from its oracle")
            return problems
        finally:
            con.close()


def _kll_rank_errors(con, rows, cols, eps: float = 0.025) -> list[str]:
    """Each per-lang sketch quantile must have a rank within ``eps`` (the
    KLL bound for k=200) of its target.  A value's rank is the interval
    [P(X < v), P(X <= v)], so an exact median that several docs share is
    not an error."""
    idx = {c: i for i, c in enumerate(cols)}
    problems = []
    for r in rows:
        lang = r[idx["lang"]]
        for q, col in ((0.5, "q_50"), (0.95, "q_95")):
            est = r[idx[col]]
            lo, hi = con.execute(
                "SELECT avg(CASE WHEN n_chars < ? THEN 1.0 ELSE 0.0 END), "
                "avg(CASE WHEN n_chars <= ? THEN 1.0 ELSE 0.0 END) "
                "FROM documents WHERE lang = ?", [est, est, lang]).fetchone()
            err = max(lo - q, q - hi, 0.0)
            if err > eps:
                problems.append(f"{lang}/{col}: rank error {err:.4f}")
    return problems


def _load_script(root: str, name: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(root, "scripts", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


WORKLOADS = {"validate": ValidateWorkload, "corpus": CorpusWorkload}
