"""The benchmark workloads: inputs, the timed run, and the oracle check.

A workload's ``run`` is one closed-loop operation sequence: it starts at
the first engine call and ends when the last output is written. Each
returns the operations it performed as ``(name, latency_s, result)``;
``check`` compares one result with the oracle outside the timed window.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import math
import os
import sys
import time
import traceback
from contextlib import contextmanager

import duckdb
from pyspark.sql import functions as F

from skripsi_mapreduce_spark import plans
from skripsi_mapreduce_spark.cli import _read_wordlist
from skripsi_mapreduce_spark.io import write_parquet
from skripsi_mapreduce_spark.operators import components
from skripsi_mapreduce_spark.operators import dedup as dd
from skripsi_mapreduce_spark.operators.etl import extract_transform
from skripsi_mapreduce_spark.operators.kmeans import kmeans
from skripsi_mapreduce_spark.operators.tfidf import tfidf_long
from skripsi_mapreduce_spark.plans import ORACLE, QUERIES
from tests.conftest import canon_result
from tests.oracles import kmeans_oracle, tfidf_oracle, tokenize

from . import gen


class PaperPipeline:
    """The reference's own job: CLI stages 1 -> 2 -> 3 (ETL, TF-IDF,
    K-Means with k=8 and m=10), each stage writing parquet."""

    name = "paper_pipeline"
    item = "reviews"
    size = items = 3000
    k, m, kmeans_seed = 8, 10, 42

    def prepare(self, seed: int, out: str, size: int) -> dict:
        return gen.write_reviews(size, seed, out)

    def expected(self, inp: dict) -> dict:
        """Python ETL, then the tfidf and kmeans oracles of the test suite."""
        stop = _read_wordlist(inp["stopwords"])
        vocab = _read_wordlist(inp["adjectives"])
        rows = []
        with open(inp["reviews"], encoding="utf-8") as f:
            for line in f:
                if "review/text" in line or not line.strip():
                    continue
                r = json.loads(line)
                if any(r.get(c) is None for c in gen.REQUIRED):
                    continue
                tiebreak = hashlib.md5(r["reviewText"].encode()).hexdigest()
                rows.append((r["asin"], r["reviewerID"], tiebreak, r["reviewText"]))
        rows.sort()
        docs = {
            i: " ".join(tokenize(text, stop, vocab))
            for i, (*_, text) in enumerate(rows, 1)
        }
        feats: dict[int, dict[str, float]] = {}
        for (d, w), v in tfidf_oracle(docs).items():
            feats.setdefault(d, {})[w] = v
        # the engine draws its initial centroids over the rank of the doc
        # ids that have features; the oracle draws over 1..n
        ids = sorted(feats)
        assign, _, sse, iters, _ = kmeans_oracle(
            {p: feats[d] for p, d in enumerate(ids, 1)}, self.k, self.m, self.kmeans_seed
        )
        return {
            "assignments": {ids[p - 1]: c for p, c in assign.items()},
            "iterations": iters,
            "sse": sse,
        }

    def run(self, spark, tr, inp: dict, out: str) -> list:
        t0 = time.perf_counter()
        stop = _read_wordlist(inp["stopwords"])
        vocab = _read_wordlist(inp["adjectives"])
        with tr.span("etl", "extract_transform"):
            review_book, n = extract_transform(spark, inp["reviews"], stop, vocab)
        with tr.span("io", "write_parquet"):
            write_parquet(review_book, os.path.join(out, "review_book"))
        rb = spark.read.parquet(os.path.join(out, "review_book"))
        docs = rb.select(
            F.col("id").cast("long").alias("doc_id"),
            F.array_join("adjectiveWord", " ").alias("text"),
        )
        with tr.span("tfidf", "tfidf_long"):
            write_parquet(tfidf_long(docs, n_docs=n), os.path.join(out, "features"))
        with tr.span("kmeans", "kmeans") as attrs:
            feats = spark.read.parquet(os.path.join(out, "features"))
            res = kmeans(spark, feats, k=self.k, max_iter=self.m, seed=self.kmeans_seed)
            attrs["iterations"] = res.iterations
        with tr.span("io", "write_parquet"):
            write_parquet(res.assignments, os.path.join(out, "clusters"))
        return [("pipeline", time.perf_counter() - t0, (out, res.iterations, res.sse))]

    def check(self, spark, op: str, result, expected: dict) -> bool:
        out, iterations, sse = result
        got = {
            r["doc_id"]: r["cluster"]
            for r in spark.read.parquet(os.path.join(out, "clusters")).collect()
        }
        return (
            got == expected["assignments"]
            and iterations == expected["iterations"]
            and set(sse) == set(expected["sse"])
            and all(
                math.isclose(sse[c], expected["sse"][c], rel_tol=1e-9, abs_tol=1e-12)
                for c in sse
            )
        )


def _duckdb_rows(tables: dict[str, str], sql: str) -> tuple[list[str], list[tuple]]:
    con = duckdb.connect()
    try:
        for t, path in tables.items():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        res = con.execute(sql)
        cols = [c[0].lower() for c in res.description]
        return cols, [tuple(r) for r in res.fetchall()]
    finally:
        con.close()


# io's public functions that the plan modules bind at import time
IO_NAMES = ("load_table", "table_row_count", "table_column_max")


@contextmanager
def _layer_spans(tr, out: str):
    """While tracing, route the registry's calls into the io, dedup and
    components layers through spans of their own. An io span covers the
    table open (the parquet schema read, footer statistics); the scan's
    tasks run in the query's action. dedup and components outputs are
    lazy, so each of their spans also writes its output and hands the
    re-read table on: the layer's work then runs inside its own span."""
    if not tr.enabled:
        yield
        return
    written = itertools.count()

    def materialized(fn, layer):
        def call(*args, **kwargs):
            with tr.span(layer, fn.__name__):
                df = fn(*args, **kwargs)
                path = os.path.join(out, f"{fn.__name__}-{next(written)}")
                write_parquet(df, path)
            return df.sparkSession.read.parquet(path)

        return call

    def spanned(fn, layer):
        def call(*args, **kwargs):
            with tr.span(layer, fn.__name__):
                return fn(*args, **kwargs)

        return call

    targets = [
        (dd, "minhash_dup_edges", materialized, "dedup"),
        (dd, "minhash_near_dups_against", materialized, "dedup"),
        (components, "connected_components", materialized, "components"),
    ]
    plan_modules = [
        mod for name, mod in list(sys.modules.items())
        if name.startswith(f"{plans.__name__}.")
    ]
    targets += [
        (mod, name, spanned, "io")
        for mod in plan_modules
        for name in IO_NAMES
        if hasattr(mod, name)
    ]
    originals = [(mod, name, getattr(mod, name)) for mod, name, _, _ in targets]
    for mod, name, wrap, layer in targets:
        setattr(mod, name, wrap(getattr(mod, name), layer))
    try:
        yield
    finally:
        for mod, name, fn in originals:
            setattr(mod, name, fn)


class DeclaredQueries:
    """Declared registry entries over one generated catalog: relational
    queries on TPC-H-like tables plus ``events``, and the two corpus-dedup
    entries on a Zipf corpus -- ``dedup_group_keep`` (MinHash self-join,
    then connected components) and ``dedup_incremental`` (a batch vetted
    against a settled corpus). Every entry is planned and materialized once
    per pass and checked against the registry's DuckDB oracle SQL."""

    name = "declared_queries"
    item = "queries"
    size = 0.01  # TPC-H scale factor; the corpus has 100_000 * size documents
    QUERY_NAMES = (
        "q01_scan_project", "q03_tpch_q1", "q07_tpch_q5", "q15_window_rank",
        "q28_sessionization", "q49_recursive_cte", "dedup_group_keep",
        "dedup_incremental",
    )
    items = len(QUERY_NAMES)
    TABLES = (
        "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
        "events", "documents",
    )

    def prepare(self, seed: int, out: str, size: float) -> dict:
        gen.write_tables(size, seed, out)
        gen.write_documents(int(100_000 * size), seed, out)
        return {"dir": out}

    def expected(self, inp: dict) -> dict:
        tables = {t: os.path.join(inp["dir"], f"{t}.parquet") for t in self.TABLES}
        return {q: canon_result(*_duckdb_rows(tables, ORACLE[q])) for q in self.QUERY_NAMES}

    def run(self, spark, tr, inp: dict, out: str) -> list:
        ops = []
        with _layer_spans(tr, out):
            for q in self.QUERY_NAMES:
                t0 = time.perf_counter()
                try:
                    with tr.span("plans", q) as attrs:
                        df = QUERIES[q](spark, inp["dir"])
                        t1 = time.perf_counter()
                        rows = [tuple(r) for r in df.collect()]
                        t2 = time.perf_counter()
                        attrs["build_s"], attrs["action_s"] = t1 - t0, t2 - t1
                    ops.append((q, t2 - t0, ([c.lower() for c in df.columns], rows)))
                except Exception:  # noqa: BLE001  (a failed query is a failed operation)
                    traceback.print_exc()
                    ops.append((q, time.perf_counter() - t0, None))
        return ops

    def check(self, spark, op: str, result, expected) -> bool:
        return canon_result(*result) == expected[op]


WORKLOADS = {w.name: w for w in (PaperPipeline(), DeclaredQueries())}
