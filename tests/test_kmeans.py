"""K-Means vs the independent Python oracle (SURVEY.md §5.2 item 3):
same seed => identical assignments, centroids (10dp), SSE per iteration,
iteration count, and convergence flag; empty-cluster shrink semantics."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from skripsi_mapreduce_spark.operators import kmeans as km
from skripsi_mapreduce_spark.operators.kmeans import init_centroid_ids, kmeans
from skripsi_mapreduce_spark.operators.tfidf import tfidf_long

from .oracles import kmeans_oracle, tfidf_oracle

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


@pytest.fixture(scope="module")
def corpus():
    """3 obvious clusters (animals / code / food) + noise, ids 1..N."""
    texts = {
        1: "cat dog cat hamster pet fur",
        2: "dog cat kennel fur pet paw",
        3: "cat paw fur pet dog whisker",
        4: "python java code compiler bug",
        5: "code bug python debugger java stack",
        6: "java stack code compiler python",
        7: "pizza pasta cheese tomato basil",
        8: "cheese pizza oven tomato crust",
        9: "pasta tomato basil cheese olive",
        10: "dog pizza python",
    }
    return texts


@pytest.fixture(scope="module")
def features(spark, corpus):
    df = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    return tfidf_long(df, stopwords=STOPWORDS)


def test_init_is_seeded_and_in_range(corpus):
    ids = init_centroid_ids(len(corpus), 3, seed=42)
    assert ids == init_centroid_ids(len(corpus), 3, seed=42)
    assert all(1 <= d <= len(corpus) for d in ids)
    assert sorted(ids.values()) == [0, 1, 2]


def test_kmeans_matches_oracle(spark, corpus, features):
    res = kmeans(spark, features, k=3, max_iter=10, seed=42)
    feats_py = {}
    expect_w = tfidf_oracle(corpus, stopwords=STOPWORDS)
    for (d, w), v in expect_w.items():
        feats_py.setdefault(d, {})[w] = v
    a_exp, c_exp, sse_exp, it_exp, conv_exp = kmeans_oracle(feats_py, k=3, max_iter=10, seed=42)

    got_assign = {r["doc_id"]: r["cluster"] for r in res.assignments.collect()}
    assert got_assign == a_exp
    assert res.iterations == it_exp
    assert res.converged == conv_exp
    assert set(res.centroids) == set(c_exp)
    for c in c_exp:
        assert set(res.centroids[c]) == set(c_exp[c])
        for w in c_exp[c]:
            assert res.centroids[c][w] == pytest.approx(c_exp[c][w], abs=2e-10), (c, w)
    assert set(res.sse) == set(sse_exp)
    for c in sse_exp:
        assert res.sse[c] == pytest.approx(sse_exp[c], rel=1e-9)


def test_kmeans_parity_iteration_cap(spark, features):
    """max_iter=m reproduces the reference's at-most-(m-1) loop (§8 Q4)."""
    res = kmeans(spark, features, k=3, max_iter=2, seed=42)
    assert res.iterations <= 1
    res_honest = kmeans(spark, features, k=3, max_iter=2, seed=42,
                        parity_max_iter_off_by_one=False)
    assert res_honest.iterations <= 2


def test_kmeans_empty_cluster_shrinks(spark):
    """Two far groups, k=3 with a seed that lands two centroids in one
    group: a cluster may end up empty and must vanish (k shrinks), not
    crash (§2.3)."""
    rows = [(i, "alpha beta gamma") for i in range(1, 5)] + [
        (i, "delta epsilon zeta") for i in range(5, 9)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    feats = tfidf_long(df)
    res = kmeans(spark, feats, k=3, max_iter=6, seed=1)
    assert len(res.centroids) <= 3
    clusters_used = {r["cluster"] for r in res.assignments.collect()}
    assert set(res.centroids) >= clusters_used


def test_kmeans_centroid_bound_enforced(spark, corpus, features):
    """The driver-side centroid materialization refuses to collect more
    than max_centroid_entries rows and names the distributed escape
    hatches in the error."""
    with pytest.raises(RuntimeError, match="kmeans_ml|kmeans_fixedpoint"):
        kmeans(spark, features, k=3, max_iter=3, seed=42, max_centroid_entries=2)


def _rows(res):
    """(doc_id, cluster, dist2 bits) of a result's assignments."""
    return sorted(
        (r["doc_id"], r["cluster"], r["dist2"].hex()) for r in res.assignments.collect()
    )


def _both_paths(spark, monkeypatch, feats, **kw):
    """kmeans() on the literal-centroid path and, with the literal cap at
    0, on the broadcast-join path; asserts the two give the same result."""
    lit = kmeans(spark, feats, **kw)
    with monkeypatch.context() as m:
        m.setattr(km, "CENTROID_LITERAL_CAP", 0)
        join = kmeans(spark, feats, **kw)
    assert _rows(lit) == _rows(join)
    assert lit.centroids == join.centroids
    assert lit.sse == join.sse
    assert (lit.iterations, lit.converged) == (join.iterations, join.converged)
    return lit


def _check_oracle(res, vecs, k, max_iter, seed):
    """Assignments exact, centroids to 10dp, SSE to rel 1e-9 against the
    Python oracle, which draws its seeds over the rank of the doc ids."""
    ids = sorted(vecs)
    a_exp, c_exp, sse_exp, it_exp, conv_exp = kmeans_oracle(
        {p: vecs[d] for p, d in enumerate(ids, 1)}, k, max_iter, seed
    )
    got = {r["doc_id"]: r["cluster"] for r in res.assignments.collect()}
    assert got == {ids[p - 1]: c for p, c in a_exp.items()}
    assert (res.iterations, res.converged) == (it_exp, conv_exp)
    assert {c: set(v) for c, v in res.centroids.items()} == {
        c: set(v) for c, v in c_exp.items()
    }
    for c, vec in c_exp.items():
        for w, v in vec.items():
            assert res.centroids[c][w] == pytest.approx(v, abs=2e-10), (c, w)
    assert set(res.sse) == set(sse_exp)
    for c, v in sse_exp.items():
        assert res.sse[c] == pytest.approx(v, rel=1e-9, abs=1e-12)


def _long_form(spark, vecs):
    rows = [(d, w, float(v)) for d, vec in vecs.items() for w, v in vec.items()]
    return spark.createDataFrame(rows, "doc_id long, word string, weight double")


def test_kmeans_assign_paths_agree(spark, monkeypatch, features):
    """The literal-centroid and broadcast-join assign paths give identical
    (doc_id, cluster, dist2) rows, centroids, SSE and iteration count."""
    res = _both_paths(spark, monkeypatch, features, k=3, max_iter=10, seed=42)
    assert res.iterations > 1


def test_kmeans_exact_tie_goes_to_lowest_cluster(spark, monkeypatch):
    """Doc 3 sits at distance exactly 1.0 from both seed centroids: the
    lower cluster index wins, on both assign paths."""
    vecs = {1: {"a": 1.0}, 2: {"b": 1.0}, 3: {"a": 1.0, "b": 1.0}}
    seed = next(s for s in range(100) if set(init_centroid_ids(3, 2, s)) == {1, 2})
    res = _both_paths(spark, monkeypatch, _long_form(spark, vecs), k=2, max_iter=2, seed=seed)
    _check_oracle(res, vecs, 2, 2, seed)
    seeds = init_centroid_ids(3, 2, seed)
    assert (3, min(seeds.values()), (1.0).hex()) in _rows(res)


def test_kmeans_tied_seeds_empty_cluster_vanishes(spark, monkeypatch):
    """Two seeds with identical vectors: every member ties between them,
    the lower cluster takes them all, and the other vanishes from the
    centroids and the SSE."""
    vecs = {d: {"a": 1.0} for d in range(1, 5)} | {5: {"b": 2.0}, 6: {"b": 2.0, "c": 0.5}}
    seed = next(
        s for s in range(100) if len(set(init_centroid_ids(6, 3, s)) & {1, 2, 3, 4}) == 2
    )
    res = _both_paths(spark, monkeypatch, _long_form(spark, vecs), k=3, max_iter=6, seed=seed)
    _check_oracle(res, vecs, 3, 6, seed)
    tied = sorted(c for d, c in init_centroid_ids(6, 3, seed).items() if d <= 4)
    assert set(res.centroids) == set(res.sse) == {0, 1, 2} - {tied[1]}
    assert {r["cluster"] for r in res.assignments.collect()} == set(res.centroids)


def test_kmeans_adversarial_words_and_sparse_ids(spark, monkeypatch):
    """Quotes, backslashes, control and non-ASCII characters (BMP and
    astral) survive the centroid literal, on sparse and negative ids."""
    words = ["it's", 'say "hi"', "back\\slash", '\\"', "tab\tx", "", "null", "café", "日本語", "😀"]
    vecs = {}
    for i, d in enumerate([-7, 3, 100, 205, 999, 1307, 2**40, 2**40 + 9]):
        vecs[d] = {words[(i * j + j) % len(words)]: 0.1 * (i + 1) + j for j in range(1, 4)}
    res = _both_paths(spark, monkeypatch, _long_form(spark, vecs), k=3, max_iter=5, seed=7)
    _check_oracle(res, vecs, 3, 5, 7)
    assert set().union(*res.centroids.values()) <= set(words)


def test_kmeans_integer_words(spark):
    """Non-string words, which the JSON centroid literal cannot key, take
    the join path and give the same rows as their string spellings."""
    rows = [(1, 1, 1.0), (2, 2, 1.0), (3, 1, 1.0), (3, 2, 1.0), (4, 2, 0.5), (5, 3, 2.0)]
    ints = spark.createDataFrame(rows, "doc_id long, word int, weight double")
    strs = spark.createDataFrame(
        [(d, str(w), v) for d, w, v in rows], "doc_id long, word string, weight double"
    )
    a = kmeans(spark, ints, k=2, max_iter=4, seed=1)
    b = kmeans(spark, strs, k=2, max_iter=4, seed=1)
    assert _rows(a) == _rows(b)
    assert {c: {str(w): v for w, v in vec.items()} for c, vec in a.centroids.items()} == b.centroids


def test_kmeans_job_ceiling(spark, features):
    """Job budget: a fixed init cost plus one aggregation per Lloyd step
    (its shuffle-map job and the bounded collect). The features are
    materialized first so their own TF-IDF jobs stay out of the count.
    Measured init: the docs_vec checkpoint (2 jobs), the id statistics (2)
    and the seed-centroid collect (1). A ceiling that may only tighten."""
    init_jobs = 5
    feats = features.localCheckpoint(eager=True)
    sc = spark.sparkContext
    group = f"kmeans-job-ceiling-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "kmeans job ceiling")
    try:
        res = kmeans(spark, feats, k=3, max_iter=10, seed=42)
    finally:
        sc._jsc.clearJobGroup()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert res.iterations > 1
    assert jobs <= init_jobs + 2 * res.iterations, (jobs, res.iterations)


def test_kmeans_fixedpoint_signed_features(spark):
    """Dense signed features (embedding-style long form): negative
    centroid weights must survive the centroid zero-drop (!= 0, not > 0)
    and the rounded-mean DIV must truncate toward zero exactly like the
    DuckDB oracle's // — pinned here against a Python twin of the same
    integer rules."""
    import hashlib

    from skripsi_mapreduce_spark.operators.kmeans import kmeans_fixedpoint

    rows = []
    vecs = {
        1: [-10000, 5000, -2],
        2: [-9000, 4000, 1],
        3: [9500, -4500, 3],
        4: [10000, -5000, -1],
        5: [-9800, 4900, 0],
        6: [9900, -4900, 2],
    }
    for did, v in vecs.items():
        for d, x in enumerate(v):
            rows.append((did, d, x))
    w = spark.createDataFrame(rows, "doc_id long, word int, w_e4 long")
    got = {
        r["cluster"]: (r["n_members"], r["sse_e8"])
        for r in kmeans_fixedpoint(w, k=2, n_assign_passes=2, weight_col="w_e4").collect()
    }

    # ---- python twin (identical integer rules) ----
    def trunc_div(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    seeds = sorted(vecs, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:2]
    cent = {c: dict(enumerate(vecs[i])) for c, i in enumerate(seeds)}

    def dist2(v, cw):
        keys = set(range(len(v))) | set(cw)
        return sum((v[d] - cw.get(d, 0)) ** 2 for d in keys)

    assign = {}
    for p in range(2):
        assign = {
            i: min(cent, key=lambda c: (dist2(v, cent[c]), c)) for i, v in vecs.items()
        }
        if p == 1:
            break
        new = {}
        for c in cent:
            members = [vecs[i] for i in assign if assign[i] == c]
            n = len(members)
            cw = {}
            for d in range(3):
                s = sum(m[d] for m in members)
                val = trunc_div(2 * s + n, 2 * n)
                if val != 0:
                    cw[d] = val
            new[c] = cw
        cent = new
    want = {}
    for c in cent:
        members = [i for i in assign if assign[i] == c]
        want[c] = (len(members), sum(dist2(vecs[i], cent[c]) for i in members))
    assert got == want, f"spark={got} python={want}"
    # the corpus has two clean signed clusters; a >0 zero-drop would
    # discard the negative centroid coordinates and merge them
    assert sorted(n for n, _ in got.values()) == [3, 3]


def test_fixedpoint_pivot_kernel_bit_equal_to_join(spark):
    """The pivot assignment kernel (one doc-keyed pivot + expression
    argmin) must reproduce the (doc, cluster)-join form bit-for-bit —
    summary AND assignments surfaces."""
    from skripsi_mapreduce_spark.operators.kmeans import kmeans_fixedpoint
    from skripsi_mapreduce_spark.plans.extensions import _tfidf_weight_e4

    from .conftest import SF_DIR

    w = _tfidf_weight_e4(spark, SF_DIR)
    for out in ("summary", "assignments"):
        a = sorted(
            tuple(r)
            for r in kmeans_fixedpoint(
                w, k=5, n_assign_passes=2, weight_col="weight_e4",
                output=out, assign_kernel="pivot",
            ).collect()
        )
        b = sorted(
            tuple(r)
            for r in kmeans_fixedpoint(
                w, k=5, n_assign_passes=2, weight_col="weight_e4",
                output=out, assign_kernel="join",
            ).collect()
        )
        assert a == b and len(a) > 0


def test_ivf_model_distributed_tier_bit_equal_to_fused(spark):
    """The frozen-model kernel ladder (round-7): past the fused closure
    bound, kmeans_fixedpoint_ivf_model returns a DISTRIBUTED model
    (centroid/cmap DataFrames + the bounded c×d coarse rows) and
    assign_with_model routes through numpy probes + the join-scoring
    tier. At a size BOTH tiers can run, training assignments AND
    batch quantization must be bit-identical across the boundary
    (max_fused_cells=0 forces the distributed tier)."""
    from pyspark.sql import functions as F

    from skripsi_mapreduce_spark.functions.numeric import e_int
    from skripsi_mapreduce_spark.operators.kmeans import (
        assign_with_model,
        kmeans_fixedpoint_ivf_model,
    )

    from .conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0).limit(40)

    def longform(df):
        return df.select(
            F.col("vec_id").alias("doc_id"),
            F.posexplode("embedding").alias("word", "x"),
        ).select("doc_id", "word", e_int(F.col("x").cast("double"), 4).alias("x_e4"))

    def dense(df):
        return df.select(
            F.col("vec_id").cast("long").alias("doc_id"),
            F.col("embedding").alias("vec"),
        )

    a_f, m_f = kmeans_fixedpoint_ivf_model(
        longform(corpus), 12, weight_col="x_e4", dense=dense(corpus)
    )
    a_d, m_d = kmeans_fixedpoint_ivf_model(
        longform(corpus), 12, weight_col="x_e4", dense=dense(corpus),
        max_fused_cells=0,  # 12×64 cells > 0: forces the large-k tier
    )
    assert (m_f["kind"], m_d["kind"]) == ("fused", "distributed")
    assert sorted(map(tuple, a_f.collect())) == sorted(map(tuple, a_d.collect()))
    bf = sorted(map(tuple, assign_with_model(dense(batch), m_f).collect()))
    bd = sorted(map(tuple, assign_with_model(dense(batch), m_d).collect()))
    assert bf == bd and len(bf) == 40


def test_assignments_lazy_equals_eager(spark):
    """output='assignments_lazy' must return the identical (doc_id,
    cluster, dist2) table as output='assignments' — the only difference
    is WHEN the Lloyd chain materializes (no dedicated checkpoint job
    for single-consumer chains)."""
    from skripsi_mapreduce_spark.functions.numeric import e_int
    from skripsi_mapreduce_spark.io import load_table
    from skripsi_mapreduce_spark.operators.kmeans import kmeans_fixedpoint

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    w = emb.limit(200).select(
        emb.vec_id.alias("doc_id"),
        F.posexplode("embedding").alias("word", "x"),
    ).select("doc_id", "word", e_int(F.col("x").cast("double"), 4).alias("w_e4"))
    eager = kmeans_fixedpoint(w, k=3, n_assign_passes=2, output="assignments")
    lazy = kmeans_fixedpoint(w, k=3, n_assign_passes=2, output="assignments_lazy")
    assert sorted(map(tuple, eager.collect())) == sorted(map(tuple, lazy.collect()))


def test_kmeans_fixedpoint_releases_weights_cache(spark):
    """Round-10 (round-9 verdict item): persist_weights=True must leave
    NO net DataFrame cache behind on the summary and assignments
    outputs — both materialize eagerly, so the weights cache's last
    consumer is known and it unpersists before returning. Only
    assignments_lazy (whose point is deferring the chain into the
    consumer's first action) keeps its session cache, as documented.
    CacheManager is the right probe: DataFrame.persist registers there,
    RDD-level localCheckpoints do not."""
    from skripsi_mapreduce_spark.operators.kmeans import kmeans_fixedpoint

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cm.isEmpty()
    rows = [(d, w, (d * 7 + w * 13) % 997 + 1) for d in range(40) for w in range(6)]
    w = spark.createDataFrame(rows, "doc_id long, word int, w_e4 long")

    out = kmeans_fixedpoint(w, k=3, n_assign_passes=2, weight_col="w_e4")
    assert cm.isEmpty(), "summary output leaked the weights cache"
    assert out.count() == 3

    a = kmeans_fixedpoint(
        w, k=3, n_assign_passes=2, weight_col="w_e4", output="assignments"
    )
    assert cm.isEmpty(), "assignments output leaked the weights cache"
    assert a.count() == 40

    lazy = kmeans_fixedpoint(
        w, k=3, n_assign_passes=2, weight_col="w_e4", output="assignments_lazy"
    )
    assert lazy.count() == 40
    assert not cm.isEmpty(), "assignments_lazy is DOCUMENTED to keep its cache"
    spark.catalog.clearCache()


def test_cluster_keywords_entry_releases_cache(spark):
    """The ta_cluster_keywords entry persists the TF-IDF long form for
    its two consumers (the kmeans chain and the labeling join) and must
    release that cache before returning (round-9 verdict leak)."""
    from skripsi_mapreduce_spark.plans import QUERIES

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    out = QUERIES["ta_cluster_keywords"](spark, "/root/testdata/sf0.001")
    assert cm.isEmpty(), "ta_cluster_keywords leaked its weights cache"
    assert out.count() > 0


def test_kmeans_fixedpoint_releases_cache_on_failing_checkpoint(spark, monkeypatch):
    """Round-11 (round-10 verdict #3): the unpersist must fire even when
    the eager materializing checkpoint THROWS (executor loss, OOM) —
    try/finally, not straight-line code. Injects the failure by patching
    DataFrame.localCheckpoint to raise on eager=True (the lazy per-pass
    lineage cuts keep working), then asserts the CacheManager is empty
    after the exception propagates — for both eager outputs."""
    from skripsi_mapreduce_spark.operators.kmeans import kmeans_fixedpoint

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cm.isEmpty()
    rows = [(d, w, (d * 7 + w * 13) % 997 + 1) for d in range(40) for w in range(6)]
    wdf = spark.createDataFrame(rows, "doc_id long, word int, w_e4 long")

    # patch the CONCRETE class (Spark 4: pyspark.sql.classic.dataframe
    # overrides the base method, so patching pyspark.sql.DataFrame is a
    # no-op on real instances)
    cls = type(wdf)
    orig = cls.localCheckpoint

    def boom(self, eager=True):
        if eager:
            raise RuntimeError("injected materialization failure")
        return orig(self, eager=eager)

    monkeypatch.setattr(cls, "localCheckpoint", boom)
    for output in ("summary", "assignments"):
        with pytest.raises(RuntimeError, match="injected"):
            kmeans_fixedpoint(
                wdf, k=3, n_assign_passes=2, weight_col="w_e4", output=output
            )
        assert cm.isEmpty(), f"{output}: failing checkpoint leaked the weights cache"
