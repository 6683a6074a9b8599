"""ANN operators: exact baseline vs LSH bucket path."""

from __future__ import annotations

from pyspark.sql import functions as F

from feature_store_test_spark.data import load_table
from feature_store_test_spark.operators.similarity import (
    cosine_topk,
    lsh_ann_topk,
    lsh_bucket,
)


def test_lsh_bucket_deterministic(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    b1 = emb.select("vec_id", lsh_bucket("embedding", 4, 64).alias("b"))
    b2 = emb.select("vec_id", lsh_bucket("embedding", 4, 64).alias("b"))
    assert sorted(map(tuple, b1.collect())) == sorted(map(tuple, b2.collect()))
    n_buckets = b1.select("b").distinct().count()
    assert 2 <= n_buckets <= 16  # 4 planes → at most 16 buckets, spread out


def test_bucket_and_grid_read_a_name_holding_a_dot_and_a_backtick(spark, sf_dir):
    """A column named ``d.emb`x`` is one column, not a struct field, and
    its buckets and grid cells equal those of the same vectors under a
    plain name; a struct ``d`` with field ``emb`x`` beside it is not read.
    The scorers that bucket by that name score the same column:
    ``threshold_pairs_within_buckets`` (direct, grid and arrow paths) and
    ``lsh_ann_topk`` give the plain name's output."""
    from feature_store_test_spark.operators.similarity import (
        _grid_cells,
        threshold_pairs_within_buckets,
    )

    odd = "d.emb`x"
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id",
        "label",
        "embedding",
        F.col("embedding").alias(odd),
        F.struct(F.array(F.lit(-1.0)).alias("emb`x")).alias("d"),
    )

    def pairs(name, **kw):
        got = threshold_pairs_within_buckets(emb, "label", name, "vec_id", 0.25, **kw)
        return sorted(map(tuple, got.collect()))

    for kw in ({}, {"oversize": 1}, {"scorer": "arrow"}):
        plain_pairs = pairs("embedding", **kw)
        assert len(plain_pairs) > 0
        assert pairs(odd, **kw) == plain_pairs, kw

    queries = emb.where(F.col("vec_id") < 20)

    def ann(name):
        return sorted(map(tuple, lsh_ann_topk(emb, queries, vec_col=name).collect()))

    plain_ann = ann("embedding")
    assert len(plain_ann) > 0
    assert ann(odd) == plain_ann

    def out(name):
        df = emb.select(
            "vec_id",
            lsh_bucket(name, 4, 64).alias("b"),
            _grid_cells(name, 0.9, 64).alias("c"),
        )
        return sorted((r.vec_id, r.b, tuple(r.c)) for r in df.collect())

    plain = out("embedding")
    assert len(plain) > 0 and len({b for _, b, _ in plain}) > 1
    assert out(odd) == plain


def test_lsh_ann_is_bucket_restricted_exact(spark, sf_dir):
    """Within a bucket, the LSH result must equal brute force restricted to
    that bucket — approximation comes only from bucket pruning."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.where(F.col("vec_id") < 20)
    ann = lsh_ann_topk(emb, queries, k=5, n_planes=4)
    buckets = emb.select(
        F.col("vec_id").alias("neighbor_id"), lsh_bucket("embedding", 4, 64).alias("b")
    )
    qb = buckets.withColumnRenamed("neighbor_id", "query_id").withColumnRenamed("b", "qb")
    # every reported neighbor shares the query's bucket
    joined = (
        ann.join(buckets, "neighbor_id").join(qb, "query_id")
    )
    assert joined.where(F.col("b") != F.col("qb")).count() == 0
    # ranking within bucket matches the exact operator on the same candidates
    exact = cosine_topk(emb, queries, k=500)  # full ranking
    exact_in_bucket = (
        exact.join(buckets, "neighbor_id")
        .join(qb, "query_id")
        .where(F.col("b") == F.col("qb"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    expected = (
        exact_in_bucket.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= 5)
        .select("query_id", "neighbor_id", F.col("r").alias("rank"), "cos_sim")
    )
    got = sorted(map(tuple, ann.collect()))
    want = sorted(map(tuple, expected.collect()))
    assert got == want


def test_approx_distinct_error_bound(spark, sf_dir):
    from feature_store_test_spark.queries.extended import q37_approx_distinct

    approx = {
        r.c_mktsegment: r.approx_customers
        for r in q37_approx_distinct(spark, sf_dir).collect()
    }
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    exact = {
        r.c_mktsegment: r.n
        for r in o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    for seg, n in exact.items():
        assert abs(approx[seg] - n) / n < 0.05, (seg, approx[seg], n)


def test_multi_probe_improves_recall(spark, sf_dir):
    """probes=1 must produce a superset candidate pool: recall@5 vs the
    exact baseline is >= the single-bucket recall, strictly more scored
    pairs, and still bucket-disciplined."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.where(F.col("vec_id") < 50)
    exact = cosine_topk(emb, queries, k=5)
    single = lsh_ann_topk(emb, queries, k=5, n_planes=4, probes=0)
    multi = lsh_ann_topk(emb, queries, k=5, n_planes=4, probes=1)

    def recall(approx):
        e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
        a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
        return len(e & a) / len(e)

    r_single, r_multi = recall(single), recall(multi)
    assert r_multi >= r_single
    assert multi.count() >= single.count()


def test_ivf_ann_recall_and_cell_discipline(spark, sf_dir):
    """IVF ANN: every neighbor comes from a probed cell, results are
    deterministic across runs, and nprobe=2 recall@5 vs exact is useful
    (>= 0.3 on near-orthogonal random vectors; pruning 14/16 cells)."""
    from feature_store_test_spark.operators.similarity import ivf_ann_topk, ivf_assign

    emb = load_table(spark, "embeddings", sf_dir)
    centroids = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    queries = emb.where(F.col("vec_id") < 20)
    ann = ivf_ann_topk(emb, queries, centroids, k=5, n_probe=2)
    rows = sorted(map(tuple, ann.collect()))
    assert rows == sorted(map(tuple, ivf_ann_topk(emb, queries, centroids, k=5, n_probe=2).collect()))

    # cell discipline: neighbor's cell is one of the query's probed cells
    ca = ivf_assign(emb, centroids, "vec_id", "embedding", 1).select(
        F.col("__id").alias("neighbor_id"), F.col("cid").alias("ncell")
    )
    qa = ivf_assign(queries, centroids, "vec_id", "embedding", 2).select(
        F.col("__id").alias("query_id"), F.col("cid").alias("qcell")
    )
    ok = (
        ann.join(ca, "neighbor_id")
        .join(qa, "query_id")
        .where(F.col("ncell") == F.col("qcell"))
    )
    assert ok.select("query_id", "neighbor_id").distinct().count() == ann.count()

    exact = cosine_topk(emb, queries, k=5)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r[0], r[1]) for r in rows}
    assert len(e & a) / len(e) >= 0.3


def test_ivf_trained_centroids_recall(spark, sf_dir):
    """KMeans-trained IVF: fit is deterministic for a fixed seed, and
    probing 2 of 8 trained cells keeps recall@5 >= 0.4 vs exact — better
    cells than the arbitrary seeded ones because Lloyd iterations place
    centroids where the data is."""
    from feature_store_test_spark.operators.similarity import ivf_ann_topk, ivf_train

    emb = load_table(spark, "embeddings", sf_dir)
    c1 = sorted(map(tuple, ivf_train(emb, n_cells=8, seed=42).collect()))
    c2 = sorted(map(tuple, ivf_train(emb, n_cells=8, seed=42).collect()))
    assert c1 == c2

    cents = ivf_train(emb, n_cells=8, seed=42)
    queries = emb.where(F.col("vec_id") < 20)
    ann = ivf_ann_topk(emb, queries, cents, k=5, n_probe=2)
    a = {(r.query_id, r.neighbor_id) for r in ann.collect()}
    e = {(r.query_id, r.neighbor_id) for r in cosine_topk(emb, queries, k=5).collect()}
    assert len(a & e) / len(e) >= 0.4


def test_pca_ann_recall_beats_floor(spark):
    """PCA(24/64) + 50-candidate rescore must recover >=80% of the exact
    top-5 on the sf0.01 fixture — and be far above the random-candidate
    floor (50/500 = 10%)."""
    from pyspark.sql import functions as F

    from feature_store_test_spark.data import load_table
    from feature_store_test_spark.operators.similarity import (
        cosine_topk,
        pca_ann_topk,
        pca_train,
    )

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.01")
    queries = emb.where(F.col("vec_id") % 10 == 0)
    comp = pca_train(emb, k=24)
    approx = {
        (r.query_id, r.neighbor_id)
        for r in pca_ann_topk(emb, queries, comp, k=5, n_candidates=50).collect()
    }
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.8, recall


def test_pca_projection_is_jvm_side(spark):
    from feature_store_test_spark.data import load_table
    from feature_store_test_spark.operators.similarity import pca_project, pca_train

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    comp = pca_train(emb, k=4)
    plan = (
        pca_project(emb, comp)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in plan


def test_pq_ann_recall_and_determinism(spark, sf_dir):
    """PQ ADC + rescore: recall@5 vs exact must clear the floor the
    PCA path also meets, the result must be identical across two runs
    (KMeans seeds fixed), and every query returns exactly k rows."""
    from feature_store_test_spark.operators.similarity import (
        cosine_topk,
        pq_ann_topk,
        pq_train,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.where(F.col("vec_id") % 10 == 0)
    books = pq_train(emb, m=8, k=16)
    approx = pq_ann_topk(emb, queries, books, k=5, n_candidates=50)
    exact = cosine_topk(emb, queries, k=5)

    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    recall = len(a & e) / len(e)
    assert recall >= 0.4, recall

    again = {
        (r.query_id, r.neighbor_id)
        for r in pq_ann_topk(emb, queries, books, k=5, n_candidates=50).collect()
    }
    assert a == again

    n_q = queries.count()
    assert approx.count() == 5 * n_q
    # self-match: each query's own vector must survive ADC + rescore at rank 1
    top1 = {r.query_id: r.neighbor_id for r in approx.where(F.col("rank") == 1).collect()}
    assert all(q == n for q, n in top1.items())


def test_ivfpq_recall_self_match_and_candidate_discipline(spark, sf_dir):
    """Composed IVF-PQ: recall@5 vs exact clears the IVF-flat floor
    (same nprobe), every query's own vector survives (it is always in a
    probed cell — its top-1 cell), and neighbors come only from probed
    cells."""
    from feature_store_test_spark.operators.similarity import (
        cosine_topk,
        ivf_assign,
        ivf_train,
        ivfpq_ann_topk,
        pq_train,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.where(F.col("vec_id") % 10 == 0)
    cents = ivf_train(emb, n_cells=8)
    books = pq_train(emb, m=8, k=16)
    approx = ivfpq_ann_topk(
        emb, queries, cents, books, k=5, n_probe=2, n_candidates=50
    ).cache()
    exact = cosine_topk(emb, queries, k=5)

    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    assert len(a & e) / len(e) >= 0.4

    top1 = {r.query_id: r.neighbor_id for r in approx.where(F.col("rank") == 1).collect()}
    assert all(q == n for q, n in top1.items())

    # candidate discipline: every returned neighbor shares a probed cell
    ca = ivf_assign(emb, cents, "vec_id", "embedding", 1)
    qa = ivf_assign(queries, cents, "vec_id", "embedding", 2)
    cell_of = {r["__id"]: r["cid"] for r in ca.collect()}
    probed = {}
    for r in qa.collect():
        probed.setdefault(r["__id"], set()).add(r["cid"])
    for q, n in a:
        assert cell_of[n] in probed[q], (q, n)


def test_pq_encode_arrow_matches_expression_path(spark, sf_dir):
    """The mapInPandas PQ encoder (constant plan size, for large m*k) must
    assign the same codes as the expression-tree encoder on the fixture
    embeddings — same normalization, same argmin tie rule."""
    from feature_store_test_spark.operators.similarity import (
        pq_encode,
        pq_encode_arrow,
        pq_train,
    )

    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    books = pq_train(emb, m=8, k=16, seed=7, sample_size=500)
    expr = {r["vec_id"]: list(r["codes"]) for r in pq_encode(emb, books).collect()}
    arrow = {
        r["vec_id"]: list(r["codes"]) for r in pq_encode_arrow(emb, books).collect()
    }
    assert expr == arrow
    # every code is a valid centroid index
    assert all(0 <= c < 16 for codes in arrow.values() for c in codes)


def test_train_memoization(spark, sf_dir):
    """ivf/pq/pca training memoizes per (application id, input plan,
    params): a repeated call with identical inputs returns the cached
    artifact without refitting (registered ANN queries pay training once
    per session), while changed params or a changed input plan miss."""
    from feature_store_test_spark.operators import similarity as S

    emb = load_table(spark, "embeddings", sf_dir)
    S._train_cache.clear()
    b1 = S.pq_train(emb, m=8, k=16, seed=7, sample_size=500)
    n_after_first = len(S._train_cache)
    b2 = S.pq_train(emb, m=8, k=16, seed=7, sample_size=500)
    assert b2 is b1  # cache hit returns the SAME artifact, no refit
    assert len(S._train_cache) == n_after_first
    # changed params -> new fit
    b3 = S.pq_train(emb, m=8, k=16, seed=8, sample_size=500)
    assert b3 is not b1
    # changed input plan -> new fit
    b4 = S.pq_train(emb.where(F.col("vec_id") < 400), m=8, k=16, seed=7, sample_size=500)
    assert b4 is not b1

    c1 = S.pca_train(emb, k=4)
    assert S.pca_train(emb, k=4) is c1

    # ivf_train returns a rebuilt DataFrame, but the fitted rows are cached
    r1 = sorted(map(tuple, S.ivf_train(emb, n_cells=8, seed=42).collect()))
    key_count = len(S._train_cache)
    r2 = sorted(map(tuple, S.ivf_train(emb, n_cells=8, seed=42).collect()))
    assert r1 == r2 and len(S._train_cache) == key_count


def test_cosine_topk_arrow_matches_fold(spark, sf_dir):
    """The GEMM-path brute-force top-k must return the same ranked result
    set as the ordered-fold operator: per-chunk candidate emission keeps
    every row tied at the cutoff, and the 6-dp round absorbs GEMM
    accumulation-order ulps."""
    from feature_store_test_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_arrow,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.where(F.col("vec_id") < 20)
    exact = {tuple(r) for r in cosine_topk(emb, queries, k=5).collect()}
    gemm = {tuple(r) for r in cosine_topk_arrow(emb, queries, k=5).collect()}
    assert gemm == exact
    # tiny-chunk path: per-chunk thresholds + global re-rank still exact
    small = {
        tuple(r)
        for r in cosine_topk_arrow(emb, queries, k=5, chunk_bytes=80_000).collect()
    }
    assert small == exact


def test_cosine_topk_arrow_query_memo_does_not_alias(spark, sf_dir):
    """Round-6 memo boundary: the request-batch collect is memoized on
    (app id, plan semanticHash) — DIFFERENT query batches built in the
    same session must resolve to DIFFERENT matrices (a memo-key slip
    would silently score every batch against the first one's queries)."""
    from feature_store_test_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_arrow,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    qa = emb.where(F.col("vec_id") < 10)
    qb = emb.where((F.col("vec_id") >= 10) & (F.col("vec_id") < 20))
    got_a = {tuple(r) for r in cosine_topk_arrow(emb, qa, k=3).collect()}
    got_b = {tuple(r) for r in cosine_topk_arrow(emb, qb, k=3).collect()}
    assert {r[0] for r in got_a} == set(range(10))
    assert {r[0] for r in got_b} == set(range(10, 20))
    assert got_a == {tuple(r) for r in cosine_topk(emb, qa, k=3).collect()}
    assert got_b == {tuple(r) for r in cosine_topk(emb, qb, k=3).collect()}
    # repeated construction of the SAME batch hits the memo and stays exact
    again = {tuple(r) for r in cosine_topk_arrow(emb, qa, k=3).collect()}
    assert again == got_a


def test_ivf_sampled_fit_recall_and_determinism(spark, sf_dir):
    """The sampled-Lloyd IVF fit (faiss practice: bounded training sample,
    zero extra Spark jobs) must match the ml fit's guarantees: fixed-seed
    determinism and recall@5 >= 0.4 vs exact while probing 2 of 8 cells."""
    from feature_store_test_spark.operators import similarity as S

    emb = load_table(spark, "embeddings", sf_dir)
    S._train_cache.clear()
    c1 = sorted(map(tuple, S.ivf_train(emb, n_cells=8, seed=42, fit="sample").collect()))
    S._train_cache.clear()
    c2 = sorted(map(tuple, S.ivf_train(emb, n_cells=8, seed=42, fit="sample").collect()))
    assert c1 == c2  # determinism across FRESH fits, not just the memo

    # ...and across a DIFFERENT partition layout: collect() returns rows
    # in partition order, and a partition-seeded sample would select
    # different rows — the content-hash selection + lexicographic sort
    # must erase both dependencies.
    S._train_cache.clear()
    c3 = sorted(
        map(
            tuple,
            S.ivf_train(
                emb.repartition(7), n_cells=8, seed=42, fit="sample"
            ).collect(),
        )
    )
    assert c1 == c3

    # the threshold-sampling branch (frac < 1) is layout-independent too
    s1 = S._ivf_fit_sampled(emb, "embedding", 4, 42, 5, sample_size=200)
    s2 = S._ivf_fit_sampled(
        emb.repartition(5), "embedding", 4, 42, 5, sample_size=200
    )
    assert s1 == s2

    cents = S.ivf_train(emb, n_cells=8, seed=42, fit="sample")
    queries = emb.where(F.col("vec_id") < 20)
    ann = S.ivf_ann_topk(emb, queries, cents, k=5, n_probe=2)
    a = {(r.query_id, r.neighbor_id) for r in ann.collect()}
    e = {(r.query_id, r.neighbor_id) for r in S.cosine_topk(emb, queries, k=5).collect()}
    assert len(a & e) / len(e) >= 0.4


def test_threshold_pairs_grid_path_exact_and_subquadratic(spark):
    """Skew-safe bucketed threshold pairs: forcing the oversized-bucket
    ε-grid path (oversize below the bucket size) must return EXACTLY the
    all-pairs result (the grid is complete for cos >= t by
    Cauchy-Schwarz), while evaluating far fewer candidate pairs than
    n²/2 at a SemDeDup-scale threshold."""
    import numpy as np
    from pyspark.sql import types as T

    from feature_store_test_spark.operators import similarity as S

    rng = np.random.default_rng(7)
    # a realistic skewed label: one oversized bucket of 400 vectors in 20
    # semantic clusters (tight near-dup families around separated
    # centers) — the shape SemDeDup labels take in practice
    n, dim, t, gd = 400, 8, 0.98, 3
    centers = rng.normal(size=(20, dim))
    base = np.stack(
        [centers[i % 20] + rng.normal(scale=0.05, size=dim) for i in range(n)]
    )
    schema = T.StructType([
        T.StructField("label", T.IntegerType()),
        T.StructField("rep", T.LongType()),
        T.StructField("vec", T.ArrayType(T.FloatType())),
    ])
    rows = [(0, i, [float(x) for x in base[i]]) for i in range(n)]
    g = spark.createDataFrame(rows, schema)

    grid = S.threshold_pairs_within_buckets(
        g, "label", "vec", "rep", t, oversize=10, dim=dim, grid_dims=gd
    )
    direct = S.threshold_pairs_within_buckets(
        g, "label", "vec", "rep", t, oversize=10_000, dim=dim
    )
    got = sorted((r["ra"], r["rb"], r["cos_sim"]) for r in grid.collect())
    want = sorted((r["ra"], r["rb"], r["cos_sim"]) for r in direct.collect())
    assert got == want and len(want) >= 100  # within-cluster families

    # candidate count the grid join evaluates: pairs adjacent in EVERY
    # grid coordinate — must be far below the all-pairs n(n-1)/2
    cells = [
        tuple(r["c"])
        for r in g.select(S._grid_cells("vec", t, dim, gd).alias("c")).collect()
    ]
    cand = sum(
        1
        for i in range(n)
        for j in range(i + 1, n)
        if all(abs(a - b) <= 1 for a, b in zip(cells[i], cells[j]))
    )
    assert cand < 0.25 * (n * (n - 1) / 2), (cand, n * (n - 1) / 2)
    assert cand >= len(want)  # sanity: candidates cover the output


def test_threshold_pairs_arrow_scorer_matches_fold(spark):
    """The GEMM (applyInPandas) all-pairs scorer must emit the same rows
    and 6-dp values as the fold scorer — on clustered synthetic buckets
    AND on the real embeddings fixture with payload columns riding
    through."""
    import numpy as np
    from pyspark.sql import types as T

    from feature_store_test_spark.data import load_table
    from feature_store_test_spark.operators import similarity as S

    rng = np.random.default_rng(3)
    centers = rng.normal(size=(10, 8))
    rows = [
        (int(i % 3), i, [float(x) for x in centers[i % 10] + rng.normal(scale=0.05, size=8)])
        for i in range(240)
    ]
    schema = T.StructType([
        T.StructField("label", T.IntegerType()),
        T.StructField("rep", T.LongType()),
        T.StructField("vec", T.ArrayType(T.FloatType())),
    ])
    g = spark.createDataFrame(rows, schema)
    fold = S.threshold_pairs_within_buckets(g, "label", "vec", "rep", 0.9, dim=8)
    arrow = S.threshold_pairs_within_buckets(
        g, "label", "vec", "rep", 0.9, dim=8, scorer="arrow"
    )
    f = sorted(map(tuple, fold.collect()))
    a = sorted(map(tuple, arrow.collect()))
    assert f == a and len(f) > 50

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    ge = emb.groupBy("label", "embedding").agg(
        F.min("vec_id").alias("__rep"),
        F.array_sort(F.collect_set("vec_id")).alias("__ids"),
    )
    for sc in ("fold", "arrow"):
        got = S.threshold_pairs_within_buckets(
            ge, "label", "embedding", "__rep", 0.25, keep_cols=("__ids",), scorer=sc
        )
        rows_sc = sorted(
            (r["ra"], r["rb"], r["cos_sim"], tuple(r["__ids_a"]), tuple(r["__ids_b"]))
            for r in got.collect()
        )
        if sc == "fold":
            want = rows_sc
        else:
            assert rows_sc == want and len(want) > 0
