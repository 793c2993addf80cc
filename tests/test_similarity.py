"""Similarity operator tests: exact vs BLAS parity, top-k semantics, IVF recall."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from memory_opensource_spark.operators import similarity


@pytest.fixture(scope="module")
def vec_df(spark):
    rng = np.random.default_rng(7)
    mat = rng.normal(size=(40, 8))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in mat[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "id int, embedding array<double>")
    return df, mat


def test_topk_matches_numpy(vec_df):
    df, mat = vec_df
    q = mat[0]
    out = similarity.topk_search(
        df.filter(F.col("id") != 0), list(q), 5,
        vec_col="embedding", id_col="id", score_threshold=None,
    ).collect()
    scores = mat @ q
    scores[0] = -np.inf
    expect = np.argsort(-scores, kind="stable")[:5]
    assert [r.id for r in out] == [int(i) for i in expect]
    for r in out:
        assert abs(r.score - scores[r.id]) < 1e-9


def test_blas_join_matches_expression_join(vec_df):
    df, _ = vec_df
    exact = similarity.cosine_join(df, df, 0.3, left_id="id", right_id="id")
    blas = similarity.cosine_join_blas(df, df, 0.3, left_id="id", right_id="id")
    e = {(r.left_id, r.right_id): r.score for r in exact.collect()}
    b = {(r.left_id, r.right_id): r.score for r in blas.collect()}
    assert set(e) == set(b)
    for k in e:
        assert abs(e[k] - b[k]) < 1e-9


def test_blas_knn_matches_window_knn(vec_df):
    df, _ = vec_df
    left = df.filter(F.col("id") < 10)
    w = similarity.knn_join(left, df, 3, left_id="id", right_id="id").collect()
    b = similarity.knn_join_blas(left, df, 3, left_id="id", right_id="id").collect()
    wset = {(r.left_id, r.rank): r.right_id for r in w}
    bset = {(r.left_id, r.rank): r.right_id for r in b}
    assert wset == bset


def test_score_threshold_filter(vec_df):
    df, mat = vec_df
    q = mat[0]
    out = similarity.topk_search(
        df, list(q), 40, vec_col="embedding", id_col="id", score_threshold=0.15
    ).collect()
    assert all(r.score >= 0.15 for r in out)
    assert any(r.id == 0 for r in out)  # self-match at 1.0 passes


def test_lsh_approx_join_recall(vec_df):
    df, _ = vec_df
    exact = similarity.cosine_join(df, df, 0.3, left_id="id", right_id="id")
    approx = similarity.lsh_approx_join(df, df, 0.3, left_id="id", right_id="id",
                                        bucket_length=2.0, num_hash_tables=6)
    e = {(r.left_id, r.right_id) for r in exact.collect()}
    a = {(r.left_id, r.right_id) for r in approx.collect()}
    assert a <= e or not e  # no false positives after exact refine
    if e:
        recall = len(a & e) / len(e)
        assert recall >= 0.8, f"LSH recall too low: {recall}"


def test_ivf_assign_and_probe(vec_df):
    df, mat = vec_df
    centroids = [list(mat[i]) for i in range(4)]
    bucketed = similarity.ivf_assign(df, centroids)
    rows = bucketed.collect()
    for r in rows:
        sims = [float(np.dot(np.array(r.embedding), np.array(c))) for c in centroids]
        assert r.ivf_bucket == int(np.argmax(sims))
    # probing all buckets == exact search
    out = similarity.ivf_topk_search(df, list(mat[0]), 5, centroids, nprobe=4,
                                     vec_col="embedding", id_col="id")
    exact = similarity.topk_search(df, list(mat[0]), 5, vec_col="embedding",
                                  id_col="id", score_threshold=None)
    assert [r.id for r in out.collect()] == [r.id for r in exact.collect()]


def test_ivf_topk_probe_ties_break_to_the_lowest_bucket(spark):
    """Tied centroids probe the lowest bucket, as assignment and the
    ann_ivf_topk oracle (ORDER BY score DESC, cid ASC) break ties: the rows
    sit in bucket 0, and an unstable argsort probed an empty bucket."""
    df = spark.createDataFrame([(i, [1.0, i / 10]) for i in range(5)],
                               "id int, embedding array<double>")
    out = similarity.ivf_topk_search(df, [1.0, 0.0], 3, [[1.0, 0.0]] * 100,
                                     nprobe=1, id_col="id")
    assert [r.id for r in out.collect()] == [0, 1, 2]


def test_grid_sweep_bit_identical_to_blas(vec_df):
    """grid_near_duplicates (no driver collect) must reproduce the broadcast
    sweep exactly — every pair, same scores, left < right orientation."""
    df, _ = vec_df
    from memory_opensource_spark.operators import dedup

    blas = dedup.embedding_near_duplicates(df, id_col="id", threshold=0.3)
    grid = similarity.grid_near_duplicates(df, 0.3, id_col="id", n_blocks=4)
    b = {(r.left_id, r.right_id): r.score for r in blas.collect()}
    g = {(r.left_id, r.right_id): r.score for r in grid.collect()}
    assert set(b) == set(g) and len(b) > 0
    for k in b:
        assert abs(b[k] - g[k]) < 1e-12
    assert all(l < r for l, r in g)


def test_grid_knn_matches_blas_knn(vec_df):
    df, _ = vec_df
    blas = similarity.knn_join_blas(df, df, 3, left_id="id", right_id="id")
    grid = similarity.grid_knn_join(df, df, 3, left_id="id", right_id="id", n_blocks=4)
    b = {(r.left_id, r.rank): (r.right_id, round(r.score, 12)) for r in blas.collect()}
    g = {(r.left_id, r.rank): (r.right_id, round(r.score, 12)) for r in grid.collect()}
    assert b == g and len(b) == 40 * 3


def test_ingest_reuse_routes_to_grid_past_budget(vec_df, monkeypatch):
    """Past the broadcast budget the V4 ingest check must take the grid path
    (knn_join_auto's routing, fed the caller's existing-rows hint)."""
    df, _ = vec_df
    from memory_opensource_spark.operators import dedup

    called = {}
    real = similarity.grid_knn_join

    def spy(*a, **kw):
        called["grid"] = True
        return real(*a, **kw)

    monkeypatch.setattr(similarity, "grid_knn_join", spy)
    out = dedup.ingest_dedup_reuse(
        df.limit(5), df, threshold=0.99, new_id="id", existing_id="id",
        approx_existing_rows=similarity.BLAS_BROADCAST_BUDGET_ROWS + 1)
    out.collect()
    assert called.get("grid")


def test_auto_wrappers_route_and_match(vec_df):
    """Past the budget both auto wrappers take the grid path and reproduce the
    blas results exactly — including the anti_reflexive=False self pairs."""
    df, _ = vec_df
    blas_knn = similarity.knn_join_blas(df, df, 3, left_id="id", right_id="id")
    auto_knn = similarity.knn_join_auto(df, df, 3, left_id="id", right_id="id",
                                        broadcast_budget_rows=10)
    b = {(r.left_id, r.rank): r.right_id for r in blas_knn.collect()}
    a = {(r.left_id, r.rank): r.right_id for r in auto_knn.collect()}
    assert a == b

    blas_cos = similarity.cosine_join_blas(df, df, 0.3, left_id="id",
                                           right_id="id", anti_reflexive=False)
    auto_cos = similarity.cosine_join_auto(df, df, 0.3, left_id="id",
                                           right_id="id", anti_reflexive=False,
                                           broadcast_budget_rows=10)
    bset = {(r.left_id, r.right_id): round(r.score, 10) for r in blas_cos.collect()}
    aset = {(r.left_id, r.right_id): round(r.score, 10) for r in auto_cos.collect()}
    assert aset == bset
    assert any(l == r for l, r in aset)  # self pairs present


def test_exact_joins_raise_past_broadcast_budget(spark):
    """The exact all-pairs forms are oracle/small-scale tools: a right side
    past the broadcast budget must raise loudly (pointing at the _auto
    wrappers) instead of silently building a CartesianProduct that would
    melt a large cluster."""
    import pytest

    # plan-stats routing bounds rows as sizeInBytes/64 (a conservative
    # UNDER-estimate for skinny range rows), so make the frame big enough
    # that even the bound exceeds the budget; everything stays lazy
    big = spark.range(40_000_001).select(
        F.col("id"), F.array(F.lit(0.1), F.lit(0.2)).alias("embedding"))
    small = spark.createDataFrame([(1, [0.1, 0.2])], "id long, embedding array<double>")
    with pytest.raises(ValueError, match="auto"):
        similarity.knn_join(small, big, 3, left_id="id", right_id="id")
    with pytest.raises(ValueError, match="auto"):
        similarity.cosine_join(small, big, 0.5, left_id="id", right_id="id")
    # the BLOCKED form is the scale path (equi-join on the block key): allowed
    bb = big.withColumn("blk", F.pmod(F.col("id"), F.lit(8)))
    sb = small.withColumn("blk", F.lit(0))
    similarity.cosine_join(sb, bb, 0.5, left_id="id", right_id="id",
                           block_cols=["blk"])  # plan builds, no raise


def test_auto_wrappers_never_cartesian(spark):
    """Budget-routed wrappers must produce NO CartesianProduct on either
    route: BLAS broadcasts a matrix (no join at all), grid is an equi-join
    on cell keys + applyInPandas."""
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(40)], "id long, embedding array<double>")
    for route_hint in (None, 10**9):  # None -> BLAS; huge hint -> grid
        out = similarity.knn_join_auto(df, df, 3, left_id="id", right_id="id",
                                       approx_right_rows=route_hint)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, (route_hint, plan[:500])
    out = similarity.cosine_join_auto(df, df, 0.5, left_id="id", right_id="id",
                                      approx_right_rows=10**9)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_grid_knn_matches_blas_knn_exclude_self_off(vec_df):
    """The exclude_self=False branches (centroid-assignment semantics) must be
    bit-identical between the blas and grid paths — including rank-1 self
    pairs at score 1.0 for every id present on both sides."""
    df, _ = vec_df
    blas = similarity.knn_join_blas(df, df, 3, left_id="id", right_id="id",
                                    exclude_self=False)
    grid = similarity.grid_knn_join(df, df, 3, left_id="id", right_id="id",
                                    n_blocks=4, exclude_self=False)
    b = {(r.left_id, r.rank): (r.right_id, round(r.score, 12)) for r in blas.collect()}
    g = {(r.left_id, r.rank): (r.right_id, round(r.score, 12)) for r in grid.collect()}
    assert b == g and len(b) == 40 * 3
    # self pair ranks first everywhere (unit vectors: cos(v,v) == 1)
    for (lid, rank), (rid, score) in b.items():
        if rank == 1:
            assert rid == lid and abs(score - 1.0) < 1e-9


def test_collect_matrix_refuses_over_budget_frames(spark, monkeypatch):
    """_collect_matrix's own guard (VERDICT r6): a direct caller passing a
    past-budget frame gets a ValueError BEFORE any driver materialization,
    instead of relying on every caller's routing."""
    import pytest

    monkeypatch.setattr(similarity, "BLAS_BROADCAST_BUDGET_ROWS", 8)
    from pyspark.sql import functions as F

    big = spark.range(20).select(
        F.col("id"), F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"))
    with pytest.raises(ValueError, match="broadcast budget"):
        similarity._collect_matrix(big, "id", "embedding")
    small = big.limit(5)
    ids, mat = similarity._collect_matrix(small, "id", "embedding")
    assert len(ids) == 5 and mat.shape == (5, 2)


def test_hard_negative_mining_semantics_and_budget(vec_df, spark, monkeypatch):
    """Mining returns per-anchor top-k NEGATIVES only (different label,
    cosine < fp_cap), and the anchor collect is budget-guarded like
    _collect_matrix (VERDICT r10 task 8) — an over-budget anchor table
    refuses loudly instead of materializing on the driver."""
    df, mat = vec_df
    lab = df.withColumn("label", (F.col("id") % 4).cast("int"))
    anchors = lab.filter(F.col("id") < 3)
    out = similarity.hard_negative_mining(
        anchors, lab, k=5, fp_cap=0.95).collect()
    by_anchor = {}
    for r in out:
        by_anchor.setdefault(r.anchor_id, []).append(r)
    for aid, rows in by_anchor.items():
        assert len(rows) <= 5
        for r in rows:
            # negatives only: different label, below the fp cap
            assert r.negative_id % 4 != aid % 4
            assert r.score < 0.95
            expect = float(mat[r.negative_id] @ mat[aid])
            assert abs(r.score - expect) < 1e-9
        ranks = sorted(r.rank for r in rows)
        assert ranks == list(range(1, len(rows) + 1))
    # oracle: brute-force numpy on the same exclusion rules
    for aid in by_anchor:
        scores = mat @ mat[aid]
        mask = (np.arange(40) % 4 == aid % 4) | (scores >= 0.95)
        scores = np.where(mask, -np.inf, scores)
        expect_ids = [int(i) for i in np.lexsort((np.arange(40), -scores))[:5]
                      if scores[i] > -np.inf]
        got_ids = [r.negative_id for r in
                   sorted(by_anchor[aid], key=lambda r: r.rank)]
        assert got_ids == expect_ids
    # over-budget anchor set refuses before any driver materialization
    monkeypatch.setattr(similarity, "BLAS_BROADCAST_BUDGET_ROWS", 8)
    with pytest.raises(ValueError, match="broadcast budget"):
        similarity.hard_negative_mining(lab, lab, k=3)


# ---------------------------------------------------------------------------
# mine_hard_negatives (r13)
# ---------------------------------------------------------------------------

def _hn_fixture(spark):
    # cluster A (label 0) tightly packed near e1; one far label-1 vector;
    # anchor 0's neighborhood is flooded by its own positives
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.99, 0.14, 0.0], 0),
        (2, [0.98, 0.19, 0.0], 0),
        (3, [0.97, 0.24, 0.0], 0),
        (4, [0.0, 1.0, 0.0], 1),
        (5, [0.0, 0.9, 0.43], 1),
        (6, [0.0, 0.0, 1.0], None),
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")


def test_hard_negatives_drop_positives(spark):
    from memory_opensource_spark.operators.similarity import mine_hard_negatives
    emb = _hn_fixture(spark)
    out = mine_hard_negatives(emb.filter("vec_id = 0"), emb, k=2,
                              overfetch=2).collect()
    ids = [r["negative_id"] for r in out]
    # same-label 1,2,3 excluded; nearest cross-label survivors win
    assert all(i not in (1, 2, 3) for i in ids)
    assert len(ids) == 2
    assert [r["rank"] for r in out] == [1, 2]


def test_hard_negatives_starvation_visible(spark):
    from memory_opensource_spark.operators.similarity import mine_hard_negatives
    emb = _hn_fixture(spark)
    # m = k*(1+0) = 3: anchor 0's top-3 are its 3 positives -> 0 negatives
    out = mine_hard_negatives(emb.filter("vec_id = 0"), emb, k=3,
                              overfetch=0).collect()
    assert out == []


def test_hard_negatives_null_label_is_never_positive(spark):
    from memory_opensource_spark.operators.similarity import mine_hard_negatives
    emb = _hn_fixture(spark)
    # NULL-label anchor: IS DISTINCT FROM -> every other row is a negative,
    # including the other NULL?  No: NULL vs NULL is NOT distinct -> excluded.
    out = mine_hard_negatives(emb.filter("vec_id = 6"), emb, k=6,
                              overfetch=2).collect()
    ids = {r["negative_id"] for r in out}
    assert ids == {0, 1, 2, 3, 4, 5}
