"""Similarity operator family (SURVEY V2-V7): filtered kNN, threshold joins, ANN.

Design for scale
----------------
- **Single-query top-k** (V2): the query vector is a *literal* array — a constant
  broadcast to every task, no join, no shuffle.  Scoring is a JVM-side dot product
  inside whole-stage codegen; the global top-k is a ``TakeOrderedAndProject``
  (per-partition heap + driver merge), NOT a full sort — exactly the plan you want
  over a 100 TB scan.
- **kNN join / threshold self-join** (V4-V7): the only theta-join in the engine.
  Exact form is a blocked cross-join + filter; the scale path prunes candidates
  first with IVF bucketing (assign each vector to its nearest of C centroids; join
  only within probed buckets) or MinHash-LSH for text.  AQE handles skewed buckets.
- Ties always break ``score DESC, id ASC`` so results are deterministic and
  oracle-checkable (SURVEY §7.3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import cosine, dot, lit_vector, to_double
from ..semantics import SEARCH_SCORE_THRESHOLD
from ..sources.tables import fan_out


def score_against(df: DataFrame, query_vec: list[float], vec_col: str = "embedding",
                  score_col: str = "score", assume_normalized: bool = False) -> DataFrame:
    """Add a cosine-similarity column against a literal query vector."""
    q = lit_vector(query_vec)
    v = to_double(F.col(vec_col))
    expr = dot(v, q) if assume_normalized else cosine(v, q)
    return df.withColumn(score_col, expr)


def topk_search(df: DataFrame, query_vec: list[float], k: int,
                pred: Column | None = None, vec_col: str = "embedding",
                id_col: str = "chunk_id", score_col: str = "score",
                score_threshold: float | None = SEARCH_SCORE_THRESHOLD) -> DataFrame:
    """V2 filtered kNN: filter -> score -> threshold -> global top-k.

    Mirrors get_qdrant_related_memories_async (memory/memory_graph.py:8103-8238):
    pre-filter (pushed to scan by Catalyst), cosine score, cut at
    score_threshold=0.15, ORDER BY score DESC LIMIT k (ties by id ASC).
    """
    out = df
    if pred is not None:
        out = out.filter(pred)
    out = score_against(out, query_vec, vec_col, score_col)
    if score_threshold is not None:
        out = out.filter(F.col(score_col) >= score_threshold)
    return out.orderBy(F.col(score_col).desc(), F.col(id_col).asc()).limit(k)


def scroll_fallback(df: DataFrame, k: int, pred: Column | None = None,
                    order_col: str = "created_at", id_col: str = "chunk_id") -> DataFrame:
    """V3: when ANN returns 0 rows, return first k rows matching the filter
    (memory/memory_graph.py:8327-8437)."""
    out = df.filter(pred) if pred is not None else df
    return out.orderBy(F.col(order_col).desc(), F.col(id_col).asc()).limit(k)


def cosine_join(left: DataFrame, right: DataFrame, threshold: float,
                left_vec: str = "embedding", right_vec: str = "embedding",
                left_id: str = "id", right_id: str = "id",
                block_cols: list[str] | None = None,
                anti_reflexive: bool = True,
                inclusive: bool = True) -> DataFrame:
    """Threshold theta-join: pairs with cosine >= threshold (V4/V5/V6/V7 core).
    ``inclusive=False`` gives the strict > form (the reference duplicate sweep
    compares strictly, memory/memory_graph.py:10378).

    Exact form.  ``block_cols`` restricts candidate pairs to equal blocking keys
    (tenant / IVF bucket / LSH band) turning the cross join into an equi-join —
    the scale path.  Columns come back as ``{left_id, right_id, score}``.

    Scale guard: the UNBLOCKED form is an all-pairs CartesianProduct — safe
    only under the broadcast budget.  A right side past it raises loudly
    (use :func:`cosine_join_auto`, which routes to the grid sweep) instead of
    silently materializing an O(N*M) plan on a large corpus.
    """
    if not block_cols and route_rows(right) > BLAS_BROADCAST_BUDGET_ROWS:
        raise ValueError(
            "cosine_join without block_cols is an all-pairs cross join; the "
            f"right side exceeds the {BLAS_BROADCAST_BUDGET_ROWS}-row budget "
            "— call cosine_join_auto (budget-routed) instead")
    l = left.select(F.col(left_id).alias("_lid"), to_double(F.col(left_vec)).alias("_lvec"),
                    *[F.col(c).alias(f"_lb_{c}") for c in (block_cols or [])])
    r = right.select(F.col(right_id).alias("_rid"), to_double(F.col(right_vec)).alias("_rvec"),
                     *[F.col(c).alias(f"_rb_{c}") for c in (block_cols or [])])
    if block_cols:
        cond = None
        for c in block_cols:
            eq = F.col(f"_lb_{c}") == F.col(f"_rb_{c}")
            cond = eq if cond is None else (cond & eq)
        joined = l.join(r, cond)
    else:
        joined = l.crossJoin(r)
    if anti_reflexive:
        joined = joined.filter(F.col("_lid") != F.col("_rid"))
    scored = joined.withColumn("score", cosine(F.col("_lvec"), F.col("_rvec")))
    keep = F.col("score") >= threshold if inclusive else F.col("score") > threshold
    return (
        scored.filter(keep)
        .select(F.col("_lid").alias("left_id"), F.col("_rid").alias("right_id"), "score")
    )


def knn_join(left: DataFrame, right: DataFrame, k: int,
             left_vec: str = "embedding", right_vec: str = "embedding",
             left_id: str = "id", right_id: str = "id",
             exclude_self: bool = True) -> DataFrame:
    """For every left row, its k nearest right rows by cosine (V5 sweep core).

    Exact: cross-join + per-left-id window top-k.  At scale, pre-prune with
    :func:`ivf_assign` blocking before calling this.

    ``exclude_self=True`` (default) drops same-id pairs — the self-join dedup
    semantics (V4/V5).  Distinct-domain joins where an id can legitimately
    match itself (centroid assignment: a vector that IS a codebook entry)
    pass ``False``.

    Scale guard: a right side past the broadcast budget raises loudly (use
    :func:`knn_join_auto`, which routes to the grid join) instead of
    silently materializing the all-pairs plan.
    """
    if route_rows(right) > BLAS_BROADCAST_BUDGET_ROWS:
        raise ValueError(
            "knn_join is an all-pairs cross join; the right side exceeds the "
            f"{BLAS_BROADCAST_BUDGET_ROWS}-row budget — call knn_join_auto "
            "(budget-routed) instead")
    l = left.select(F.col(left_id).alias("left_id"), to_double(F.col(left_vec)).alias("_lvec"))
    r = right.select(F.col(right_id).alias("right_id"), to_double(F.col(right_vec)).alias("_rvec"))
    scored = l.crossJoin(r)
    if exclude_self:
        scored = scored.filter(F.col("left_id") != F.col("right_id"))
    scored = scored.withColumn("score", cosine(F.col("_lvec"), F.col("_rvec")))
    w = Window.partitionBy("left_id").orderBy(F.col("score").desc(), F.col("right_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("left_id", "right_id", "score", "rank")
    )


def _collect_matrix(df: DataFrame, id_col: str, vec_col: str):
    """Collect a (small) vector table to a numpy matrix + id list, normalized.
    Used to broadcast the dimension side of a similarity join.

    Own guard (VERDICT r6 watch item): callers are budget-routed, but a
    direct caller must not be able to OOM the driver — collect at most
    ``budget + 1`` rows in the SAME action and refuse if the extra row shows
    up (a separate guard count() would re-execute the upstream plan — often
    an embed/join pipeline — once per call)."""
    import numpy as np

    rows = (df.select(id_col, vec_col)
            .limit(BLAS_BROADCAST_BUDGET_ROWS + 1).collect())
    if len(rows) > BLAS_BROADCAST_BUDGET_ROWS:
        raise ValueError(
            f"_collect_matrix: side exceeds the {BLAS_BROADCAST_BUDGET_ROWS}-row "
            "broadcast budget — route through knn_join_auto / the grid path "
            "instead of collecting to the driver")
    ids = [r[0] for r in rows]
    if not rows:
        return ids, np.zeros((0, 1), dtype="float64")
    mat = np.asarray([list(r[1]) for r in rows], dtype="float64")
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return ids, mat / norms


def cosine_join_blas(left: DataFrame, right: DataFrame, threshold: float,
                     left_vec: str = "embedding", right_vec: str = "embedding",
                     left_id: str = "id", right_id: str = "id",
                     anti_reflexive: bool = True,
                     inclusive: bool = True) -> DataFrame:
    """BLAS path for the cosine threshold join: broadcast the right side as a
    numpy matrix, stream left partitions through mapInPandas, and emit only
    pairs >= threshold from a single matrix product per Arrow batch.

    ~100x faster than the per-pair expression form (Spark's higher-order-function
    lambdas are interpreted) and never materializes the cross join.  This is the
    block-nested-loop similarity join: at 100 TB the left side streams, the right
    side is a broadcast dimension (or an IVF/LSH bucket of one — compose with
    ivf_assign for the billion x billion case).
    """
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    r_ids, r_mat = _collect_matrix(right, right_id, right_vec)
    spark = left.sparkSession
    b = spark.sparkContext.broadcast((r_ids, r_mat))
    left_id_type = left.schema[left_id].dataType
    right_id_type = right.schema[right_id].dataType
    out_schema = StructType([
        StructField("left_id", left_id_type),
        StructField("right_id", right_id_type),
        StructField("score", DoubleType()),
    ])
    if not r_ids:  # empty dimension side -> no pairs
        return spark.createDataFrame([], out_schema)

    def compute(batches):
        import numpy as np

        ids, mat = b.value
        ids_arr = np.asarray(ids)
        # ROW-SLICED product: an Arrow batch is ~10k rows, so a full (B, R)
        # matrix at R near the 500k budget is 10k x 500k doubles = 40 GB —
        # the worker dies with a connection reset (found live at 600k, PERF.md
        # "Round-6 scale-routing proof").  Slice the batch so slice x R stays
        # ~160 MB.
        step = max(64, int(2e7 / max(1, mat.shape[0])))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            lmat = np.asarray([np.asarray(v, dtype="float64") for v in pdf[left_vec]])
            lnorm = np.linalg.norm(lmat, axis=1, keepdims=True)
            lnorm[lnorm == 0] = 1.0
            lmat /= lnorm
            lids_all = pdf[left_id].to_numpy()
            for s0 in range(0, len(lmat), step):
                scores = lmat[s0:s0 + step] @ mat.T   # (slice, R) cosine
                li, ri = np.nonzero(scores >= threshold if inclusive
                                    else scores > threshold)
                if len(li) == 0:
                    continue
                out = pd.DataFrame({
                    "left_id": lids_all[li + s0],
                    "right_id": ids_arr[ri],
                    "score": scores[li, ri],
                })
                if anti_reflexive:
                    out = out[out.left_id != out.right_id]
                yield out

    # fan_out: a single-split input would stream through ONE Python worker;
    # the BLAS product parallelizes per Arrow batch, so spread the rows first
    return fan_out(left.select(left_id, left_vec)).mapInPandas(compute, out_schema)


def knn_join_blas(left: DataFrame, right: DataFrame, k: int,
                  left_vec: str = "embedding", right_vec: str = "embedding",
                  left_id: str = "id", right_id: str = "id",
                  exclude_self: bool = True) -> DataFrame:
    """BLAS path for the kNN join: per Arrow batch, one matrix product + argsort
    by (-score, right_id) — ties break identically to the window form.
    ``exclude_self`` as in :func:`knn_join`."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    r_ids, r_mat = _collect_matrix(right, right_id, right_vec)
    spark = left.sparkSession
    b = spark.sparkContext.broadcast((r_ids, r_mat))
    out_schema = StructType([
        StructField("left_id", left.schema[left_id].dataType),
        StructField("right_id", right.schema[right_id].dataType),
        StructField("score", DoubleType()),
        StructField("rank", IntegerType()),
    ])
    if not r_ids:  # empty dimension side -> no neighbors
        return spark.createDataFrame([], out_schema)

    def compute(batches):
        import numpy as np

        ids, mat = b.value
        ids_arr = np.asarray(ids)
        R = mat.shape[0]
        # ROW-SLICED product (same 40 GB-per-batch hazard as cosine_join_blas;
        # PERF.md "Round-6 scale-routing proof"): slice x R stays ~160 MB.
        # Top-k per row: vectorized argpartition preselect of m = k+17
        # candidates (+1 absorbs the self pair), then an exact
        # (score desc, id asc) lexsort of just those m; if the kept boundary
        # score equals the preselect minimum, an excluded candidate could tie
        # with a smaller id -> exact full-row fallback (needs a >16-way tie).
        # Replaces a per-row O(R log R) argsort — at R = 500k that was minutes
        # per thousand left rows.
        step = max(64, int(2e7 / max(1, R)))
        m = min(k + 17, R)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            lmat = np.asarray([np.asarray(v, dtype="float64") for v in pdf[left_vec]])
            lnorm = np.linalg.norm(lmat, axis=1, keepdims=True)
            lnorm[lnorm == 0] = 1.0
            lmat /= lnorm
            rows = []
            lids = pdf[left_id].to_numpy()
            for s0 in range(0, len(lmat), step):
                scores = lmat[s0:s0 + step] @ mat.T
                part = (np.argpartition(-scores, m - 1, axis=1)[:, :m]
                        if m < R else np.tile(np.arange(R), (scores.shape[0], 1)))
                for i in range(scores.shape[0]):
                    s = scores[i]
                    cand = part[i]
                    order = cand[np.lexsort((ids_arr[cand], -s[cand]))]
                    kept = [j for j in order
                            if not exclude_self or ids_arr[j] != lids[s0 + i]][:k]
                    if m < R and kept and s[kept[-1]] == s[order[-1]]:
                        full = np.lexsort((ids_arr, -s))
                        kept = [j for j in full
                                if not exclude_self or ids_arr[j] != lids[s0 + i]][:k]
                    for rank, j in enumerate(kept, 1):
                        rows.append((lids[s0 + i], ids_arr[j], float(s[j]), rank))
            if rows:
                yield pd.DataFrame(rows, columns=["left_id", "right_id", "score", "rank"])

    return fan_out(left.select(left_id, left_vec)).mapInPandas(compute, out_schema)


def batch_topk_search(queries: DataFrame, corpus: DataFrame, k: int,
                      query_id: str = "query_id", query_vec: str = "embedding",
                      corpus_id: str = "chunk_id", corpus_vec: str = "embedding",
                      pred: Column | None = None) -> DataFrame:
    """Batched V2: top-k corpus rows for EVERY query in one job.

    The serving analog at batch scale — one request per row instead of one job
    per request.  Queries (the small side) broadcast through the BLAS stage:
    each corpus partition computes a (batch x queries) score matrix, emits its
    local per-query top-k, and a window reduces to the global top-k.  Driver
    transfer is O(queries * k * partitions), never the corpus.
    Returns {query_id, corpus_id(=right_id), score, rank}.
    """
    c = corpus.filter(pred) if pred is not None else corpus
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    q_ids, q_mat = _collect_matrix(queries, query_id, query_vec)
    spark = c.sparkSession
    b = spark.sparkContext.broadcast((q_ids, q_mat))
    out_schema = StructType([
        StructField("query_id", queries.schema[query_id].dataType),
        StructField("corpus_id", c.schema[corpus_id].dataType),
        StructField("score", DoubleType()),
    ])
    if not q_ids:
        return spark.createDataFrame([], out_schema)

    def compute(batches):
        import numpy as np

        ids, mat = b.value
        ids_arr = np.asarray(ids)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cmat = np.asarray([np.asarray(v, dtype="float64") for v in pdf[corpus_vec]])
            cnorm = np.linalg.norm(cmat, axis=1, keepdims=True)
            cnorm[cnorm == 0] = 1.0
            scores = (cmat / cnorm) @ mat.T          # (batch, n_queries)
            # local per-query top-k with the SAME tie-break as the global window
            # ((score desc, corpus_id asc)): a plain argpartition keeps arbitrary
            # rows among k-th-boundary ties, which can drop the candidate the
            # global stage would have ranked — lexsort makes both stages agree.
            n_keep = min(k, scores.shape[0])
            rows = []
            cids = pdf[corpus_id].to_numpy()
            for qi in range(scores.shape[1]):
                order = np.lexsort((cids, -scores[:, qi]))[:n_keep]
                for ci in order:
                    rows.append((ids_arr[qi], cids[ci], float(scores[ci, qi])))
            yield pd.DataFrame(rows, columns=["query_id", "corpus_id", "score"])

    local_topk = fan_out(c.select(corpus_id, corpus_vec)).mapInPandas(compute, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("corpus_id").asc())
    return (
        local_topk.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hard_negative_mining(anchors: DataFrame, corpus: DataFrame, k: int,
                         fp_cap: float = 0.95,
                         anchor_id: str = "id", anchor_vec: str = "embedding",
                         anchor_label: str = "label",
                         corpus_id: str = "id", corpus_vec: str = "embedding",
                         corpus_label: str = "label") -> DataFrame:
    """Contrastive hard-negative mining (the DPR/Sentence-BERT recipe,
    Karpukhin et al. 2020, arXiv:2004.04906 §4.2): for every anchor, the k
    most similar corpus rows that are NOT positives — a different label, and
    cosine < ``fp_cap`` (the false-negative guard: a near-identical row is
    presumed an unlabeled positive, not a negative worth training against).

    Plan shape = :func:`batch_topk_search`: the anchor set broadcasts as a
    numpy matrix (+ label vector), the corpus STREAMS through mapInPandas
    emitting only per-anchor LOCAL top-k per partition, and one keyed window
    reduces to the global top-k.  Shuffle is O(anchors * k * partitions);
    nothing scales with corpus size except the scan.  Exact: the global
    top-k of a union of per-partition top-k's is the corpus top-k.
    Returns {anchor_id, negative_id, score, rank}.
    """
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    # budget-guarded collect (VERDICT r10 task 8): same refusal discipline
    # as _collect_matrix — collect at most budget+1 rows in ONE action and
    # refuse if the extra row shows up; an unguarded collect of a large
    # anchor table would OOM the driver.  Oversized anchor sets belong on
    # the grid path (grid_knn_join), not in a broadcast.
    rows = (anchors.select(anchor_id, anchor_vec, anchor_label)
            .limit(BLAS_BROADCAST_BUDGET_ROWS + 1).collect())
    if len(rows) > BLAS_BROADCAST_BUDGET_ROWS:
        raise ValueError(
            f"hard_negative_mining: anchor set exceeds the "
            f"{BLAS_BROADCAST_BUDGET_ROWS}-row broadcast budget — mine in "
            "anchor batches, or route anchors x corpus through "
            "grid_knn_join and post-filter positives/fp_cap instead")
    spark = corpus.sparkSession
    out_schema = StructType([
        StructField("anchor_id", anchors.schema[anchor_id].dataType),
        StructField("negative_id", corpus.schema[corpus_id].dataType),
        StructField("score", DoubleType()),
    ])
    if not rows:
        return spark.createDataFrame([], out_schema).withColumn(
            "rank", F.lit(None).cast("int"))
    import numpy as np

    a_ids = [r[0] for r in rows]
    a_mat = np.asarray([list(r[1]) for r in rows], dtype="float64")
    a_norm = np.linalg.norm(a_mat, axis=1, keepdims=True)
    a_norm[a_norm == 0] = 1.0
    a_labels = np.asarray([r[2] for r in rows])
    b = spark.sparkContext.broadcast((a_ids, a_mat / a_norm, a_labels))

    def compute(batches):
        import numpy as np

        ids, mat, labels = b.value
        ids_arr = np.asarray(ids)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cmat = np.asarray([np.asarray(v, dtype="float64")
                               for v in pdf[corpus_vec]])
            cnorm = np.linalg.norm(cmat, axis=1, keepdims=True)
            cnorm[cnorm == 0] = 1.0
            scores = (cmat / cnorm) @ mat.T          # (batch, n_anchors)
            # positives (same label) and presumed-dup rows are not negatives
            clab = pdf[corpus_label].to_numpy()
            scores[clab[:, None] == labels[None, :]] = -np.inf
            scores[scores >= fp_cap] = -np.inf
            n_keep = min(k, scores.shape[0])
            cids = pdf[corpus_id].to_numpy()
            rows_out = []
            for qi in range(scores.shape[1]):
                # same tie-break as the global window: (score desc, id asc)
                order = np.lexsort((cids, -scores[:, qi]))[:n_keep]
                for ci in order:
                    if scores[ci, qi] == -np.inf:
                        break
                    rows_out.append((ids_arr[qi], cids[ci], float(scores[ci, qi])))
            if rows_out:
                yield pd.DataFrame(rows_out,
                                   columns=["anchor_id", "negative_id", "score"])

    local_topk = fan_out(
        corpus.select(corpus_id, corpus_vec, corpus_label)
    ).mapInPandas(compute, out_schema)
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("score").desc(), F.col("negative_id").asc())
    return (local_topk.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def lsh_approx_join(left: DataFrame, right: DataFrame, cosine_threshold: float,
                    left_vec: str = "embedding", right_vec: str = "embedding",
                    left_id: str = "id", right_id: str = "id",
                    bucket_length: float = 0.5, num_hash_tables: int = 4) -> DataFrame:
    """Approximate cosine-threshold join via MLlib BucketedRandomProjectionLSH.

    Vectors are L2-normalized first so Euclidean distance maps monotonically to
    cosine: ||a-b||^2 = 2 - 2cos(a,b)  =>  dist threshold = sqrt(2 - 2*tau).
    Returns {left_id, right_id, score(cosine, exact on candidates)}.

    This is the scale path when NEITHER side fits in a broadcast: candidate
    generation is an equi-join on hash buckets (shuffle on short keys), then the
    exact cosine refine runs only on candidates.  Recall < 1 by construction —
    tune num_hash_tables up / bucket_length down for higher recall.  The exact
    paths (cosine_join / cosine_join_blas) remain the correctness oracle.
    """
    import math

    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector, vector_to_array

    from ..functions.vector import cosine, l2_normalize, to_double

    dist_threshold = math.sqrt(max(2.0 - 2.0 * cosine_threshold, 0.0))

    def prep(df, vec, idc, alias):
        return df.select(
            F.col(idc).alias(f"{alias}_id"),
            array_to_vector(l2_normalize(to_double(F.col(vec)))).alias("features"),
        )

    l = prep(left, left_vec, left_id, "left")
    r = prep(right, right_vec, right_id, "right")
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes",
        bucketLength=bucket_length, numHashTables=num_hash_tables, seed=42,
    )
    model = lsh.fit(l)
    pairs = model.approxSimilarityJoin(l, r, dist_threshold, distCol="dist")
    out = pairs.select(
        F.col("datasetA.left_id").alias("left_id"),
        F.col("datasetB.right_id").alias("right_id"),
        cosine(
            to_double(vector_to_array(F.col("datasetA.features"))),
            to_double(vector_to_array(F.col("datasetB.features"))),
        ).alias("score"),
    )
    return out.filter(
        (F.col("left_id") != F.col("right_id")) & (F.col("score") >= cosine_threshold)
    )


def ivf_assign(df: DataFrame, centroids: list[list[float]], vec_col: str = "embedding",
               bucket_col: str = "ivf_bucket") -> DataFrame:
    """IVF-style bucketing: assign each vector to its max-dot-product centroid.

    ``centroids`` is a small driver-side list (e.g. sampled or k-means'd offline);
    it compiles to a literal array-of-arrays — broadcast as a constant, evaluated
    JVM-side.  Bucket id = argmax_c dot(v, c) with index-asc tiebreak.
    At 100 TB this turns brute-force O(N*M) joins into O(N*M/C) per-bucket joins,
    and the bucket column doubles as a partition key for the parquet layout.
    """
    v = to_double(F.col(vec_col))
    # linear argmax: one dot per centroid into an array, then
    # array_position(scores, max) — first occurrence == lowest index tie-break.
    # (A when-chain would nest the whole prior tree at each step: exponential
    # expression growth, ~2^C interpreted evaluations.)
    scores = F.array(*[dot(v, lit_vector(c)) for c in centroids])
    bucket = (F.array_position(scores, F.array_max(scores)) - 1).cast("int")
    return df.withColumn(bucket_col, bucket)


def ivf_assign_multi(df: DataFrame, centroids: list[list[float]],
                     assign_k: int, vec_col: str = "embedding",
                     bucket_col: str = "ivf_bucket") -> DataFrame:
    """Multi-assignment (spill) IVF bucketing: replicate each vector into its
    top-``assign_k`` centroids' buckets.  The FAISS-style recall lever for a
    partition-pruned layout: storage grows ``assign_k``x, probe cost per
    bucket is unchanged, and boundary vectors (the ones single-assignment
    loses) become reachable from either side — measured on the worst-case
    uniform fixture, assign_k=2 lifts recall@10 from 0.63 to 0.74 at ~19%
    scanned rows (PERF.md round-5 table).  All JVM-side: one dot per
    centroid, struct-sort for the top-k indices (score desc, index asc
    tie-break matching :func:`ivf_assign`), posexplode to replicate.
    Query-time consumers must de-duplicate ids when probing >1 bucket
    (sources/ann_index.ann_query does)."""
    if assign_k <= 1:
        return ivf_assign(df, centroids, vec_col, bucket_col)
    v = to_double(F.col(vec_col))
    scores = F.array(*[dot(v, lit_vector(c)) for c in centroids])
    pairs = F.transform(
        scores, lambda s, i: F.struct((-s).alias("ns"), i.alias("i"))
    )
    top = F.slice(F.array_sort(pairs), 1, assign_k)  # ns asc == score desc
    return (df.withColumn("__buckets", F.transform(top, lambda t: t["i"].cast("int")))
            .withColumn(bucket_col, F.explode("__buckets"))
            .drop("__buckets"))


#: expression-path budget for IVF assignment: rows x centroids HOF dot
#: products are INTERPRETED (not codegen'd); past this product the Arrow/BLAS
#: path takes over (600k rows x 512 centroids = 3e8 interpreted dots was the
#: round-6 engine-probe build bottleneck).  Fixture-scale builds (and every
#: oracle-facing query, which passes small explicit centroid grids) stay on
#: the exact expression path.
IVF_ASSIGN_EXPR_BUDGET = 2_000_000


def ivf_assign_blas(df: DataFrame, centroids: list[list[float]],
                    assign_k: int = 1, vec_col: str = "embedding",
                    bucket_col: str = "ivf_bucket") -> DataFrame:
    """Arrow-batched BLAS IVF assignment: scores = V @ C^T per batch, top-k
    by (score desc, index asc) — the same rule as :func:`ivf_assign_multi`,
    vectorized.  Tie-break parity with the expression path holds up to
    floating-point summation order (BLAS pairwise vs sequential fold), which
    only matters for exactly-equidistant vectors; routing therefore never
    changes which BUCKETS exist, only (possibly) boundary assignment of
    degenerate ties — the standard ANN build trade."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import IntegerType, StructField, StructType

    C = np.asarray(centroids, dtype="float64")
    k = max(1, min(assign_k, C.shape[0]))
    # a FRESH StructType: StructType.add would mutate df.schema in place,
    # desyncing the Python-side column list from the JVM plan
    out_schema = StructType(list(df.schema.fields)
                            + [StructField(bucket_col, IntegerType())])

    def compute(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.asarray(pdf[vec_col].tolist(), dtype="float64")
            S = V @ C.T
            if k == 1:
                out = pdf.copy()
                out[bucket_col] = S.argmax(axis=1).astype("int32")  # first max
                yield out
                continue
            part = np.argpartition(-S, k - 1, axis=1)[:, :k]
            sel = np.take_along_axis(S, part, axis=1)
            # order the k by (score desc, index asc) for expression parity
            order = np.lexsort((part, -sel), axis=1)
            buckets = np.take_along_axis(part, order, axis=1)
            out = pdf.loc[pdf.index.repeat(k)].copy()
            out[bucket_col] = buckets.reshape(-1).astype("int32")
            yield out

    return df.mapInPandas(compute, out_schema)


def ivf_assign_auto(df: DataFrame, centroids: list[list[float]],
                    assign_k: int = 1, vec_col: str = "embedding",
                    bucket_col: str = "ivf_bucket",
                    approx_rows: int | None = None) -> DataFrame:
    """Budget-routed IVF assignment: exact Column expressions while
    rows x centroids stays interpretable-cheap, Arrow/BLAS past it."""
    est = route_rows(df, approx_rows)
    if est * max(1, len(centroids)) <= IVF_ASSIGN_EXPR_BUDGET:
        return ivf_assign_multi(df, centroids, assign_k, vec_col, bucket_col)
    return ivf_assign_blas(df, centroids, assign_k, vec_col, bucket_col)


def ivf_topk_search(df: DataFrame, query_vec: list[float], k: int,
                    centroids: list[list[float]], nprobe: int = 2,
                    vec_col: str = "embedding", id_col: str = "chunk_id",
                    pred: Column | None = None) -> DataFrame:
    """ANN top-k: probe only the ``nprobe`` centroids nearest the query.

    With the table pre-partitioned by ``ivf_bucket``, the bucket filter becomes
    partition pruning — the scan reads nprobe/C of the data.  Buckets rank
    by :func:`..sources.ann_index.probe_buckets` (ties to the lowest index,
    like the oracle's ``ORDER BY ... DESC, cid ASC``).
    """
    from ..sources.ann_index import probe_buckets

    probe = probe_buckets(query_vec, centroids, nprobe)
    # budget-routed assignment: the on-the-fly variant pays the same
    # rows x centroids assignment cost as the build path (persisted layouts
    # skip it entirely — prefer those past fixture scale)
    bucketed = ivf_assign_auto(df, centroids, 1, vec_col)
    out = bucketed.filter(F.col("ivf_bucket").isin(probe))
    if pred is not None:
        out = out.filter(pred)
    return topk_search(out, query_vec, k, None, vec_col, id_col,
                       score_threshold=None).drop("ivf_bucket")


# --- grid-partitioned exact similarity joins (the no-driver-collect scale path) ---

def _grid_cells(spark, n_blocks: int, triangular: bool):
    """The (ci, cj) cell table for a B x B block grid (upper triangle only when
    triangular — self-join sweeps need each unordered block pair once)."""
    cells = [(i, j) for i in range(n_blocks) for j in range(i if triangular else 0, n_blocks)]
    return spark.createDataFrame(cells, "ci int, cj int")


def grid_near_duplicates(vectors: DataFrame, threshold: float,
                         id_col: str = "id", vec_col: str = "embedding",
                         n_blocks: int | None = None,
                         inclusive: bool = False) -> DataFrame:
    """EXACT self-join duplicate sweep with NO driver-side collect — the 100 TB
    form of the V5 sweep (memory/memory_graph.py:10333-10390).

    Block-nested-loop over a B x B grid: rows hash into B blocks; every
    unordered block pair (i <= j) becomes one applyInPandas group that computes
    its sub-matrix cosine product with BLAS.  Each row is replicated to B cells,
    so shuffle volume is N*B rows (pick B ~ sqrt(cluster cores)); per-cell work
    is (N/B)^2 dot products; the driver never sees a vector.  Exact — every
    candidate pair lands in exactly one cell — so results are bit-identical to
    cosine_join_blas, without its corpus-sized broadcast.

    Returns {left_id, right_id, score} with left_id < right_id, cosine compared
    strictly > threshold by default (the reference sweep comparator).
    """
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    if not n_blocks:
        n_blocks = _auto_blocks(route_rows(vectors))
    spark = vectors.sparkSession
    id_type = vectors.schema[id_col].dataType
    out_schema = StructType([
        StructField("left_id", id_type),
        StructField("right_id", id_type),
        StructField("score", DoubleType()),
    ])

    tagged = vectors.select(
        F.col(id_col).alias("_id"), to_double(F.col(vec_col)).alias("_vec"),
        (F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks))).alias("_blk"),
    )
    cells = _grid_cells(spark, n_blocks, triangular=True)
    # side a = rows of block ci; side b = rows of block cj (skip the diagonal
    # duplicate: a cell with ci == cj reuses its single row set for both sides)
    a = tagged.join(cells, tagged["_blk"] == cells["ci"]).withColumn("_side", F.lit("a"))
    bb = tagged.join(cells.filter(F.col("ci") != F.col("cj")),
                     tagged["_blk"] == cells["cj"]).withColumn("_side", F.lit("b"))
    staged = a.unionByName(bb).drop("_blk")

    def compute(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        ci, cj = key
        pa = pdf[pdf["_side"] == "a"]
        if len(pa) == 0:
            return pd.DataFrame(columns=["left_id", "right_id", "score"])
        ids_a = pa["_id"].to_numpy()
        mat_a = np.asarray([np.asarray(v, dtype="float64") for v in pa["_vec"]])

        def unit(m):
            n = np.linalg.norm(m, axis=1, keepdims=True)
            n[n == 0] = 1.0
            return m / n

        mat_a = unit(mat_a)
        if ci == cj:
            ids_b, mat_b, diagonal = ids_a, mat_a, True
        else:
            pb = pdf[pdf["_side"] == "b"]
            if len(pb) == 0:
                return pd.DataFrame(columns=["left_id", "right_id", "score"])
            ids_b = pb["_id"].to_numpy()
            mat_b = unit(np.asarray([np.asarray(v, dtype="float64") for v in pb["_vec"]]))
            diagonal = False
        # ROW-SLICED product: a full |a| x |b| score matrix is (N/B)^2 doubles
        # — 45 GB per task at 600k rows / 8 blocks.  Slicing mat_a bounds the
        # live matrix at slice x |b| (~160 MB) with identical results; BLAS
        # throughput is unchanged (each slice is still one dgemm).
        step = max(256, int(2e7 / max(1, len(mat_b))))
        lids, rids, scs = [], [], []
        for s0 in range(0, len(mat_a), step):
            sl = mat_a[s0:s0 + step] @ mat_b.T
            mask = (sl >= threshold) if inclusive else (sl > threshold)
            if diagonal:
                # upper triangle of the FULL cell, offset by the slice start
                li_loc, ri = np.nonzero(mask)
                keep = ri > (li_loc + s0)
                li_loc, ri = li_loc[keep], ri[keep]
            else:
                li_loc, ri = np.nonzero(mask)
            if len(li_loc):
                lids.append(ids_a[li_loc + s0])
                rids.append(ids_b[ri])
                scs.append(sl[li_loc, ri])
        if not lids:
            return pd.DataFrame(columns=["left_id", "right_id", "score"])
        lid = np.concatenate(lids)
        rid = np.concatenate(rids)
        sc = np.concatenate(scs)
        # orient each pair so left_id < right_id (block hashing ignores id order)
        flip = lid > rid
        out = pd.DataFrame({
            "left_id": np.where(flip, rid, lid),
            "right_id": np.where(flip, lid, rid),
            "score": sc,
        })
        return out[out.left_id != out.right_id]

    return staged.groupBy("ci", "cj").applyInPandas(compute, out_schema)


def grid_knn_join(left: DataFrame, right: DataFrame, k: int,
                  left_vec: str = "embedding", right_vec: str = "embedding",
                  left_id: str = "id", right_id: str = "id",
                  n_blocks: int | None = None,
                  exclude_self: bool = True) -> DataFrame:
    """EXACT kNN join with NO driver-side collect — the scale form of
    knn_join_blas for a right side past any broadcast budget (V4 ingest dedup
    against a 100 TB corpus, memory/memory_graph.py:14214-14442).

    Full B x B grid: left rows replicate across right blocks, right rows across
    left blocks; each cell emits its local per-left-row top-k (tie-broken on
    (score desc, right_id asc) like the global stage), then one window reduces
    B candidates per row to the global top-k.  Shuffle = (|L|+|R|)*B rows.
    Returns {left_id, right_id, score, rank}.
    """
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    if not n_blocks:
        n_blocks = _auto_blocks(route_rows(right))
    spark = left.sparkSession
    out_schema = StructType([
        StructField("left_id", left.schema[left_id].dataType),
        StructField("right_id", right.schema[right_id].dataType),
        StructField("score", DoubleType()),
    ])

    l = left.select(F.col(left_id).alias("_id"), to_double(F.col(left_vec)).alias("_vec"),
                    F.pmod(F.hash(F.col(left_id)), F.lit(n_blocks)).alias("_blk"),
                    F.lit("a").alias("_side"))
    r = right.select(F.col(right_id).alias("_id"), to_double(F.col(right_vec)).alias("_vec"),
                     F.pmod(F.hash(F.col(right_id)), F.lit(n_blocks)).alias("_blk"),
                     F.lit("b").alias("_side"))
    cells = _grid_cells(spark, n_blocks, triangular=False)
    # each (left row, right row) meets in exactly one cell: (blk_l, blk_r)
    a = l.join(cells, l["_blk"] == cells["ci"]).drop("_blk")
    bb = r.join(cells, r["_blk"] == cells["cj"]).drop("_blk")
    staged = a.unionByName(bb)

    def compute(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pa = pdf[pdf["_side"] == "a"]
        pb = pdf[pdf["_side"] == "b"]
        if len(pa) == 0 or len(pb) == 0:
            return pd.DataFrame(columns=["left_id", "right_id", "score"])

        def unit(m):
            n = np.linalg.norm(m, axis=1, keepdims=True)
            n[n == 0] = 1.0
            return m / n

        ids_a = pa["_id"].to_numpy()
        ids_b = pb["_id"].to_numpy()
        mat_a = unit(np.asarray([np.asarray(v, dtype="float64") for v in pa["_vec"]]))
        mat_b = unit(np.asarray([np.asarray(v, dtype="float64") for v in pb["_vec"]]))
        b = mat_b.shape[0]
        n_keep = min(k + 1 if exclude_self else k, b)  # +1 absorbs the self pair
        # ROW-SLICED product (memory: slice x |b|, not (N/B)^2) + vectorized
        # top-m preselect.  argpartition alone breaks the (score desc, id asc)
        # tie order at the cut, so: preselect top m = n_keep+16 by score, then
        # lexsort JUST those m per row; if the kept set's boundary score still
        # appears among the excluded (>16-way tie), fall back to an exact
        # full-row lexsort for that row — bit-identical to the naive form.
        m = min(n_keep + 16, b)
        step = max(256, int(2e7 / max(1, b)))
        rows = []
        for s0 in range(0, len(mat_a), step):
            sl = mat_a[s0:s0 + step] @ mat_b.T
            part = (np.argpartition(-sl, m - 1, axis=1)[:, :m]
                    if m < b else np.tile(np.arange(b), (sl.shape[0], 1)))
            for i in range(sl.shape[0]):
                cand = part[i]
                order = cand[np.lexsort((ids_b[cand], -sl[i, cand]))]
                kept = order[:n_keep]
                if m < b and sl[i, kept[-1]] == sl[i, order[-1]]:
                    # the kept boundary score equals the preselect's minimum:
                    # an excluded candidate could tie with a smaller id —
                    # exact full-row fallback (rare: needs a >16-way tie)
                    kept = np.lexsort((ids_b, -sl[i]))[:n_keep]
                ai_id = ids_a[s0 + i]
                for bi in kept:
                    if not exclude_self or ai_id != ids_b[bi]:
                        rows.append((ai_id, ids_b[bi], float(sl[i, bi])))
        return pd.DataFrame(rows, columns=["left_id", "right_id", "score"])

    local = staged.groupBy("ci", "cj").applyInPandas(compute, out_schema)
    w = Window.partitionBy("left_id").orderBy(F.col("score").desc(), F.col("right_id").asc())
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# Broadcast budget for the BLAS similarity paths: past this many dimension-side
# rows (~500k x 64 dims x 8 B = 256 MB driver matrix) the driver-collect
# broadcast is unsafe and the grid (no-collect) path takes over.  Single
# routing constant — dedup.py re-exports it so the two layers cannot drift.
BLAS_BROADCAST_BUDGET_ROWS = 500_000


def route_rows(df: DataFrame, approx_rows: int | None = None) -> int:
    """Row estimate for BLAS-vs-grid routing WITHOUT running a count() job.

    Priority: caller hint > Catalyst plan statistics (parquet footer row
    counts / CBO stats, free) > sizeInBytes-derived bound > count() as the
    genuine last resort.  At 100 TB an eager count() probe would cost more
    than the join it routes (VERDICT r3 Wrong #3); the routing only needs an
    order-of-magnitude answer, and both routes are bit-parity anyway."""
    if approx_rows is not None:
        return approx_rows
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            return int(rc.get().longValue())
        # no exact row count in the plan: bound rows by plan size assuming a
        # conservative 64-byte row (real embedding rows are far wider, so
        # this over-estimates rows -> errs toward the scalable grid path)
        size = int(stats.sizeInBytes())
        if 0 < size < (1 << 62):  # defined (not the unknown sentinel)
            return size // 64
    except Exception:  # py4j / non-SQL plans: fall through to the exact count
        pass
    return df.count()


def _auto_blocks(est_rows: int, target_per_block: int = 50_000,
                 lo: int = 8, hi: int = 64) -> int:
    """Grid size from the row estimate: blocks of ~50k rows keep each cell's
    sliced BLAS product bounded (~160 MB live) while shuffle stays N*B rows.
    A FIXED B=8 at 600k rows meant 75k-row blocks and (pre-slicing) a 45 GB
    dense score matrix per task — B must scale with the input."""
    import math

    return max(lo, min(hi, math.ceil(max(1, est_rows) / target_per_block)))


def best_rounded_match(cand: DataFrame, threshold: float | None = None) -> DataFrame:
    """The house determinism rule for picking THE best kNN candidate per left
    row: rank on the 6-dp-ROUNDED score (the oracle-parity precision) with a
    right_id-asc tie-break, keep rank 1, optionally require rounded score >=
    threshold.  Shared by G5 mention resolution and SemDeDup assignment so the
    two determinism-critical call sites cannot drift.

    Input: a kNN candidate set {left_id, right_id, score}.  Output:
    {left_id, right_id, score(6 dp)} — one row per left_id that has a
    qualifying best match.

    Caveat (bounded, shared with every finite-overfetch caller): candidates
    arrive ranked by UNROUNDED score, so a (k_overfetch+1)-way tie at 1e-6
    could hide the lowest-id member from the window.  Callers size their
    overfetch so that failure needs a >k-way sub-1e-6 tie."""
    r6 = F.round(F.col("score"), 6)
    w = Window.partitionBy("left_id").orderBy(r6.desc(), F.col("right_id").asc())
    best = cand.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    if threshold is not None:
        best = best.filter(r6 >= threshold)
    return best.select("left_id", "right_id", r6.alias("score"))


def knn_join_auto(left: DataFrame, right: DataFrame, k: int,
                  left_vec: str = "embedding", right_vec: str = "embedding",
                  left_id: str = "id", right_id: str = "id",
                  broadcast_budget_rows: int = BLAS_BROADCAST_BUDGET_ROWS,
                  n_blocks: int | None = None,
                  approx_right_rows: int | None = None,
                  exclude_self: bool = True) -> DataFrame:
    """Budget-routed exact kNN join: broadcast-BLAS while the RIGHT side fits
    the budget, grid (no driver collect) past it.  Both paths are bit-identical
    (tested); callers never need to know the corpus size.  Routing uses plan
    statistics (or the ``approx_right_rows`` hint), not an eager count().
    ``n_blocks=None`` scales the grid with the estimated input size."""
    est = route_rows(right, approx_right_rows)
    if est > broadcast_budget_rows:
        return grid_knn_join(left, right, k, left_vec, right_vec,
                             left_id, right_id,
                             n_blocks if n_blocks else _auto_blocks(est),
                             exclude_self=exclude_self)
    return knn_join_blas(left, right, k, left_vec, right_vec, left_id, right_id,
                         exclude_self=exclude_self)


def cosine_join_auto(left: DataFrame, right: DataFrame, threshold: float,
                     left_vec: str = "embedding", right_vec: str = "embedding",
                     left_id: str = "id", right_id: str = "id",
                     anti_reflexive: bool = True, inclusive: bool = True,
                     broadcast_budget_rows: int = BLAS_BROADCAST_BUDGET_ROWS,
                     n_blocks: int | None = None,
                     approx_right_rows: int | None = None) -> DataFrame:
    """Budget-routed exact cosine threshold join (self-join form routes through
    the grid when the right side is past the broadcast budget).  For the
    non-self-join grid case both sides hash into the same block space, which is
    exactly the grid_knn cell layout with a threshold emit.  Routing uses
    plan statistics (or the hint), not an eager count().
    ``n_blocks=None`` scales the grid with the estimated input size."""
    est = route_rows(right, approx_right_rows)
    if est > broadcast_budget_rows:
        n_blocks = n_blocks if n_blocks else _auto_blocks(est)
        if left is not right:
            # IDENTITY check, not schema equality: two distinct same-schema
            # DataFrames (e.g. new_chunks vs corpus) are still an asymmetric
            # join — silently sweeping only `right` would return pairs from
            # entirely the wrong data (round-5 review finding)
            raise ValueError("grid routing for asymmetric joins: use grid_knn_join "
                             "with a threshold filter")
        pairs = grid_near_duplicates(right, threshold, right_id, right_vec,
                                     n_blocks, inclusive=inclusive)
        # grid sweep emits each unordered pair once (left<right); mirror to
        # both orientations to match the blas join's directed contract
        both = pairs.unionByName(pairs.select(
            F.col("right_id").alias("left_id"),
            F.col("left_id").alias("right_id"), "score"))
        if anti_reflexive:
            return both
        # self pairs computed exactly (cosine(v,v) is 1, or 0 for zero vectors)
        v = to_double(F.col(right_vec))
        selfs = right.select(
            F.col(right_id).alias("left_id"), F.col(right_id).alias("right_id"),
            cosine(v, v).alias("score"),
        )
        keep = F.col("score") >= threshold if inclusive else F.col("score") > threshold
        return both.unionByName(selfs.filter(keep))
    return cosine_join_blas(left, right, threshold, left_vec, right_vec,
                            left_id, right_id, anti_reflexive, inclusive)


def mine_hard_negatives(anchors: DataFrame, corpus: DataFrame, k: int,
                        overfetch: int = 2, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        label_col: str = "label") -> DataFrame:
    """Hard-negative mining for embedding/retriever training (r13) — the
    ANCE arXiv:2007.00808 / DPR arXiv:2004.04906 data step: for every
    anchor, retrieve the globally most-similar candidates, drop the
    anchor's POSITIVES (same ``label_col`` here — swap in any positive
    predicate by relabeling), and keep the top-k survivors as training
    negatives.  Filter-AFTER-retrieve is the published semantic: a
    negative is only found if it ranks inside the top
    ``m = k * (1 + overfetch)`` overall, so an anchor whose positives
    flood its neighborhood can surface FEWER than k negatives — that
    starvation is visible in the output (rank gaps), not silently
    backfilled with easy negatives.

    Shape: one budget-routed exact kNN (broadcast-BLAS or grid past the
    budget — never an unguarded cross join), two id-keyed label joins,
    then a re-rank window whose partitions are <= m rows by construction
    (skew-safe).  Ranks re-break ties on the ROUNDED score so the DuckDB
    oracle's window agrees at grid boundaries (the v5_knn_join
    convention).  A NULL anchor label treats every candidate as a
    negative (IS DISTINCT FROM semantics).

    Returns {anchor_id, negative_id, score (round-6), rank}."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if overfetch < 0:
        raise ValueError(f"overfetch must be >= 0, got {overfetch}")
    m = k * (1 + overfetch)
    nn = knn_join_auto(anchors, corpus, m, left_vec=vec_col,
                       right_vec=vec_col, left_id=id_col, right_id=id_col)
    a_lab = anchors.select(F.col(id_col).alias("left_id"),
                           F.col(label_col).alias("_alab"))
    c_lab = corpus.select(F.col(id_col).alias("right_id"),
                          F.col(label_col).alias("_clab"))
    neg = (nn.join(a_lab, "left_id").join(c_lab, "right_id")
           .filter(~F.col("_clab").eqNullSafe(F.col("_alab"))))
    w = Window.partitionBy("left_id").orderBy(
        F.round(F.col("score").cast("double"), 6).desc(),
        F.col("right_id").asc())
    return (neg.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col("left_id").alias("anchor_id"),
                    F.col("right_id").alias("negative_id"),
                    F.round(F.col("score").cast("double"), 6).alias("score"),
                    "rank"))
