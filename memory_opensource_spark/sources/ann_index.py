"""Persisted IVF index: train centroids -> assign -> write partitioned -> pruned reads.

The reference serves ANN from Qdrant's HNSW (memory/memory_graph.py:8103-8238);
the Spark-native equivalent at 100 TB is a PHYSICAL LAYOUT: vectors live in
parquet partitioned by their IVF bucket, so a query that probes ``nprobe`` of
``C`` buckets prunes to nprobe/C of the files before the scan starts — the
index is the directory tree, no server needed.

Pipeline:

    cents = train_centroids(vectors, 32)          # MLlib KMeans (spherical)
    build_ivf_index(vectors, path, cents)         # assign + partitionBy write
    hits = ann_query(spark, path, qvec, k=10, nprobe=4)   # pruned scan + top-k

``ann_query``'s physical plan shows ``PartitionFilters: [ivf_bucket IN (...)]``
— asserted by tests/test_layout.py and recorded in PERF.md.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.vector import l2_normalize, to_double
from ..operators.similarity import ivf_assign_auto, topk_search
from .writers import write_partitioned

BUCKET_COL = "ivf_bucket"


def _centroids_path(index_path: str) -> str:
    return index_path.rstrip("/") + ".centroids"


def train_centroids(df: DataFrame, n_centroids: int, vec_col: str = "embedding",
                    max_iter: int = 20, seed: int = 42,
                    train_points_per_centroid: int = 256) -> list[list[float]]:
    """Spherical k-means centroids via MLlib KMeans (distributed Lloyd's — no
    driver-side matrix).  Vectors are L2-normalized first and the learned
    centroids re-normalized, so the max-dot-product assignment used by
    :func:`..operators.similarity.ivf_assign` is the matching nearest-centroid
    rule.  Replaces take-the-first-C "sampling", which leaves empty/lopsided
    buckets and poor recall.

    Training runs on a seeded sample capped at
    ``train_points_per_centroid * k`` rows (the FAISS
    ``max_points_per_centroid`` rule): Lloyd's cost is linear in the training
    rows but centroid quality saturates long before the full corpus — at 600k
    rows this cuts the build ~4x with identical serving recall (PERF.md
    round-6 engine probe).  ASSIGNMENT still covers every row."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = df.select(
        array_to_vector(l2_normalize(to_double(F.col(vec_col)))).alias("features")
    )
    # MLlib KMeans crashes with k > n; clamp at build time (a count on the
    # write path is fine — tiny tables are the only case where it binds)
    n = feats.count()
    n_centroids = max(1, min(n_centroids, n))
    cap = train_points_per_centroid * n_centroids
    if n > cap:
        feats = feats.sample(False, cap / n, seed=seed)
    model = KMeans(k=n_centroids, maxIter=max_iter, seed=seed).fit(feats)
    cents = []
    for c in model.clusterCenters():
        norm = math.sqrt(float(sum(x * x for x in c))) or 1.0
        cents.append([float(x) / norm for x in c])
    return cents


def _l2_normalized_arrow(df: DataFrame, vec_col: str,
                         out_col: str = "emb") -> DataFrame:
    """L2-normalize a vector column as ONE Arrow kernel (r11).  The
    expression form (functions/vector.l2_normalize) is an interpreted
    transform/aggregate chain — fine on request-sized frames, but
    materializing the refine training sample through it dominated the
    warm-recluster wall (15 of 17 s at 600k/C=1200; the numpy batch is
    <1 s).  float64 math matches the expression form up to final-ulp
    summation order (pairwise vs left fold) — irrelevant to centroid
    fitting, which re-normalizes its means anyway.  Zero vectors stay
    zero, NULLs stay NULL (the expression form's contract)."""
    import numpy as np
    import pandas as pd

    src = df.select(F.col(vec_col).alias(out_col))

    def kern(batches):
        for pdf in batches:
            vals = pdf[out_col]
            ok = np.fromiter((v is not None for v in vals), dtype=bool,
                             count=len(vals))
            out = list(vals)
            if ok.any():
                X = np.stack([np.asarray(v, dtype="float64")
                              for v in vals[ok]])
                nr = np.linalg.norm(X, axis=1, keepdims=True)
                nr[nr == 0] = 1.0
                X = X / nr
                rows = np.nonzero(ok)[0]
                for i, r in enumerate(rows):
                    out[r] = X[i]
            yield pd.DataFrame({out_col: out})

    return src.mapInPandas(kern, f"{out_col} array<double>")


def refine_centroids(df: DataFrame, init_centroids: list[list[float]],
                     vec_col: str = "embedding", max_iter: int = 10,
                     tol: float = 5e-4, seed: int = 42,
                     train_points_per_centroid: int = 256
                     ) -> list[list[float]]:
    """Warm-started spherical Lloyd's: refine an EXISTING codebook instead
    of retraining cold (the corpus_recluster drift path — a drifted corpus
    still overlaps the old one, so the old centroids are a near-converged
    init and a handful of iterations replaces MLlib's full cold run).

    ``tol`` default is 5e-4 (r11, was 1e-4): the per-iteration max
    movement on a CONVERGED codebook floors at the training-sample noise,
    measured ~2-3e-4 at 600k/C=1200 (PERF.md "Round-10 recluster" — and
    assignment quality after 1 iteration equals 10 iterations to 4
    decimals there), so a tol below the noise floor never fires and a
    steady-state recluster paid a full extra assign+mean round just to
    trigger the plateau rule.  Genuinely drifting fits move >=1e-2 per
    iteration and are unaffected.

    Per iteration: budget-routed IVF assignment (expression or Arrow/BLAS,
    same rule as serving) + ONE grouped ``Summarizer.mean`` job over the
    capped training sample; means re-normalize (the spherical rule matching
    :func:`train_centroids`); an empty cluster keeps its previous centroid.
    Stops when max centroid movement ``1 - cos(old, new) < tol``, so an
    already-converged codebook costs a single assignment pass.  Same
    FAISS-style ``train_points_per_centroid`` sample cap as cold training.
    Returns the refined list with centroid ids KEEPING THEIR SLOTS (index i
    refines centroid i) — downstream sidecars stay index-stable."""
    import numpy as np
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.ml.stat import Summarizer

    # r11: the sample materializes through the Arrow normalize kernel —
    # the interpreted expression form was 15 of the 17 s warm-refine wall
    # at 600k (sampling applies BEFORE the kernel, same seeded rows, so
    # only ~cap rows pay the normalize)
    n = df.count()
    k = len(init_centroids)
    if k == 0:
        raise ValueError("refine_centroids needs a non-empty init codebook")
    cap = train_points_per_centroid * k
    src = df.select(F.col(vec_col))
    if n > cap:
        src = src.sample(False, cap / n, seed=seed)
    feats = _l2_normalized_arrow(src, vec_col, out_col="emb")
    feats = feats.localCheckpoint(eager=False)    # scanned once per iter

    def _norm(v):
        s = math.sqrt(float(sum(x * x for x in v))) or 1.0
        return [float(x) / s for x in v]

    cents = [_norm(c) for c in init_centroids]
    prev_move = None
    for _ in range(max_iter):
        assigned = ivf_assign_auto(feats, cents, 1, vec_col="emb",
                                   approx_rows=min(n, cap))
        rows = (assigned.groupBy(BUCKET_COL)
                .agg(Summarizer.mean(array_to_vector(F.col("emb")))
                     .alias("m"))
                .select(BUCKET_COL, vector_to_array("m").alias("m"))
                .collect())
        new = list(cents)
        for r in rows:
            v = np.asarray(r.m, dtype="float64")
            nv = float(np.linalg.norm(v))
            if nv > 0:
                new[int(r[BUCKET_COL])] = [float(x) for x in v / nv]
        move = max(1.0 - float(np.dot(np.asarray(a), np.asarray(b)))
                   for a, b in zip(cents, new))
        cents = new
        if move < tol:
            break
        # plateau stop (round-10): on an already-fit codebook the per-iter
        # MAX movement floors at the training-sample noise level (measured
        # ~2e-4 at 600k/C=1200 — PERF.md "Round-10 recluster") and the tol
        # above never fires, so a converged warm start used to pay all
        # max_iter rounds.  Lloyd's progress decays geometrically; a move
        # that fails to halve is the noise floor, not progress (quality
        # A/B: iterations 1..10 land within 2e-4 of each other in mean
        # assignment sim while the wall more than doubles).
        if prev_move is not None and move > 0.5 * prev_move:
            break
        prev_move = move
    return cents


def build_ivf_index(df: DataFrame, index_path: str,
                    centroids: list[list[float]] | None = None,
                    n_centroids: int = 32, vec_col: str = "embedding",
                    mode: str = "overwrite", assign_k: int = 1) -> list[list[float]]:
    """Assign every vector to its centroid and persist partitioned by bucket.
    Centroids are stored alongside (``<path>.centroids``) so query time needs
    no re-training.  Returns the centroid list.

    ``assign_k`` > 1 enables multi-assignment (spill): each vector is
    replicated into its top-``assign_k`` buckets — storage x``assign_k``,
    same per-bucket probe cost, higher recall on boundary vectors
    (``ann_query`` de-duplicates ids).  Recall/scan trade measured in
    PERF.md's round-5 table."""
    cents = centroids if centroids is not None else train_centroids(df, n_centroids, vec_col)
    bucketed = ivf_assign_auto(df, cents, assign_k, vec_col, bucket_col=BUCKET_COL)
    # co-locate each bucket on one writer before the dynamic-partition write:
    # without this every task writes into every bucket directory — C x tasks
    # small files (512 centroids x 32 tasks = 16k files at the round-6 probe
    # scale, and the write dominated the whole build).  One shuffle on the
    # bucket key -> one-ish file per bucket, and the layout reads faster too.
    bucketed = bucketed.repartition(F.col(BUCKET_COL))
    write_partitioned(bucketed, index_path, [BUCKET_COL], mode=mode)
    spark = df.sparkSession
    cdf = spark.createDataFrame(
        [(i, c, assign_k) for i, c in enumerate(cents)],
        "cid int, centroid array<double>, assign_k int",
    )
    cdf.coalesce(1).write.mode("overwrite").parquet(_centroids_path(index_path))
    return cents


def append_to_index(df: DataFrame, index_path: str,
                    vec_col: str = "embedding") -> int:
    """Incremental maintenance: assign NEW vectors against the existing
    centroids (no retraining) and append them into the partitioned layout —
    the steady-state ingest path at scale (rebuilds are for drift, appends
    are for arrival).  Dynamic partition append only touches the bucket
    directories the new batch lands in; existing files are never rewritten.
    Respects the index's recorded assign_k (spill indexes keep spilling).
    Returns the number of rows appended (post-replication).

    Centroid drift note: appended vectors can sit farther from their
    centroid than build-time ones; recall degrades gradually with append
    volume, which is why production IVF systems retrain/rebalance when the
    appended fraction passes ~30% — at that point call build_ivf_index again.
    """
    spark = df.sparkSession
    cents, assign_k = _load_sidecar(spark, index_path)
    bucketed = ivf_assign_auto(df, cents, assign_k, vec_col, bucket_col=BUCKET_COL)
    # the write job counts its own rows, so an append is one job
    n = Observation()
    (bucketed.observe(n, F.count(F.lit(1)).alias("n"))
     .write.mode("append").partitionBy(BUCKET_COL).parquet(index_path))
    return n.get["n"]


def _load_sidecar(spark: SparkSession, index_path: str) -> tuple[list[list[float]], int]:
    """One read of the centroid sidecar -> (centroids, assign_k).  Pre-round-5
    sidecars lack the assign_k column (always single-assignment).

    Fast path reads the (single-file, C-row) sidecar with pyarrow directly —
    no Spark job on the serving path; a per-query Spark collect for C rows of
    metadata costs ~0.5 s of scheduler overhead that pyarrow does in ~1 ms.
    Falls back to a Spark read for filesystems pyarrow can't reach."""
    try:
        import pyarrow.parquet as pq

        t = pq.read_table(_centroids_path(index_path)).to_pydict()
        order = sorted(range(len(t["cid"])), key=lambda i: t["cid"][i])
        cents = [[float(x) for x in t["centroid"][i]] for i in order]
        ks = t.get("assign_k")
        return cents, (max(int(k or 1) for k in ks) if ks else 1)
    # ArrowInvalid ("unrecognized filesystem in URI", e.g. s3a://) subclasses
    # ValueError, NOT OSError — without it the Spark fallback is dead code on
    # every non-local filesystem
    except (ImportError, OSError, ValueError):
        sdf = spark.read.parquet(_centroids_path(index_path))
        rows = sdf.orderBy("cid").collect()
        cents = [[float(x) for x in r.centroid] for r in rows]
        if "assign_k" not in sdf.columns:
            return cents, 1
        return cents, max((int(r.assign_k or 1) for r in rows), default=1)


def load_centroids(spark: SparkSession, index_path: str) -> list[list[float]]:
    return _load_sidecar(spark, index_path)[0]


def _index_assign_k(spark: SparkSession, index_path: str) -> int:
    return _load_sidecar(spark, index_path)[1]


def probe_buckets(query_vec: list[float], centroids: list[list[float]],
                  nprobe: int) -> list[int]:
    """The nprobe buckets whose centroids best match the query (dot product,
    index-asc tie-break) — tiny driver-side math on C centroids."""
    sims = [
        (sum(q * c for q, c in zip(query_vec, cent)), i)
        for i, cent in enumerate(centroids)
    ]
    sims.sort(key=lambda t: (-t[0], t[1]))
    return [i for _, i in sims[:nprobe]]


def probed_rows(spark: SparkSession, index_path: str, query_vec: list[float],
                nprobe: int,
                centroids: list[list[float]] | None = None) -> DataFrame:
    """The persisted rows of the ``nprobe`` buckets that best match the query,
    one row per vector, without the bucket column — the one IVF probe path
    behind :func:`ann_query` and ``MemoryEngine``'s ANN serving.  The bucket
    IN-filter lands in ``PartitionFilters`` (directory pruning), so the scan
    touches nprobe/C of the index files."""
    if centroids is not None:
        # Caller-supplied centroids MUST be the build-time centroids: the
        # on-disk layout is partitioned by build-time assignment, so probing
        # buckets computed from different centroids silently returns
        # wrong/low-recall candidates.  This arg only skips the sidecar read.
        cents = centroids
        try:
            multi = _index_assign_k(spark, index_path) > 1
        except Exception as e:
            # ONLY "sidecar does not exist" (externally-built layout) may
            # degrade to single-assignment; a genuine sidecar READ error must
            # propagate — treating it as multi=False would silently skip the
            # candidate dedup a spill index requires
            msg = str(e)
            if isinstance(e, FileNotFoundError) or "PATH_NOT_FOUND" in msg \
                    or "Path does not exist" in msg:
                multi = False
            else:
                raise
    else:
        cents, assign_k = _load_sidecar(spark, index_path)
        multi = assign_k > 1
    probe = probe_buckets(query_vec, cents, nprobe)
    df = (spark.read.parquet(index_path).filter(F.col(BUCKET_COL).isin(probe))
          .drop(BUCKET_COL))
    # Multi-assigned (spill) layouts replicate a vector across buckets; when
    # two of its buckets are probed the same id reaches the candidate set
    # twice with an identical score and could occupy two top-k slots.  Dedup
    # the candidates — bounded by the probed nprobe/C subset.  Gated on the
    # build-time assign_k so the common single-assignment read path keeps its
    # zero-shuffle plan.
    if multi:
        # A replicated vector's rows are byte-identical once the bucket
        # column is dropped (the copies differ only in bucket assignment),
        # so distinct-all keeps one row per id while planning as a
        # pure-grouping HashAggregate — the key-subset form aggregated the
        # embedding with first(), whose array buffer is not UnsafeRow-mutable
        # and forced a SortAggregate (candidates sorted per task before the
        # combine).
        df = df.dropDuplicates()
    return df


def ann_query(spark: SparkSession, index_path: str, query_vec: list[float],
              k: int, nprobe: int = 4,
              centroids: list[list[float]] | None = None,
              id_col: str = "vec_id", vec_col: str = "embedding",
              pred=None) -> DataFrame:
    """ANN top-k against the persisted layout: top-k over the pruned
    :func:`probed_rows` scan — this is what makes it ANN at scale, not a
    full scan."""
    df = probed_rows(spark, index_path, query_vec, nprobe, centroids)
    if pred is not None:
        df = df.filter(pred)
    return topk_search(df, query_vec, k, None, vec_col, id_col,
                       score_threshold=None)


def pruning_evidence(spark: SparkSession, index_path: str,
                     query_vec: list[float], nprobe: int,
                     centroids: list[list[float]] | None = None) -> bool:
    """True when the ann_query physical plan prunes partitions on the bucket
    column — the PERF.md proof that probing is file-skipping, not filtering."""
    df = probed_rows(spark, index_path, query_vec, nprobe, centroids)
    plan = df._jdf.queryExecution().executedPlan().toString()
    return ("PartitionFilters: [" in plan
            and BUCKET_COL in plan.split("PartitionFilters:")[1][:400])
