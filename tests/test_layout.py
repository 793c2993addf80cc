"""Physical-layout tests: partition pruning evidence, upserts, skew salting."""

import pytest
from pyspark.sql import functions as F

from memory_opensource_spark.operators import skew
from memory_opensource_spark.operators.similarity import ivf_assign
from memory_opensource_spark.sources import tables, writers


def test_partitioned_write_prunes(spark, tmp_path):
    chunks = tables.build_chunks(tables.load(spark, "/root/testdata/sf0.001", "embeddings"))
    path = str(tmp_path / "chunks")
    writers.write_partitioned(chunks, path, ["namespace_id"])
    df, pruned = writers.partition_pruning_evidence(spark, path, "namespace_id", "ns3")
    assert pruned, "expected PartitionFilters on namespace_id in the physical plan"
    assert df.count() > 0
    assert df.select("namespace_id").distinct().collect()[0].namespace_id == "ns3"


def test_ivf_bucket_partition_layout(spark, tmp_path):
    emb = tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    cents = [[float(x) for x in r.embedding]
             for r in emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()]
    bucketed = ivf_assign(emb, cents)
    path = str(tmp_path / "ivf")
    writers.write_partitioned(bucketed, path, ["ivf_bucket"])
    df, pruned = writers.partition_pruning_evidence(spark, path, "ivf_bucket", 2)
    assert pruned
    total = spark.read.parquet(path).count()
    assert df.count() < total  # the probe reads a strict subset


def test_upsert_parquet_merge_semantics(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.createDataFrame([("a", 1), ("b", 2)], "id string, v int")
    writers.upsert_parquet(spark, path, base, ["id"])
    incoming = spark.createDataFrame([("b", 20), ("c", 30)], "id string, v int")
    writers.upsert_parquet(spark, path, incoming, ["id"])
    got = {r.id: r.v for r in spark.read.parquet(path).collect()}
    assert got == {"a": 1, "b": 20, "c": 30}


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-broadcast
    try:
        chunks = tables.build_chunks(tables.load(spark, "/root/testdata/sf0.001", "embeddings"))
        mems = tables.build_memories(tables.load(spark, "/root/testdata/sf0.001", "documents"))
        writers.write_bucketed(chunks.select("chunk_id", "memory_id", "label"),
                               "b_chunks", "memory_id", 8, sort_col="memory_id")
        writers.write_bucketed(mems.select("memory_id", "content"),
                               "b_mems", "memory_id", 8, sort_col="memory_id")
        assert writers.join_is_shuffle_free("b_chunks", "b_mems", "memory_id", spark)
        joined = spark.table("b_chunks").join(spark.table("b_mems"), "memory_id")
        assert joined.count() == 500
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_chunks")
        spark.sql("DROP TABLE IF EXISTS b_mems")


def test_compaction(spark, tmp_path):
    path = str(tmp_path / "many")
    spark.range(1000).repartition(20).write.parquet(path)
    import glob

    assert len(glob.glob(path + "/*.parquet")) == 20
    n = writers.compact(spark, path, 2)
    assert n == 1000
    assert len(glob.glob(path + "/*.parquet")) <= 2
    assert spark.read.parquet(path).count() == 1000


def test_salted_count_matches_plain(spark):
    ev = tables.load(spark, "/root/testdata/sf0.001", "events")
    plain = {r.user_id: r["count"] for r in
             ev.groupBy("user_id").agg(F.count("*").alias("count")).collect()}
    salted = {r.user_id: r["count"] for r in skew.salted_count(ev, "user_id").collect()}
    assert salted == plain


def test_salted_join_on_skewed_key(spark):
    # 90% of rows share one hot key — the exact shape AQE skew-join or salting
    # must handle; equivalence with the plain join proves salting is lossless
    rows = [(i, 7 if i % 10 else int(i)) for i in range(5000)]
    big = spark.createDataFrame(rows, "row_id long, user_id long")
    dim = spark.createDataFrame([(i, f"u{i}") for i in range(5000)], "user_id long, name string")
    plain = big.join(dim, "user_id").count()
    salted = skew.salted_join(big, dim, "user_id", buckets=8).count()
    assert salted == plain == 5000


def test_salted_join_matches_plain(spark):
    ev = tables.load(spark, "/root/testdata/sf0.001", "events").select("event_id", "user_id")
    dim = spark.createDataFrame([(i, f"name{i}") for i in range(20)], "user_id long, name string")
    plain = ev.join(dim, "user_id").count()
    salted = skew.salted_join(ev, dim, "user_id").count()
    assert salted == plain


def test_ivf_index_end_to_end(spark, tmp_path):
    """Build the persisted IVF index with k-means centroids, query it pruned,
    and check the answer equals brute force restricted to the probed buckets."""
    import numpy as np

    from memory_opensource_spark.sources import ann_index

    emb = tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "ivf_idx")
    cents = ann_index.build_ivf_index(emb, path, n_centroids=8)
    assert len(cents) == 8
    for c in cents:  # spherical: unit centroids so max-dot == nearest
        assert abs(float(np.linalg.norm(c)) - 1.0) < 1e-6

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    out = ann_index.ann_query(spark, path, qvec, k=10, nprobe=2,
                              id_col="vec_id").collect()
    assert len(out) == 10

    # plan-level proof: the probe is partition pruning, not a post-scan filter
    assert ann_index.pruning_evidence(spark, path, qvec, nprobe=2)

    # parity: brute force over the probed buckets gives the identical top-10
    probe = ann_index.probe_buckets(qvec, cents, 2)
    cand = spark.read.parquet(path).filter(F.col("ivf_bucket").isin(probe)).collect()
    q = np.asarray(qvec)
    scored = []
    for r in cand:
        v = np.asarray(list(r.embedding), dtype="float64")
        denom = np.linalg.norm(v) * np.linalg.norm(q)
        scored.append((float(v @ q / denom) if denom else 0.0, r.vec_id))
    scored.sort(key=lambda t: (-t[0], t[1]))
    assert [r.vec_id for r in out] == [i for _, i in scored[:10]]

    # centroids round-trip through the sidecar
    assert ann_index.load_centroids(spark, path) == cents


def test_ivf_kmeans_recall_beats_sampled(spark):
    """k-means centroids must give materially better recall@10 than the
    take-first-C sampling they replace (the round-1 weak spot)."""
    import numpy as np

    from memory_opensource_spark.sources import ann_index
    from memory_opensource_spark.operators.similarity import ivf_assign

    emb = tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([list(r.embedding) for r in rows], dtype="float64")
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)

    def recall(cents, nprobe=2, k=10, n_queries=25):
        cents = np.asarray(cents)
        assign = np.argmax(mat @ cents.T, axis=1)
        rng = np.random.default_rng(0)
        hits = 0
        for qi in rng.choice(len(ids), size=n_queries, replace=False):
            s = mat @ mat[qi]
            s[qi] = -np.inf
            truth = set(ids[np.argsort(-s)[:k]])
            probe = np.argsort(-(cents @ mat[qi]))[:nprobe]
            cand = np.where(np.isin(assign, probe))[0]
            cs = mat[cand] @ mat[qi]
            keep = [c for c in cand[np.argsort(-cs)] if c != qi][:k]
            hits += len(truth & set(ids[keep]))
        return hits / (k * n_queries)

    kmeans_cents = ann_index.train_centroids(emb, 16)
    sampled_cents = [list(mat[i]) for i in range(16)]
    r_km, r_sm = recall(kmeans_cents), recall(sampled_cents)
    assert r_km > r_sm, (r_km, r_sm)


def test_ivf_multi_assign_index(spark, tmp_path):
    """assign_k=2 (spill) layout: every vector lands in exactly its top-2
    buckets, the query path de-duplicates replicated candidates, pruning
    still holds, and recall at matched nprobe can only go up vs
    single-assignment (boundary vectors reachable from both sides)."""
    import numpy as np

    from memory_opensource_spark.sources import ann_index

    emb = tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    p1 = str(tmp_path / "ivf_a1")
    p2 = str(tmp_path / "ivf_a2")
    cents = ann_index.build_ivf_index(emb, p1, n_centroids=8)
    ann_index.build_ivf_index(emb, p2, centroids=cents, assign_k=2)

    # replication factor is exactly assign_k, and each (vec, bucket) is unique
    idx2 = spark.read.parquet(p2)
    assert idx2.count() == 2 * n
    assert idx2.select("vec_id", "ivf_bucket").distinct().count() == 2 * n
    assert ann_index._index_assign_k(spark, p2) == 2
    assert ann_index._index_assign_k(spark, p1) == 1

    # spill bucket = second-best centroid: spot-check against numpy argsort
    cmat = np.asarray(cents)
    row = emb.filter(F.col("vec_id") == 1).first()
    v = np.asarray(list(row.embedding), dtype="float64")
    v /= np.linalg.norm(v)
    want = set(np.argsort(-(cmat @ v))[:2])
    got = {r.ivf_bucket for r in idx2.filter(F.col("vec_id") == 1).collect()}
    assert got == want

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    out = ann_index.ann_query(spark, p2, qvec, k=10, nprobe=3,
                              id_col="vec_id").collect()
    assert len(out) == 10
    assert len({r.vec_id for r in out}) == 10  # dedup: no replicated ids
    assert ann_index.pruning_evidence(spark, p2, qvec, nprobe=3)

    # recall vs exact, matched nprobe: spill >= single assignment
    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([list(r.embedding) for r in rows], dtype="float64")
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    rng = np.random.default_rng(7)
    recs = {p: 0 for p in (p1, p2)}
    queries = rng.choice(len(ids), size=10, replace=False)
    for qi in queries:
        s = mat @ mat[qi]
        s[qi] = -np.inf
        true = set(ids[np.argsort(-s)[:5]])
        q = [float(x) for x in mat[qi]]
        for p in (p1, p2):
            got5 = {r.vec_id for r in
                    ann_index.ann_query(spark, p, q, k=6, nprobe=2,
                                        id_col="vec_id").collect()
                    if r.vec_id != ids[qi]}
            recs[p] += len(true & got5)
    assert recs[p2] >= recs[p1]


def test_ivf_append_to_index(spark, tmp_path):
    """Incremental maintenance: appended vectors are assigned to the existing
    centroids (no retrain), land only in their bucket partitions, become
    immediately queryable, and pre-existing files are untouched."""
    import os

    from memory_opensource_spark.sources import ann_index

    emb = tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    old = emb.filter(F.col("vec_id") < 150)
    new = emb.filter(F.col("vec_id") >= 150).limit(20)
    path = str(tmp_path / "ivf_app")
    cents = ann_index.build_ivf_index(old, path, n_centroids=8)

    def files():
        out = {}
        for root, _, fns in os.walk(path):
            for fn in fns:
                if fn.endswith(".parquet"):
                    p = os.path.join(root, fn)
                    out[p] = os.path.getmtime(p)
        return out

    before = files()
    n = ann_index.append_to_index(new, path)
    assert n == new.count()
    after = files()
    for p, mtime in before.items():  # append never rewrites existing files
        assert after[p] == mtime
    assert len(after) > len(before)

    idx = spark.read.parquet(path)
    assert idx.count() == old.count() + n
    # appended rows sit in their true nearest-centroid bucket
    import numpy as np

    cmat = np.asarray(cents)
    row = new.first()
    v = np.asarray(list(row.embedding), dtype="float64")
    v /= np.linalg.norm(v)
    want = int(np.argmax(cmat @ v))
    got = idx.filter(F.col("vec_id") == row.vec_id).first().ivf_bucket
    assert got == want
    # and are reachable through the query path (probe their own bucket)
    q = [float(x) for x in row.embedding]
    res = ann_index.ann_query(spark, path, q, k=5, nprobe=2, id_col="vec_id")
    assert row.vec_id in {r.vec_id for r in res.collect()}


def test_ivf_append_job_count(spark, tmp_path):
    """An append is one write job that counts its own rows: no checkpoint
    and no count() ahead of it (those ran 3 more jobs)."""
    from memory_opensource_spark.sources import ann_index

    emb = tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "ivf_jobs")
    ann_index.build_ivf_index(emb.filter(F.col("vec_id") < 150), path, n_centroids=8)
    new = emb.filter((F.col("vec_id") >= 150) & (F.col("vec_id") < 170))
    sc = spark.sparkContext
    sc.setJobGroup("ivf-append", "ivf-append")
    try:
        n = ann_index.append_to_index(new, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup("ivf-append"))
    assert n == 20
    assert jobs <= 1, f"an append ran {jobs} jobs"


def test_zorder_write_skips_on_both_columns(spark, tmp_path):
    """Z-order clustering must make footer-stats skipping effective on BOTH
    clustered columns simultaneously — a single-column sort only tightens
    stats for its leading key.  Measured on a 2-D uniform grid: a narrow
    range predicate on either axis must touch well under half the files
    z-ordered, vs (nearly) all files when sorted by the OTHER axis alone."""
    from memory_opensource_spark.sources import writers

    n = 20000
    df = (spark.range(n)
          .select((F.col("id") % 141).cast("long").alias("x"),
                  ((F.col("id") * 7919) % 139).cast("long").alias("y")))

    zpath = str(tmp_path / "zorder")
    spath = str(tmp_path / "xsorted")
    writers.zorder_write(df, zpath, ["x", "y"], n_files=16)
    (df.repartitionByRange(16, "x").sortWithinPartitions("x")
     .write.mode("overwrite").parquet(spath))

    # predicate on y (the NON-sort axis for the comparison layout)
    z_hits = writers.files_matching(zpath, "y", 10, 20)
    s_hits = writers.files_matching(spath, "y", 10, 20)
    assert s_hits == 16          # x-sorted files all span the full y range
    assert z_hits <= 8           # z-ordered: most files skipped on y too
    # and x-skipping still works on the z-ordered layout
    assert writers.files_matching(zpath, "x", 10, 20) <= 8

    # clustering is a layout change only: the data is intact
    assert spark.read.parquet(zpath).count() == n
    got = spark.read.parquet(zpath).groupBy().sum("x", "y").first()
    want = df.groupBy().sum("x", "y").first()
    assert got == want


def test_zvalue_many_columns_auto_reduces_bits(spark, tmp_path):
    """bits*len(cols) must fit 63 bits: Spark shiftleft wraps shifts mod 64,
    which would silently fold bit planes.  With 6 columns the default 12 bits
    auto-reduces (63//6 = 10) and ordering stays monotone per column."""
    from memory_opensource_spark.sources.writers import _zvalue

    cols = [f"c{i}" for i in range(6)]
    df = spark.createDataFrame(
        [tuple(float(i * 10 + j) for j in range(6)) for i in range(50)],
        ", ".join(f"{c} double" for c in cols))
    z = df.select(*cols, _zvalue(df, cols).alias("z")).orderBy("c0").collect()
    zs = [r.z for r in z]
    assert all(v >= 0 for v in zs)
    # rows are jointly increasing in every column -> Morton keys must be
    # strictly increasing; plane-folding would break this monotonicity
    assert zs == sorted(zs) and len(set(zs)) == len(zs)


def test_ivf_assign_blas_matches_expression_path(spark):
    """The Arrow/BLAS assignment (large-build route) must agree with the
    exact Column-expression path on both single and multi assignment —
    bucket-for-bucket, including the (score desc, index asc) ordering of
    multi-assigned buckets."""
    import random

    from memory_opensource_spark.operators.similarity import (
        ivf_assign_blas,
        ivf_assign_multi,
    )

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    cents = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(6)]

    for k in (1, 2):
        exact = sorted((r.vec_id, r.ivf_bucket)
                       for r in ivf_assign_multi(df, cents, k).collect())
        blas = sorted((r.vec_id, r.ivf_bucket)
                      for r in ivf_assign_blas(df, cents, k).collect())
        assert blas == exact, f"assign_k={k} diverged"


def test_shard_assignment_deterministic_across_layouts(spark):
    docs = tables.load(spark, "/root/testdata/sf0.001", "documents")
    a = writers.shard_assignment(docs, 8, "seedA").select("doc_id", "shard", "pos")
    b = writers.shard_assignment(docs.repartition(17), 8, "seedA").select(
        "doc_id", "shard", "pos")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # a different seed reshuffles: at least one doc moves shard or position
    c = writers.shard_assignment(docs, 8, "seedB").select("doc_id", "shard", "pos")
    assert sorted(map(tuple, a.collect())) != sorted(map(tuple, c.collect()))


def test_shard_write_layout_and_reader_order(spark, tmp_path):
    docs = tables.load(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "shards")
    writers.shard_write(docs, path, 4, "s")
    back = spark.read.parquet(path)
    assert back.select("shard").distinct().count() == 4
    assert back.count() == docs.count()
    # pos is a dense 1..n_k order inside every shard
    agg = back.groupBy("shard").agg(
        F.count("*").alias("n"), F.min("pos").alias("lo"), F.max("pos").alias("hi"))
    for r in agg.collect():
        assert r.lo == 1 and r.hi == r.n
    # pruning: a shard filter reads one partition directory
    df, pruned = writers.partition_pruning_evidence(spark, path, "shard", 2)
    assert pruned and 0 < df.count() < docs.count()


def test_shard_by_token_budget_exact_window_parity(spark):
    """The distributed prefix-sum form must reproduce the single-window
    exclusive prefix sum exactly — including zero-token docs, NULL token
    counts (pack as 0), a budget larger than the corpus (one shard), and a
    budget of 1 (every positive-token doc opens its own shard boundary)."""
    from pyspark.sql import Window

    rows = [(0, 10), (1, 0), (2, None), (3, 7), (4, 3), (5, 12), (6, 1),
            (7, 0), (8, 5), (9, 2)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    w = (Window.orderBy(F.col("doc_id").asc())
         .rowsBetween(Window.unboundedPreceding, -1))
    for budget in (1, 8, 10_000):
        got = {r.doc_id: r.shard
               for r in writers.shard_by_token_budget(df, budget).collect()}
        want = {r.doc_id: r.shard for r in df.withColumn(
            "shard",
            F.floor((F.coalesce(
                F.sum(F.coalesce(F.col("n_tokens"), F.lit(0))).over(w),
                F.lit(0))) / F.lit(float(budget))).cast("int")).collect()}
        assert got == want, budget
    # budget >> total packs everything into shard 0
    assert set(writers.shard_by_token_budget(df, 10_000)
               .select("shard").distinct().toPandas()["shard"]) == {0}


def test_shard_by_token_budget_plan_has_no_global_window(spark):
    """Scale pin: the prefix sum must come from a bucket-partitioned window
    plus broadcast offsets — no single-partition exchange anywhere."""
    df = spark.createDataFrame(
        [(i, (i * 7) % 13) for i in range(500)], "doc_id long, n_tokens long")
    out = writers.shard_by_token_budget(df, 50)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    assert "Window" in plan


def test_shard_by_token_budget_null_ids_not_dropped(spark):
    """r8 sweep pin: a NULL doc_id must not vanish through the bucket-offset
    join — it packs nulls-first (Spark's own sort order), exactly like the
    single-window form with orderBy(asc) would."""
    rows = [(None, 4), (1, 10), (2, 3), (None, 1), (3, 6)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = writers.shard_by_token_budget(df, 8).collect()
    assert len(out) == len(rows)
    by_id = {}
    for r in out:
        by_id.setdefault(r.doc_id, []).append(r.shard)
    # the two null-id docs carry 5 tokens of prefix before id 1's 10
    assert sorted(by_id[None]) == [0, 0]
    assert by_id[1] == [0] and by_id[2] == [1] and by_id[3] == [2]


def test_grouped_prefix_sum_matches_window_twin(spark):
    """r8: per-group exact exclusive prefix sums with no whole-group window
    — parity with the window twin over NULL groups, NULL orders, NULL
    values and a dominant group."""
    from pyspark.sql import Window

    rows = []
    for i in range(60):
        rows.append((i, "hot" if i % 3 else "cold",
                     None if i % 11 == 0 else i % 7))
    rows += [(100, None, 5), (101, None, None), (102, None, 2)]
    df = spark.createDataFrame(rows, "doc_id long, g string, v int")
    got = {r.doc_id: r.prior
           for r in writers.grouped_prefix_sum(
               df, "g", "doc_id", "v", range_partitions=4).collect()}
    w = (Window.partitionBy("g").orderBy(F.col("doc_id").asc())
         .rowsBetween(Window.unboundedPreceding, -1))
    want = {r.doc_id: r.p for r in df.withColumn(
        "p", F.coalesce(F.sum(F.coalesce(F.col("v"), F.lit(0))).over(w),
                        F.lit(0)).cast("long")).collect()}
    assert got == want and len(got) == len(rows)


def test_grouped_prefix_sum_tie_col_breaks_order_ties(spark):
    """r9 (ADVICE): rows tied on order_col get layout-dependent priors;
    tie_col pins the intra-bucket order — parity with the window twin
    ordered by (order, id)."""
    from pyspark.sql import Window

    rows = [(i, "g" if i % 4 else "h", i % 5, 10 + i % 3)
            for i in range(40)]                      # order ties everywhere
    df = spark.createDataFrame(rows, "doc_id long, g string, o int, v int") \
              .repartition(8)
    got = {r.doc_id: r.prior
           for r in writers.grouped_prefix_sum(
               df, "g", "o", "v", range_partitions=4,
               tie_col="doc_id").collect()}
    w = (Window.partitionBy("g").orderBy(F.col("o").asc(),
                                         F.col("doc_id").asc())
         .rowsBetween(Window.unboundedPreceding, -1))
    want = {r.doc_id: r.p for r in df.withColumn(
        "p", F.coalesce(F.sum(F.coalesce(F.col("v"), F.lit(0))).over(w),
                        F.lit(0)).cast("long")).collect()}
    assert got == want and len(got) == len(rows)


def test_fixed_window_examples_tile_exactly(spark):
    """r16 fixed_window_examples invariants: every doc's pieces tile
    [0, n) exactly; every window sums to W except the last; win_offset
    is consistent with the global stream position."""
    from pyspark.sql import functions as F

    from memory_opensource_spark.sources import writers
    rows = [(1, 5), (2, 12), (3, 1), (4, 0), (5, None), (6, 9)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int")
    out = writers.fixed_window_examples(df, 8).collect()
    # docs 4 (zero) and 5 (NULL) contribute nothing
    assert {r["doc_id"] for r in out} == {1, 2, 3, 6}
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    lens = {1: 5, 2: 12, 3: 1, 6: 9}
    for d, n in lens.items():
        spans = sorted((r["doc_tok_start"], r["doc_tok_end"])
                       for r in by_doc[d])
        assert spans[0][0] == 0 and spans[-1][1] == n
        for (_, b1), (a2, _) in zip(spans, spans[1:]):
            assert b1 == a2
    # window totals: stream is 5+12+1+9 = 27 tokens -> windows 0,1,2 of
    # size 8, 8, 8 and a last window of 3
    win_tot = {}
    for r in out:
        win_tot[r["window_id"]] = win_tot.get(r["window_id"], 0) \
            + (r["doc_tok_end"] - r["doc_tok_start"])
    assert win_tot == {0: 8, 1: 8, 2: 8, 3: 3}
    # piece at win_offset 0 exists in every window
    assert all(any(r["window_id"] == w and r["win_offset"] == 0
                   for r in out) for w in win_tot)


def test_shard_balanced_load_even_token_totals(spark):
    """r16 serpentine sharding: per-shard token totals land within one
    max-document of each other; NULL tokens cost 0; deterministic."""
    from memory_opensource_spark.sources import writers
    rows = [(i, (i * 37) % 500 + 1) for i in range(200)] + [(999, None)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int")
    out = writers.shard_balanced_load(df, 8).collect()
    assert len(out) == 201
    tot = {}
    for r in out:
        tot[r["shard"]] = tot.get(r["shard"], 0) + (r["n_tokens"] or 0)
    assert set(tot) == set(range(8))
    assert max(tot.values()) - min(tot.values()) <= 500  # one max doc
    again = {r["doc_id"]: r["shard"]
             for r in writers.shard_balanced_load(df, 8).collect()}
    assert all(again[r["doc_id"]] == r["shard"] for r in out)
