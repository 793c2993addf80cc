"""Deduplication operator family (north-star LLM-pipeline ops + reference V4/V5).

Five dedup strategies, each returning DataFrames with deterministic canonical
choices (min id wins) so results are oracle-checkable:

- exact        : md5(content) hash-groupBy — one shuffle on a 32-char key.
- minhash_lsh  : shingle -> minhash -> band -> bucket equi-join (candidate pairs
                 without the O(n^2) cross join) -> exact Jaccard refine.
- simhash      : 32-bit token-vote fingerprint; near-dups share fingerprint or
                 differ in few bits.
- ngram_jaccard: exact Jaccard over word n-gram shingle sets.
- embedding    : cosine-threshold join (reference V4 ingest 0.97 / V5 sweep 0.95).

Scale notes: exact/minhash/simhash shuffle on short hash keys (tiny rows after
projection — shuffle bytes are bounded by signature size, not document size).
LSH candidate generation is the canonical 100 TB near-dup plan (MapReduce-era
proven); band count trades recall vs candidate volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint, shingle_grams, shingles, tokens
from ..semantics import (
    DUPLICATE_SWEEP_THRESHOLD,
    MINHASH_BANDS,
    MINHASH_NUM_HASHES,
    NEAR_DUP_JACCARD,
)
from .similarity import (
    BLAS_BROADCAST_BUDGET_ROWS,
    route_rows as _route_rows,
    cosine_join_blas,
    grid_near_duplicates,
    knn_join_auto,
)

def exact_duplicates(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     max_ids: int | None = None) -> DataFrame:
    """Exact dedup: group by md5(text); emit groups with >1 member, canonical =
    min id.  Returns {content_hash, canonical_id, dup_count, dup_ids(sorted)}.

    Hot-key contract (round-8 sweep): on a Zipfian corpus ONE content hash can
    own half the rows, and ``collect_list`` then builds that whole group in a
    single aggregation buffer.  ``max_ids=0`` drops the dup_ids column
    entirely — min + count both map-side combine, so the hot hash reduces to
    one partial per map task and the op is bounded at any scale (the mode
    corpus-scale callers use).  ``max_ids=N`` keeps the N smallest ids per
    group; the OUTPUT row is bounded but the agg buffer still holds the full
    group — a reporting convenience, not the 100 TB mode.  Default None keeps
    the full sorted list (oracle semantics, fixture scale).  Negative
    max_ids raises — a caller passing -1 expecting 'unlimited' must use
    None, not silently get the no-dup_ids mode."""
    if max_ids is not None and max_ids < 0:
        raise ValueError(f"max_ids must be None or >= 0, got {max_ids}")
    hashed = docs.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("content_hash"))
    aggs = [F.min("id").alias("canonical_id"), F.count("*").alias("dup_count")]
    if max_ids is None:
        aggs.append(F.array_sort(F.collect_list("id")).alias("dup_ids"))
    elif max_ids > 0:
        aggs.append(F.slice(F.array_sort(F.collect_list("id")), 1, max_ids)
                    .alias("dup_ids"))
    return (
        hashed.groupBy("content_hash")
        .agg(*aggs)
        .filter(F.col("dup_count") > 1)
    )


def fingerprint_duplicates(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Order-insensitive content-set dedup via token-set fingerprint."""
    fp = docs.select(F.col(id_col).alias("id"), fingerprint(F.col(text_col)).alias("fp"))
    return (
        fp.groupBy("fp")
        .agg(F.min("id").alias("canonical_id"), F.count("*").alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       num_hashes: int = MINHASH_NUM_HASHES,
                       hash_fn: str = "md5") -> DataFrame:
    """Per-doc MinHash signature {id, sig array<string>} via explode + codegen'd
    scalar md5 columns.

    The pure-expression form (functions.text.minhash_signature) re-evaluates the
    shingle array once per hash seed because Catalyst doesn't CSE across lambda
    scopes — O(num_hashes * n^2) interpreted work per doc.  This shape builds
    the shingle multiset row-side (one O(n) array pass), explodes to
    (id, shingle), derives the ``num_hashes`` md5s as plain scalar columns
    inside whole-stage codegen, and reduces with map-side-partial min()
    aggregates.  The ONLY shuffle is the groupBy on id carrying (id, 16x32B
    hashes) rows, independent of document length — an earlier variant built
    shingles with lead()-over-Window, which shuffled and sorted every token
    row first; at 100 TB that sort is pure waste since shingles are a
    row-local construction.

    ``hash_fn``: ``"md5"`` (default — hex strings the DuckDB oracle
    reproduces bit-for-bit) or ``"xxhash64"`` (the production choice:
    measured 2.4x faster on the signature stage at sf0.1, and the shuffle
    rows carry 8-byte longs instead of 32-byte hex strings — 4x less
    shuffle payload for the same LSH quality; min-wise independence needs
    only a seeded uniform hash, not a cryptographic one).
    """
    from ..sources.tables import fan_out

    sh = fan_out(docs).select(
        F.col(id_col).alias("id"),
        F.explode(shingle_grams(F.col(text_col))).alias("shingle"),
    )
    # no distinct needed: min() over the shingle multiset == min() over the set
    if hash_fn == "xxhash64":
        hash_cols = [F.xxhash64(F.lit(i), F.col("shingle")).alias(f"h{i}")
                     for i in range(num_hashes)]
    elif hash_fn == "md5":
        hash_cols = [
            F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle"))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    else:
        raise ValueError(f"unsupported hash_fn: {hash_fn}")
    hashed = sh.select("id", *hash_cols)
    agg = hashed.groupBy("id").agg(*[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)])
    return agg.select("id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig"))


def minhash_band_table(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       num_hashes: int = MINHASH_NUM_HASHES,
                       bands: int = MINHASH_BANDS,
                       hash_fn: str = "md5") -> DataFrame:
    """{id, band_idx, band_hash} — the LSH bucket table (explode-based fast path).

    With ``hash_fn="xxhash64"`` band_hash is a LONG (xxhash64 over the band's
    min-hash longs) instead of an md5 hex string — the bucket-join shuffle key
    drops from 34 to ~10 bytes/row."""
    rows = num_hashes // bands
    sig = minhash_signatures(docs, id_col, text_col, num_hashes, hash_fn)
    if hash_fn == "xxhash64":
        band_cols = F.array(*[
            F.xxhash64(*[F.col("sig").getItem(b * rows + r) for r in range(rows)])
            for b in range(bands)
        ])
    else:
        band_cols = F.array(*[
            F.md5(F.concat_ws(",", *[F.col("sig").getItem(b * rows + r) for r in range(rows)]))
            for b in range(bands)
        ])
    return sig.select("id", F.posexplode(band_cols).alias("band_idx", "band_hash"))


def minhash_lsh_candidates(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           num_hashes: int = MINHASH_NUM_HASHES,
                           bands: int = MINHASH_BANDS,
                           hash_fn: str = "md5",
                           max_bucket: int | None = None) -> DataFrame:
    """LSH candidate pairs: docs sharing >= 1 minhash band bucket.

    Returns {left_id, right_id} with left < right, distinct.  This is an
    equi-join on (band_index, band_hash) — shuffle key is 34 bytes/row/band
    (10 with ``hash_fn="xxhash64"``), so the candidate-generation cost is
    independent of document length.

    ``max_bucket`` (round-8 hot-key guard): a bucket of m docs emits
    m(m-1)/2 pairs — OUTPUT amplification AQE's input-size skew splitting
    cannot fix (the hot bucket is only m INPUT rows per band).  Real corpora
    have mega-buckets (boilerplate-dominated shingle sets); production LSH
    jobs cap bucket size and route the overflow to exact-hash dedup, which
    such near-identical docs hit anyway.  Buckets larger than max_bucket are
    dropped from candidate generation (size check is a combinable groupBy +
    semi-join).  Default None = exhaustive (oracle semantics).
    """
    exploded = minhash_band_table(docs, id_col, text_col, num_hashes, bands, hash_fn)
    if max_bucket is not None:
        small = (exploded.groupBy("band_idx", "band_hash")
                 .agg(F.count("*").alias("_n"))
                 .filter(F.col("_n") <= max_bucket)
                 .drop("_n"))
        exploded = exploded.join(small, ["band_idx", "band_hash"], "semi")
    left = exploded.alias("l")
    right = exploded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("left_id"), F.col("r.id").alias("right_id"))
        .distinct()
    )


def jaccard_pairs(docs: DataFrame, candidates: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  threshold: float = NEAR_DUP_JACCARD) -> DataFrame:
    """Refine candidate pairs with exact shingle-set Jaccard >= threshold.
    Returns {left_id, right_id, jaccard}."""
    sh = docs.select(F.col(id_col).alias("id"), shingles(F.col(text_col)).alias("sh"))
    out = (
        candidates.join(sh.withColumnRenamed("id", "left_id").withColumnRenamed("sh", "lsh_"), "left_id")
        .join(sh.withColumnRenamed("id", "right_id").withColumnRenamed("sh", "rsh_"), "right_id")
        .withColumn("inter", F.size(F.array_intersect("lsh_", "rsh_")))
        .withColumn("uni", F.size(F.array_union("lsh_", "rsh_")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double") / F.greatest(F.col("uni"), F.lit(1)).cast("double"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold).select("left_id", "right_id", "jaccard")


def minhash_near_duplicates(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text",
                            threshold: float = NEAR_DUP_JACCARD,
                            hash_fn: str = "md5") -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: candidates -> Jaccard refine.
    The refine stage is exact-set Jaccard, so the final pair set depends on
    ``hash_fn`` only through candidate RECALL — both families are min-wise
    uniform, and parity on the fixture is test-pinned."""
    cands = minhash_lsh_candidates(docs, id_col, text_col, hash_fn=hash_fn)
    return jaccard_pairs(docs, cands, id_col, text_col, threshold)


def simhash_fingerprints(docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", bits: int = 32) -> DataFrame:
    """Per-doc SimHash fingerprint {id, simhash}; equal fingerprints are near-dups.
    (Hamming-distance banding: split fingerprint into 4 chunks; dups share >=1.)

    Explode shape, not the per-row expression (functions.text.simhash): the
    expression form runs ``bits`` interpreted aggregate() passes with one md5
    per token PER BIT.  Here each token row computes ONE md5 and reads all
    ``bits`` vote columns from its hex chars in whole-stage codegen; the
    groupBy on id partial-aggregates the vote sums map-side, so the shuffle
    carries (id, 32 ints) regardless of document length.  Bit-for-bit equal to
    the expression form (parity test) — votes sum over the token MULTISET in
    both.  Docs with no tokens keep fingerprint 0 via the left join, matching
    the expression form's zero-vote accumulator."""
    from ..sources.tables import fan_out

    ids = docs.select(F.col(id_col).alias("id"))
    toks = fan_out(docs).select(F.col(id_col).alias("id"),
                                F.explode(tokens(F.col(text_col))).alias("tok"))
    # r13 OPT: the three `bits`-wide expression loops are built as GENERATED
    # SQL (one parse per select) instead of ~10 py4j-wrapped Column calls per
    # bit — plan construction was 60% of this operator's warm bench wall
    # (cProfile: ~1900 py4j round trips).  The parsed trees are the same
    # expressions as the Column form (same arithmetic as
    # functions.text.simhash.bit_of: hex char b//4, bit 3-(b%4) of its
    # value); codegen CSE dedups the repeated md5(tok) either way.  Parity
    # with the expression form stays pinned by the existing test.
    vote_sql = [
        f"CASE WHEN ((shiftright((instr('0123456789abcdef', "
        f"substring(md5(tok), {b // 4 + 1}, 1)) - 1), {3 - (b % 4)}) % 2)"
        f" = 1) THEN 1 ELSE -1 END AS v{b}"
        for b in range(bits)
    ]
    voted = toks.selectExpr("id", *vote_sql)
    agg = voted.groupBy("id").agg(
        *[F.expr(f"sum(v{b}) AS v{b}") for b in range(bits)])
    acc_sql = "CAST(0 AS BIGINT)" + "".join(
        f" + (CASE WHEN (v{b} > 0) THEN shiftleft(CAST(1 AS BIGINT), {b}) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for b in range(bits))
    sig = agg.selectExpr("id", f"({acc_sql}) AS simhash")
    return ids.join(sig, "id", "left").select(
        "id", F.coalesce("simhash", F.lit(0).cast("bigint")).alias("simhash"))


def simhash_duplicates(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", bits: int = 32) -> DataFrame:
    fp = simhash_fingerprints(docs, id_col, text_col, bits)
    return (
        fp.groupBy("simhash")
        .agg(F.min("id").alias("canonical_id"), F.count("*").alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def simhash_hamming_duplicates(docs: DataFrame, id_col: str = "doc_id",
                               text_col: str = "text", bits: int = 32,
                               n_bands: int = 4, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs within ``max_hamming`` bits of SimHash — the banding form
    exact-fingerprint grouping misses.

    Pigeonhole: a pair differing in < n_bands bits shares at least one of the
    n_bands fingerprint chunks untouched, so candidates come from an EQUI-JOIN
    on (band_index, band_value) — shuffle on 2 short ints, never all-pairs;
    recall is exactly 1 for max_hamming <= n_bands - 1.  The popcount(xor)
    refine then runs only on candidates.  Returns {left_id, right_id, hamming}.
    """
    if max_hamming > n_bands - 1:
        raise ValueError("banding guarantees recall only for max_hamming <= n_bands-1")
    fp = simhash_fingerprints(docs, id_col, text_col, bits)
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    bands = fp.select(
        "id", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("simhash", b * band_bits).bitwiseAND(F.lit(mask)).alias("val"),
            )
            for b in range(n_bands)
        ])).alias("bv"),
    ).select("id", "simhash", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    # r13 OPT: the candidate join consumes the band table twice (l ⋈ r);
    # without the lineage cut the whole fingerprint pipeline (token
    # explode + 32-column vote groupBy) executes once per side.  The band
    # table is n_bands rows per doc of 4 small columns — strictly smaller
    # than the exploded token table one pass already shuffles.
    bands = bands.localCheckpoint(eager=False)
    l = bands.select(F.col("id").alias("left_id"), F.col("simhash").alias("lfp"),
                     "band", "val")
    r = bands.select(F.col("id").alias("right_id"), F.col("simhash").alias("rfp"),
                     "band", "val")
    cand = (
        l.join(r, ["band", "val"])
        .filter(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id", "lfp", "rfp")
        .distinct()
    )
    ham = F.bit_count(F.col("lfp").bitwiseXOR(F.col("rfp"))).cast("int")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("left_id", "right_id", "hamming")
    )


def embedding_near_duplicates(vectors: DataFrame, id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              threshold: float = DUPLICATE_SWEEP_THRESHOLD,
                              approx_rows: int | None = None) -> DataFrame:
    """Reference V5 duplicate sweep (memory/memory_graph.py:10333-10390):
    pairs with cosine STRICTLY > threshold (memory_graph.py:10378 compares with
    >, not >=), left < right ordering.

    Scale routing: while the corpus fits the broadcast budget, the BLAS path
    streams left partitions against a broadcast matrix; past the budget it
    switches to :func:`grid_near_duplicates` — the exact grid sweep with no
    driver-side collect (bit-identical results, bounded memory everywhere).
    ``approx_rows``: optional size hint; when absent, routing reads plan
    statistics instead of running a count() scan (see :func:`_route_rows`)."""
    if _route_rows(vectors, approx_rows) > BLAS_BROADCAST_BUDGET_ROWS:
        return grid_near_duplicates(vectors, threshold, id_col, vec_col,
                                    inclusive=False)
    pairs = cosine_join_blas(vectors, vectors, threshold, vec_col, vec_col,
                             id_col, id_col, inclusive=False)
    return pairs.filter(F.col("left_id") < F.col("right_id"))


def ingest_dedup_reuse(new_chunks: DataFrame, existing: DataFrame,
                       threshold: float, new_id: str = "chunk_id",
                       existing_id: str = "chunk_id",
                       vec_col: str = "embedding",
                       approx_existing_rows: int | None = None,
                       inclusive: bool = False) -> DataFrame:
    """Reference V4 near-duplicate check at ingest
    (memory/memory_graph.py:14214-14442): for each new chunk, its best existing
    match with cosine > threshold -> {new_id, reuse_id, score}; rows absent =
    genuinely new.  1-NN via :func:`knn_join_auto` (k=1), then threshold.

    Scale routing is knn_join_auto's: the BLAS path collects the EXISTING side
    to a broadcast matrix — safe only within the broadcast budget — and a
    corpus past it routes to the grid join (no driver collect), so
    add_memory_batch can never OOM the driver on a large store.
    ``approx_existing_rows``: optional size hint; when absent, routing reads
    plan statistics instead of running a count() scan.

    ``inclusive``: V4's reference gate is STRICT (score > 0.97,
    memory_graph.py:14421 — the default); V7 content resolution passes
    score_threshold to Qdrant, whose semantics are INCLUSIVE (>= 0.95,
    :11557-11570) — that caller sets inclusive=True."""
    nn = knn_join_auto(new_chunks, existing, 1, vec_col, vec_col, new_id, existing_id,
                       approx_right_rows=approx_existing_rows)
    keep = (F.col("score") >= threshold) if inclusive else (F.col("score") > threshold)
    return (
        nn.filter(keep)
        .select(F.col("left_id").alias("new_id"), F.col("right_id").alias("reuse_id"), "score")
    )


def semantic_cluster_dedup(vectors: DataFrame, centroids: DataFrame,
                           eps: float, id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           centroid_id: str = "centroid_id",
                           k_overfetch: int = 8,
                           approx_centroid_rows: int | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster-scoped semantic
    dedup — the published recipe for pruning near-duplicate training examples
    from web-scale corpora WITHOUT a global pair join.

    1. Assign each vector to its nearest centroid (argmax cosine; ties break
       to the lowest centroid id on the 6-dp-rounded score, same determinism
       rule as G5).  The assignment kNN is budget-routed, so a 100k-centroid
       codebook at 10^9 rows takes the grid path with bounded memory.
    2. Within each cluster, order members by (centroid_sim ASC, id ASC) — the
       paper KEEPS the member of each duplicate group with the LOWEST cosine
       to its centroid (the most "extreme" representative).
    3. A member is a duplicate iff some earlier-ranked member of the SAME
       cluster has cosine >= eps with it.  Cross-cluster near-dups are
       deliberately not compared — that locality is what makes the method
       O(N * C + sum s_c^2) instead of O(N^2).

    Scale: one shuffle on cluster_id; per-cluster work is s_c^2 cosines where
    s_c ~ N/C, so C must scale with the corpus (same FAISS guidance as the
    IVF index: C in [sqrt(N), N/100]).  The pairwise block inside each pandas
    group is row-sliced, so per-worker live memory is slice x s_c, not s_c^2.

    Returns {id, cluster_id, centroid_sim (6 dp), is_dup (0/1)} — one row per
    input vector.  All comparisons happen on 6-dp-rounded cosines so the
    result is oracle-checkable against a SQL mirror.
    """
    import pandas as pd

    from pyspark.sql.types import IntegerType, StructField, StructType, DoubleType

    from .similarity import best_rounded_match, knn_join_auto

    cand = knn_join_auto(vectors, centroids, k_overfetch,
                         left_vec=vec_col, right_vec=vec_col,
                         left_id=id_col, right_id=centroid_id,
                         approx_right_rows=approx_centroid_rows,
                         exclude_self=False)
    assign = best_rounded_match(cand).select(
        F.col("left_id").alias("id"),
        F.col("right_id").alias("cluster_id"),
        F.col("score").alias("centroid_sim"))
    members = assign.join(
        vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_vec")),
        "id")

    out_schema = StructType([
        StructField("id", vectors.schema[id_col].dataType),
        StructField("cluster_id", centroids.schema[centroid_id].dataType),
        StructField("centroid_sim", DoubleType()),
        StructField("is_dup", IntegerType()),
    ])

    def _dedup_cluster(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(["centroid_sim", "id"], kind="mergesort",
                              ascending=[True, True]).reset_index(drop=True)
        mat = np.asarray([np.asarray(v, dtype="float64") for v in pdf["_vec"]])
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        mat = mat / norms
        n = len(pdf)
        is_dup = np.zeros(n, dtype="int32")
        slice_rows = max(1, 2_000_000 // max(n, 1))
        for lo in range(1, n, slice_rows):
            hi = min(lo + slice_rows, n)
            # row i only reads columns < i, so cap the product at hi columns
            # (halves total flops vs the full n-column block)
            scores = np.round(mat[lo:hi] @ mat[:hi].T, 6)
            for off in range(hi - lo):
                i = lo + off
                if (scores[off, :i] >= eps).any():
                    is_dup[i] = 1
        return pd.DataFrame({
            "id": pdf["id"], "cluster_id": pdf["cluster_id"],
            "centroid_sim": pdf["centroid_sim"], "is_dup": is_dup,
        })

    return members.groupBy("cluster_id").applyInPandas(_dedup_cluster, out_schema)


def line_dedup(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", sep: str = "\n") -> DataFrame:
    """Line-level exact dedup (the C4 three-sentence-span / RefinedWeb
    line-wise recipe, arXiv:1910.10683 §2.2 / arXiv:2306.01116 §3.3): split
    every document into lines, keep each distinct line's globally FIRST
    occurrence (lexicographic (id, position) — deterministic, layout-free),
    and reassemble the surviving lines in original order.  Boilerplate that
    repeats across pages (nav bars, cookie banners, licence footers) drops
    from every document except the first one that contains it.

    Returns {id, kept_lines, dropped_lines, text_deduped} — one row per
    input document; a document whose every line was seen before keeps an
    empty text (kept_lines = 0) so the caller's length filter can drop it
    explicitly, like the reference pipeline routes short docs.

    Scale shape (round-8 rework, same reasoning as the span ops): the r7
    form computed the keeper via min-struct OVER A WINDOW partitioned by
    the line — a content key, so one boilerplate line repeated 1e8 times
    put every occurrence in ONE window task, and AQE cannot split window
    partitions.  Now: per-line keeper via the map-side-combinable
    min(struct(id, pos)) groupBy (the hot line reduces to one partial per
    map task BEFORE the shuffle), keeper flag via a join back on the
    composite (line, id, pos) key — which a hot line cannot skew, since the
    key includes (id, pos) — then ONE groupBy(id) computes totals, kept
    counts and the reassembled text together.  The line table shuffles
    twice instead of once; that single extra exchange of (line-hash-sized)
    rows buys the skew guarantee, the same trade measured for the span ops
    in PERF.md round-8.
    """
    import re as _re

    # split() takes a Java regex — escape so sep is LITERAL both ways (the
    # reassembly join below uses it literally); NULL text becomes one empty
    # line so every input document keeps its output row
    lines = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")),
                             _re.escape(sep))).alias("pos", "line"),
    )
    keepers = (lines.groupBy("line")
               .agg(F.min(F.struct("id", "pos")).alias("_f"))
               .select("line", F.col("_f.id").alias("id"),
                       F.col("_f.pos").alias("pos"),
                       F.lit(True).alias("_keep")))
    flagged = (lines.join(keepers, ["line", "id", "pos"], "left")
               .withColumn("_keep", F.coalesce("_keep", F.lit(False))))
    return (flagged.groupBy("id")
            .agg(F.sum(F.col("_keep").cast("long")).alias("kept_lines"),
                 F.sum((~F.col("_keep")).cast("long")).alias("dropped_lines"),
                 F.array_join(
                     F.transform(
                         # collect_list drops the NULLs the when() leaves on
                         # non-keeper rows, so only survivors reassemble
                         F.array_sort(F.collect_list(
                             F.when(F.col("_keep"),
                                    F.struct("pos", "line")))),
                         lambda s: s["line"]),
                     sep).alias("text_deduped")))


def _rolling_span_hash(k: int):
    """Rabin-Karp rolling hash over per-token 64-bit hashes: given a doc's
    token-hash array th (array<long>, from JVM-side xxhash64 so Python never
    sees the token strings), returns the n-k+1 polynomial span hashes
    H(j) = sum_{i=0..k-1} th[j+i] * B^(k-1-i)  (mod 2^64).

    Why a Pandas UDF: the recurrence needs prefix state that Catalyst
    higher-order lambdas can't carry — `transform(seq, j -> xxhash64(
    slice(th, j+1, k)))` is O(k) interpreted work per span, and the previous
    `concat_ws` form materialized each span as a k-token STRING, a ~k× byte
    blowup through the explode at production k=50.  Here span-key bytes are
    O(corpus): 8 bytes in (token hash), 8 bytes out (span hash).

    Vectorized across the whole Arrow batch (no per-token Python loop): docs
    are flattened into one array; prefix sums with modular-inverse weights
    give every span hash in a handful of O(total-tokens) numpy passes.
    uint64 wraparound IS the mod-2^64 arithmetic; B odd => invertible.

    Collision bound (documented, not hidden): 64-bit polynomial hashing
    over S spans expects ~S^2/2^65 colliding pairs — ~1e-8 at the sf0.01
    oracle gate, ~0.2% chance of ONE spurious span-match across a 600k-doc
    probe corpus.  Lee et al.'s suffix array is exact; for a dedup signal a
    one-in-5e8 false span is far below MinHash's designed FP rate.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    B = 0x9E3779B97F4A7C15                      # odd => invertible mod 2^64
    BINV = pow(B, -1, 1 << 64)

    # no type hints: `from __future__ import annotations` stringifies them
    # and pandas_udf can't resolve the local `pd` alias; bare signature
    # infers the default SCALAR eval type from the returnType
    @pandas_udf("array<long>")
    def roll(th):
        arrs = [np.asarray(a, dtype=np.int64).view(np.uint64)
                if a is not None and len(a) else np.empty(0, np.uint64)
                for a in th]
        lens = np.fromiter((len(a) for a in arrs), dtype=np.int64,
                           count=len(arrs))
        total = int(lens.sum())
        n_out = np.maximum(lens - (k - 1), 0)
        if total == 0 or int(n_out.sum()) == 0:
            return pd.Series([np.empty(0, np.int64)] * len(arrs))
        flat = np.concatenate([a for a in arrs if len(a)])
        starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
        local = np.arange(total, dtype=np.int64) - np.repeat(starts, lens)
        maxlen = int(lens.max())
        pw = np.empty(maxlen, dtype=np.uint64)
        pw[0] = 1
        if maxlen > 1:
            np.multiply.accumulate(
                np.full(maxlen - 1, np.uint64(B)), out=pw[1:])
        pwi = np.empty(maxlen, dtype=np.uint64)
        pwi[0] = 1
        if maxlen > 1:
            np.multiply.accumulate(
                np.full(maxlen - 1, np.uint64(BINV)), out=pwi[1:])
        w = flat * pwi[local]                    # th[i] * B^-i
        s = np.cumsum(w)                         # wraps == mod 2^64
        # clip: an empty array's start index can equal `total` (repeat count
        # 0 makes the VALUE unused, but the gather must stay in bounds)
        safe = np.minimum(starts, total - 1)
        base = np.repeat(s[safe] - w[safe], lens)
        sl = s - base                            # per-doc prefix sums
        lo = np.zeros(total, np.uint64)
        m = local >= k                           # Sl[j-1] exists
        lo[m] = sl[np.nonzero(m)[0] - k]
        h = pw[local] * (sl - lo)                # B^(j+k-1) * window sum
        valid = local >= (k - 1)
        pieces = np.split(h[valid].view(np.int64), np.cumsum(n_out)[:-1])
        return pd.Series(pieces)

    return roll


def _span_table(docs: DataFrame, k: int, id_col: str,
                text_col: str) -> DataFrame:
    """{id, pos, span}: every k-token span occurrence, span = 64-bit rolling
    hash.  Docs shorter than k tokens produce no rows.  Token hashing
    (xxhash64, seed-fixed, deterministic) stays JVM-side; only long arrays
    cross the Arrow boundary."""
    from ..functions.text import tokens

    th = F.transform(tokens(F.col(text_col)), lambda t: F.xxhash64(t))
    return (docs
            .select(F.col(id_col).alias("id"), th.alias("th"))
            .filter(F.size("th") >= k)
            .select("id", F.posexplode(_rolling_span_hash(k)(F.col("th")))
                    .alias("pos", "span")))


def span_dup_fraction(docs: DataFrame, k: int = 50, id_col: str = "doc_id",
                      text_col: str = "text",
                      flag_threshold: float = 0.5) -> DataFrame:
    """Exact-substring duplication signal (Lee et al. 2021, arXiv:2107.06499
    — "Deduplicating Training Data Makes Language Models Better"): for every
    document, the fraction of its k-token spans that occur MORE THAN ONCE in
    the corpus (anywhere — another document or a self-repeat; the paper's
    ExactSubstr criterion with the suffix-array replaced by rolling-hash
    span fingerprints, which find the same >= k-token repeats).  Returns
    {id, n_spans, dup_spans, dup_fraction, is_flagged} — one row per
    document with at least one span (len >= k tokens; shorter docs are the
    length-filter's job, mirroring nll_score's contract).

    Scale shape (round-8 rework — the Window.partitionBy(span) form put a
    Zipfian boilerplate span's every occurrence in ONE window task, and AQE
    cannot split window partitions): per-span stats via a map-side-combinable
    groupBy (count + min(id) both combine, so a span repeated 1e8 times
    reduces to one partial per map task BEFORE the shuffle), then
    dup_spans = n_spans - (#spans this doc holds solely), which needs NO
    join back on the span key at all — the only join left is id-keyed
    between two one-row-per-doc tables.  n_spans = len - k + 1 comes
    straight from the token count, so the span table is scanned ONCE.
    """
    spans = _span_table(docs, k, id_col, text_col)
    # combinable per-span aggregate: hot keys reduce map-side; for c == 1
    # groups min(id) IS the single occurrence's owner
    solo = (spans.groupBy("span")
            .agg(F.count("*").alias("_c"), F.min("id").alias("_owner"))
            .filter(F.col("_c") == 1)
            .groupBy("_owner").agg(F.count("*").alias("_solo")))
    from ..functions.text import tokens

    per_doc = (docs
               .select(F.col(id_col).alias("id"),
                       F.size(tokens(F.col(text_col))).alias("_n"))
               .filter(F.col("_n") >= k)
               .select("id", (F.col("_n") - (k - 1)).cast("long")
                       .alias("n_spans")))
    return (per_doc
            .join(solo, per_doc["id"] == solo["_owner"], "left")
            .select(
                "id", "n_spans",
                (F.col("n_spans") - F.coalesce("_solo", F.lit(0)))
                .cast("long").alias("dup_spans"))
            .withColumn("dup_fraction",
                        F.round(F.col("dup_spans") / F.col("n_spans"), 6))
            .withColumn("is_flagged",
                        (F.col("dup_fraction") >= flag_threshold)
                        .cast("int")))


def remove_duplicate_spans(docs: DataFrame, k: int = 50,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Exact-substring REMOVAL (the action half of Lee et al. 2021 — keep
    every repeated >= k-token run's first occurrence, cut the rest):
    a k-token span occurrence (id, pos) is removed unless it is the global
    FIRST occurrence of that span (lexicographic (id, pos) — deterministic);
    a token is cut when ANY removed span covers it, so overlapping repeats
    merge into one cut, approximating the paper's maximal-match trim with
    span coverage.  Documents shorter than k tokens pass through untouched.

    Returns {id, n_tokens, removed_tokens, text_dedup} — one row per input
    document, text rebuilt from the surviving tokens in order.

    Scale shape (round-8 rework, same reasoning as span_dup_fraction — the
    row_number window partitioned by the span content key was a Zipfian
    hot-key hazard AQE can't split): first occurrence per span via the
    map-side-combinable min(struct(id, pos)) groupBy (the exact shape
    line_dedup uses), then non-firsts via a LEFT ANTI join on the composite
    (span, id, pos) key — the join key includes (id, pos), so a span
    repeated 1e8 times hashes across 1e8 DISTINCT composite keys and no
    skew exists to split.  Remaining keys are (id, pos) and (id) — nothing
    global, nothing content-hot.
    """
    from ..functions.text import tokens

    tk = tokens(F.col(text_col))
    base = docs.select(F.col(id_col).alias("id"), tk.alias("tk"))
    toks = base.select(
        "id", F.posexplode_outer("tk").alias("pos", "token"))
    spans = _span_table(docs, k, id_col, text_col)
    firsts = (spans.groupBy("span")
              .agg(F.min(F.struct("id", "pos")).alias("_f"))
              .select("span", F.col("_f.id").alias("id"),
                      F.col("_f.pos").alias("pos")))
    removed = spans.join(firsts, ["span", "id", "pos"], "left_anti")
    covered = (removed
               .select("id", F.explode(
                   F.sequence(F.col("pos"), F.col("pos") + (k - 1)))
                   .alias("pos"))
               .distinct())
    kept = toks.join(covered, ["id", "pos"], "left_anti")
    out = (toks.groupBy("id")
           .agg(F.count("token").alias("n_tokens"))
           .join(kept.groupBy("id").agg(
               F.count("token").alias("_kept"),
               F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(F.struct("pos", "token"))),
                       lambda s: s["token"]),
                   " ").alias("text_dedup")), "id", "left"))
    return out.select(
        "id", "n_tokens",
        (F.col("n_tokens") - F.coalesce("_kept", F.lit(0))).cast("long")
        .alias("removed_tokens"),
        F.coalesce("text_dedup", F.lit("")).alias("text_dedup"))


def _gopher_ngram_kernel(cover_ns: tuple, top_ns: tuple):
    """Vectorized kernel for :func:`gopher_ngram_stats` (and, with
    ``top_ns=()``, :func:`dup_ngram_char_coverage`): per doc, given (token
    char lengths, JVM xxhash64 token hashes, raw text char length), return
    one double per n in ``cover_ns`` (union-coverage duplicated-n-gram char
    fraction) followed by one per n in ``top_ns`` (most-frequent-n-gram char
    fraction — count x gram char length over text length, gram length =
    token chars + separators).

    Why a Pandas UDF: per-position n-gram keys + within-doc frequency +
    positional union need O(T) passes with state; the explode/groupBy twins
    shuffle gram STRINGS per doc per n (measured 7x the wall for the
    coverage half and 22 MB of shuffle at sf0.1 for the top-gram half).
    Here nothing but 8-byte hashes and int lengths cross the Arrow boundary
    and the whole rule table evaluates scan-side — ZERO shuffle stages.

    n-gram identity is the Rabin-Karp-over-xxhash64 scheme of
    :func:`_rolling_span_hash` (collision bound documented there; the
    DuckDB oracle compares exact gram strings, so the gate would surface a
    collision as a hash mismatch).  Ratios return UNROUNDED; callers round
    JVM-side so Spark/DuckDB rounding rules stay identical."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    B = 0x9E3779B97F4A7C15
    all_ns = tuple(cover_ns) + tuple(top_ns)
    max_n = max(all_ns)
    pw = np.empty(max_n, dtype=np.uint64)
    pw[0] = 1
    if max_n > 1:
        np.multiply.accumulate(np.full(max_n - 1, np.uint64(B)), out=pw[1:])
    width = len(cover_ns) + len(top_ns)

    @pandas_udf("array<double>")
    def fracs(lens, th, tlen):
        out = []
        for ln, hh, tl in zip(lens, th, tlen):
            if ln is None or len(ln) == 0:
                out.append(np.zeros(width))
                continue
            L = np.asarray(ln, dtype=np.int64)
            H = np.asarray(hh, dtype=np.int64).view(np.uint64)
            T = len(L)
            tok_chars = max(int(L.sum()), 1)
            text_chars = max(int(tl or 0), 1)
            PS = np.concatenate(([0], np.cumsum(L)))
            row = np.zeros(width)
            pos = np.arange(T, dtype=np.int64)
            for xi, n in enumerate(all_ns):
                if T < n:
                    continue
                J = T - n + 1
                gh = np.zeros(J, dtype=np.uint64)
                for i in range(n):                 # n<=10 tiny numpy ops
                    gh += H[i:i + J] * pw[n - 1 - i]
                _, inv, counts = np.unique(gh, return_inverse=True,
                                           return_counts=True)
                if xi < len(cover_ns):
                    dup = counts[inv] >= 2         # per-start duplicated?
                    if not dup.any():
                        continue
                    # union of covered token positions = binary dilation of
                    # the start mask over window n via one cumsum
                    c = np.concatenate(([0], np.cumsum(dup)))
                    lo = np.maximum(0, pos - n + 1)
                    hi = np.minimum(pos, J - 1)
                    covered = (c[hi + 1] - c[lo]) > 0
                    row[xi] = float(L[covered].sum()) / tok_chars
                else:
                    mc = int(counts.max())         # most-frequent count
                    cand = np.nonzero(counts[inv] == mc)[0]
                    # gram char length incl. the n-1 separators; tie among
                    # equal counts -> the LONGEST gram (max char mass)
                    glen = int((PS[cand + n] - PS[cand]).max()) + (n - 1)
                    row[xi] = float(mc * glen) / text_chars
            out.append(row)
        return pd.Series(out)

    return fracs


def gopher_ngram_columns(text, cover_ns: tuple = (5, 6, 7, 8, 9, 10),
                         top_ns: tuple = (2, 3, 4)):
    """COLUMN form of :func:`gopher_ngram_stats` for single-projection
    pipelines: the UNROUNDED array<double> [cover fracs..., top fracs...]
    for a text Column — lets a quality-filter query evaluate the whole
    n-gram rule table in the same select as its other scan-side signals
    (zero shuffle, no join-back on doc_id)."""
    from ..functions.text import tokens

    txt = F.coalesce(text, F.lit(""))
    tk = tokens(txt)
    return _gopher_ngram_kernel(tuple(cover_ns), tuple(top_ns))(
        F.transform(tk, lambda t: F.length(t)),
        F.transform(tk, lambda t: F.xxhash64(t)),
        F.length(txt))


def gopher_ngram_stats(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       cover_ns: tuple = (5, 6, 7, 8, 9, 10),
                       top_ns: tuple = (2, 3, 4)) -> DataFrame:
    """Gopher A1.1's complete n-gram repetition signals in ONE shuffle-free
    pass (r9): the dup-``cover_ns``-gram character-coverage fractions (the
    documented union semantics — see :func:`dup_ngram_char_coverage`) AND
    the top-``top_ns``-gram character fractions (count of the most frequent
    word n-gram x its char length incl. separators, over raw text length).

    **Documented tie semantics for the top-gram half**: among
    equally-most-frequent n-grams the rule takes the one with the MOST
    characters (the paper measures 'fraction of characters in the most
    frequent n-gram', so maximal char mass is the faithful reading; the
    only observable difference from a lexicographic tie-break is when tied
    grams have different lengths).  Mirrored exactly in the DuckDB oracle
    (ORDER BY count DESC, length(gram) DESC).

    Returns {doc_id, dup{n}_char_frac..., top{n}_char_frac...} — one row
    per input doc, zeros where no n-gram exists.  Shape: one projection ->
    one Arrow kernel; token strings never leave the JVM."""
    from ..sources.tables import fan_out

    docs = fan_out(docs)          # single-row-group fixtures -> one task
    fr = gopher_ngram_columns(F.col(text_col), cover_ns=cover_ns,
                              top_ns=top_ns)
    out = docs.select(F.col(id_col).alias("doc_id"), fr.alias("_fr"))
    cols = ([F.round(F.col("_fr").getItem(i), 6).alias(f"dup{n}_char_frac")
             for i, n in enumerate(cover_ns)]
            + [F.round(F.col("_fr").getItem(len(cover_ns) + i), 6)
               .alias(f"top{n}_char_frac") for i, n in enumerate(top_ns)])
    return out.select("doc_id", *cols)


def dup_ngram_char_coverage(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text",
                            ns: tuple = (5, 6, 7, 8, 9, 10)) -> DataFrame:
    """Gopher A1.1's dup-5..10-gram character coverage (arXiv:2112.11446
    Appendix A — 'fraction of characters contained within duplicate
    n-grams'; reference: none — north-star addition) with a DEFINED overlap
    semantics, since the published table never states one:

    **Chosen semantics (documented contract).**  Tokens are the house
    lowercase-whitespace tokens; a word n-gram is "duplicated" when it
    occurs >= 2 times within the document.  Coverage is the UNION of token
    positions lying under at least one occurrence of ANY duplicated n-gram
    (every occurrence counts, including the first; overlapping occurrences
    count each position once), weighted by token character length.  The
    fraction's denominator is the total character mass of the tokens
    (separators excluded from both sides — coverage of inter-word spaces is
    exactly the ambiguity the paper leaves open, so they are out of the
    measure entirely).  Empty/NULL docs -> 0.0.  This is intentionally
    union-coverage like the ExactSubstr machinery (span_dup_fraction), not
    the sum-over-grams form some reimplementations use (which double-counts
    overlaps and can exceed 1.0).

    **Shape (100 TB).**  Delegates to :func:`gopher_ngram_stats` with no
    top-gram legs — one projection, one Arrow kernel, ZERO shuffles; an
    explode/groupBy twin measured ~7x slower at sf0.1 and is pinned against
    this kernel in tests.  Returns {doc_id, dup{n}_char_frac ...}, one row
    per input doc (docs with no duplicated n-grams get 0.0)."""
    return gopher_ngram_stats(docs, id_col=id_col, text_col=text_col,
                              cover_ns=tuple(ns), top_ns=())


def keep_best_in_clusters(docs: DataFrame, pairs: DataFrame,
                          scores: DataFrame, id_col: str = "doc_id",
                          score_col: str = "score",
                          report: dict | None = None) -> DataFrame:
    """Quality-aware duplicate-family keeper (r12): near-dup PAIRS
    ({left_id, right_id}) -> connected components -> ONE keeper per
    family chosen by the HIGHEST score (id-asc tie-break via the house
    struct-argmax), not the min id — the RefinedWeb/SemDeDup practice of
    keeping the best-quality member of each duplicate cluster instead of
    an arbitrary one.  Docs in no pair are their own singleton keeper.

    ``scores``: {id_col, score_col} (e.g. quality_clf.quality_scores'
    q_score; NULL scores rank below every real score).  Returns
    {id_col, cluster_id, keeper_id, retained} for EVERY input doc.

    Shape: CC via the pointer-jumping label loop (O(log diameter)
    rounds, operators/graph.connected_components), then the argmax —
    type-dispatched (r14, VERDICT r11 task 3):

    - **integral ids** (the common case): ONE combinable struct-argmax
      groupBy per family, ``max(struct(score, -id))`` with the id
      negated through ``decimal(20,0)`` so ``-Long.MIN_VALUE`` cannot
      overflow (a bare long negation wraps silently in non-ANSI mode
      and would corrupt the tie-break for that one id).
    - **string/UUID (any other) ids**: TWO combinable groupBys (max
      score, then min id among rows AT that score) — ``-id`` does not
      exist for strings (r13 ADVICE fix).  Max is bit-exact over
      doubles (it returns one of the input values), so the equality
      refilter is safe.

    Neither form uses a per-cluster window, so a giant duplicate family
    never pins a single task; the r13 genericity fix had paid one extra
    shuffle join on EVERY id type — the dispatch restores the one-
    groupBy plan where it is available."""
    from pyspark.sql.types import (ByteType, IntegerType, LongType,
                                   ShortType)

    from .graph import connected_components

    und = (pairs.select(F.col("left_id").alias("src"),
                        F.col("right_id").alias("dst"))
           .unionByName(pairs.select(F.col("right_id").alias("src"),
                                     F.col("left_id").alias("dst"))))
    comp = connected_components(und, report=report)
    base = (docs.select(F.col(id_col))
            .join(comp, F.col(id_col) == F.col("node_id"), "left")
            .select(id_col,
                    F.coalesce(F.col("component"), F.col(id_col))
                     .alias("cluster_id"))
            .join(scores.select(F.col(id_col),
                                F.col(score_col).alias("_s")),
                  id_col, "left"))
    eff = F.coalesce(F.col("_s"), F.lit(float("-inf")))
    id_type = docs.schema[id_col].dataType
    if isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        neg_id = (-F.col(id_col).cast("decimal(20,0)")).alias("_nid")
        best = (base.groupBy("cluster_id")
                .agg(F.max(F.struct(eff.alias("_e"), neg_id))
                     .alias("_b")))
        keeper = best.select(
            "cluster_id",
            (-F.col("_b._nid")).cast(id_type.simpleString())
            .alias("keeper_id"))
    else:
        best = base.groupBy("cluster_id").agg(F.max(eff).alias("_best"))
        keeper = (base.join(best, "cluster_id")
                  .filter(eff == F.col("_best"))
                  .groupBy("cluster_id")
                  .agg(F.min(F.col(id_col)).alias("keeper_id")))
    return (base.join(keeper, "cluster_id")
            .select(id_col, "cluster_id", "keeper_id",
                    (F.col(id_col) == F.col("keeper_id")).cast("int")
                    .alias("retained")))
