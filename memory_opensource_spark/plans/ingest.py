"""The write path: POST /v1/memory (+/batch) as a two-phase batch pipeline.

Mirrors add_memory_item_without_relationships (memory/memory_graph.py:2102-2550,
SURVEY §3.2): chunk -> embed -> near-dup check (reuse if cosine > 0.97) -> append
chunks + memories.  The enrichment phase (graph extraction, entity resolution) is
plans-level composition of operators.graph + operators.similarity.

Chunking is a pure Column program that keeps every input column.  Embedding
goes through one seam, :func:`embed`: a model callable as an Arrow-batched
pandas_udf, or the deterministic hash embedder's Arrow form.  The hash
embedder's Column form, :func:`hash_embed`, stays as its DuckDB-oracle twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.ids import chunk_id, point_id, strip_chunk_suffix
from ..functions.text import tokens
from ..functions.vector import l2_normalize
from ..semantics import CHUNK_SIZE_TOKENS, EMBEDDING_DIM_FIXTURE, INGEST_DEDUP_THRESHOLD
from ..operators.dedup import ingest_dedup_reuse


def chunk_text(df: DataFrame, content_col: str = "content",
               id_col: str = "memory_id",
               chunk_tokens: int = CHUNK_SIZE_TOKENS) -> DataFrame:
    """V1 chunking (models/embedding_model.py:784-789: TokenTextSplitter
    chunk_size=2048, overlap=0) — token-window slices as a pure Column program:
    tokens -> sequence of window starts -> slice + rejoin -> posexplode.

    Every input column is kept: each chunk row carries its source row plus
    ``chunk_index``, ``chunk_content``, ``total_chunks``, ``chunk_id`` and
    ``point_id``.  Every row yields at least one chunk (empty or
    whitespace-only text gives one empty chunk), so the ``chunk_index = 0``
    rows are exactly the input rows — the write path derives its memory,
    chunk and node deltas from this one frame.
    """
    toks = tokens(F.col(content_col))
    n_chunks = F.greatest(F.ceil(F.size(toks) / chunk_tokens), F.lit(1)).cast("int")
    starts = F.sequence(F.lit(0), n_chunks - 1)
    pieces = F.transform(
        starts, lambda i: F.concat_ws(" ", F.slice(toks, i * chunk_tokens + 1, chunk_tokens))
    )
    out = df.select(
        "*",
        F.posexplode(pieces).alias("chunk_index", "chunk_content"),
        n_chunks.alias("total_chunks"),
    )
    return out.withColumn("chunk_id", chunk_id(F.col(id_col), F.col("chunk_index"))).withColumn(
        "point_id", point_id(F.col("chunk_id"))
    )


def hash_embed(df: DataFrame, text_col: str = "chunk_content",
               dim: int = EMBEDDING_DIM_FIXTURE) -> DataFrame:
    """Deterministic hash-ngram embedder (the pluggable default of SURVEY §2.10):
    bucket = int(md5(token)[:8], 16) % dim, value = count in bucket,
    L2-normalized.  JVM-side only — a real model would slot in as a pandas_udf
    with the same signature (text -> array<float>).  md5 (not crc32) so the
    DuckDB oracle can reproduce the exact vectors.
    """
    toks = tokens(F.col(text_col))
    buckets = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint") % dim,
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.size(F.filter(buckets, lambda b: b == i.cast("bigint"))).cast("double"),
    )
    return df.withColumn("embedding", l2_normalize(vec))


def hash_embed_row(text: str, dim: int = EMBEDDING_DIM_FIXTURE) -> list[float]:
    """Pure-Python twin of :func:`hash_embed` for one text — md5-bucket token
    counts, L2-normalized.  Tokenization (`lower().split(" ")`, empties
    dropped) and the sequential sum-of-squares norm match the Column form
    exactly, so the two produce BIT-IDENTICAL vectors (counts are small
    integers — their squares sum exactly in float64)."""
    import hashlib

    vec = [0.0] * dim
    for tok in (text or "").lower().split(" "):
        if tok:
            vec[int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % dim] += 1.0
    n = sum(x * x for x in vec) ** 0.5 or 1.0
    return [x / n for x in vec]


def hash_embed_arrow(df: DataFrame, text_col: str = "chunk_content",
                     dim: int = EMBEDDING_DIM_FIXTURE) -> DataFrame:
    """Arrow-batched twin of :func:`hash_embed` — same vectors, ~100x faster.

    The Column form's ``transform(sequence(0,dim-1), filter(buckets))`` is
    O(dim x tokens) INTERPRETED lambda evaluations per row (HOFs never enter
    codegen): at dim=64 that was ~10 s per 1000-memory batch and the write
    path's dominant cost (round-6 ingest probe).  This computes the identical
    md5-bucket counts per Arrow batch in plain Python/numpy.  Bit parity with
    the Column form is pinned by
    tests/test_plans.py::test_hash_embed_arrow_bit_identical — the Column
    form remains the DuckDB-oracle spec twin."""
    import pandas as pd

    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    out_schema = StructType(list(df.schema.fields)
                            + [StructField("embedding", ArrayType(DoubleType()))])

    def compute(batches):
        for pdf in batches:
            out = pdf.copy()
            out["embedding"] = [hash_embed_row(t, dim)
                                for t in pdf[text_col].tolist()]
            yield out

    return df.mapInPandas(compute, out_schema)


def model_embed(df: DataFrame, embed_fn, text_col: str = "chunk_content",
                dim: int = EMBEDDING_DIM_FIXTURE,
                batch_size: int | None = None) -> DataFrame:
    """The REAL-MODEL embedder seam (SURVEY §2.10 extension point): wrap any
    ``list[str] -> list[list[float]]`` model callable as an Arrow-batched
    pandas_udf with the same contract as :func:`hash_embed` (adds
    ``embedding`` array<float>, L2-normalized upstream models permitted to
    skip normalization — callers that need unit vectors compose
    ``l2_normalize``).

    ``embed_fn`` runs once per Arrow batch on the executors (serialized with
    the UDF closure) — exactly where a sentence-transformers ``encode`` call
    would sit; models too big to pickle should be lazily constructed inside
    ``embed_fn`` per worker (the standard pattern).  ``batch_size`` caps how
    many texts reach ``embed_fn`` per call (chunked inside the UDF — no
    session conf mutation); GPU-backed models want a few thousand, CPU models
    are indifferent.  ``dim`` is validated against the model output."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _embed(texts: "pd.Series") -> "pd.Series":  # noqa: F821 — Series->Series scalar UDF
        out = []
        items = texts.tolist()
        # honor batch_size by chunking INSIDE the UDF (portable: no session
        # conf mutation); round-5 review fix — the parameter previously did
        # nothing, so a GPU-sized model saw full Arrow batches regardless
        step = batch_size or len(items) or 1
        for i in range(0, len(items), step):
            vecs = embed_fn(items[i:i + step])
            for v in vecs:
                if dim and len(v) != dim:
                    raise ValueError(
                        f"embed_fn returned dim {len(v)}, expected {dim}")
                out.append([float(x) for x in v])
        return pd.Series(out)

    # plain-call form (not decorator): with `from __future__ import annotations`
    # the string hints aren't resolvable by the UDF type-hint inspector, and a
    # hintless callable defaults to the scalar Series->Series eval type.
    _embed.__annotations__ = {}
    udf = pandas_udf(_embed, "array<float>")
    return df.withColumn("embedding", udf(F.col(text_col)))


def embed(chunked: DataFrame, embedder=None,
          dim: int = EMBEDDING_DIM_FIXTURE) -> DataFrame:
    """Chunk rows -> + ``embedding``: the one embed seam of the write path
    (``MemoryEngine`` adds and updates, :func:`ingest`).  ``embedder`` is an
    optional ``list[str] -> list[list[float]]`` model callable driven through
    :func:`model_embed`; None runs the deterministic hash embedder in its
    Arrow form, :func:`hash_embed_arrow` — bit-identical to the Column form
    :func:`hash_embed`, which stays the DuckDB-oracle spec twin."""
    if embedder is not None:
        return model_embed(chunked, embedder, dim=dim)
    return hash_embed_arrow(chunked, dim=dim)


def ingest(new_memories: DataFrame, existing_chunks: DataFrame,
           dedup_threshold: float = INGEST_DEDUP_THRESHOLD,
           dim: int = EMBEDDING_DIM_FIXTURE,
           embedder=None) -> dict[str, DataFrame]:
    """Full §3.2 foreground path.  Returns dict of:
    - ``chunks``: chunk rows to append; each keeps every column of its
      ``new_memories`` row (:func:`chunk_text`).  A memory with ANY reused
      chunk is reused whole, so none of its chunks appear here — the rule
      ``MemoryEngine`` applies, never half a memory appended
    - ``reused``: {new_id, reuse_id, score} mappings (V4 hits)

    Embedding goes through :func:`embed`, the seam ``MemoryEngine`` uses:
    ``embedder`` is an optional model callable, None keeps the deterministic
    hash embedder (oracle-checkable default).
    """
    embedded = embed(chunk_text(new_memories), embedder, dim)
    reused = ingest_dedup_reuse(
        embedded, existing_chunks, dedup_threshold,
        new_id="chunk_id", existing_id="chunk_id",
    )
    new_chunks = embedded.join(
        reused.select(strip_chunk_suffix(F.col("new_id")).alias("memory_id")).distinct(),
        "memory_id", "left_anti",
    )
    return {"chunks": new_chunks, "reused": reused}
