"""MemoryEngine — the reference's API surface (routers/v1/*) as a Spark facade.

Route parity (reference -> method):
- POST /v1/memory              -> add_memory            (§3.2 pipeline)
- POST /v1/memory/batch        -> add_memory_batch      (§3.3, size 1000 cap)
- POST /v1/memory/search       -> search                (§3.1 pipeline)
- GET  /v1/memory/{id}         -> get_memory            (S14)
- PUT  /v1/memory/{id}         -> update_memory         (S15, re-embed on change)
- DELETE /v1/memory/{id}       -> delete_memory         (S12 cascade)
- DELETE /v1/memory (filtered) -> delete_all            (S13)
- POST graph override          -> add_graph             (G10 without LLM)
- POST /v1/feedback            -> record_feedback       (R16 counters)
- tier-1 ranked list           -> tier1_list            (R8)
- schema discovery             -> schema                (G7)

State lives in plain DataFrames (parquet-persistable).  Every write builds
the table's next state — a MERGE (anti-join + union, the shape that maps 1:1
onto Delta MERGE INTO on a real deployment), a filter or a column rewrite —
and assigns it only through ``MemoryEngine._commit``, which materializes it:
each read sees a settled copy with pinned timestamps and an O(1)-deep plan,
like a store of record.  All writes are idempotent on ids (replay-safe,
SURVEY §7.3).

An add chunks and embeds its batch into one frame; its memory, chunk and node
deltas are projections of that frame.  A re-added memory replaces its whole
chunk set, and its rows in an attached search index are tombstoned (as on
update or delete) until the next rebuild.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .functions.ids import strip_chunk_suffix
from .operators import graph as graph_ops
from .operators.dedup import ingest_dedup_reuse
from .operators.predicate import AclContext, FilterSpec, compile_filter
from .operators.ranking import tier1_ranked
from .plans import ingest as ingest_plan
from .plans.search import search as search_plan
from .semantics import (
    BATCH_MAX,
    EMBEDDING_DIM_FIXTURE,
    INGEST_DEDUP_THRESHOLD,
    MAX_MEMORIES_DEFAULT,
    SEARCH_SCORE_THRESHOLD,
)

MEMORY_SCHEMA = StructType([
    StructField("memory_id", StringType()),
    StructField("content", StringType()),
    StructField("type", StringType()),
    StructField("topics", ArrayType(StringType())),
    StructField("user_id", StringType()),
    StructField("user_read_access", ArrayType(StringType())),
    StructField("workspace_read_access", ArrayType(StringType())),
    StructField("role_read_access", ArrayType(StringType())),
    StructField("organization_read_access", ArrayType(StringType())),
    StructField("namespace_read_access", ArrayType(StringType())),
    StructField("namespace_id", StringType()),
    StructField("organization_id", StringType()),
    StructField("custom_metadata", StringType()),     # json
    # OMO safety fields stamped from the resolved MemoryPolicy
    # (models/shared_types.py:2200-2237, services/memory_policy_resolver.py:399-413)
    StructField("consent", StringType()),
    StructField("risk", StringType()),
    StructField("created_at", TimestampType()),
    StructField("updated_at", TimestampType()),
    StructField("cache_hit_total", DoubleType()),
    StructField("cache_hit_ema_30d", DoubleType()),
    StructField("cache_confidence_weighted_30d", DoubleType()),
    StructField("citation_hit_total", DoubleType()),
    StructField("citation_hit_ema_30d", DoubleType()),
    StructField("citation_confidence_weighted_30d", DoubleType()),
])

CHUNK_SCHEMA = StructType([
    StructField("chunk_id", StringType()),
    StructField("point_id", StringType()),
    StructField("memory_id", StringType()),
    StructField("chunk_index", IntegerType()),
    StructField("total_chunks", IntegerType()),
    StructField("chunk_content", StringType()),
    StructField("embedding", ArrayType(DoubleType())),
    StructField("user_id", StringType()),
    StructField("user_read_access", ArrayType(StringType())),
    StructField("workspace_read_access", ArrayType(StringType())),
    StructField("role_read_access", ArrayType(StringType())),
    StructField("organization_read_access", ArrayType(StringType())),
    StructField("namespace_read_access", ArrayType(StringType())),
    StructField("namespace_id", StringType()),
    StructField("organization_id", StringType()),
    # denormalized searchable payload (the reference's Qdrant point-payload
    # columns, memory/memory_graph.py:5919-6026): carried on every chunk so
    # spec'd searches filter AT THE CHUNK SCAN with no pre-top-k join
    # (plans/search._spec_columns_on_chunks routes automatically)
    StructField("topics", ArrayType(StringType())),
    StructField("consent", StringType()),
    StructField("risk", StringType()),
])

#: the feedback counters every new memory starts at zero
COUNTER_COLS = [c for c in MEMORY_SCHEMA.names if c.startswith(("cache_", "citation_"))]

NODE_SCHEMA = StructType([
    StructField("node_id", StringType()),
    StructField("label", StringType()),
    StructField("prop_name", StringType()),
    StructField("prop_status", StringType()),
])

EDGE_SCHEMA = StructType([
    StructField("src", StringType()),
    StructField("dst", StringType()),
    StructField("rel_type", StringType()),
    StructField("similarity_score", DoubleType()),
])

# Hard cap on the PQ serving re-rank candidate set: the adaptive 5%-of-probed
# floor restores recall under heavy ADC ties, but the candidate ids are
# collected to the driver, so the set must stay bounded regardless of corpus
# size.  64k ids is ~3 MB driver-side and a cheap broadcast; past this point
# the right lever is a finer coarse quantizer (C grows with N), not re-rank.
PQ_RERANK_BUDGET = 65_536


def pq_rerank_size(pq_rerank: int, top_k: int, n_rows: int, n_centroids: int,
                   nprobe: int | None) -> int:
    """PQ serving re-rank budget: floors at the build-time knob and 4*top_k,
    scales to 5% of the PROBED row estimate (ADC ties lose true neighbors
    under a constant cut — PERF.md round-7), hard-capped at PQ_RERANK_BUDGET
    so the driver-collected candidate set stays bounded at any corpus size."""
    C = max(1, n_centroids)
    probed_est = n_rows if nprobe is None else n_rows * min(nprobe, C) // C
    return min(max(pq_rerank, 4 * top_k, int(0.05 * probed_est)),
               PQ_RERANK_BUDGET)


def hash_embed_py(text: str, dim: int = EMBEDDING_DIM_FIXTURE) -> list[float]:
    """Driver-side twin of plans.ingest.hash_embed (md5-bucket counts,
    L2-normalized) for embedding query strings."""
    return ingest_plan.hash_embed_row(text, dim)


@dataclass
class AddResult:
    memory_id: str
    reused: bool = False
    reused_from: str | None = None


@dataclass
class RerankDecision:
    """Resolved reranking request (models/memory_models.py:549-562 defaults)."""
    enabled: bool
    provider: str = "openai"
    model: str = "gpt-5-nano"
    warnings: list[str] = field(default_factory=list)


def resolve_reranking(rank_results: bool = False,
                      reranking_config: dict | None = None) -> RerankDecision:
    """The SearchRequest rank_results/reranking_config reconciliation
    (models/memory_models.py:860-898):

    1. only reranking_config set -> use it
    2. only (deprecated) rank_results set -> use it, deprecation warning
    3. both set -> reranking_config wins; conflict warning when they disagree
    4. neither -> disabled
    """
    warns: list[str] = []
    if reranking_config is not None:
        enabled = bool(reranking_config.get("reranking_enabled", False))
        if rank_results and rank_results != enabled:
            warns.append(
                "Conflict between deprecated 'rank_results' and "
                "'reranking_config.reranking_enabled'; using 'reranking_config'.")
        return RerankDecision(
            enabled=enabled,
            provider=reranking_config.get("reranking_provider", "openai"),
            model=reranking_config.get("reranking_model", "gpt-5-nano"),
            warnings=warns)
    if rank_results:
        warns.append("'rank_results' is deprecated; use 'reranking_config'.")
        return RerankDecision(enabled=True, warnings=warns)
    return RerankDecision(enabled=False)


def clamp_search_caps(max_memories: int = MAX_MEMORIES_DEFAULT,
                      max_nodes: int = 15) -> tuple[int, int]:
    """Request-cap validation (routers/v1/memory_routes_v1.py:2309-2310:
    both ge=10, le=50; defaults 20/15).  Mirrors FastAPI's 422 on violation
    by raising ValueError."""
    for name, v in (("max_memories", max_memories), ("max_nodes", max_nodes)):
        if not 10 <= v <= 50:
            raise ValueError(f"{name} must be between 10 and 50, got {v}")
    return max_memories, max_nodes


class MemoryEngine:
    """Batch/micro-batch memory engine over four DataFrame-backed tables."""

    def __init__(self, spark: SparkSession, dim: int = EMBEDDING_DIM_FIXTURE,
                 embedder=None):
        """``embedder``: optional real embedding model, a
        ``list[str] -> list[list[float]]`` callable (sentence-transformers
        ``encode``, an ONNX session, a broadcast word-vector table, ...).
        It drives BOTH sides of the engine — ingestion through the
        :func:`plans.ingest.model_embed` Arrow-batched pandas_udf seam and
        query embedding driver-side — replacing the deterministic hash
        embedder (the oracle-checkable default, reference default model:
        models/embedding_model.py:693-1088)."""
        self.spark = spark
        self.dim = dim
        self.embedder = embedder
        self.memories = spark.createDataFrame([], MEMORY_SCHEMA)
        self.chunks = spark.createDataFrame([], CHUNK_SCHEMA)
        self.nodes = spark.createDataFrame([], NODE_SCHEMA)
        self.edges = spark.createDataFrame([], EDGE_SCHEMA)
        self.query_logs = spark.createDataFrame(
            [], "query_log_id string, user_id string, query_text string, "
                "retrieved_memory_ids array<string>, created_at timestamp"
        )
        #: running over-estimate of chunk rows, so ingest dedup routing never
        #: needs a count() scan; None = unknown (externally loaded tables)
        self._chunk_rows_est: int | None = 0
        # attached search index (build_search_index): its path and method,
        # the memory_ids whose index rows went stale since it was built, and
        # the PQ serving state (codebooks, coarse centroids, re-rank floor,
        # indexed row count, cached codes/rows relations)
        self._ann_index_path: str | None = None
        self._ann_method = "ivf"
        self._ann_tombstones: DataFrame | None = None
        self._pq_books = None
        self._pq_cents = None
        self._pq_rerank = 128
        self._pq_n = 0
        self._pq_frames: tuple[DataFrame, DataFrame] | None = None
        from .operators.schema_registry import SchemaRegistry

        self.schemas = SchemaRegistry(spark)

    # ---- dynamic schemas (POST /v1/schemas analog) ----------------------------------

    #: schema property name -> physical node column (the engine's node table
    #: predates dynamic schemas; custom props map onto its prop_* columns)
    _SCHEMA_PROP_COLS = {"name": "prop_name", "status": "prop_status"}

    def register_schema(self, schema_id: str, node_types: list,
                        memory_policy: dict | None = None,
                        relationship_types: dict | None = None) -> None:
        """Register user-defined node types (models/user_schemas.py:64-180);
        subsequent add_graph calls validate against them and MERGE on their
        unique_identifiers (memory/memory_graph.py:10542-10615).  An optional
        schema-level ``memory_policy`` becomes the default layer for memories
        citing this schema_id (models/shared_types.py:2124-2126).

        unique_identifiers must map onto the node table's property columns
        (currently {name, status} -> prop_name/prop_status): rejecting an
        unmappable identifier HERE gives a clear configuration error instead
        of an opaque unresolved-column AnalysisException at the first
        add_graph (round-5 review finding)."""
        for nt in node_types:
            ids_ = getattr(nt, "unique_identifiers", None) or (
                nt.get("unique_identifiers") if isinstance(nt, dict) else None) or []
            bad = [k for k in ids_ if k not in self._SCHEMA_PROP_COLS]
            if bad:
                raise ValueError(
                    f"unique_identifiers {bad} not supported as merge keys: "
                    f"node rows carry only {sorted(self._SCHEMA_PROP_COLS)} "
                    "properties (NODE_SCHEMA prop_* columns)"
                )
        self.schemas.register(schema_id, node_types, memory_policy=memory_policy,
                              relationship_types=relationship_types)

    # ---- write path (§3.2/§3.3) ---------------------------------------------------

    def add_memory_batch(self, items: list[dict]) -> list[AddResult]:
        """items: [{memory_id, content, user_id, acl..., custom_metadata}].
        Runs chunk -> embed -> V4 near-dup (reuse > 0.97) -> append + Memory node.
        """
        if len(items) > BATCH_MAX:
            raise ValueError(f"batch size {len(items)} exceeds max {BATCH_MAX} "
                             "(config/opensource.yaml batch_processing)")
        ids = [it["memory_id"] for it in items]
        if len(set(ids)) != len(ids):
            dupes = sorted({i for i in ids if ids.count(i) > 1})
            raise ValueError(f"duplicate memory_id(s) in batch: {dupes}")
        from .functions.validation import validate_user_identification

        for it in items:
            err = validate_user_identification(it.get("user_id"))
            if err:
                raise ValueError(f"{err.error} for memory_id={it['memory_id']}: "
                                 f"{err.reason} {err.suggestion}")
        from .operators import memory_policy as mp

        policies: dict[str, dict] = {}
        for it in items:
            schema = self.schemas.schema_dict(it["schema_id"]) if it.get("schema_id") else None
            policies[it["memory_id"]] = mp.resolve_memory_policy(
                schema, it.get("memory_policy"))
        rows = [
            (
                it["memory_id"], it["content"], it.get("type", "TextMemoryItem"),
                it.get("topics", []), it.get("user_id"),
                it.get("user_read_access", []), it.get("workspace_read_access", []),
                it.get("role_read_access", []), it.get("organization_read_access", []),
                it.get("namespace_read_access", []), it.get("namespace_id"),
                it.get("organization_id"), it.get("custom_metadata"),
                policies[it["memory_id"]]["consent"], policies[it["memory_id"]]["risk"],
            )
            for it in items
        ]
        new = self.spark.createDataFrame(
            rows,
            "memory_id string, content string, type string, topics array<string>, "
            "user_id string, user_read_access array<string>, "
            "workspace_read_access array<string>, role_read_access array<string>, "
            "organization_read_access array<string>, namespace_read_access array<string>, "
            "namespace_id string, organization_id string, custom_metadata string, "
            "consent string, risk string",
        ).withColumn("created_at", F.current_timestamp()).withColumn(
            "updated_at", F.current_timestamp()
        )
        # batch-sized frames get batch-sized parallelism: createDataFrame
        # slices 1000 local rows across every core (32 tasks per UDF stage,
        # ~31 rows each) — task-launch + Arrow overhead dominated the write
        # path (~3 s per materialization in the ingest probe)
        new = new.coalesce(max(1, min(8, len(items) // 128 + 1)))

        # $previous resolution for manual-mode relationships must see the store
        # as it was BEFORE this batch (shared_types.py:2152-2155), so it runs
        # before the ingest commits.  Items whose memory is dropped as a
        # near-dup reuse are SKIPPED entirely: the memory row never exists, so
        # applying their policy would merge orphan nodes while the $this edges
        # silently fail endpoint resolution (round-5 review finding) — the
        # reference returns the existing memory and performs no graph work for
        # the duplicate.
        manual_items = [
            it for it in items
            if policies[it["memory_id"]]["mode"] == "manual"
            and (policies[it["memory_id"]]["nodes"] or policies[it["memory_id"]]["relationships"])
        ]
        prev_by_user: dict[str, str] = {}
        if any("$previous" in str(policies[it["memory_id"]].get("relationships"))
               for it in manual_items):
            users = [it.get("user_id") for it in manual_items if it.get("user_id")]
            if users:
                from pyspark.sql import Window

                w = Window.partitionBy("user_id").orderBy(
                    F.col("created_at").desc(), F.col("memory_id").desc())
                prev_by_user = {
                    r.user_id: r.memory_id
                    for r in self.memories.filter(F.col("user_id").isin(*users))
                    .withColumn("rn", F.row_number().over(w)).filter("rn = 1")
                    .select("user_id", "memory_id").collect()
                }

        reused, _ = self._ingest(new)
        # memory_id -> the memory its first reused chunk points at
        reused_from: dict[str, str] = {}
        for r in reused.collect():
            reused_from.setdefault(r.new_id.rsplit("_", 1)[0],
                                   r.reuse_id.rsplit("_", 1)[0])

        for it in manual_items:
            if it["memory_id"] not in reused_from:
                self._apply_manual_graph(it["memory_id"], it.get("user_id"),
                                         policies[it["memory_id"]], prev_by_user)
        return [AddResult(memory_id=mid, reused=mid in reused_from,
                          reused_from=reused_from.get(mid)) for mid in ids]

    def add_memory(self, **item) -> AddResult:
        return self.add_memory_batch([item])[0]

    # ---- OMO portability (routers/v1/omo_routes.py:86-340) --------------------------

    def export_omo(self, memory_ids: list[str] | None = None) -> DataFrame:
        """Export memories as OMO v1 objects: {memory_id, omo_json} — write
        with ``.write.json(path)`` for a ``.omo.json`` file.  One projection,
        not the reference's per-id fetch loop."""
        from .sources.omo import export_omo as _export

        return _export(self.memories, memory_ids)

    def import_omo(self, source, strict: bool = True) -> list:
        """Import OMO objects (a path to a ``.omo.json`` lines file, or a
        DataFrame with an ``omo_json`` column) through the REAL write path —
        chunk -> embed -> near-dup -> merge, policies and caps included.
        The API-request analog: items materialize driver-side, bounded by
        BATCH_MAX like every add path.  For archive-scale restores use
        :meth:`import_omo_archive` — no driver materialization."""
        from .sources.omo import omo_items, parse_omo, read_omo

        parsed = (read_omo(self.spark, source, strict=strict)
                  if isinstance(source, str) else parse_omo(source, strict=strict))
        items = omo_items(parsed)
        return self.add_memory_batch(items) if items else []

    def import_omo_archive(self, source, strict: bool = True) -> dict:
        """Archive-scale OMO restore: scan -> write path with NO driver
        materialization of rows (VERDICT r6 item 6 — ``omo_items``' collect
        is the API-request analog, wrong shape for restoring a 10M-object
        archive).  Same semantics as ``import_omo`` for items the archive
        analog supports (OMO objects carry no memory_policy/schema_id, so
        there is no manual-graph arm): validate -> chunk -> embed -> V4
        near-dup reuse -> MERGE memories/chunks/nodes.

        Everything stays distributed: validation errors surface via bounded
        ``take(1)``, and the batch path's own ``_ingest`` applies the reuse
        set with an anti-join (never an isin of collected ids) — the only
        whole-archive materializations are executor-side localCheckpoints.
        Returns {"imported": n, "reused": n}."""
        from .functions.validation import looks_like_external_id
        from .operators import memory_policy as mp
        from .sources.omo import parse_omo, read_omo

        parsed = (read_omo(self.spark, source, strict=strict)
                  if isinstance(source, str) else parse_omo(source, strict=strict))

        bad_uid = parsed.filter(looks_like_external_id(F.col("user_id"))) \
                        .select("memory_id", "user_id").take(1)
        if bad_uid:
            r = bad_uid[0]
            raise ValueError(
                f"Invalid user_id format for memory_id={r.memory_id!r}: "
                f"{r.user_id!r} looks like an external identifier — use "
                "external_user_id; user_id is reserved for internal ids")
        dup = (parsed.groupBy("memory_id").count()
               .filter(F.col("count") > 1).take(1))
        if dup:
            raise ValueError(
                f"duplicate memory_id {dup[0]['memory_id']!r} in archive")

        # the same item shape omo_items builds, as column expressions:
        # acl.read merges into user_read_access (sorted-set semantics), the
        # resolved default policy supplies consent/risk (OMO import carries
        # no memory_policy), timestamps stamp at import like every add
        policy = mp.resolve_memory_policy(None, None)
        new = parsed.select(
            "memory_id", "content",
            F.col("type").alias("type"),
            F.coalesce(F.col("topics"), F.array()).alias("topics"),
            "user_id",
            F.array_sort(F.array_distinct(F.concat(
                F.coalesce(F.col("user_read_access"),
                           F.array().cast("array<string>")),
                F.coalesce(F.col("acl_read"), F.array().cast("array<string>")),
            ))).alias("user_read_access"),
            F.coalesce(F.col("workspace_read_access"),
                       F.array().cast("array<string>")).alias("workspace_read_access"),
            F.coalesce(F.col("role_read_access"),
                       F.array().cast("array<string>")).alias("role_read_access"),
            F.coalesce(F.col("organization_read_access"),
                       F.array().cast("array<string>")).alias("organization_read_access"),
            F.coalesce(F.col("namespace_read_access"),
                       F.array().cast("array<string>")).alias("namespace_read_access"),
            "namespace_id", "organization_id",
            F.lit(None).cast("string").alias("custom_metadata"),
            F.lit(policy["consent"]).alias("consent"),
            F.lit(policy["risk"]).alias("risk"),
        ).withColumn("created_at", F.current_timestamp()) \
         .withColumn("updated_at", F.current_timestamp())
        reused, fresh = self._ingest(new)
        n_reused = (reused.select(strip_chunk_suffix(F.col("new_id")))
                    .distinct().count())
        return {"imported": fresh.count(), "reused": n_reused}

    def _ingest(self, new: DataFrame) -> tuple[DataFrame, DataFrame]:
        """The write path behind add_memory_batch and import_omo_archive:
        chunk -> embed -> V4 near-dup reuse -> MERGE memories/chunks/nodes.
        ``new`` holds memory rows without the feedback counters, which start
        at zero.  One chunked frame carries every delta: its chunk rows keep
        their memory's row, one anti-join drops memories with any reused
        chunk, and the memory and node deltas are the ``chunk_index = 0``
        rows.  The chunks merge keys on memory_id, so a re-add replaces the
        whole chunk set and tombstones its index rows.  Returns the reuse
        pairs {new_id, reuse_id, score} and the stored memory rows, both
        materialized.  Nothing is collected to the driver, so an
        archive-sized ``new`` stays distributed."""
        new = new.select("*", *[F.lit(0.0).alias(c) for c in COUNTER_COLS])
        # materialize the batch's embeddings ONCE: left lazy, the reuse check
        # and every delta would each re-run the chunk+embed UDF stages.  The
        # chunk count is observed by the same job
        n_chunks = Observation()
        embedded = ingest_plan.embed(
            ingest_plan.chunk_text(new), self.embedder, self.dim).observe(
            n_chunks, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
        # the engine tracks its own chunk-count estimate so dedup routing
        # never needs a count() scan (checkpointed plans carry no stats);
        # load() resets it to None -> routing falls back to plan statistics.
        # The reuse pairs are materialized: they feed the anti-join below
        # and the callers' reads
        reused = ingest_dedup_reuse(
            embedded, self.chunks, INGEST_DEDUP_THRESHOLD,
            approx_existing_rows=self._chunk_rows_est).localCheckpoint(eager=True)
        # memories with ANY reused chunk drop out via anti-join (never an isin
        # of collected ids); the stored chunk rows feed every commit below,
        # so they are materialized once
        fresh = embedded.join(
            reused.select(strip_chunk_suffix(F.col("new_id")).alias("memory_id")).distinct(),
            "memory_id", "left_anti").localCheckpoint(eager=True)
        fresh_mems = fresh.filter(F.col("chunk_index") == 0)
        old_mems, replaced = self.memories, Observation()
        self.memories = self._commit(self._merge(
            old_mems, fresh_mems.select(*MEMORY_SCHEMA.names), ["memory_id"], replaced))
        if replaced.get["n"]:
            # a re-added memory's index rows hold its old chunks
            self._tombstone(fresh_mems.select("memory_id").join(
                old_mems.select("memory_id"), "memory_id", "left_semi"))
        self.chunks = self._commit(self._merge(
            self.chunks, fresh.select(*CHUNK_SCHEMA.names), ["memory_id"]))
        mem_nodes = fresh_mems.select(
            F.col("memory_id").alias("node_id"), F.lit("Memory").alias("label"),
            F.substring("content", 1, 60).alias("prop_name"), F.lit("active").alias("prop_status"),
        )
        self.nodes = self._commit(self._merge(self.nodes, mem_nodes, ["node_id"]))
        if self._chunk_rows_est is not None:
            # over-estimate (counts reused chunks too; deletes never subtract)
            # — errs toward the scalable grid route, never toward a too-big
            # driver broadcast
            self._chunk_rows_est += n_chunks.get["n"]
        return reused, fresh_mems.select(*MEMORY_SCHEMA.names)

    # ---- embedding seam -------------------------------------------------------------

    def _embed_query(self, text: str) -> list[float]:
        """Query text -> vector, with the SAME model as ingestion (a
        query/ingest embedder mismatch silently zeroes recall)."""
        if self.embedder is not None:
            return [float(x) for x in self.embedder([text])[0]]
        return hash_embed_py(text, self.dim)

    def _apply_manual_graph(self, memory_id: str, user_id: str | None,
                            policy: dict, prev_by_user: dict[str, str]) -> None:
        """Manual-mode graph specification (models/shared_types.py:2140-2155):
        NodeSpec {id, type, properties} and RelationshipSpec {source, target,
        type} with ``$this`` -> this memory and ``$previous`` -> the user's
        most recent prior memory (edge skipped when there is none)."""
        def resolve(ref: str) -> str | None:
            if ref == "$this":
                return memory_id
            if ref == "$previous":
                return prev_by_user.get(user_id)
            return ref

        nodes = [
            {
                "node_id": n["id"], "label": n["type"],
                "prop_name": (n.get("properties") or {}).get("name"),
                "prop_status": (n.get("properties") or {}).get("status"),
            }
            for n in (policy.get("nodes") or [])
        ]
        edges = []
        for r in (policy.get("relationships") or []):
            src, dst = resolve(r["source"]), resolve(r["target"])
            if src is not None and dst is not None:
                edges.append({"src": src, "dst": dst, "rel_type": r["type"]})
        if nodes or edges:
            self.add_graph(nodes, edges)

    def enrich_memories(self, memory_ids: list[str] | None = None,
                        k_related: int = 3) -> dict[str, int]:
        """§3.2 background phase for the given (default: all) memories:
        RELATED_TO edges, entity extraction + EXTRACTED edges, property-index
        nodes — merged into the graph tables.  Returns per-output row counts."""
        from .plans.enrich import enrich as enrich_plan

        mems = self.memories
        # OMO consent standard: consent='none' memories are excluded from graph
        # extraction entirely (services/omo_safety.py:44-48,
        # memory_policy_resolver.py:416-425); NULL/legacy rows extract normally.
        mems = mems.filter(F.col("consent").isNull() | (F.col("consent") != "none"))
        chunks = self.chunks.select("memory_id", "embedding").join(
            mems.select("memory_id"), "memory_id", "left_semi")
        if memory_ids:
            mems = mems.filter(F.col("memory_id").isin(*memory_ids))
            new_chunks = chunks.filter(F.col("memory_id").isin(*memory_ids))
        else:
            new_chunks = chunks
        out = enrich_plan(mems, new_chunks, chunks, k_related=k_related)

        # materialize each enrichment output ONCE: the kNN RELATED_TO join and
        # entity extraction are the heaviest plans in the engine, and without
        # this they re-execute for the nodes merge, the edges merge, AND each
        # returned count — ~6x the cost for identical results (round-5 review
        # finding)
        related = out["related_edges"].localCheckpoint(eager=True)
        extracted = out["extracted_edges"].localCheckpoint(eager=True)
        prop_index = out["property_index"].localCheckpoint(eager=True)
        # distinct-all, not dropDuplicates(["node_id"]): label/prop_name are
        # functionally dependent on node_id (the entity id embeds the
        # token), so the row set is identical and the dedup plans as a
        # pure-grouping HashAggregate instead of first()-string SortAggregate
        ent_nodes = out["entities"].select(
            F.col("entity_id").alias("node_id"), "label", "prop_name",
            F.lit("active").alias("prop_status"),
        ).dropDuplicates().localCheckpoint(eager=True)
        self.nodes = self._commit(self._merge(self.nodes, ent_nodes, ["node_id"]))
        new_edges = related.unionByName(
            extracted.withColumn("similarity_score", F.lit(None).cast("double"))
        )
        self.edges = self._commit(self._merge(self.edges, new_edges, ["src", "dst", "rel_type"]))
        return {
            "related_edges": related.count(),
            "entities": ent_nodes.count(),
            "extracted_edges": extracted.count(),
            "property_index": prop_index.count(),
        }

    # ---- read path (§3.1) ---------------------------------------------------------

    def build_search_index(self, path: str, n_centroids: int | None = None,
                           assign_k: int = 1, method: str = "ivf",
                           pq_m: int | None = None,
                           pq_rerank: int = 128) -> None:
        """Persist the chunk table in the IVF-partitioned layout
        (sources/ann_index) and attach it to this engine — the V2-at-scale
        serving path (the reference serves this from Qdrant HNSW,
        memory/memory_graph.py:8103-8238; here the index IS the directory
        tree).  Rebuild after bulk ingest; incremental arrivals go through
        ``ann_index.append_to_index``.

        ``n_centroids=None`` scales C with the corpus (~4*sqrt(N), the FAISS
        sizing rule; clamped to [16, 65536]).  A FIXED default of 32 was the
        round-5 recall ceiling — PERF.md's round-6 table shows recall at a
        fixed scan budget is a pure function of quantization granularity, so
        C must grow with N.

        ``method="pq"`` builds the IVFADC layout instead (sources/pq_index,
        the FAISS IndexIVFPQ shape): an m-byte code per chunk partitioned by
        coarse bucket, plus a chunk-id-sorted full-fidelity fetch table.
        Serving ADC-scans the (16x smaller) codes of the probed buckets,
        exact-re-ranks the top ``pq_rerank``, and fetches only those rows —
        the measured-best recall/cost point (PERF.md: 1.00@10 at ~11% of
        scan bytes).  ``pq_m=None`` picks the largest divisor of dim <= 16."""
        import math

        from .operators.similarity import route_rows
        from .sources import ann_index

        if n_centroids is None:
            est = max(1, route_rows(self.chunks))
            n_centroids = max(16, min(65536, int(4 * math.sqrt(est))))
        if method == "pq":
            from .sources import pq_index

            m = pq_m or max(m for m in range(1, min(16, self.dim) + 1)
                            if self.dim % m == 0)
            cents = ann_index.train_centroids(self.chunks, n_centroids)
            books = pq_index.train_pq_codebooks(
                self.chunks, m=m, vec_col="embedding", id_col="chunk_id")
            # codes carry every payload/ACL column (Qdrant's filtered-ANN
            # model): ACL and spec predicates evaluate ON THE CODES SCAN,
            # before the re-rank cut — post-hoc filtering of a bounded
            # candidate set collapses recall under selective filters (the
            # 600k probe measured 0.05 overlap that way).  Parquet is
            # columnar: an unfiltered query still reads only (id, code,
            # bucket); heavy columns (embedding, chunk_content) stay out.
            payload = [c for c in self.chunks.columns
                       if c not in ("chunk_id", "embedding", "chunk_content")]
            pq_index.build_pq_index(
                self.chunks, path, codebooks=books, m=m,
                vec_col="embedding", id_col="chunk_id",
                ivf_centroids=cents, extra_cols=payload)
            # fetch table: full rows PARTITIONED by the same coarse bucket as
            # the codes and sorted by chunk_id within — a query's fetch prunes
            # to the nprobe probed partitions (PartitionFilters), then the
            # candidate-id IN-filter prunes row groups via footer min/max on
            # the sorted id.  A flat id-range layout can't prune: one query's
            # candidates spread across the whole id space.
            from .operators.similarity import ivf_assign_auto

            assigned = ivf_assign_auto(self.chunks, cents, 1, "embedding",
                                       bucket_col=pq_index.BUCKET_COL)
            (assigned.repartition(F.col(pq_index.BUCKET_COL))
             .sortWithinPartitions("chunk_id")
             .write.mode("overwrite").partitionBy(pq_index.BUCKET_COL)
             .parquet(path + ".rows"))
            self._pq_books, self._pq_cents, self._pq_rerank = books, cents, pq_rerank
            self._pq_n = self.chunks.count()
        elif method == "ivf":
            ann_index.build_ivf_index(self.chunks, path,
                                      n_centroids=n_centroids,
                                      assign_k=assign_k)
        else:
            raise ValueError(f"method must be 'ivf' or 'pq', got {method!r}")
        self._ann_method = method
        self._ann_index_path = path
        self._ann_tombstones = None  # fresh build: nothing is stale
        self._pq_frames = None       # (re)read lazily against the new files

    def append_to_search_index(self, memory_ids: list[str]) -> int:
        """Incremental index maintenance for NEWLY ADDED memories: assign
        their chunks against the existing centroids and append into the
        partitioned layout (sources/ann_index.append_to_index) — the
        steady-state ingest path; rebuilds are for drift and updates.

        ids must be new to the index: appended rows do NOT supersede
        existing ones, so appending a tombstoned (deleted-then-re-added or
        updated) id would un-hide its stale rows alongside the fresh ones.
        Those need ``build_search_index`` — this raises rather than serving
        wrong scores."""
        from .sources import ann_index

        if self._ann_index_path is None:
            raise ValueError("append_to_search_index requires build_search_index() first")
        if self._ann_tombstones is not None and memory_ids:
            stale = [r.memory_id for r in
                     self._ann_tombstones.filter(F.col("memory_id").isin(memory_ids)).collect()]
            if stale:
                raise ValueError(
                    f"memories {sorted(set(stale))} have stale index rows "
                    "(deleted/updated since build): rebuild with "
                    "build_search_index instead of appending")
        new = self.chunks.filter(F.col("memory_id").isin(memory_ids))
        if self._ann_method == "pq":
            from .sources import pq_index

            n = new.count()
            if n:
                payload = [c for c in new.columns
                           if c not in ("chunk_id", "embedding", "chunk_content")]
                pq_index.build_pq_index(
                    new, self._ann_index_path, codebooks=self._pq_books,
                    m=int(self._pq_books.shape[0]), vec_col="embedding",
                    id_col="chunk_id", mode="append",
                    ivf_centroids=self._pq_cents, extra_cols=payload)
                from .operators.similarity import ivf_assign_auto

                assigned = ivf_assign_auto(new, self._pq_cents, 1, "embedding",
                                           bucket_col=pq_index.BUCKET_COL)
                (assigned.repartition(F.col(pq_index.BUCKET_COL))
                 .sortWithinPartitions("chunk_id")
                 .write.mode("append").partitionBy(pq_index.BUCKET_COL)
                 .parquet(self._ann_index_path + ".rows"))
                self._pq_n += n
                # the cached relations snapshot the file listing — appends
                # add files, so drop them to re-list on next serve
                self._pq_frames = None
            return n
        return ann_index.append_to_index(new, self._ann_index_path)

    def _tombstone(self, ids: DataFrame) -> None:
        """Record memory_ids whose index entries went stale (deleted or
        updated since the index was attached).  The set is bounded by the
        mutations since the last build — broadcastable by construction —
        and is what keeps ANN serving delete-aware WITHOUT re-scanning the
        live chunk table (round-6 probe finding: the previous liveness
        semi-join against self.chunks re-read the full corpus on every ANN
        query, costing more than the full scan the index exists to avoid)."""
        if self._ann_index_path is None:
            return
        t = self._ann_tombstones
        self._ann_tombstones = self._commit(ids if t is None else t.unionByName(ids))

    def _ann_candidates(self, qvec: list[float], nprobe: int) -> DataFrame:
        """Chunk candidates from the attached IVF layout (ann_index.probed_rows
        reads nprobe/C of the files).  Approximate by construction —
        recall/scan trade measured in PERF.md.

        Staleness reconciliation: candidates anti-join the TOMBSTONE set
        (memories deleted, updated or re-added since index attach — small,
        broadcast), so stale rows never burn overfetch slots or resurface,
        and the query cost stays proportional to the probed buckets, never
        the corpus.  Tombstoned memories serve again after the next
        build_search_index."""
        from .sources import ann_index

        cand = ann_index.probed_rows(self.spark, self._ann_index_path, qvec, nprobe)
        if self._ann_tombstones is not None:
            cand = cand.join(F.broadcast(self._ann_tombstones), "memory_id", "left_anti")
        return cand

    def _ann_candidates_pq(self, qvec: list[float], nprobe: int,
                           top_k: int, ctx=None, spec=None) -> DataFrame:
        """Chunk candidates from the attached IVFADC layout: tombstone
        anti-join + ACL/spec predicates on the CODES scan (stale or
        unreadable rows never burn re-rank slots — filtered ANN must filter
        BEFORE the candidate cut or selective filters collapse recall),
        nprobe-pruned ADC over m-byte codes, then a bounded id IN-filter
        fetch from the chunk-id-sorted rows table — footer min/max pruning,
        no join against the live chunk lineage.  The collected id set is
        <= rerank rows (same boundedness class as probe_buckets).

        Spec columns the codes table doesn't carry can't pre-filter; those
        degrade to search_plan's post-filter over the candidate set (the
        inherent filtered-ANN trade — rebuild with the column denormalized
        onto chunks to restore pre-filtering)."""
        from .operators.predicate import compile_filter, spec_filter
        from .plans.search import _spec_columns_on_chunks
        from .sources import pq_index

        # relation handles cached per index build/append epoch: re-creating
        # them per query re-lists the 100s of bucket-partition directories at
        # PLAN time — microseconds on local SSD, a listing round-trip per dir
        # on an object store (invalidated on append; tombstone deletes don't
        # change files)
        if self._pq_frames is None:
            self._pq_frames = (
                self.spark.read.parquet(self._ann_index_path),
                self.spark.read.parquet(self._ann_index_path + ".rows"))
        codes, rows_full = self._pq_frames
        if self._ann_tombstones is not None:
            codes = codes.join(F.broadcast(self._ann_tombstones), "memory_id", "left_anti")
        if ctx is not None:
            codes = codes.filter(compile_filter(ctx, None))
        if spec is not None and _spec_columns_on_chunks(codes, spec):
            codes = spec_filter(codes, spec)
        # re-rank budget scales with the PROBED row count, not a constant:
        # PQ cells are coarser than tight cluster spreads, so ADC scores tie
        # heavily and a fixed cut loses true neighbors among the ties (600k
        # clustered probe: overlap 0.05 at rerank=128 vs 1.00 at ~4% of the
        # probed rows — PERF.md round-6's "5% re-rank" recipe, applied to the
        # probe set instead of the corpus).  ``pq_rerank`` (build-time knob)
        # and 4*top_k are floors; PQ_RERANK_BUDGET is the hard cap so the
        # candidate set — which is collected to the driver below — stays
        # genuinely bounded: at corpus scale 5% of the probed rows grows
        # linearly with N, and an uncapped collect would be a driver OOM the
        # way an uncapped _collect_matrix is.  Past the cap, raise nprobe
        # granularity (C grows with N at build time) instead of re-rank.
        rerank = pq_rerank_size(self._pq_rerank, top_k, self._pq_n,
                                len(self._pq_cents), nprobe)
        cand = pq_index.pq_candidates(
            self.spark, self._ann_index_path, qvec, rerank,
            codebooks=self._pq_books, id_col="chunk_id", nprobe=nprobe,
            codes_df=codes, ivf_centroids=self._pq_cents)
        rows = rows_full
        if nprobe is not None:
            from .sources.ann_index import probe_buckets

            probe = probe_buckets(qvec, self._pq_cents, nprobe)
            rows = rows.filter(F.col(pq_index.BUCKET_COL).isin(probe))
        # fused serve (round-8): the ADC cut stays a DataFrame and the fetch
        # semi-joins it as a broadcast — the candidate set is <= rerank rows
        # BY CONSTRUCTION (TakeOrdered limit), so the broadcast is bounded
        # like a driver collect would be, but the cut + fetch run as ONE job
        # with no py4j round trip and no per-query plan rebuild from
        # thousands of IN-literals.  Bucket partition pruning (the coarse IO
        # bound) still applies above; row-group min/max pruning INSIDE the
        # probed buckets is traded for the job fusion (PERF.md round-8).
        rows = rows.join(F.broadcast(cand.select("chunk_id")),
                         "chunk_id", "left_semi")
        return rows.drop(pq_index.BUCKET_COL)

    def search(self, query_text: str, ctx: AclContext | None = None,
               spec: FilterSpec | None = None, top_k: int = MAX_MEMORIES_DEFAULT,
               score_threshold: float = SEARCH_SCORE_THRESHOLD,
               log_query: bool = False, ann_nprobe: int | None = None) -> DataFrame:
        """§3.1 read path.  log_query=True also performs the background work:
        append a query-log row and bump cache-hit counters for the returned
        memories (services/query_log_service.py:1023 + R9,
        services/memory_management.py:3192-3364).

        ``ann_nprobe``: serve the vector leg from the attached IVF index
        (``build_search_index`` first) probing that many buckets instead of
        scanning every chunk — same DAG from top-k onward (ACL and spec
        filters still apply; they evaluate over the pruned candidate scan)."""
        qvec = self._embed_query(query_text)
        chunk_src = self.chunks
        if ann_nprobe is not None:
            if self._ann_index_path is None:
                raise ValueError("ann_nprobe requires build_search_index() first")
            if self._ann_method == "pq":
                chunk_src = self._ann_candidates_pq(qvec, ann_nprobe, top_k,
                                                    ctx=ctx, spec=spec)
            else:
                chunk_src = self._ann_candidates(qvec, ann_nprobe)
        out = search_plan(chunk_src, self.memories, qvec, ctx=ctx, spec=spec,
                          top_k=top_k, score_threshold=score_threshold)
        if log_query:
            # run the plan once: the logged hit ids and the returned rows are
            # the same materialized copy, so the caller's collect does not
            # re-run the search
            out = out.localCheckpoint(eager=True)
            hit_ids = [r.memory_id for r in out.select("memory_id").collect()]
            import hashlib

            qid = hashlib.sha256(
                f"{query_text}|{ctx.user_id if ctx else ''}".encode()
            ).hexdigest()[:24]
            log_row = self.spark.createDataFrame(
                [(qid, ctx.user_id if ctx else None, query_text, hit_ids)],
                "query_log_id string, user_id string, query_text string, "
                "retrieved_memory_ids array<string>",
            ).withColumn("created_at", F.current_timestamp())
            self.query_logs = self._commit(self.query_logs.unionByName(log_row))
            if hit_ids:
                self.record_feedback(hit_ids, kind="cache")
        return out

    def search_formatted(self, query_text: str, response_format: str = "toon",
                         columns: list[str] | None = None, **kwargs) -> str:
        """``response_format=toon`` route option (memory_routes_v1.py:2232-2239,
        :3161-3189): run search, render the top-k rows as TOON plain text (or
        JSON) — presentation only, the plan is unchanged."""
        from .functions.toon import format_search_response

        out = self.search(query_text, **kwargs)
        cols = columns or ["memory_id", "score", "content"]
        rows = [{c: r[c] for c in cols} for r in out.select(*cols).collect()]
        return format_search_response(rows, query_text, response_format)

    def search_agentic(self, query_text: str, graph_spec,
                       ctx: AclContext | None = None,
                       spec: FilterSpec | None = None,
                       top_k: int = MAX_MEMORIES_DEFAULT,
                       score_threshold: float = SEARCH_SCORE_THRESHOLD,
                       rerank_scorer=None, max_nodes: int = 15) -> DataFrame:
        """enable_agentic_graph=true form (§3.1 step d): vector + graph-pattern
        sources, stratified-merged; graph_spec is a PatternSpec (G15 search
        override — the deterministic query surface).  ``max_nodes`` caps the
        graph leg like the reference's Cypher LIMIT (request param, 10..50,
        default 15 — memory_routes_v1.py:2310)."""
        from .plans.search import search_with_graph

        _, max_nodes = clamp_search_caps(max_nodes=max_nodes)
        qvec = self._embed_query(query_text)
        return search_with_graph(
            self.chunks, self.memories, self.nodes, self.edges, qvec,
            ctx=ctx, spec=spec, graph_spec=graph_spec, top_k=top_k,
            score_threshold=score_threshold, rerank_scorer=rerank_scorer,
            max_nodes=max_nodes,
        )

    def get_memory(self, memory_id: str, include_related: bool = False) -> dict | None:
        """S14 point lookup (memory/memory_graph.py:9459-9684); with
        include_related also returns the memory's chunks and graph node."""
        rows = self.memories.filter(F.col("memory_id") == memory_id).collect()
        if not rows:
            return None
        out = rows[0].asDict()
        if include_related:
            out["chunks"] = [
                r.asDict() for r in
                self.chunks.filter(F.col("memory_id") == memory_id)
                .orderBy("chunk_index").collect()
            ]
            node = self.nodes.filter(F.col("node_id") == memory_id).collect()
            out["node"] = node[0].asDict() if node else None
        return out

    # ---- mutation (S12/S15) -------------------------------------------------------

    def update_memory(self, memory_id: str, content: str | None = None,
                      custom_metadata: str | None = None) -> bool:
        """S15: patch content/metadata; re-embed when content changed
        (memory/memory_graph.py:9684-10131)."""
        if self.memories.filter(F.col("memory_id") == memory_id).isEmpty():
            return False
        mem = self.memories
        if custom_metadata is not None:
            mem = mem.withColumn(
                "custom_metadata",
                F.when(F.col("memory_id") == memory_id, F.lit(custom_metadata))
                .otherwise(F.col("custom_metadata")),
            )
        if content is not None:
            mem = mem.withColumn(
                "content",
                F.when(F.col("memory_id") == memory_id, F.lit(content)).otherwise(F.col("content")),
            )
            # re-chunk + re-embed just the changed row; replace its chunks.
            # coalesce(1): the filtered frame inherits the full table's
            # partitioning, so the embed UDF would launch one (empty) task
            # per partition for a single-row input
            changed = mem.filter(F.col("memory_id") == memory_id).coalesce(1)
            new_chunks = ingest_plan.embed(
                ingest_plan.chunk_text(changed), self.embedder, self.dim)
            self.chunks = self._commit(
                self.chunks.filter(F.col("memory_id") != memory_id).unionByName(
                    new_chunks.select(*CHUNK_SCHEMA.names)))
            # index rows for this memory now carry a stale embedding: exclude
            # from ANN serving until the next rebuild (no stale scores)
            self._tombstone(
                self.spark.createDataFrame([(memory_id,)], "memory_id string"))
        mem = mem.withColumn(
            "updated_at",
            F.when(F.col("memory_id") == memory_id, F.current_timestamp())
            .otherwise(F.col("updated_at")),
        )
        self.memories = self._commit(mem)
        return True

    def delete_memory(self, memory_id: str) -> None:
        """S12 cascade: memory row + its chunks + its node + touching edges
        (memory/memory_graph.py:9200-9459)."""
        self._tombstone(self.spark.createDataFrame([(memory_id,)], "memory_id string"))
        self.memories = self._commit(self.memories.filter(F.col("memory_id") != memory_id))
        self.chunks = self._commit(self.chunks.filter(F.col("memory_id") != memory_id))
        self.nodes = self._commit(self.nodes.filter(F.col("node_id") != memory_id))
        self.edges = self._commit(self.edges.filter(
            (F.col("src") != memory_id) & (F.col("dst") != memory_id)
        ))

    def delete_all(self, ctx: AclContext) -> int:
        """S13: cascade-delete every memory the resolved user OWNS
        (routers/v1/memory_routes_v1.py:1270-1303 + the deletion loop below
        it: 'delete all memories for user resolved_user_id' — ownership, NOT
        the read OR-block; round-5 review finding: compiling the F1 read
        predicate here turned any read grant into a destructive write grant).
        Optional hard scoping (namespace/organization) narrows further.
        One LEFT ANTI join per table against the doomed-id set
        — no driver-side id collection, plan depth O(1) regardless of how many
        memories match.  The doomed set is bounded by the ACL scope of one
        caller, so Catalyst/AQE can broadcast it under every realistic
        workload; `delete_memory` stays as the 1-row special case."""
        pred = F.col("user_id") == ctx.user_id
        if ctx.namespace_id:
            # namespace scoping is strict everywhere (memory_graph.py:
            # 5861-5871): a namespaced request never touches NULL-namespace
            # rows — for a destructive op, the conservative direction too
            pred = pred & (F.col("namespace_id") == ctx.namespace_id)
        if ctx.scope_organization and ctx.organization_id:
            pred = pred & (F.col("organization_id").isNull()
                           | (F.col("organization_id") == ctx.organization_id))
        # materialize the doomed set once: it feeds four anti-joins + the
        # ANN tombstones, and must not re-evaluate against mutated tables
        doomed = (self.memories.filter(pred).select("memory_id")
                  .localCheckpoint(eager=True))
        n = doomed.count()
        if n == 0:
            return 0
        self._tombstone(doomed)
        self.memories = self._commit(self.memories.join(doomed, "memory_id", "left_anti"))
        self.chunks = self._commit(self.chunks.join(doomed, "memory_id", "left_anti"))
        self.nodes = self._commit(self.nodes.join(
            doomed.withColumnRenamed("memory_id", "node_id"), "node_id", "left_anti"
        ))
        self.edges = self._commit(
            self.edges
            .join(doomed.withColumnRenamed("memory_id", "src"), "src", "left_anti")
            .join(doomed.withColumnRenamed("memory_id", "dst"), "dst", "left_anti")
        )
        return n

    # ---- graph (G10 override path) ------------------------------------------------

    def add_graph(self, nodes: list[dict], edges: list[dict]) -> None:
        """graph_override bypass (memory/memory_graph.py:4632-4728): persist
        caller-supplied nodes/edges with MERGE semantics; edges only between
        resolvable endpoints (S10).  Labels with a REGISTERED schema validate
        first and merge on their schema-selected unique_identifiers instead of
        node_id (memory/memory_graph.py:10542-10615); unregistered labels keep
        the node_id merge."""
        if nodes:
            ndf = self.spark.createDataFrame(
                [(n["node_id"], n["label"], n.get("prop_name"), n.get("prop_status"))
                 for n in nodes],
                NODE_SCHEMA,
            )
            # every label validates before anything is written; the call
            # commits the node table once
            merged = self.nodes
            for label in sorted({n["label"] for n in nodes}):
                part = ndf.filter(F.col("label") == label)
                keys = self.schemas.merge_keys(label)
                if keys:
                    from .operators.schema_registry import props_from_columns

                    colmap = {k: self._SCHEMA_PROP_COLS.get(k, k) for k in keys}
                    self.schemas.reject_invalid(
                        props_from_columns(part, {
                            p: c for p, c in self._SCHEMA_PROP_COLS.items()
                        }), label)
                    mine = merged.filter(F.col("label") == label)
                    others = merged.filter(F.col("label") != label)
                    merged = others.unionByName(
                        self._merge(mine, part, [colmap[k] for k in keys]))
                else:
                    merged = self._merge(merged, part, ["node_id"])
            self.nodes = self._commit(merged)
        if edges:
            edf = self.spark.createDataFrame(
                [(e["src"], e["dst"], e["rel_type"], e.get("similarity_score"))
                 for e in edges],
                EDGE_SCHEMA,
            )
            ids = self.nodes.select("node_id")
            edf = (
                edf.join(ids.withColumnRenamed("node_id", "src"), "src", "left_semi")
                .join(ids.withColumnRenamed("node_id", "dst"), "dst", "left_semi")
            )
            self.edges = self._commit(self._merge(self.edges, edf, ["src", "dst", "rel_type"]))

    def schema(self) -> tuple[list[str], list[str]]:
        labels, rels = graph_ops.schema_discovery(self.nodes, self.edges)
        return (sorted(r.label for r in labels.collect()),
                sorted(r.rel_type for r in rels.collect()))

    # ---- analytics (R8/R16) -------------------------------------------------------

    def record_feedback(self, memory_ids: list[str], kind: str = "citation",
                        confidence: float = 1.0,
                        event_ts: str | None = None) -> None:
        """R16: feedback bumps citation (or cache) counters with R9 decay applied
        to the prior value (services/memory_management.py:3369-3405): the stored
        EMA / confidence-weighted columns are first decayed by
        0.5 ** (delta_days / half_life) using the stored updated_at vs the event
        time (negative deltas clamp to 0 days, i.e. no decay — mirroring
        _apply_time_decay, services/memory_management.py:3177-3342), THEN the
        increment is added.  Totals are undecayed counts."""
        from .functions.decay import decay_factor

        if not memory_ids:
            return  # nothing to bump (isin() with zero values is invalid SQL)
        prefix = "citation" if kind == "citation" else "cache"
        hit = F.col("memory_id").isin(*memory_ids)
        now = F.to_timestamp(F.lit(event_ts)) if event_ts else F.current_timestamp()
        # clamp negative deltas: factor = min(0.5^(delta/half_life), 1.0);
        # a NULL updated_at (externally loaded rows) means no prior timestamp
        # -> no decay, never a NULL-poisoned counter
        decay = F.coalesce(
            F.least(decay_factor(F.col("updated_at"), now), F.lit(1.0)), F.lit(1.0)
        )
        m = self.memories
        m = m.withColumn(
            f"{prefix}_hit_total",
            F.when(hit, F.col(f"{prefix}_hit_total") + 1).otherwise(F.col(f"{prefix}_hit_total")),
        ).withColumn(
            f"{prefix}_hit_ema_30d",
            F.when(hit, F.col(f"{prefix}_hit_ema_30d") * decay + 1.0)
            .otherwise(F.col(f"{prefix}_hit_ema_30d")),
        ).withColumn(
            f"{prefix}_confidence_weighted_30d",
            F.when(hit, F.col(f"{prefix}_confidence_weighted_30d") * decay + confidence)
            .otherwise(F.col(f"{prefix}_confidence_weighted_30d")),
        ).withColumn("updated_at", F.when(hit, now).otherwise(F.col("updated_at")))
        self.memories = self._commit(m)

    def tier1_list(self, max_items: int = 20) -> DataFrame:
        return tier1_ranked(self.memories, max_items)

    # ---- SQL surface ----------------------------------------------------------------

    def register_views(self, prefix: str = "") -> None:
        """Expose the four tables as temp views so users can drive the engine
        through plain Spark SQL (the DataFrame/SQL parity surface)."""
        for name in ["memories", "chunks", "nodes", "edges", "query_logs"]:
            getattr(self, name).createOrReplaceTempView(prefix + name)

    def sql(self, statement: str) -> DataFrame:
        """Run Spark SQL against the registered views (register_views first)."""
        return self.spark.sql(statement)

    # ---- persistence ---------------------------------------------------------------

    _TABLE_KEYS = {"memories": ["memory_id"], "chunks": ["chunk_id"],
                   "nodes": ["node_id"], "edges": ["src", "dst", "rel_type"],
                   "query_logs": ["query_log_id"]}

    def save(self, store_dir: str, txn: bool = False) -> None:
        """Persist all four tables.  ``txn=True`` routes through the
        transactional tier (sources/txn.TxnTable): every save commits a new
        snapshot version per table — concurrent writers conflict cleanly
        instead of clobbering, and ``load(version=...)`` can time-travel.
        Default stays plain parquet (the oracle-facing layout)."""
        if txn:
            from .sources.txn import TxnTable

            for name, keys in self._TABLE_KEYS.items():
                TxnTable(self.spark, f"{store_dir}/{name}", keys).overwrite(
                    getattr(self, name)
                )
            return
        for name in self._TABLE_KEYS:
            getattr(self, name).write.mode("overwrite").parquet(f"{store_dir}/{name}.parquet")

    def load(self, store_dir: str, txn: bool = False,
             version: int | None = None) -> None:
        """Load all four tables; with ``txn=True`` reads the given (or
        latest) committed snapshot version of each table."""
        import os

        self._chunk_rows_est = None  # unknown until counted; routing uses stats
        if txn:
            from .sources.txn import TxnTable

            for name, keys in self._TABLE_KEYS.items():
                if name == "query_logs" and not os.path.isdir(f"{store_dir}/{name}"):
                    continue  # store predates query-log persistence; keep empty
                setattr(self, name, TxnTable(
                    self.spark, f"{store_dir}/{name}", keys).read(version))
            return
        for name in self._TABLE_KEYS:
            path = f"{store_dir}/{name}.parquet"
            if name == "query_logs" and not os.path.exists(path):
                continue  # store predates query-log persistence; keep empty
            setattr(self, name, self.spark.read.parquet(path))

    @staticmethod
    def _merge(existing: DataFrame, incoming: DataFrame, keys: list[str],
               replaced: Observation | None = None) -> DataFrame:
        """MERGE INTO semantics: incoming replaces matching keys, others kept.
        ``replaced`` observes ``n``, the number of existing rows replaced,
        within the job that materializes the merge — no job of its own."""
        keyset = incoming.select(*keys).distinct()
        if replaced is None:
            kept = existing.join(keyset, keys, "left_anti")
        else:
            kept = (existing.join(keyset.withColumn("_replaced", F.lit(True)), keys, "left")
                    .observe(replaced, F.count("_replaced").alias("n"))
                    .filter(F.col("_replaced").isNull()).drop("_replaced"))
        return kept.unionByName(incoming)

    @staticmethod
    def _commit(df: DataFrame) -> DataFrame:
        """The one commit point for table state: every write materializes the
        table's next state before it is assigned.  Reads then scan a settled
        copy instead of re-running the merge lineage, lazy current_timestamp()
        values are pinned once, and the plan stays O(1) deep however long the
        session runs — the in-session twin of a store of record (at
        production scale the tables live in parquet/Delta via save/load)."""
        return df.localCheckpoint(eager=True)
