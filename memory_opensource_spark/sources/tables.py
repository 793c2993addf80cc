"""Table loaders and the derived memory-domain tables.

The driver provides TPC-H-ish parquet plus ``documents``/``embeddings``/``events``
(TESTDATA.md).  The memory-domain tables the engine operates on — ``memories``,
``chunks``, ``nodes``, ``edges`` (FIXTURES.md schemas) — are derived here
*deterministically* from those inputs with arithmetic only, so the DuckDB oracle
can re-derive the identical tables in SQL CTEs (see oracle.py).

At production scale these would be real Delta/parquet tables partitioned by
tenant (namespace_id) with the embedding column colocated; the derivation is the
test-fixture stand-in.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TPCH_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
EXTRA_TABLES = ["events", "documents", "embeddings"]
ALL_TABLES = TPCH_TABLES + EXTRA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

N_USERS = 20          # synthetic tenant population for ACL derivation
N_WORKSPACES = 8

#: path -> (footer mtime, StructType).  Schema METADATA only (never data or
#: results): spark.read.parquet runs a schema-inference job per call (~80 ms
#: measured), and the bench pays it for every load of every query run; the
#: footer holds the same schema and pyarrow reads it in <1 ms.
_SCHEMA_CACHE: dict[str, tuple[float, object]] = {}


def _spark_type_from_arrow(dt, at):
    """from_arrow_schema output fixed up to match Spark's OWN parquet
    inference exactly: a tz-less arrow timestamp is TIMESTAMP_NTZ to Spark
    (inferTimestampNTZ default), and a NANOS timestamp arrives as BIGINT
    under the nanosAsLong conf read_events_parquet sets — from_arrow_schema
    maps both to TimestampType, which would silently change dtypes."""
    import pyarrow as pa
    from pyspark.sql import types as T

    if isinstance(dt, T.TimestampType) and pa.types.is_timestamp(at):
        if at.unit == "ns":
            return T.LongType()
        if at.tz is None:
            return T.TimestampNTZType()
        return dt
    if isinstance(dt, T.ArrayType) and pa.types.is_list(at):
        return T.ArrayType(
            _spark_type_from_arrow(dt.elementType, at.value_type),
            dt.containsNull)
    if isinstance(dt, T.StructType) and pa.types.is_struct(at):
        return T.StructType([
            T.StructField(f.name,
                          _spark_type_from_arrow(f.dataType, at.field(i).type),
                          f.nullable, f.metadata)
            for i, f in enumerate(dt.fields)])
    if isinstance(dt, T.MapType) and pa.types.is_map(at):
        # r14 (ADVICE r13): without this branch a map-valued column keeps
        # from_arrow_schema's TimestampType where Spark inference yields
        # TIMESTAMP_NTZ/BIGINT — silent dtype change for non-fixture paths.
        return T.MapType(
            _spark_type_from_arrow(dt.keyType, at.key_type),
            _spark_type_from_arrow(dt.valueType, at.item_type),
            dt.valueContainsNull)
    return dt


def _footer_schema(path: str):
    """The parquet footer's Spark schema for a LOCAL file/dir, cached on
    (path, mtime); None for non-local schemes or on any read problem (the
    caller falls back to Spark inference — behavior identical either way,
    verified schema-equal across every fixture table and SF)."""
    if "://" in path:
        if not path.startswith("file://"):
            return None
        path = path[len("file://"):]
    sch = _read_footer_schema(path)
    if sch is None:
        # a path that no longer yields a footer schema (removed, emptied,
        # past 32 files, drifted, INT96, unreadable) drops its old entry
        _SCHEMA_CACHE.pop(path, None)
    return sch


def _read_footer_schema(path: str):
    """:func:`_footer_schema` for a local path, through the cache."""
    try:
        targets = [path]
        if os.path.isdir(path):
            files = sorted(f for f in os.listdir(path)
                           if f.endswith(".parquet"))
            # r14 (VERDICT r13 item 4 + ADVICE): a multi-file dir may carry
            # schema drift between part files — verify EVERY footer matches
            # (bounded at 32 files; past that, inference amortizes anyway),
            # and key the cache on the full (dir, every-file) mtime set so
            # appends and in-place part rewrites both invalidate.
            if not files or len(files) > 32:
                return None
            targets = [os.path.join(path, f) for f in files]
            mtime = (os.path.getmtime(path),
                     tuple((f, os.path.getmtime(t))
                           for f, t in zip(files, targets)))
        elif not os.path.isfile(path):
            return None
        else:
            mtime = os.path.getmtime(path)
        hit = _SCHEMA_CACHE.get(path)
        if hit is not None and hit[0] == mtime:
            return hit[1]
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        pf = pq.ParquetFile(targets[0])
        for t in targets:
            p = pf if t == targets[0] else pq.ParquetFile(t)
            if p.schema_arrow != pf.schema_arrow:
                return None
            # INT96 timestamps (Spark's own default parquet timestamp
            # encoding, so any round-tripped copy of an events table has
            # them) surface in the ARROW schema as timestamp[ns] —
            # indistinguishable from the INT64 TIMESTAMP(NANOS) that must
            # map to BIGINT under nanosAsLong, while Spark itself infers
            # INT96 as TIMESTAMP.  No safe mapping from the arrow view
            # alone: fall back to Spark inference.  Checked PER FILE (the
            # arrow-schema equality above cannot see the physical type).
            pqs = p.schema
            if any(pqs.column(i).physical_type == "INT96"
                   for i in range(len(pqs))):
                return None
        pa_sch = pf.schema_arrow
        sch0 = from_arrow_schema(pa_sch)
        from pyspark.sql import types as T

        sch = T.StructType([
            T.StructField(f.name,
                          _spark_type_from_arrow(f.dataType, pa_sch.types[i]),
                          f.nullable, f.metadata)
            for i, f in enumerate(sch0.fields)])
        _SCHEMA_CACHE[path] = (mtime, sch)
        return sch
    except Exception:
        return None


def read_events_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read an events-shaped parquet AT THE GIVEN PATH with the ts-dtype
    sniff: events.parquet has shipped as TIMESTAMP(NANOS) in some fixture
    generations (Spark's vectorized reader rejects it) and TIMESTAMP(US) in
    others — adapt to whichever is on disk.  nanosAsLong makes the NANOS
    variant readable as BIGINT; the US variant arrives as TIMESTAMP_NTZ
    (inferTimestampNTZ).  Both normalize to the session TIMESTAMP type (UTC)
    at microsecond precision, matching the oracle's ``ts::TIMESTAMP``
    (oracle.py EVENTS_CTE).  Factored out of :func:`load` so non-canonical
    paths (compacted/round-tripped copies via formats.read_table) get the
    same normalization instead of being rerouted to the fixture path."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sch = _footer_schema(path)
    df = (spark.read.schema(sch).parquet(path) if sch is not None
          else spark.read.parquet(path))
    ts_type = dict(df.dtypes).get("ts", "")
    if ts_type in ("bigint", "long"):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return read_events_parquet(spark, f"{sf_dir}/{name}.parquet")
    path = f"{sf_dir}/{name}.parquet"
    sch = _footer_schema(path)
    if sch is not None:
        return spark.read.schema(sch).parquet(path)
    return spark.read.parquet(path)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in ALL_TABLES}


def fan_out(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Adaptive repartition before CPU-heavy narrow transforms.

    Parquet cannot split below row-group granularity, and the sf fixtures are
    single-row-group files — a scan yields ONE task no matter how many cores
    exist, serializing any expensive per-row compute that follows it.  On a
    real multi-file corpus the scan already has more splits than cores and
    this returns the input unchanged (the partition-count check ensures it can
    never introduce a corpus-wide shuffle at scale); on an under-split input
    it round-robins the raw rows across the executor threads so the expensive
    stage runs at full parallelism.  Only worth calling when the downstream
    per-row cost dwarfs a shuffle of the raw rows."""
    spark = df.sparkSession
    target = min_parts or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


#: memoized STATIC Column expression trees for the derived-table builders.
#: Columns are immutable unresolved-expression handles — building one costs
#: several py4j round trips, and the builders construct the identical trees
#: on every call of every bench run; reusing the objects is free (each use
#: is re-analyzed against its own plan).  Expressions only — never data.
_EXPR_CACHE: dict[str, object] = {}


def _cached_exprs(key: str, make):
    cols = _EXPR_CACHE.get(key)
    if cols is None:
        cols = make()
        _EXPR_CACHE[key] = cols
    return cols


def _acl_cols(df: DataFrame, id_num: str) -> DataFrame:
    """Deterministic ACL block from an integer id column (FIXTURES.md shared block).

    - owner user:      u{id % 20}
    - extra reader:    u{(id+1) % 20}
    - workspace:       w{id % 8}, readable also by w{(id+2) % 8}
    - org/ns:          o{id % 3} / ns{id % 5}, ~10% legacy NULL (id % 10 == 7)
    """
    def make():
        i = F.col(id_num)
        u = F.concat(F.lit("u"), (i % N_USERS).cast("string"))
        u2 = F.concat(F.lit("u"), ((i + 1) % N_USERS).cast("string"))
        w = F.concat(F.lit("w"), (i % N_WORKSPACES).cast("string"))
        w2 = F.concat(F.lit("w"), ((i + 2) % N_WORKSPACES).cast("string"))
        org = F.when(i % 10 == 7, F.lit(None)).otherwise(
            F.concat(F.lit("o"), (i % 3).cast("string")))
        ns = F.when(i % 10 == 7, F.lit(None)).otherwise(
            F.concat(F.lit("ns"), (i % 5).cast("string")))
        return {
            "user_id": u,
            "workspace_id": w,
            "organization_id": org,
            "namespace_id": ns,
            "user_read_access": F.array(u, u2),
            "user_write_access": F.array(u),
            "workspace_read_access": F.array(w, w2),
            "workspace_write_access": F.array(w),
            "role_read_access": F.array(
                F.concat(F.lit("r"), (i % 4).cast("string"))),
            "role_write_access": F.array().cast("array<string>"),
            "organization_read_access":
                F.when(org.isNull(), F.array()).otherwise(F.array(org)),
            "namespace_read_access":
                F.when(ns.isNull(), F.array()).otherwise(F.array(ns)),
        }

    # ONE withColumns call, not 12 chained withColumn: each withColumn is a
    # full JVM analysis pass over the growing plan (~12 ms apiece in the
    # r13 build profile); the batched form analyzes once.  Identical plan.
    return df.withColumns(_cached_exprs(f"acl:{id_num}", make))


def build_memories(documents: DataFrame) -> DataFrame:
    """memories table (FIXTURES.md §1) derived from documents."""
    def make():
        return [
            F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("memory_id"),
            F.col("doc_id").alias("_id_num"),
            F.col("text").alias("content"),
            F.array(F.col("lang"), F.col("source")).alias("topics"),
            F.col("lang"),
            F.col("source").alias("source_type"),
            # OMO safety enums (models/shared_types.py:974-994)
            F.element_at(
                F.array(F.lit("explicit"), F.lit("implicit"), F.lit("terms"), F.lit("none")),
                (F.col("doc_id") % 4 + 1).cast("int"),
            ).alias("consent"),
            F.element_at(
                F.array(F.lit("none"), F.lit("sensitive"), F.lit("flagged")),
                (F.col("doc_id") % 3 + 1).cast("int"),
            ).alias("risk"),
            (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
             + F.make_interval(hours=F.col("doc_id").cast("int"))).alias("created_at"),
            # counters: deterministic arithmetic so ranking formulas are testable
            (F.col("doc_id") % 17).cast("double").alias("cache_hit_total"),
            ((F.col("doc_id") % 11) / 3.0).alias("cache_hit_ema_30d"),
            ((F.col("doc_id") % 7) / 2.0).alias("cache_confidence_weighted_30d"),
            (F.col("doc_id") % 5).cast("double").alias("citation_hit_total"),
            ((F.col("doc_id") % 9) / 4.0).alias("citation_hit_ema_30d"),
            ((F.col("doc_id") % 6) / 5.0).alias("citation_confidence_weighted_30d"),
        ]

    base = documents.select(*_cached_exprs("memories", make))
    return _acl_cols(base, "_id_num").drop("_id_num")


def build_chunks(embeddings: DataFrame) -> DataFrame:
    """chunks table (FIXTURES.md §2) derived from embeddings (one chunk per vector)."""
    def make():
        return [
            F.concat(F.lit("m"), F.col("vec_id").cast("string"), F.lit("_0")).alias("chunk_id"),
            F.concat(F.lit("m"), F.col("vec_id").cast("string")).alias("memory_id"),
            F.col("vec_id").alias("_id_num"),
            F.lit(0).alias("chunk_index"),
            F.lit(1).alias("total_chunks"),
            F.col("embedding"),
            F.col("label"),
            (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
             + F.make_interval(hours=F.col("vec_id").cast("int"))).alias("created_at"),
        ]

    base = embeddings.select(*_cached_exprs("chunks", make))
    return _acl_cols(base, "_id_num").drop("_id_num")


def build_chunks_denormalized(embeddings: DataFrame, documents: DataFrame) -> DataFrame:
    """chunks carrying the searchable metadata spec columns DENORMALIZED onto
    each chunk row — the reference's point-payload design
    (memory/memory_graph.py:5919-6026 pushes topics/customMetadata/consent/risk
    filters into the Qdrant point scan rather than joining back to the memory
    store).

    The documents join happens HERE, once, at ingest/build time; every
    subsequent spec'd search then filters at the chunk scan with zero joins
    before top-k.  At 100 TB that trades a few duplicated string columns per
    chunk for eliminating a memories-table shuffle from every search.
    consent/risk/custom_metadata are arithmetic on the id (no join needed);
    topics/lang/source ride the one-time left join."""
    chunks = build_chunks(embeddings)
    idn = F.regexp_extract("chunk_id", r"^m(\d+)_", 1).cast("bigint")
    doc_side = documents.select(
        F.col("doc_id").alias("_doc_id"),
        F.array(F.col("lang"), F.col("source")).alias("topics"),
        F.col("lang"),
        F.col("source").alias("source_type"),
    )
    return (
        chunks.withColumn("_doc_id", idn)
        .join(doc_side, "_doc_id", "left")
        .withColumn("consent", F.element_at(
            F.array(F.lit("explicit"), F.lit("implicit"), F.lit("terms"), F.lit("none")),
            (F.col("_doc_id") % 4 + 1).cast("int")))
        .withColumn("risk", F.element_at(
            F.array(F.lit("none"), F.lit("sensitive"), F.lit("flagged")),
            (F.col("_doc_id") % 3 + 1).cast("int")))
        .withColumn("custom_metadata", F.create_map(
            F.lit("priority"), (F.col("_doc_id") % 20).cast("string"),
            F.lit("archived"),
            F.when(F.col("_doc_id") % 2 == 0, F.lit("true")).otherwise(F.lit("false"))))
        .drop("_doc_id")
    )


def build_nodes(customer: DataFrame, nation: DataFrame, region: DataFrame,
                supplier: DataFrame) -> DataFrame:
    """nodes table (FIXTURES.md §3): Customer/Nation/Region/Supplier entities."""
    c = customer.select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("node_id"),
        F.lit("Customer").alias("label"),
        F.col("c_name").alias("prop_name"),
        F.col("c_mktsegment").alias("prop_status"),
        F.col("c_custkey").alias("_id_num"),
    )
    n = nation.select(
        F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias("node_id"),
        F.lit("Nation").alias("label"),
        F.col("n_name").alias("prop_name"),
        F.lit("active").alias("prop_status"),
        F.col("n_nationkey").cast("bigint").alias("_id_num"),
    )
    r = region.select(
        F.concat(F.lit("r"), F.col("r_regionkey").cast("string")).alias("node_id"),
        F.lit("Region").alias("label"),
        F.col("r_name").alias("prop_name"),
        F.lit("active").alias("prop_status"),
        F.col("r_regionkey").cast("bigint").alias("_id_num"),
    )
    s = supplier.select(
        F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("node_id"),
        F.lit("Supplier").alias("label"),
        F.col("s_name").alias("prop_name"),
        F.lit("active").alias("prop_status"),
        F.col("s_suppkey").alias("_id_num"),
    )
    out = c.unionByName(n).unionByName(r).unionByName(s)
    return _acl_cols(out, "_id_num").drop("_id_num")


def build_edges(customer: DataFrame, nation: DataFrame, supplier: DataFrame) -> DataFrame:
    """edges table (FIXTURES.md §4): Customer-BELONGS_TO->Nation,
    Nation-BELONGS_TO->Region, Supplier-WORKS_AT->Nation — gives 2-hop chains
    (Customer->Nation->Region) for G2."""
    c_n = customer.select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("src"),
        F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("dst"),
        F.lit("BELONGS_TO").alias("rel_type"),
    )
    n_r = nation.select(
        F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias("src"),
        F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("dst"),
        F.lit("BELONGS_TO").alias("rel_type"),
    )
    s_n = supplier.select(
        F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("n"), F.col("s_nationkey").cast("string")).alias("dst"),
        F.lit("WORKS_AT").alias("rel_type"),
    )
    return c_n.unionByName(n_r).unionByName(s_n)


def build_domain(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All derived memory-domain tables for a scale-factor directory."""
    t = load_all(spark, sf_dir)
    return {
        "memories": build_memories(t["documents"]),
        "chunks": build_chunks(t["embeddings"]),
        "nodes": build_nodes(t["customer"], t["nation"], t["region"], t["supplier"]),
        "edges": build_edges(t["customer"], t["nation"], t["supplier"]),
        **t,
    }
