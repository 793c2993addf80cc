"""r13 OPT: tables.load supplies the parquet FOOTER schema (pyarrow, cached)
instead of paying Spark's ~80 ms schema-inference job per call.  These tests
pin the substitution's safety contract:

- the explicit schema is IDENTICAL to what Spark would infer, for every
  fixture table (incl. the tz-less-timestamp -> TIMESTAMP_NTZ fixup);
- INT96 timestamps (Spark's own parquet timestamp encoding, present in any
  round-tripped events copy) force the inference FALLBACK — the arrow view
  cannot distinguish them from INT64 NANOS, which must map to BIGINT;
- the cache is keyed on mtime, so a rewritten file is re-read.
"""
import os
import shutil
import tempfile

from tests.conftest import SF_DIR


def test_footer_schema_matches_inference_all_tables(spark):
    from memory_opensource_spark.sources import tables

    for name in tables.ALL_TABLES:
        path = f"{SF_DIR}/{name}.parquet"
        sch = tables._footer_schema(path)
        assert sch is not None, name
        inferred = spark.read.parquet(path).schema
        assert sch == inferred, (
            f"{name}: footer schema {sch} != inferred {inferred}")


def test_int96_roundtrip_falls_back_to_inference(spark):
    from memory_opensource_spark.sources import tables

    ev = tables.load(spark, SF_DIR, "events")
    d = tempfile.mkdtemp()
    try:
        # Spark's default parquet timestamp encoding is INT96; ts here is
        # TIMESTAMP after read_events_parquet normalization
        ev.limit(50).coalesce(1).write.mode("overwrite").parquet(f"{d}/ev96")
        assert tables._footer_schema(f"{d}/ev96") is None
        # and the events reader still round-trips values through the
        # fallback path (dtype normalized to the session timestamp)
        back = tables.read_events_parquet(spark, f"{d}/ev96")
        assert dict(back.dtypes)["ts"] == "timestamp"
        assert back.count() == 50
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_multifile_dir_same_schema_uses_footer(spark):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from memory_opensource_spark.sources import tables

    d = tempfile.mkdtemp()
    try:
        p = f"{d}/t.parquet"
        os.makedirs(p)
        t = pa.table({"a": pa.array([1, 2], type=pa.int64())})
        for i in range(3):
            pq.write_table(t, f"{p}/part-{i}.parquet")
        sch = tables._footer_schema(p)
        assert sch is not None
        assert sch == spark.read.parquet(p).schema
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_multifile_dir_schema_drift_falls_back():
    import pyarrow as pa
    import pyarrow.parquet as pq

    from memory_opensource_spark.sources import tables

    d = tempfile.mkdtemp()
    try:
        p = f"{d}/t.parquet"
        os.makedirs(p)
        pq.write_table(pa.table({"a": pa.array([1], type=pa.int64())}),
                       f"{p}/part-0.parquet")
        pq.write_table(pa.table({"a": pa.array([1.5], type=pa.float64())}),
                       f"{p}/part-1.parquet")
        assert tables._footer_schema(p) is None
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_append_invalidates_dir_cache():
    """ADVICE r13: appending a part file (first-sorted file untouched) must
    invalidate the cached dir schema — the key holds the full file list."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from memory_opensource_spark.sources import tables

    d = tempfile.mkdtemp()
    try:
        p = f"{d}/t.parquet"
        os.makedirs(p)
        pq.write_table(pa.table({"a": pa.array([1], type=pa.int64())}),
                       f"{p}/part-0.parquet")
        s1 = tables._footer_schema(p)
        assert [f.name for f in s1.fields] == ["a"]
        pq.write_table(pa.table({"a": pa.array([2.5], type=pa.float64())}),
                       f"{p}/part-1.parquet")
        assert tables._footer_schema(p) is None  # drift now visible
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_int96_in_any_part_file_falls_back(spark):
    """Arrow-schema equality cannot see the INT96 physical type: a dir whose
    SECOND file is a Spark-written (INT96) events copy next to a pyarrow
    INT64-NANOS file must fall back even though both look timestamp[ns]."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from memory_opensource_spark.sources import tables

    d = tempfile.mkdtemp()
    try:
        ev = tables.load(spark, SF_DIR, "events").limit(5)
        ev.coalesce(1).write.mode("overwrite").parquet(f"{d}/spark96")
        part96 = next(f for f in os.listdir(f"{d}/spark96")
                      if f.endswith(".parquet"))
        pf96 = pq.ParquetFile(f"{d}/spark96/{part96}")
        assert any(pf96.schema.column(i).physical_type == "INT96"
                   for i in range(len(pf96.schema))), \
            "precondition: Spark writes INT96 timestamps by default"
        p = f"{d}/t.parquet"
        os.makedirs(p)
        # part-0: SAME arrow schema, but INT64 NANOS physical (pyarrow write)
        pq.write_table(pf96.read(), f"{p}/part-0.parquet")
        assert pq.ParquetFile(f"{p}/part-0.parquet").schema_arrow \
            == pf96.schema_arrow
        # single INT64-NANOS file: footer schema applies (BIGINT mapping)
        assert tables._footer_schema(p) is not None
        shutil.copyfile(f"{d}/spark96/{part96}", f"{p}/part-1.parquet")
        assert tables._footer_schema(p) is None
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_footer_schema_map_timestamp_matches_inference(spark):
    """ADVICE r13: map-valued columns recurse — a map<string, tz-less
    timestamp> must land on Spark's own inference (TIMESTAMP_NTZ value
    type), not from_arrow_schema's TimestampType."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from memory_opensource_spark.sources import tables

    d = tempfile.mkdtemp()
    try:
        p = f"{d}/m.parquet"
        arr = pa.array([[("k", 1_700_000_000_000_000)]],
                       type=pa.map_(pa.string(), pa.timestamp("us")))
        pq.write_table(pa.table({"m": arr}), p)
        sch = tables._footer_schema(p)
        assert sch is not None
        assert sch == spark.read.parquet(p).schema
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_schema_cache_invalidated_on_rewrite(spark):
    from pyspark.sql import types as T

    from memory_opensource_spark.sources import tables

    d = tempfile.mkdtemp()
    try:
        p = f"{d}/t.parquet"
        spark.range(5).selectExpr("id AS a").write.parquet(p)
        s1 = tables._footer_schema(p)
        assert [f.name for f in s1.fields] == ["a"]
        shutil.rmtree(p)
        spark.range(5).selectExpr("id AS b", "id AS c").write.parquet(p)
        # force a distinct mtime even on coarse-grained filesystems
        part = sorted(f for f in os.listdir(p) if f.endswith(".parquet"))[0]
        os.utime(os.path.join(p, part), (0, 0))
        s2 = tables._footer_schema(p)
        assert [f.name for f in s2.fields] == ["b", "c"]
        assert isinstance(s2.fields[0].dataType, T.LongType)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_schema_cache_evicts_paths_that_stop_yielding_a_schema(spark):
    """A cached path whose footer schema is no longer usable (here: a drifted
    part file appended) returns None AND drops its entry, so the cache never
    holds schemas for paths it no longer serves."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from memory_opensource_spark.sources import tables

    d = tempfile.mkdtemp()
    try:
        p = f"{d}/t.parquet"
        os.makedirs(p)
        pq.write_table(pa.table({"a": pa.array([1], type=pa.int64())}),
                       f"{p}/part-0.parquet")
        assert tables._footer_schema(p) is not None
        assert p in tables._SCHEMA_CACHE
        pq.write_table(pa.table({"a": pa.array([2.5], type=pa.float64())}),
                       f"{p}/part-1.parquet")
        assert tables._footer_schema(p) is None
        assert p not in tables._SCHEMA_CACHE
        shutil.rmtree(p)
        pq.write_table(pa.table({"a": pa.array([1], type=pa.int64())}), p)
        assert tables._footer_schema(p) is not None
        os.remove(p)
        assert tables._footer_schema(p) is None
        assert p not in tables._SCHEMA_CACHE
    finally:
        shutil.rmtree(d, ignore_errors=True)
