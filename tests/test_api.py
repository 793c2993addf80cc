"""MemoryEngine facade tests: the reference's route-level behaviors end-to-end."""

import pytest
from pyspark.sql import functions as F

from memory_opensource_spark.api import AddResult, MemoryEngine, hash_embed_py
from memory_opensource_spark.operators.predicate import AclContext, FilterSpec


@pytest.fixture()
def engine(spark):
    eng = MemoryEngine(spark, dim=32)
    eng.add_memory_batch([
        {"memory_id": "m1", "content": "spark is a distributed engine",
         "user_id": "alice", "user_read_access": ["alice", "bob"]},
        {"memory_id": "m2", "content": "qdrant stores dense vectors",
         "user_id": "alice", "user_read_access": ["alice"]},
        {"memory_id": "m3", "content": "neo4j stores property graphs",
         "user_id": "carol", "user_read_access": ["carol"]},
    ])
    return eng


def test_add_and_get(engine):
    m = engine.get_memory("m1")
    assert m["content"] == "spark is a distributed engine"
    assert engine.chunks.filter(F.col("memory_id") == "m1").count() == 1
    assert engine.nodes.filter(F.col("node_id") == "m1").count() == 1


def test_add_near_duplicate_reuses(engine):
    res = engine.add_memory(memory_id="m9", content="spark is a distributed engine",
                            user_id="dave")
    assert res.reused and res.reused_from == "m1"
    # no new memory row was created (the reference returns the existing memory,
    # memory_graph.py:2251-2351)
    assert engine.get_memory("m9") is None


def test_search_ranks_relevant_first_and_respects_acl(engine):
    hits = engine.search("distributed spark engine",
                         ctx=AclContext(user_id="bob"), score_threshold=0.0).collect()
    assert hits and hits[0].memory_id == "m1"
    # bob can only read m1
    assert {h.memory_id for h in hits} == {"m1"}


def test_update_reembeds_content(engine):
    old_vec = engine.chunks.filter(F.col("memory_id") == "m2").first().embedding
    assert engine.update_memory("m2", content="completely new words entirely")
    new_vec = engine.chunks.filter(F.col("memory_id") == "m2").first().embedding
    assert old_vec != new_vec
    hits = engine.search("completely new words", ctx=AclContext(user_id="alice"),
                         score_threshold=0.0).collect()
    assert hits[0].memory_id == "m2"
    assert not engine.update_memory("nonexistent", content="x")


def test_delete_cascades(engine):
    engine.add_graph(
        nodes=[{"node_id": "p1", "label": "Person", "prop_name": "Ann"}],
        edges=[{"src": "m1", "dst": "p1", "rel_type": "EXTRACTED"}],
    )
    engine.delete_memory("m1")
    assert engine.get_memory("m1") is None
    assert engine.chunks.filter(F.col("memory_id") == "m1").count() == 0
    assert engine.nodes.filter(F.col("node_id") == "m1").count() == 0
    assert engine.edges.filter(F.col("src") == "m1").count() == 0


def test_delete_all_scoped(engine):
    n = engine.delete_all(AclContext(user_id="alice"))
    assert n == 2  # m1, m2 OWNED by alice; m3 (carol) stays
    assert engine.get_memory("m3") is not None
    assert engine.get_memory("m1") is None
    assert engine.chunks.filter(F.col("memory_id").isin("m1", "m2")).count() == 0


def test_delete_all_requires_ownership_not_read_grant(engine):
    """A READ grant must never become a destructive write grant: bob can read
    m1 (user_read_access) but owns nothing, so delete_all removes nothing
    (reference: delete-all-for-resolved-USER is ownership-scoped;
    round-5 review finding)."""
    n = engine.delete_all(AclContext(user_id="bob"))
    assert n == 0
    assert engine.get_memory("m1") is not None


def test_delete_all_is_set_based(engine, monkeypatch):
    # S13 must be one anti-join per table, not a driver-side per-id loop of
    # chained filters: plan depth stays O(1) in the number of doomed ids.
    # Committed tables are materialized, so read the plans delete_all hands
    # to the commit point.
    handed = []
    commit = engine._commit

    def spy(df):
        handed.append(df._jdf.queryExecution().optimizedPlan().toString())
        return commit(df)

    monkeypatch.setattr(engine, "_commit", spy)
    engine.delete_all(AclContext(user_id="alice"))
    # no index attached, so no tombstone commit: memories, chunks, nodes, edges
    assert len(handed) == 4
    for plan in handed:
        assert "LeftAnti" in plan
    # no per-id NOT-equal chain survived the rewrite
    assert "NOT (memory_id" not in handed[0].replace("= m", "= <id>")


def test_add_graph_merge_and_endpoint_check(engine):
    engine.add_graph(
        nodes=[{"node_id": "p1", "label": "Person", "prop_name": "Ann"}],
        edges=[
            {"src": "m1", "dst": "p1", "rel_type": "EXTRACTED"},
            {"src": "m1", "dst": "ghost", "rel_type": "EXTRACTED"},  # dropped
        ],
    )
    assert engine.edges.count() == 1
    labels, rels = engine.schema()
    assert "Person" in labels and "EXTRACTED" in rels


def test_feedback_moves_tier1_ranking(engine):
    engine.record_feedback(["m3"], kind="citation", confidence=0.9)
    top = engine.tier1_list(3).collect()
    assert top[0].memory_id == "m3"
    assert top[0].final_score > top[1].final_score


def test_batch_rejects_duplicate_ids(spark):
    eng = MemoryEngine(spark, dim=8)
    with pytest.raises(ValueError, match="duplicate"):
        eng.add_memory_batch([
            {"memory_id": "m1", "content": "a", "user_id": "u"},
            {"memory_id": "m1", "content": "b", "user_id": "u"},
        ])


def test_batch_cap_enforced(spark):
    eng = MemoryEngine(spark, dim=8)
    with pytest.raises(ValueError):
        eng.add_memory_batch([{"memory_id": f"m{i}", "content": "x", "user_id": "u"}
                              for i in range(1001)])


def test_save_load_roundtrip(engine, tmp_path):
    engine.search("distributed spark", ctx=AclContext(user_id="alice"),
                  score_threshold=0.0, log_query=True).collect()
    engine.save(str(tmp_path))
    eng2 = MemoryEngine(engine.spark, dim=32)
    eng2.load(str(tmp_path))
    assert eng2.get_memory("m1") is not None
    hits = eng2.search("distributed spark", ctx=AclContext(user_id="alice"),
                       score_threshold=0.0).collect()
    assert hits[0].memory_id == "m1"
    # query logs are engine state: they survive the roundtrip too
    assert eng2.query_logs.count() == engine.query_logs.count() >= 1
    # a store written before query-log persistence loads with empty logs
    import os
    import shutil

    legacy = str(tmp_path / "legacy")
    shutil.copytree(str(tmp_path), legacy)
    shutil.rmtree(os.path.join(legacy, "query_logs.parquet"))
    eng3 = MemoryEngine(engine.spark, dim=32)
    eng3.load(legacy)
    assert eng3.query_logs.count() == 0 and eng3.get_memory("m1") is not None


def test_record_feedback_empty_ids_is_noop(engine):
    before = engine.memories.count()
    engine.record_feedback([], kind="citation")
    assert engine.memories.count() == before


def test_enrich_memories_builds_graph(engine):
    counts = engine.enrich_memories()
    assert counts["entities"] > 0 and counts["extracted_edges"] > 0
    labels, rels = engine.schema()
    assert "Entity" in labels
    assert "EXTRACTED" in rels and "RELATED_TO" in rels
    # the extracted entity for 'distributed' is reachable via the graph
    from memory_opensource_spark.operators.graph import PatternSpec, match_pattern

    out = match_pattern(
        engine.nodes, engine.edges,
        PatternSpec(source_label="Memory", relationship_type="EXTRACTED",
                    target_label="Entity", direction="any"),
    ).collect()
    assert any(r.n_id == "ent_distributed" for r in out)


def test_search_logging_bumps_counters(engine):
    before = engine.get_memory("m1")["cache_hit_total"]
    hits = engine.search("distributed spark engine", ctx=AclContext(user_id="alice"),
                         score_threshold=0.0, log_query=True).collect()
    assert hits
    logs = engine.query_logs.collect()
    assert len(logs) == 1 and "m1" in logs[0].retrieved_memory_ids
    after = engine.get_memory("m1")["cache_hit_total"]
    assert after == before + 1


def test_search_agentic_merges_graph_source(engine):
    from memory_opensource_spark.operators.graph import PatternSpec

    engine.add_graph(
        nodes=[{"node_id": "p1", "label": "Person", "prop_name": "Ann"}],
        edges=[{"src": "m3", "dst": "p1", "rel_type": "EXTRACTED"}],
    )
    out = engine.search_agentic(
        "vectors dense storage",
        graph_spec=PatternSpec(source_label="Memory", relationship_type="EXTRACTED",
                               target_label="Person", direction="any"),
        score_threshold=0.0,
    ).collect()
    got = {r.memory_id: r for r in out}
    # m3 (carol's memory) arrives via the graph leg with the 0.7 default score
    assert "m3" in got and got["m3"].source == "neo"


def test_sql_surface(engine):
    engine.register_views()
    out = engine.sql(
        "SELECT m.memory_id, count(c.chunk_id) AS n_chunks "
        "FROM memories m JOIN chunks c ON m.memory_id = c.memory_id "
        "WHERE array_contains(m.user_read_access, 'alice') "
        "GROUP BY m.memory_id ORDER BY m.memory_id"
    ).collect()
    assert [(r.memory_id, r.n_chunks) for r in out] == [("m1", 1), ("m2", 1)]


def test_hash_embed_py_matches_spark(spark):
    from memory_opensource_spark.plans.ingest import hash_embed

    df = spark.createDataFrame([("m", 0, "hello world of spark")],
                               "memory_id string, chunk_index int, chunk_content string")
    spark_vec = hash_embed(df, dim=32).first().embedding
    py_vec = hash_embed_py("hello world of spark", dim=32)
    assert all(abs(a - b) < 1e-12 for a, b in zip(spark_vec, py_vec))


def test_feedback_ema_time_decays(engine):
    # two citations one 30d half-life apart: prior EMA halves before the bump
    # (services/memory_management.py _apply_time_decay, ~3177-3342)
    engine.record_feedback(["m2"], kind="citation", confidence=1.0,
                           event_ts="2024-06-01 00:00:00")
    engine.record_feedback(["m2"], kind="citation", confidence=1.0,
                           event_ts="2024-07-01 00:00:00")
    row = engine.get_memory("m2")
    assert row["citation_hit_total"] == 2            # totals stay undecayed
    assert abs(row["citation_hit_ema_30d"] - 1.5) < 1e-9   # 1*0.5 + 1
    assert abs(row["citation_confidence_weighted_30d"] - 1.5) < 1e-9


def test_feedback_negative_delta_clamps(engine):
    # event older than updated_at: clamp to no decay, never amplification
    engine.record_feedback(["m2"], kind="citation", event_ts="2024-06-01 00:00:00")
    engine.record_feedback(["m2"], kind="citation", event_ts="2024-05-01 00:00:00")
    row = engine.get_memory("m2")
    assert abs(row["citation_hit_ema_30d"] - 2.0) < 1e-9   # 1*min(decay,1)=1, +1


def test_search_spec_filters_pre_topk(spark):
    # 6 decoys match the query better than the one spec-matching memory; with a
    # post-fetch-only filter the k*3 overfetch window (top_k=1 -> 3) holds only
    # decoys and the result would be empty — the pre-top-k semi-join must find it
    # (reference puts the spec in the vector-store pre-filter,
    # memory/memory_graph.py:5905-6034).
    eng = MemoryEngine(spark, dim=32)
    decoys = [
        {"memory_id": f"d{i}", "content": "spark distributed engine cluster",
         "user_id": "alice", "user_read_access": ["alice"], "topics": ["other"]}
        for i in range(6)
    ]
    eng.add_memory_batch(decoys + [
        {"memory_id": "target", "content": "graphs and property stores",
         "user_id": "alice", "user_read_access": ["alice"], "topics": ["wanted"]},
    ])
    out = eng.search("spark distributed engine cluster",
                     ctx=AclContext(user_id="alice"),
                     spec=FilterSpec(topics=["wanted"]),
                     top_k=1, score_threshold=None).collect()
    assert [r.memory_id for r in out] == ["target"]


class TestSearchRequestResolution:
    """Request-shape twins of models/memory_models.py:860-898 and
    routers/v1/memory_routes_v1.py:2309-2310."""

    def test_only_reranking_config(self):
        from memory_opensource_spark.api import resolve_reranking

        d = resolve_reranking(False, {"reranking_enabled": True,
                                      "reranking_provider": "cohere",
                                      "reranking_model": "rerank-v3.5"})
        assert d.enabled and d.provider == "cohere" and d.model == "rerank-v3.5"
        assert not d.warnings

    def test_only_deprecated_rank_results(self):
        from memory_opensource_spark.api import resolve_reranking

        d = resolve_reranking(True, None)
        assert d.enabled and d.provider == "openai" and d.model == "gpt-5-nano"
        assert any("deprecated" in w for w in d.warnings)

    def test_conflict_config_wins(self):
        from memory_opensource_spark.api import resolve_reranking

        d = resolve_reranking(True, {"reranking_enabled": False})
        assert not d.enabled
        assert any("Conflict" in w for w in d.warnings)

    def test_neither_disabled(self):
        from memory_opensource_spark.api import resolve_reranking

        assert not resolve_reranking().enabled

    def test_caps_clamp(self):
        import pytest

        from memory_opensource_spark.api import clamp_search_caps

        assert clamp_search_caps() == (20, 15)
        assert clamp_search_caps(50, 10) == (50, 10)
        with pytest.raises(ValueError):
            clamp_search_caps(5, 15)
        with pytest.raises(ValueError):
            clamp_search_caps(20, 51)


def test_chunks_carry_denormalized_payload_and_search_pushes_spec(spark):
    """The write path denormalizes topics/consent/risk onto chunk rows (the
    reference's Qdrant point payload), so a spec'd engine search filters at
    the chunk scan — no join upstream of the overfetch top-k."""
    eng = MemoryEngine(spark, dim=16)
    eng.add_memory_batch([
        {"memory_id": "m1", "content": "berlin travel notes",
         "user_id": "alice", "topics": ["travel", "de"]},
        {"memory_id": "m2", "content": "paris travel notes",
         "user_id": "alice", "topics": ["travel", "fr"]},
        {"memory_id": "m3", "content": "berlin finance notes",
         "user_id": "alice", "topics": ["finance", "de"]},
    ])
    for c in ("topics", "consent", "risk"):
        assert c in eng.chunks.columns

    spec = FilterSpec(topics=["travel"])
    out = eng.search("travel notes", ctx=AclContext(user_id="alice"),
                     spec=spec, score_threshold=None)
    assert {r.memory_id for r in out.collect()} == {"m1", "m2"}
    # plan shape: the spec adds ZERO joins over the unspec'd search (it
    # filters the chunk rows directly instead of semi-joining memories;
    # the engine's in-memory chunk table already contains MERGE anti-joins
    # in its lineage, so compare join counts, not absolute absence)
    base = eng.search("travel notes", ctx=AclContext(user_id="alice"),
                      score_threshold=None)
    def njoins(plan):
        return sum(plan.count(op) for op in
                   ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                    "BroadcastNestedLoopJoin", "CartesianProduct"))

    # fresh (uncollected) frames: an executed AQE plan prints Final+Initial
    # sections and would double-count operators
    fresh = eng.search("travel notes", ctx=AclContext(user_id="alice"),
                       spec=spec, score_threshold=None)
    plan_spec = fresh._jdf.queryExecution().executedPlan().toString()
    plan_base = base._jdf.queryExecution().executedPlan().toString()
    assert njoins(plan_spec) == njoins(plan_base), "spec added a join"
    # and the topics predicate runs below the overfetch top-k (chunk side)
    below_topk = plan_spec.rsplit("TakeOrderedAndProject", 1)[1]
    assert "arrays_overlap" in below_topk

    # update path keeps the payload columns intact on re-embedded chunks
    assert eng.update_memory("m1", content="berlin travel diary updated")
    row = eng.chunks.filter(F.col("memory_id") == "m1").first()
    assert row.topics == ["travel", "de"] and row.consent is not None


def test_ann_accelerated_search(engine, tmp_path):
    """ann_nprobe serves the vector leg from the attached IVF layout: the
    candidate scan prunes on ivf_bucket partitions, ACL still applies, and
    probing ALL buckets reproduces the exact path's results."""
    with pytest.raises(ValueError):
        engine.search("anything", ann_nprobe=2)

    path = str(tmp_path / "search_ivf")
    engine.build_search_index(path, n_centroids=4)

    exact = [(r.memory_id, round(r.score, 9))
             for r in engine.search("alpha beta", ctx=AclContext(user_id="alice")).collect()]
    # probe EVERY bucket -> candidate set == full set -> identical answer
    full = [(r.memory_id, round(r.score, 9))
            for r in engine.search("alpha beta", ctx=AclContext(user_id="alice"),
                                   ann_nprobe=4).collect()]
    assert full == exact and exact  # non-empty on the fixture engine

    # nprobe=1 is a strict subset of the exact answer (approximate, never wrong rows)
    sub = {(r.memory_id, round(r.score, 9))
           for r in engine.search("alpha beta", ctx=AclContext(user_id="alice"),
                                  ann_nprobe=1).collect()}
    assert sub <= set(exact)

    # plan evidence: the pruned candidate scan partition-filters on ivf_bucket
    qvec = [0.0] * engine.dim
    cand = engine._ann_candidates(qvec, 1)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ivf_bucket" in plan.split("PartitionFilters")[1][:300]


def test_ann_search_composes_with_spec_filters(engine, tmp_path):
    """ann_nprobe + metadata spec + ACL all compose: the spec filters the
    pruned candidate scan, and probing every bucket reproduces the exact
    spec'd answer."""
    engine.build_search_index(str(tmp_path / "ivf_spec"), n_centroids=2)
    spec = FilterSpec(exclude_memory_id="m1")
    exact = [(r.memory_id, round(r.score, 9))
             for r in engine.search("distributed spark engine",
                                    ctx=AclContext(user_id="alice"), spec=spec,
                                    score_threshold=0.0).collect()]
    full = [(r.memory_id, round(r.score, 9))
            for r in engine.search("distributed spark engine",
                                   ctx=AclContext(user_id="alice"), spec=spec,
                                   score_threshold=0.0, ann_nprobe=2).collect()]
    assert full == exact
    assert all(m != "m1" for m, _ in full)      # F5 exclusion applied
    assert full                                  # m2 still reachable


def test_full_lifecycle_txn_ann(engine, tmp_path):
    """A user's whole round trip: ingest -> versioned save -> reload into a
    fresh engine -> build ANN index -> accelerated + filtered search ->
    mutate -> save again -> time-travel back to the pre-mutation snapshot."""
    store = str(tmp_path / "store")
    engine.save(store, txn=True)

    eng2 = MemoryEngine(engine.spark, dim=32)
    eng2.load(store, txn=True)
    eng2.build_search_index(str(tmp_path / "idx"), n_centroids=2)
    hits = eng2.search("distributed spark engine", ctx=AclContext(user_id="bob"),
                       score_threshold=0.0, ann_nprobe=2).collect()
    assert hits and hits[0].memory_id == "m1"

    eng2.delete_memory("m1")
    eng2.save(store, txn=True)

    cur = MemoryEngine(engine.spark, dim=32)
    cur.load(store, txn=True)
    assert cur.get_memory("m1") is None
    old = MemoryEngine(engine.spark, dim=32)
    old.load(store, txn=True, version=0)
    assert old.get_memory("m1") is not None


def test_search_agentic_graph_leg_respects_acl(engine):
    """A graph-reachable memory the caller cannot READ must never surface
    through the agentic path (reference: ACL inside the graph query itself;
    round-5 review finding — the graph leg previously bypassed the ACL that
    the vector leg enforces at its scan)."""
    from memory_opensource_spark.operators.graph import PatternSpec

    engine.add_graph(
        nodes=[{"node_id": "p1", "label": "Person", "prop_name": "Ann"}],
        edges=[{"src": "m3", "dst": "p1", "rel_type": "EXTRACTED"}],
    )
    spec = PatternSpec(source_label="Memory", relationship_type="EXTRACTED",
                       target_label="Person", direction="any")
    # alice cannot read m3 (owner carol, readers [carol])
    out = engine.search_agentic("vectors dense storage", graph_spec=spec,
                                ctx=AclContext(user_id="alice"),
                                score_threshold=0.0).collect()
    assert out  # alice's own memories still return
    assert all(r.memory_id != "m3" for r in out)
    # carol DOES get m3 through the graph leg
    out_c = engine.search_agentic("vectors dense storage", graph_spec=spec,
                                  ctx=AclContext(user_id="carol"),
                                  score_threshold=0.0).collect()
    assert any(r.memory_id == "m3" and r.source == "neo" for r in out_c)


def test_search_with_custom_metadata_spec(spark):
    """F3 on the ENGINE surface: MEMORY_SCHEMA stores custom_metadata as a
    JSON string; the spec route must parse it (from_json) instead of crashing
    with INVALID_EXTRACT_BASE_FIELD_TYPE (round-5 review finding, verified
    live by the reviewer)."""
    eng = MemoryEngine(spark, dim=16)
    eng.add_memory_batch([
        {"memory_id": "p1", "content": "high priority task",
         "user_id": "u", "custom_metadata": '{"priority": "5", "team": "core"}'},
        {"memory_id": "p2", "content": "low priority chore",
         "user_id": "u", "custom_metadata": '{"priority": "1"}'},
        {"memory_id": "p3", "content": "untagged note about priority", "user_id": "u"},
    ])
    ctx = AclContext(user_id="u")
    # bare numeric -> >= lower bound (F3)
    hits = eng.search("priority", ctx=ctx, score_threshold=0.0,
                      spec=FilterSpec(custom_metadata={"priority": 3})).collect()
    assert {h.memory_id for h in hits} == {"p1"}
    # string equality
    hits = eng.search("priority", ctx=ctx, score_threshold=0.0,
                      spec=FilterSpec(custom_metadata={"team": "core"})).collect()
    assert {h.memory_id for h in hits} == {"p1"}
    # no-match value returns empty, not an error
    assert eng.search("priority", ctx=ctx, score_threshold=0.0,
                      spec=FilterSpec(custom_metadata={"team": "nope"})).count() == 0


def test_merge_lineage_stays_bounded_over_many_batches(spark):
    """Each _merge stacks an anti-join+union layer; without plan truncation
    a long session's table plan grows one layer per batch and driver-side
    ANALYSIS stalls long before execution.  After 24 single-memory adds the
    memories plan must hold a bounded number of join layers — not one per
    batch."""
    eng = MemoryEngine(spark, dim=16)
    n = 24
    for i in range(n):
        # token-disjoint contents so V4 ingest near-dup reuse (>0.97) never
        # collapses rows — this test is about lineage, not dedup
        eng.add_memory(memory_id=f"b{i}",
                       content=f"zq{i}x wk{i}m vb{i}t pl{i}s jr{i}d",
                       user_id="u")
    plan = eng.memories._jdf.queryExecution().optimizedPlan().toString()
    joins = plan.count("Join")
    assert joins < 2, (
        f"{joins} join layers after {n} batches — lineage not truncated")
    assert eng.memories.count() == n  # data intact across checkpoints


def test_updated_at_is_pinned_at_the_write(engine):
    """A write's current_timestamp() is stamped once, when the write commits:
    two reads of the same row, 1.5 s apart, see the same updated_at."""
    import time

    def updated_at(mid):
        return engine.memories.filter(F.col("memory_id") == mid) \
            .select("updated_at").collect()[0][0]

    engine.record_feedback(["m1"], kind="citation")
    engine.update_memory("m2", custom_metadata='{"k": "v"}')
    first = {mid: updated_at(mid) for mid in ("m1", "m2")}
    time.sleep(1.5)
    assert {mid: updated_at(mid) for mid in ("m1", "m2")} == first


def _jobs_in(spark, group, fn):
    """Run fn under a Spark job group; return (result, its job count)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_logged_search_runs_the_plan_once(engine, spark):
    """search(log_query=True) materializes its result once: the logged hit
    ids and the returned rows are the same copy, so the caller's collect
    runs no search job of its own, and the logged call costs one search
    plus its writes."""
    ctx = AclContext(user_id="alice")
    kw = dict(ctx=ctx, score_threshold=0.0)
    plain, plain_jobs = _jobs_in(
        spark, "plain-search", lambda: engine.search("distributed spark engine", **kw).collect())
    out, call_jobs = _jobs_in(
        spark, "logged-search-call",
        lambda: engine.search("distributed spark engine", log_query=True, **kw))
    logged, collect_jobs = _jobs_in(spark, "logged-search-collect", out.collect)
    assert [r.memory_id for r in logged] == [r.memory_id for r in plain]
    assert engine.query_logs.collect()[0].retrieved_memory_ids == \
        [r.memory_id for r in logged]
    assert plain_jobs >= 2
    assert collect_jobs <= 1, f"the caller's collect re-ran the search ({collect_jobs} jobs)"
    # one search, the hit-id read of its copy, the query_logs and memories
    # commits
    assert call_jobs <= plain_jobs + 3, (
        f"logged search ran {call_jobs} jobs; a plain one {plain_jobs}")


def test_ann_serving_is_delete_aware_without_corpus_rescan(engine, tmp_path):
    """Deleted/updated memories never resurface from the IVF layout, and the
    liveness mechanism is a broadcast tombstone anti-join — NOT the old
    semi-join against the full live chunk table, which re-scanned the corpus
    on every ANN query (probe: ANN cost exceeded the full scan at 600k)."""
    engine.build_search_index(str(tmp_path / "ivf_live"), n_centroids=2)
    ctx = AclContext(user_id="alice")

    hits = {r.memory_id for r in
            engine.search("distributed spark engine", ctx=ctx,
                          score_threshold=0.0, ann_nprobe=2).collect()}
    assert "m1" in hits

    engine.delete_memory("m1")
    hits = {r.memory_id for r in
            engine.search("distributed spark engine", ctx=ctx,
                          score_threshold=0.0, ann_nprobe=2).collect()}
    assert "m1" not in hits

    # updated memory: excluded from ANN (stale embedding) but served exact
    assert engine.update_memory("m2", content="entirely new vector content")
    ann = {r.memory_id for r in
           engine.search("entirely new vector content", ctx=ctx,
                         score_threshold=0.0, ann_nprobe=2).collect()}
    exact = {r.memory_id for r in
             engine.search("entirely new vector content", ctx=ctx,
                           score_threshold=0.0).collect()}
    assert "m2" not in ann and "m2" in exact

    # rebuild clears tombstones: m2 serves again with the new embedding
    engine.build_search_index(str(tmp_path / "ivf_live2"), n_centroids=2)
    ann2 = {r.memory_id for r in
            engine.search("entirely new vector content", ctx=ctx,
                          score_threshold=0.0, ann_nprobe=2).collect()}
    assert "m2" in ann2

    # plan shape: candidates must not semi-join the live chunk table
    plan = engine._ann_candidates([0.0] * engine.dim, 1)._jdf \
        .queryExecution().executedPlan().toString()
    assert "LeftSemi" not in plan


def test_append_to_search_index_serves_new_memories(engine, tmp_path):
    """The steady-state ingest path: new memories appended into the existing
    IVF layout serve from ANN without a rebuild; appending an id with stale
    index rows (updated/deleted since build) raises instead of un-hiding
    wrong scores."""
    engine.build_search_index(str(tmp_path / "ivf_append"), n_centroids=2)
    ctx = AclContext(user_id="dave")

    engine.add_memory(memory_id="m7", content="entirely fresh appended words",
                      user_id="dave")
    # not yet indexed: absent from ANN, present exact
    ann = {r.memory_id for r in
           engine.search("entirely fresh appended words", ctx=ctx,
                         score_threshold=0.0, ann_nprobe=2).collect()}
    assert "m7" not in ann
    n = engine.append_to_search_index(["m7"])
    assert n >= 1
    ann = {r.memory_id for r in
           engine.search("entirely fresh appended words", ctx=ctx,
                         score_threshold=0.0, ann_nprobe=2).collect()}
    assert "m7" in ann

    # updated id has stale rows -> append must refuse
    engine.update_memory("m7", content="changed after indexing")
    with pytest.raises(ValueError, match="stale"):
        engine.append_to_search_index(["m7"])


def test_agentic_graph_leg_caps_at_max_nodes(engine):
    """The graph leg must honor the reference's Cypher LIMIT (max_nodes,
    default 15, request-clamped 10..50): an unselective pattern may not feed
    its whole match set into the merge. The cap applies after ACL, id-asc."""
    from memory_opensource_spark.operators.graph import PatternSpec

    engine.add_graph(
        nodes=[{"node_id": f"e{i}", "label": "Entity", "prop_name": f"ent {i}"}
               for i in range(30)],
        edges=[{"src": "m1", "dst": f"e{i}", "rel_type": "EXTRACTED"}
               for i in range(30)],
    )
    # every memory matches via m1; graph leg pre-cap would be 1 id — widen:
    engine.add_graph(
        nodes=[],
        edges=[{"src": "m2", "dst": "e0", "rel_type": "EXTRACTED"},
               {"src": "m3", "dst": "e0", "rel_type": "EXTRACTED"}],
    )
    spec = PatternSpec(source_label="Memory", relationship_type="EXTRACTED",
                       target_label="Entity", direction="out")
    with pytest.raises(ValueError):
        engine.search_agentic("x", spec, max_nodes=5)   # below the 10..50 clamp

    out = engine.search_agentic("vectors dense storage", spec,
                                ctx=AclContext(user_id="alice"),
                                score_threshold=0.0).collect()
    neo_rows = [r for r in out if r.source == "neo"]
    assert neo_rows and len(neo_rows) <= 15


def test_pq_serving_matches_exact_and_is_delete_aware(engine, tmp_path):
    """method='pq' (IVFADC, sources/pq_index) served through the SAME
    MemoryEngine.search surface as IVF: exact parity with the full-scan path
    on the fixture, broadcast-tombstone delete/update-awareness, rebuild
    clears tombstones — the r6 VERDICT gap (PQ was tooling-only)."""
    engine.build_search_index(str(tmp_path / "pq_live"), n_centroids=2,
                              method="pq")
    ctx = AclContext(user_id="alice")

    exact = [(r.memory_id, round(r.score, 6)) for r in
             engine.search("distributed spark engine", ctx=ctx,
                           score_threshold=0.0).collect()]
    pq = [(r.memory_id, round(r.score, 6)) for r in
          engine.search("distributed spark engine", ctx=ctx,
                        score_threshold=0.0, ann_nprobe=2).collect()]
    assert pq == exact and "m1" in {m for m, _ in pq}

    engine.delete_memory("m1")
    hits = {r.memory_id for r in
            engine.search("distributed spark engine", ctx=ctx,
                          score_threshold=0.0, ann_nprobe=2).collect()}
    assert "m1" not in hits

    # updated memory: excluded from ANN (stale code) but served exact
    assert engine.update_memory("m2", content="entirely new vector content")
    ann = {r.memory_id for r in
           engine.search("entirely new vector content", ctx=ctx,
                         score_threshold=0.0, ann_nprobe=2).collect()}
    exact2 = {r.memory_id for r in
              engine.search("entirely new vector content", ctx=ctx,
                            score_threshold=0.0).collect()}
    assert "m2" not in ann and "m2" in exact2

    # rebuild clears tombstones: m2 serves again with the new code
    engine.build_search_index(str(tmp_path / "pq_live2"), n_centroids=2,
                              method="pq")
    ann2 = {r.memory_id for r in
            engine.search("entirely new vector content", ctx=ctx,
                          score_threshold=0.0, ann_nprobe=2).collect()}
    assert "m2" in ann2

    # plan shape (round-8 fused serve): ONE job — the fetch semi-joins the
    # persisted rows table against the broadcast ADC cut, whose input is the
    # persisted codes scan bounded by TakeOrdered(rerank).  Nothing reads the
    # live chunk lineage or a driver-materialized local table.
    plan = engine._ann_candidates_pq([0.0] * engine.dim, 2, 5)._jdf \
        .queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan      # the bounded rerank cut
    assert "LocalTableScan" not in plan         # no driver-side id list
    assert "Scan parquet" in plan or "FileScan" in plan


def test_pq_append_serves_new_memories(engine, tmp_path):
    """Steady-state ingest on a PQ index: new memories are encoded with the
    STORED codebooks/centroids (mode=append passes the sidecar-match guard)
    and serve without a rebuild."""
    engine.build_search_index(str(tmp_path / "pq_append"), n_centroids=2,
                              method="pq")
    ctx = AclContext(user_id="dave")

    engine.add_memory(memory_id="m7", content="entirely fresh appended words",
                      user_id="dave")
    before = {r.memory_id for r in
              engine.search("entirely fresh appended words", ctx=ctx,
                            score_threshold=0.0, ann_nprobe=2).collect()}
    assert "m7" not in before
    n = engine.append_to_search_index(["m7"])
    assert n == 1
    after = {r.memory_id for r in
             engine.search("entirely fresh appended words", ctx=ctx,
                           score_threshold=0.0, ann_nprobe=2).collect()}
    assert "m7" in after


def test_pq_fetch_prunes_rows_table_partitions(engine, tmp_path):
    """Scale pin: the PQ serving fetch reads the bucket-partitioned rows
    table with the probed buckets in PartitionFilters — a flat layout would
    rescan every file for each query's scattered candidate ids."""
    engine.build_search_index(str(tmp_path / "pq_pin"), n_centroids=2,
                              method="pq")
    plan = engine._ann_candidates_pq([0.1] * engine.dim, 1, 5)._jdf \
        .queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "ivf_bucket" in m.group(1), m.group(0) if m else plan


def test_pq_rerank_size_floors_and_hard_cap():
    """Review r7: the adaptive 5%-of-probed re-rank floor restores recall but
    the candidate ids are driver-collected — the budget must be a hard cap so
    the set stays bounded at any corpus size."""
    from memory_opensource_spark.api import PQ_RERANK_BUDGET, pq_rerank_size

    # floors: build-time knob and 4*top_k
    assert pq_rerank_size(128, 20, 600, 16, 4) == 128
    assert pq_rerank_size(16, 100, 600, 16, 4) == 400
    # adaptive: 5% of probed rows (600k rows, C=1024, nprobe=32 -> 18750 probed)
    assert pq_rerank_size(128, 20, 600_000, 1024, 32) == 937
    # hard cap: 1e11 rows at C=65536, nprobe=32 would want ~2.4M — capped
    assert pq_rerank_size(128, 20, 100_000_000_000, 65_536, 32) == PQ_RERANK_BUDGET
    # nprobe=None scans everything: still capped
    assert pq_rerank_size(128, 20, 10_000_000_000, 1024, None) == PQ_RERANK_BUDGET


# ---- the single-frame write: one chunked frame per add ----------------------------

def _words(prefix: str, n: int) -> str:
    return " ".join(f"{prefix}{i}" for i in range(n))


def _chunk_rows(engine, memory_id):
    return sorted(engine.chunks.filter(F.col("memory_id") == memory_id).collect(),
                  key=lambda r: r.chunk_index)


def test_readd_with_fewer_chunks_replaces_the_chunk_set(spark):
    """The chunks MERGE keys on memory_id: re-adding a 2-chunk memory with
    one-chunk text leaves only the new chunk — no stale m_1 (old text, old
    total_chunks) keeps serving the old content under the new row."""
    engine = MemoryEngine(spark, dim=32)
    old = _words("old", 2100)
    engine.add_memory(memory_id="m", content=old, user_id="alice")
    assert [r.chunk_id for r in _chunk_rows(engine, "m")] == ["m_0", "m_1"]

    res = engine.add_memory(memory_id="m", content="brand new short text", user_id="alice")
    assert not res.reused
    rows = _chunk_rows(engine, "m")
    assert [(r.chunk_id, r.total_chunks, r.chunk_content) for r in rows] == \
        [("m_0", 1, "brand new short text")]
    assert engine.memories.filter(F.col("memory_id") == "m").count() == 1
    assert engine.nodes.filter(F.col("node_id") == "m").count() == 1
    # a full scan on the old second chunk's text scores only the new chunk
    # (a stale m_1 would match it exactly)
    hits = engine.search(_words("old", 2100).split(" ", 2048)[-1],
                         ctx=AclContext(user_id="alice"), score_threshold=0.0).collect()
    assert {h.memory_id: h.score for h in hits}.get("m", 0.0) < 0.5


def test_readd_tombstones_its_index_rows(engine, tmp_path):
    """A re-added memory's index rows are stale: ANN serving skips them and
    append_to_search_index refuses the id until a rebuild.  A batch of new
    ids leaves the tombstone set untouched."""
    engine.build_search_index(str(tmp_path / "ivf_readd"), n_centroids=2)
    ctx = AclContext(user_id="alice")
    engine.add_memory(memory_id="m8", content="completely unrelated fresh words",
                      user_id="alice")
    assert engine._ann_tombstones is None

    engine.add_memory(memory_id="m1", content="kafka moves event streams",
                      user_id="alice", user_read_access=["alice"])
    ann = {r.memory_id for r in
           engine.search("spark is a distributed engine", ctx=ctx,
                         score_threshold=0.0, ann_nprobe=2).collect()}
    assert "m1" not in ann
    with pytest.raises(ValueError, match="stale"):
        engine.append_to_search_index(["m1"])
    # the rebuild serves the new content
    engine.build_search_index(str(tmp_path / "ivf_readd2"), n_centroids=2)
    hits = engine.search("kafka moves event streams", ctx=ctx,
                         score_threshold=0.0, ann_nprobe=2).collect()
    assert hits[0].memory_id == "m1"


def test_write_path_hostile_inputs(spark):
    """Empty and whitespace-only content store one empty chunk; 2048 tokens
    are one chunk and 2049 are two; every memory gets one row and one node."""
    engine = MemoryEngine(spark, dim=32)
    items = {"e0": "", "e1": "   ", "t2048": _words("a", 2048),
             "t2049": _words("b", 2049)}
    res = engine.add_memory_batch([
        {"memory_id": k, "content": v, "user_id": "alice"} for k, v in items.items()])
    assert [r.reused for r in res] == [False] * 4
    assert {r.memory_id: r.content for r in engine.memories.collect()} == items
    assert sorted(r.node_id for r in engine.nodes.collect()) == sorted(items)
    chunks = {k: [(r.chunk_index, r.total_chunks, r.chunk_content)
                  for r in _chunk_rows(engine, k)] for k in items}
    assert chunks["e0"] == [(0, 1, "")]
    assert chunks["e1"] == [(0, 1, "")]
    assert chunks["t2048"] == [(0, 1, items["t2048"])]
    assert chunks["t2049"] == [(0, 2, _words("b", 2048)), (1, 2, "b2048")]


def test_batch_of_only_reused_items_writes_nothing(engine):
    """Every item near-duplicates a stored memory: the deltas are empty and
    each result names the memory it reuses."""
    before = [engine.memories.count(), engine.chunks.count(), engine.nodes.count()]
    res = engine.add_memory_batch([
        {"memory_id": "d1", "content": "spark is a distributed engine", "user_id": "dave"},
        {"memory_id": "d2", "content": "neo4j stores property graphs", "user_id": "dave"},
    ])
    assert [(r.memory_id, r.reused, r.reused_from) for r in res] == \
        [("d1", True, "m1"), ("d2", True, "m3")]
    assert [engine.memories.count(), engine.chunks.count(), engine.nodes.count()] == before


def test_one_near_duplicate_chunk_reuses_the_whole_memory(engine):
    """A 2-chunk memory whose second chunk near-duplicates a stored chunk is
    reused as a whole: none of its chunks, no memory row and no node."""
    res = engine.add_memory(
        memory_id="two", user_id="dave",
        content=_words("filler", 2048) + " qdrant stores dense vectors")
    assert res.reused and res.reused_from == "m2"
    assert engine.get_memory("two") is None
    assert engine.chunks.filter(F.col("memory_id") == "two").count() == 0
    assert engine.nodes.filter(F.col("node_id") == "two").count() == 0


def test_first_add_job_count(spark):
    """A first add into an empty store derives every delta from one chunked
    frame (no join from chunk rows back to memory rows) and observes its
    chunk count inside the embed job, so the add runs at most 20 Spark jobs
    on the test session (local[4], 4 shuffle partitions).  The
    chunk-rows-join-back form ran 24-26."""
    engine = MemoryEngine(spark, dim=32)
    items = [
        {"memory_id": "m1", "content": "spark is a distributed engine",
         "user_id": "alice", "user_read_access": ["alice", "bob"]},
        {"memory_id": "m2", "content": "qdrant stores dense vectors",
         "user_id": "alice", "user_read_access": ["alice"]},
        {"memory_id": "m3", "content": "neo4j stores property graphs",
         "user_id": "carol", "user_read_access": ["carol"]},
    ]
    res, jobs = _jobs_in(spark, "first-add", lambda: engine.add_memory_batch(items))
    assert [r.reused for r in res] == [False] * 3
    assert jobs <= 20, f"a first add ran {jobs} jobs"
