"""Spans around the engine's public layer functions, from outside the package.

``Tracer.install`` replaces each listed function with a wrapper that records a
span (name, start, end, parent span) and, while the span is open, tags every
Spark job the thread starts with ``pb-<span id>``.  Job tags nest: a job
carries the tags of every enclosing span, so per-span job figures are
inclusive of child spans.  Closing a span removes only its own tag, which
restores the caller's tags.  ``job_stats`` reads jobs, tasks, input, shuffle
and spill bytes and executor run time per tag from Spark's status store,
which stays readable with the UI disabled.

While ``active`` is False the wrappers call straight through, so one process
can interleave traced and untraced rounds and measure the tracing overhead
on the same state.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

#: (module path, owner attribute or None, function name, span name).  Where
#: a caller imported a function by name, the caller's module binding is
#: wrapped too, under the same span name.
TARGETS = [
    ("memory_opensource_spark.api", "MemoryEngine", "add_memory_batch", "api.add_memory_batch"),
    ("memory_opensource_spark.api", "MemoryEngine", "append_to_search_index", "api.append_to_search_index"),
    ("memory_opensource_spark.api", "MemoryEngine", "build_search_index", "api.build_search_index"),
    ("memory_opensource_spark.api", "MemoryEngine", "record_feedback", "api.record_feedback"),
    ("memory_opensource_spark.api", None, "search_plan", "plans.search.search"),
    ("memory_opensource_spark.api", None, "ingest_dedup_reuse", "operators.dedup.ingest_dedup_reuse"),
    ("memory_opensource_spark.plans.ingest", None, "chunk_text", "plans.ingest.chunk_text"),
    ("memory_opensource_spark.plans.ingest", None, "hash_embed_arrow", "plans.ingest.hash_embed_arrow"),
    ("memory_opensource_spark.plans.search", None, "topk_search", "operators.similarity.topk_search"),
    ("memory_opensource_spark.plans.search", None, "compile_filter", "operators.predicate.compile_filter"),
    ("memory_opensource_spark.sources.ann_index", None, "train_centroids", "sources.ann_index.train_centroids"),
    ("memory_opensource_spark.sources.ann_index", None, "build_ivf_index", "sources.ann_index.build_ivf_index"),
    ("memory_opensource_spark.sources.ann_index", None, "append_to_index", "sources.ann_index.append_to_index"),
    ("memory_opensource_spark.sources.ann_index", None, "probe_buckets", "sources.ann_index.probe_buckets"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "localCheckpoint", "spark.localCheckpoint"),
]


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.active = False
        self.phase = "setup"
        self._stack: list[int] = []
        self._next = 0
        self._sc = None
        self._patched: list[tuple[object, str, object]] = []

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        sid = self._next
        self._next += 1
        rec = {"id": sid, "name": name, "phase": self.phase,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        tag = f"pb-{sid}"
        if self._sc is not None:
            self._sc.addJobTag(tag)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                self._sc.removeJobTag(tag)
            self.spans.append(rec)

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        import importlib

        for mod_name, owner_name, attr, span_name in TARGETS:
            mod = importlib.import_module(mod_name)
            owner = getattr(mod, owner_name) if owner_name else mod
            fn = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            self._patched.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, span_name))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # ---- Spark status store -------------------------------------------------

    def job_stats(self) -> dict[int, dict]:
        """span id -> summed job figures over every job tagged with that span
        (or one of its descendants)."""
        if self._sc is None:
            return {}
        jvm = self._sc._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        store = self._sc._jsc.sc().statusStore()
        jobs = []
        for j in conv.asJava(store.jobsList(None)):
            tags = [t for t in conv.asJava(j.jobTags()) if t.startswith("pb-")]
            if tags:
                jobs.append((j.jobId(), tags, list(conv.asJava(j.stageIds())),
                             j.numCompletedTasks()))
        # a stage listed by several jobs ran in the first of them only (the
        # later jobs skip it): attribute its bytes to that job alone
        owner: dict[int, int] = {}
        for jid, _, stage_ids, _ in sorted(jobs):
            for s in stage_ids:
                owner.setdefault(s, jid)
        stage_fig: dict[int, dict] = {}
        for s, jid in owner.items():
            try:
                sd = store.lastStageAttempt(s)
            except Exception:  # noqa: BLE001 - never-run (skipped) stage
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            stage_fig[s] = {
                "input_bytes": sd.inputBytes(),
                "shuffle_read_bytes": sd.shuffleReadBytes(),
                "shuffle_write_bytes": sd.shuffleWriteBytes(),
                "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                "executor_run_ms": sd.executorRunTime(),
                "stages": 1,
            }
        out: dict[int, dict] = {}
        for jid, tags, stage_ids, n_tasks in jobs:
            figs = {"jobs": 1, "tasks": n_tasks}
            for s in stage_ids:
                if owner.get(s) == jid and s in stage_fig:
                    for k, v in stage_fig[s].items():
                        figs[k] = figs.get(k, 0) + v
            for t in tags:
                acc = out.setdefault(int(t[3:]), {})
                for k, v in figs.items():
                    acc[k] = acc.get(k, 0) + v
        return out
