"""The two seeded, single-client, closed-loop workloads.

Both add a base store in one ``MemoryEngine.add_memory_batch``, attach a
16-centroid IVF index with ``build_search_index`` and run untimed warm-up
searches before the first timed operation.  The timed phase is a fixed
number of rounds, so a seed fixes every operation and every state size:

- ``agent_search``: a round is one ACL-filtered full-scan ``search`` and one
  IVF-served ``search(ann_nprobe=...)``, each collected.  Nothing is written.
- ``agent_ingest``: a round is one ``add_memory_batch`` (a seeded share of
  the items re-add stored content under new ids), ``append_to_search_index``
  for the memories it stored, one full-scan ``search`` and one IVF-served
  search over the grown store and index.  Its warm-up is one
  ``search(log_query=True)``, which bumps cache counters through
  ``record_feedback``, and one IVF-served search.
"""

from __future__ import annotations

import os
import statistics
import time

from . import checks
from .inputs import Generator

TOP_K = 20
NPROBE = 4
N_QUERIES = 64
#: fixed, so the index layout does not follow the engine's sizing rule
N_CENTROIDS = 16

#: ``warmup``: the untimed searches after set-up.  The first search of each
#: kind runs up to half again as slow as later ones (first use of the code
#: path, JIT), the second up to a sixth, which the median absorbs; later
#: ones are level.  A logged
#: search costs 4-6 s (it runs the search plan twice), so ``agent_ingest``
#: makes one, in its warm-up, where it also warms the full-scan path.
#: ``round_s``: seconds a round takes on a 4-core machine, which sets the
#: fixed round count of a run.
WORKLOADS = {
    "agent_search": {"store": 300, "warmup": ["search", "ann"], "round_s": 1.8},
    "agent_ingest": {"store": 200, "warmup": ["logged", "ann"], "round_s": 10.0,
                     "batch": 48, "readd_share": 0.25},
}


def rounds_for(name: str, seconds: int) -> int:
    """Fixed round count for a run of ``seconds``: the phase lasts about that
    long on a 4-core machine, and the count never depends on machine speed."""
    return max(2, round(seconds / WORKLOADS[name]["round_s"]))


def dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total / 1e6


class Run:
    """State shared by the set-up, the timed phase and the checks."""

    def __init__(self, name: str, seed: int, rounds: int, tracer):
        self.name, self.rounds = name, rounds
        self.p = WORKLOADS[name]
        self.tracer = tracer
        self.ops: list[dict] = []
        self.round_ms: list[tuple[bool, float]] = []
        self.failed = 0
        self.errors: list[str] = []
        self.setup_phases: dict[str, float] = {}
        # every search result, with the memory ids stored when it ran
        self.full: list[tuple] = []
        self.ann: list[tuple] = []
        self.add_results: list = []
        self.logged_hits: dict[str, int] = {}

        gen = Generator(seed)
        self.store = gen.memories(self.p["store"])
        self.queries = gen.queries(N_QUERIES)
        self._next_q = 0
        self.batches = (gen.ingest_batches(self.store, rounds,
                                           self.p["batch"], self.p["readd_share"])
                        if name == "agent_ingest" else [])
        self.stored = {it["memory_id"] for it in self.store}

    # ---- set-up -------------------------------------------------------------

    def setup(self, spark, index_dir: str) -> None:
        from memory_opensource_spark.api import MemoryEngine

        self.engine = eng = MemoryEngine(spark)
        self.index = os.path.join(index_dir, "ivf")
        t = time.perf_counter()
        eng.add_memory_batch(self.store)
        self.setup_phases["store_s"] = time.perf_counter() - t
        t = time.perf_counter()
        eng.build_search_index(self.index, n_centroids=N_CENTROIDS)
        self.setup_phases["index_s"] = time.perf_counter() - t
        t = time.perf_counter()
        for kind in self.p["warmup"]:
            self._search(kind, timed=False)
        self.setup_phases["warmup_s"] = time.perf_counter() - t

    # ---- operations ---------------------------------------------------------

    @staticmethod
    def _ctx(q):
        from memory_opensource_spark.operators.predicate import AclContext

        return AclContext(user_id=q.user_id, workspace_ids=list(q.workspace_ids),
                          role_ids=list(q.role_ids), organization_id=q.organization_id)

    def _op(self, kind: str, fn, timed: bool = True):
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # noqa: BLE001 - counted, reported, run goes on
            self.failed += 1
            self.errors.append(f"{kind}: {type(e).__name__}: {e}"[:500])
            out = None
        ms = (time.perf_counter() - t0) * 1e3
        if timed:
            self.ops.append({"kind": kind, "ms": ms, "ok": out is not None,
                             "traced": self.tracer.active})
        return out

    def _query(self):
        q = self.queries[self._next_q % len(self.queries)]
        self._next_q += 1
        return q

    def _search(self, kind: str, timed: bool = True):
        """kind: ``search`` (full scan), ``ann`` (IVF-served) or ``logged``
        (full scan with log_query=True).  Keeps [(memory_id, score)] with the
        query and the memory ids stored at the time, for the checks."""
        eng, tr, q = self.engine, self.tracer, self._query()
        kw = {"ctx": self._ctx(q), "top_k": TOP_K}
        if kind == "ann":
            kw["ann_nprobe"] = NPROBE
        if kind == "logged":
            kw["log_query"] = True
        label = "api.search_ann" if kind == "ann" else "api.search"

        def run():
            with tr.span(label + ".op"):
                with tr.span(label + ".build"):
                    df = eng.search(q.text, **kw)
                with tr.span(label + ".exec"):
                    rows = df.collect()
            return [(r["memory_id"], float(r["score"])) for r in rows]

        hits = self._op(kind, run, timed)
        if hits is None:
            return
        (self.ann if kind == "ann" else self.full).append((q, hits, frozenset(self.stored)))
        if kind == "logged":
            for m, _ in hits:
                self.logged_hits[m] = self.logged_hits.get(m, 0) + 1

    def _round(self, r: int) -> None:
        if self.name == "agent_search":
            self._search("search")
            self._search("ann")
            return
        batch = [it for it, _ in self.batches[r]]
        res = self._op("add", lambda: self.engine.add_memory_batch(batch))
        self.add_results.append(res)
        fresh = [x.memory_id for x in res or [] if not x.reused]
        self._op("append", lambda: self.engine.append_to_search_index(fresh))
        self.stored.update(fresh)
        self._search("search")
        self._search("ann")

    # ---- timed phase --------------------------------------------------------

    def timed(self, trace_every: int = 0) -> None:
        """``trace_every`` = 2 traces every other round (the traced run);
        0 traces nothing."""
        self.tracer.phase = "timed"
        for r in range(self.rounds):
            self.tracer.active = bool(trace_every) and r % trace_every == 1
            t0 = time.perf_counter()
            self._round(r)
            self.round_ms.append((self.tracer.active, (time.perf_counter() - t0) * 1e3))
        self.tracer.active = False
        self.tracer.phase = "after"

    # ---- after the timed phase ----------------------------------------------

    def index_mb(self) -> float:
        return dir_mb(self.index) + dir_mb(self.index + ".centroids")

    def check(self) -> list[str]:
        eng = self.engine
        table = checks.ChunkTable([r.asDict() for r in
                                   eng.chunks.select(*checks.ChunkTable.COLS).collect()])
        mem = {r.memory_id: r.asDict() for r in eng.memories.select(
            "memory_id", "content", "cache_hit_total").collect()}
        errs = checks.check_embeddings(table)
        errs += checks.check_full_scan(table, self.full, TOP_K)
        errs += checks.check_ann_hits(table, self.ann, TOP_K)
        n_index = eng.spark.read.parquet(self.index).count()
        if n_index != len(table.ids):
            errs.append(f"index holds {n_index} rows, chunk table {len(table.ids)}")
        if self.name == "agent_search":
            # probing every bucket must give exactly the full scan (on
            # agent_ingest this search would add 1.5-2 s to every run)
            n_cent = len(checks.centroids(self.index))
            q, got, _ = self.full[0]
            df = eng.search(q.text, ctx=self._ctx(q), top_k=TOP_K, ann_nprobe=n_cent)
            why = checks.same_ranking(
                [(r["memory_id"], float(r["score"])) for r in df.collect()], got)
            if why:
                errs.append(f"IVF at nprobe={n_cent} differs from the full scan: {why}")
        oracle = checks.ReuseOracle(self.store)
        errs += checks.check_reuse(self.batches, self.add_results, oracle)
        want = {it["memory_id"]: it["content"] for it in self.store}
        for batch, res in zip(self.batches, self.add_results):
            reused = {x.memory_id for x in res or [] if x.reused}
            want.update((it["memory_id"], it["content"]) for it, _ in batch
                        if it["memory_id"] not in reused)
        got_mem = {m: r["content"] for m, r in mem.items()}
        if got_mem != want:
            errs.append(f"memories table: {len(set(got_mem) ^ set(want))} ids differ "
                        f"from the non-reused inputs, or contents differ")
        for m, r in mem.items():
            if r["cache_hit_total"] != self.logged_hits.get(m, 0):
                errs.append(f"{m}: cache_hit_total {r['cache_hit_total']}, "
                            f"{self.logged_hits.get(m, 0)} logged searches returned it")
                break
        return errs

    # ---- metrics ------------------------------------------------------------

    def e2e(self) -> dict:
        def p50(kind):
            v = [o["ms"] for o in self.ops if o["kind"] == kind and o["ok"]]
            return statistics.median(v) if v else None

        return {"search_p50_ms": p50("search"), "ann_p50_ms": p50("ann"),
                "round_p50_ms": statistics.median(ms for _, ms in self.round_ms)}
