"""Output checks, computed apart from the program and run after the timed phase.

Vectors are recomputed here from the texts with the engine's documented
default embedder (md5-bucket token counts, L2-normalized) in NumPy, and the
search result is recomputed from the stored chunk table with the read path's
documented semantics: the ACL OR-block of the ``search_flagship`` oracle,
cosine scoring, the 0.15 score cut, a 3 x top_k chunk overfetch ordered by
score desc / chunk id asc, the best chunk per memory, and score desc /
memory id asc order.  Each check returns a list of failure strings; an empty
list means the outputs are correct.
"""

from __future__ import annotations

import hashlib

import numpy as np

DIM = 64
SCORE_CUT = 0.15
OVERFETCH = 3
REUSE_COSINE = 0.97
TOL = 1e-9


def embed(text: str, dim: int = DIM) -> np.ndarray:
    v = np.zeros(dim)
    for tok in (text or "").lower().split(" "):
        if tok:
            v[int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % dim] += 1.0
    n = np.sqrt((v * v).sum())
    return v / n if n else v


def centroids(index_path: str) -> list[int]:
    """Centroid ids of an IVF index, read from its sidecar file."""
    import pyarrow.parquet as pq

    return pq.read_table(index_path.rstrip("/") + ".centroids").column("cid").to_pylist()


def acl_visible(row: dict, q) -> bool:
    """The memory path's ACL OR-block for a caller without a namespace."""
    return bool(
        row["user_id"] == q.user_id
        or q.user_id in (row["user_read_access"] or [])
        or (q.workspace_ids and len(q.workspace_ids) <= 10
            and set(q.workspace_ids) & set(row["workspace_read_access"] or []))
        or (q.role_ids and len(q.role_ids) <= 10
            and set(q.role_ids) & set(row["role_read_access"] or []))
        or (q.organization_id
            and q.organization_id in (row["organization_read_access"] or [])))


class ChunkTable:
    """The stored chunk table, collected once, as NumPy arrays."""

    COLS = ["chunk_id", "memory_id", "chunk_content", "embedding", "user_id",
            "user_read_access", "workspace_read_access", "role_read_access",
            "organization_read_access"]

    def __init__(self, rows: list[dict]):
        self.rows = sorted(rows, key=lambda r: r["chunk_id"])
        self.ids = [r["chunk_id"] for r in self.rows]
        self.mem = [r["memory_id"] for r in self.rows]
        self.vecs = np.array([r["embedding"] for r in self.rows], dtype=float)
        self.norms = np.sqrt((self.vecs * self.vecs).sum(axis=1))

    def cosine(self, qv: np.ndarray) -> np.ndarray:
        qn = np.sqrt((qv * qv).sum())
        with np.errstate(invalid="ignore", divide="ignore"):
            return (self.vecs @ qv) / (self.norms * qn)

    def search(self, q, top_k: int, memory_ids: set[str]) -> tuple[dict, dict]:
        """The visible memories a correct top-k may hold, as two maps of
        memory id -> best chunk cosine: ``must`` from the chunks certainly
        inside the 3 x top_k overfetch, ``may`` from the chunks that tie with
        its last place within TOL (equal texts score equally, and the last
        bits of a tie are not specified)."""
        scores = self.cosine(embed(q.text))
        vis = sorted(((scores[i], i) for i in range(len(self.ids))
                      if self.mem[i] in memory_ids and scores[i] >= SCORE_CUT
                      and acl_visible(self.rows[i], q)),
                     reverse=True)
        n = OVERFETCH * top_k
        last = vis[n - 1][0] if len(vis) >= n else -1.0
        must, may = {}, {}
        for s, i in vis:
            m = self.mem[i]
            if s < last - TOL:
                continue
            may[m] = max(may.get(m, -1.0), s)
            if s > last + TOL:
                must[m] = max(must.get(m, -1.0), s)
        return must, may


def valid_topk(got: list[tuple[str, float]], must: dict, may: dict,
               top_k: int) -> str | None:
    """``got`` is a correct top-k: exact scores, score-desc order, and every
    memory that outranks its last row present, up to ties within TOL."""
    if len(got) > top_k:
        return f"{len(got)} rows > top_k {top_k}"
    for i, (m, s) in enumerate(got):
        if m not in may or abs(may[m] - s) > TOL:
            return f"row {i}: ({m}, {s:.12f}) is not a visible candidate with that score"
        if i and s > got[i - 1][1] + TOL:
            return f"row {i}: scores out of order"
    floor = got[-1][1] if got else -1.0
    if len(got) < top_k:
        floor = -1.0
        if len(got) < min(top_k, len(must)):
            return f"{len(got)} rows, at least {min(top_k, len(must))} expected"
    ids = {m for m, _ in got}
    for m, s in must.items():
        if s > floor + TOL and m not in ids:
            return f"{m} (score {s:.12f}) is missing"
    return None


def same_ranking(got: list[tuple[str, float]], want: list[tuple[str, float]]) -> str | None:
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for i, ((gm, gs), (wm, ws)) in enumerate(zip(got, want)):
        if gm != wm or abs(gs - ws) > TOL:
            return f"row {i}: got ({gm}, {gs:.12f}), expected ({wm}, {ws:.12f})"
    return None


def check_full_scan(table: ChunkTable, searches, top_k: int) -> list[str]:
    """``searches``: (query, hits, memory ids stored when it ran)."""
    errs = []
    for n, (q, got, stored) in enumerate(searches):
        why = valid_topk(got, *table.search(q, top_k, stored), top_k)
        if why:
            errs.append(f"full-scan search {n}: {why}")
    return errs


def check_ann_hits(table: ChunkTable, searches, top_k: int) -> list[str]:
    """At a partial nprobe: every hit stored when the search ran, ACL-visible,
    over the score cut, with its exact cosine, in score desc order, at most
    top_k."""
    by_mem = {}
    for i, m in enumerate(table.mem):
        by_mem.setdefault(m, []).append(i)
    errs = []
    for n, (q, got, stored) in enumerate(searches):
        scores = table.cosine(embed(q.text))
        if len(got) > top_k:
            errs.append(f"ann search {n}: {len(got)} rows > top_k {top_k}")
        if any(b[1] > a[1] + TOL for a, b in zip(got, got[1:])):
            errs.append(f"ann search {n}: rows out of order")
        for m, s in got:
            idx = by_mem.get(m)
            if not idx or m not in stored:
                errs.append(f"ann search {n}: {m} was not stored")
                continue
            if not any(abs(scores[i] - s) <= TOL for i in idx):
                errs.append(f"ann search {n}: {m} score {s} is not its cosine")
            if s < SCORE_CUT - TOL or not acl_visible(table.rows[idx[0]], q):
                errs.append(f"ann search {n}: {m} is not visible to the caller")
    return errs


def check_embeddings(table: ChunkTable) -> list[str]:
    errs = []
    for r, v in zip(table.rows, table.vecs):
        if np.abs(embed(r["chunk_content"]) - v).max() > TOL:
            errs.append(f"chunk {r['chunk_id']}: stored vector differs from its text")
            break
    return errs


class ReuseOracle:
    """Near-duplicate verdicts: a new memory is reused iff its best cosine
    against the store as it was before its batch exceeds 0.97."""

    def __init__(self, stored: list[dict]):
        self.ids = [it["memory_id"] for it in stored]
        self.vecs = np.array([embed(it["content"]) for it in stored])

    def batch(self, items: list[dict]) -> dict[str, str | None]:
        out = {}
        fresh = []
        for it in items:
            v = embed(it["content"])
            sims = self.vecs @ v
            j = int(np.argmax(sims))
            out[it["memory_id"]] = self.ids[j] if sims[j] > REUSE_COSINE else None
            if out[it["memory_id"]] is None:
                fresh.append((it["memory_id"], v))
        if fresh:
            self.ids.extend(m for m, _ in fresh)
            self.vecs = np.vstack([self.vecs] + [v[None, :] for _, v in fresh])
        return out


def check_reuse(batches, results, oracle: ReuseOracle) -> list[str]:
    """``batches``: [(item, planted original or None)] per batch; ``results``:
    the program's AddResult lists, in the same order."""
    errs = []
    for b, (batch, res) in enumerate(zip(batches, results)):
        want = oracle.batch([it for it, _ in batch])
        got = {r.memory_id: (r.reused_from if r.reused else None) for r in res}
        for (it, orig) in batch:
            mid = it["memory_id"]
            if (got.get(mid) is None) != (want[mid] is None):
                errs.append(f"batch {b}: {mid} reused={got.get(mid) is not None}, "
                            f"expected {want[mid] is not None}")
            elif orig is not None and got.get(mid) != orig:
                errs.append(f"batch {b}: planted re-add {mid} reused from "
                            f"{got.get(mid)}, expected {orig}")
    return errs
