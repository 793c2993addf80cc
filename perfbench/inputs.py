"""Seeded input generator for the memory-engine benchmark.

Everything the program receives -- memory items, query texts and ACL
contexts -- is made here from the workload seed, with ``random.Random``
only, so the same seed gives byte-identical inputs on every machine.

Content is topical: each memory draws most of its tokens from one of
``N_TOPICS`` topic vocabularies and the rest from a shared vocabulary, so
search results and IVF buckets have structure instead of uniform noise.
Every text stays far below the engine's 2,048-token chunk window, so each
memory is exactly one chunk.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

N_TOPICS = 24
TOPIC_WORDS = 48
COMMON_WORDS = 400
N_USERS = 20
N_WORKSPACES = 8
N_ROLES = 4
N_ORGS = 3
CONTENT_TOKENS = (24, 48)
QUERY_TOKENS = (5, 9)
TOPIC_SHARE = 0.7

_SYLLABLES = ["ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "de", "va",
              "zu", "ge", "bo", "fi", "ha", "ju", "ly", "qu", "xe", "wo"]


@dataclass(frozen=True)
class Query:
    text: str
    user_id: str
    workspace_ids: list[str] = field(default_factory=list)
    role_ids: list[str] = field(default_factory=list)
    organization_id: str | None = None


def _word(rng: random.Random) -> str:
    return "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))


def _vocab(rng: random.Random, n: int, seen: set[str]) -> list[str]:
    out = []
    while len(out) < n:
        w = _word(rng)
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def user(i: int) -> str:
    # ten alphanumerics: the engine's user_id validator rejects ids that
    # look external (prefixes such as ``u_``, dashes, e-mail or UUID forms)
    return f"mbu{i:07d}"


def workspace(i: int) -> str:
    return f"ws{i}"


def role(i: int) -> str:
    return f"role{i}"


def org(i: int) -> str:
    return f"org{i}"


class Generator:
    """One seeded stream of memories and queries for one workload run."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        seen: set[str] = set()
        self.common = _vocab(self.rng, COMMON_WORDS, seen)
        self.topics = [_vocab(self.rng, TOPIC_WORDS, seen) for _ in range(N_TOPICS)]
        self._next_id = 0

    def _text(self, n_tokens: int) -> str:
        topic = self.topics[self.rng.randrange(N_TOPICS)]
        return " ".join(
            self.rng.choice(topic) if self.rng.random() < TOPIC_SHARE
            else self.rng.choice(self.common)
            for _ in range(n_tokens))

    def _pick(self, make, n_max: int, k_max: int) -> list[str]:
        k = self.rng.randint(0, k_max)
        return sorted({make(i) for i in self.rng.sample(range(n_max), k)})

    def memory(self, content: str | None = None) -> dict:
        """A new memory item with seeded ACL grants; ``content`` re-adds an
        earlier text under a fresh id (a planted near-duplicate)."""
        mid = f"mem{self._next_id:07d}"
        self._next_id += 1
        owner = self.rng.randrange(N_USERS)
        if content is None:
            content = self._text(self.rng.randint(*CONTENT_TOKENS))
        return {
            "memory_id": mid,
            "content": content,
            "user_id": user(owner),
            "user_read_access": self._pick(user, N_USERS, 2),
            "workspace_read_access": self._pick(workspace, N_WORKSPACES, 2),
            "role_read_access": self._pick(role, N_ROLES, 1),
            "organization_read_access": self._pick(org, N_ORGS, 1),
            "topics": [],
        }

    def memories(self, n: int) -> list[dict]:
        return [self.memory() for _ in range(n)]

    def query(self) -> Query:
        ws = self._pick(workspace, N_WORKSPACES, 2)
        return Query(
            text=self._text(self.rng.randint(*QUERY_TOKENS)),
            user_id=user(self.rng.randrange(N_USERS)),
            workspace_ids=ws,
            role_ids=self._pick(role, N_ROLES, 1),
            organization_id=(org(self.rng.randrange(N_ORGS))
                             if self.rng.random() < 0.5 else None),
        )

    def queries(self, n: int) -> list[Query]:
        return [self.query() for _ in range(n)]

    def ingest_batches(self, stored: list[dict], n_batches: int, size: int,
                       readd_share: float) -> list[list[tuple[dict, str | None]]]:
        """``n_batches`` batches of ``size`` new items.  A seeded share of
        each batch re-adds the content of a memory stored before the batch
        under a new id; each entry is ``(item, original_id_or_None)``."""
        pool = list(stored)
        batches = []
        for _ in range(n_batches):
            batch = []
            n_readd = round(size * readd_share)
            originals = self.rng.sample(pool, n_readd)
            slots = set(self.rng.sample(range(size), n_readd))
            it = iter(originals)
            for j in range(size):
                if j in slots:
                    orig = next(it)
                    batch.append((self.memory(orig["content"]), orig["memory_id"]))
                else:
                    batch.append((self.memory(), None))
            batches.append(batch)
            # only fresh items enter the store; re-adds come back reused
            pool.extend(item for item, orig in batch if orig is None)
        return batches
