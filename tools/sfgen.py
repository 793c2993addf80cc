"""Deterministic scale-lane generator (r14, VERDICT item 1).

The sf0.1 bench is driver-floor-bound (r13 finding: 8-core total beats
32-core, every scaling ratio ~1), so execution-side work needs a larger
input.  This upsamples a driver fixture directory K-fold into
``.scratch/sf<X>`` with referential integrity preserved per replica:

- key columns shift by ``r * base`` where ``base = max(key)+1`` of the
  SOURCE table, shared across every referencing table (o_custkey shifts
  by the customer base, l_orderkey by the orders base, ...);
- ``vec_id`` shifts by the DOCUMENTS base so the chunk->memory id
  alignment (chunk m{vec_id} -> memory m{doc_id}) lands inside the same
  replica;
- document ``text`` gets a per-replica Caesar rotation of the letters:
  intra-replica duplicate/near-duplicate structure is byte-identical,
  cross-replica shingle overlap is destroyed, so the corpus-internal
  dup RATE stays sf0.1's instead of inflating K-fold;
- embeddings get a per-replica ORTHOGONAL transform (circular roll +
  replica-seeded sign flips): within-replica cosine geometry is exactly
  preserved, cross-replica similarity is decorrelated.  (Roll alone is
  not enough: the fixture vectors are shift-structured, so v ~= roll(v)
  and near-dup pair counts scaled K^2 instead of K — measured);
- events shift ``user_id`` by the user base so per-user session length
  stays constant and key cardinality grows with scale (the realistic
  shape for a stream table);
- region/nation stay fixed (TPC-H semantics: dimension tables do not
  grow with sf).

Each replica is written as its own file under ``<name>.parquet/`` so the
scan has K splits.  Schemas are byte-compatible with the fixtures (same
arrow schema object).  Only replica-seeded PRNG — byte-deterministic
output.

MEASUREMENT DATA ONLY: nothing here feeds the oracle gate; the lane is
selected explicitly via SPARK_GRAFT_SF_DIR.

Usage: python tools/sfgen.py [--mult K] [--src DIR] [--out DIR]
       K in 1..26 (the 26 distinct Caesar rotations)
       defaults: K=10, src=/root/testdata/sf0.1, out=.scratch/sf1
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _caesar_table(r: int):
    if r % 26 == 0:
        return None
    k = r % 26
    lo = "abcdefghijklmnopqrstuvwxyz"
    hi = lo.upper()
    return str.maketrans(lo + hi, lo[k:] + lo[:k] + hi[k:] + hi[:k])


def _shift(col: pa.ChunkedArray, delta: int) -> pa.Array:
    import pyarrow.compute as pc

    # checked: a key column that overflows its type must fail, not wrap
    # into another replica's (or a negative) key range
    return pc.add_checked(col, pa.scalar(delta, type=col.type)).combine_chunks()


def main() -> None:
    args = sys.argv[1:]
    mult, src, out = 10, "/root/testdata/sf0.1", None
    if "--mult" in args:
        i = args.index("--mult"); mult = int(args[i + 1]); del args[i:i + 2]
    if "--src" in args:
        i = args.index("--src"); src = args[i + 1]; del args[i:i + 2]
    if "--out" in args:
        i = args.index("--out"); out = args[i + 1]; del args[i:i + 2]
    if not 1 <= mult <= 26:
        # the Caesar rotation is the identity for r % 26 == 0: replica 26
        # would repeat replica 0's text byte for byte
        raise ValueError(f"--mult must be between 1 and 26, got {mult}")
    if out is None:
        src_sf = float(src.rstrip("/").rsplit("sf", 1)[-1])
        label = src_sf * mult
        label = int(label) if float(label).is_integer() else label
        out = os.path.join(REPO, ".scratch", f"sf{label}")

    tabs = {n: pq.read_table(f"{src}/{n}.parquet")
            for n in ["region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "documents",
                      "embeddings"]}

    import pyarrow.compute as pc
    base = {
        "cust": pc.max(tabs["customer"]["c_custkey"]).as_py() + 1,
        "supp": pc.max(tabs["supplier"]["s_suppkey"]).as_py() + 1,
        "part": pc.max(tabs["part"]["p_partkey"]).as_py() + 1,
        "order": pc.max(tabs["orders"]["o_orderkey"]).as_py() + 1,
        "doc": pc.max(tabs["documents"]["doc_id"]).as_py() + 1,
        "event": pc.max(tabs["events"]["event_id"]).as_py() + 1,
        "user": pc.max(tabs["events"]["user_id"]).as_py() + 1,
    }
    # (column -> base key) per table; every other column is copied as-is
    shifts = {
        "customer": {"c_custkey": "cust"},
        "supplier": {"s_suppkey": "supp"},
        "part": {"p_partkey": "part"},
        "orders": {"o_orderkey": "order", "o_custkey": "cust"},
        "lineitem": {"l_orderkey": "order", "l_partkey": "part",
                     "l_suppkey": "supp"},
        "events": {"event_id": "event", "user_id": "user"},
        "documents": {"doc_id": "doc"},
        # doc base, NOT the vec max: keeps chunk->memory ids co-replicated
        "embeddings": {"vec_id": "doc"},
    }

    os.makedirs(os.path.join(REPO, ".scratch"), exist_ok=True)
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)

    # fixed dimension tables: copy the file byte-for-byte
    for name in ("region", "nation"):
        shutil.copyfile(f"{src}/{name}.parquet",
                        os.path.join(out, f"{name}.parquet"))
        print(f"{name}: copied (dimension table)")

    emb_src = tabs["embeddings"]
    dim = len(emb_src["embedding"][0])
    emb_np = np.asarray(
        emb_src["embedding"].combine_chunks().flatten().to_numpy()
    ).reshape(len(emb_src), dim)

    for name, tab in tabs.items():
        if name in ("region", "nation"):
            continue
        dest = os.path.join(out, f"{name}.parquet")
        os.makedirs(dest)
        for r in range(mult):
            cols = []
            for field in tab.schema.names:
                col = tab[field]
                key = shifts.get(name, {}).get(field)
                if key is not None:
                    cols.append(_shift(col, r * base[key]))
                elif name == "documents" and field == "text" and r % 26:
                    tbl = _caesar_table(r)
                    cols.append(pa.array(
                        [s.translate(tbl) if s is not None else None
                         for s in col.to_pylist()], type=col.type))
                elif name == "embeddings" and field == "embedding" and r:
                    signs = np.where(
                        np.random.default_rng(10_000 + r)
                        .random(dim) < 0.5, -1.0, 1.0).astype(np.float32)
                    rolled = np.roll(emb_np, r % dim, axis=1) * signs
                    cols.append(pa.array(
                        [row for row in rolled.astype(np.float32)],
                        type=col.type))
                else:
                    cols.append(col.combine_chunks())
            rep = pa.Table.from_arrays(cols, schema=tab.schema)
            pq.write_table(rep, os.path.join(dest, f"part-{r:03d}.parquet"),
                           compression="snappy")
        print(f"{name}: {len(tab)} rows x {mult} replicas -> {dest}")

    print(f"done: {out}")


if __name__ == "__main__":
    main()
