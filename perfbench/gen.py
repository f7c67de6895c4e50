"""Seeded input generator: disjoint replicas of the sf0.1 fixture tables.

It follows the replication scheme of the engine's scale generator
(graft.tools.ScaleGen); the seed drives these choices:

- replica r >= 1 shifts its ids by r * 10^7 plus a seeded multiple of 10^6;
- replica r >= 1 salts every document token with a seeded prefix, so
  vocabularies, and with them all near-duplicate pairs, stay inside one
  replica; replica 0 keeps its tokens verbatim, because some queries look
  up fixed words;
- every table's rows are written in a seeded order.

Replica r >= 1 also rotates each embedding by 7 * r positions, as ScaleGen
does, which keeps norms and the geometry inside the replica. The rotation
is not seeded: a seeded one changed the cost of the ANN queries by up to 2x
from seed to seed, so timings across seeds measured the data, not the code.

`fraction` keeps a fixed, key-bucketed share of the fact rows (orders
with their line items, customers with their orders and events, documents,
embeddings) before replication, so a workload can be smaller than sf0.1.
The share does not depend on the seed: every seed gets the same rows in
other ids, words, vectors and order, so input sizes hold still across
seeds. Dimension tables are copied as they are. The source directory is
only read.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
SPAN = 10_000_000  # id span of one replica, as in ScaleGen
# table -> (key column used for the fraction, id columns shifted per replica)
FACTS = {
    "customer": ("c_custkey", ["c_custkey"]),
    "orders": ("o_custkey", ["o_orderkey", "o_custkey"]),
    "lineitem": (None, ["l_orderkey"]),
    "events": ("user_id", ["event_id", "user_id"]),
    "documents": ("doc_id", ["doc_id"]),
    "embeddings": ("vec_id", ["vec_id"]),
}


def _keep(keys, fraction):
    """Key-bucket filter: a key is kept or dropped in every table alike."""
    if fraction >= 1.0:
        return None
    h = keys.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    h ^= h >> np.uint64(29)
    return (h % np.uint64(1000)) < np.uint64(int(fraction * 1000))


def _replica(t, name, rep, offset, salt):
    cols = {c: t.column(c) for c in t.column_names}
    for c in FACTS.get(name, (None, []))[1]:
        cols[c] = pc.add(cols[c], pa.scalar(offset, cols[c].type))
    if name == "documents" and rep > 0:
        text = [" ".join(salt + w for w in s.strip().split(" ")) + " "
                for s in t.column("text").to_pylist()]
        cols["text"] = pa.array(text, pa.string())
        cols["n_chars"] = pc.utf8_length(cols["text"]).cast(pa.int64())
    if name == "embeddings" and rep > 0:
        vals = t.column("embedding").to_pylist()
        cols["embedding"] = pa.array(
            [v[7 * rep % len(v):] + v[:7 * rep % len(v)] for v in vals],
            t.schema.field("embedding").type)
    return pa.table([cols[c] for c in t.column_names], schema=t.schema)


def generate(src, dst, seed, replicas=1, fraction=1.0):
    """Writes every table under `dst` as `<table>.parquet`."""
    rng = np.random.default_rng(seed)
    offsets = [0] + [r * SPAN + int(rng.integers(0, 10)) * (SPAN // 10)
                     for r in range(1, replicas)]
    salts = [""] + ["r%d%sx" % (r, "".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), 4)))
                    for r in range(1, replicas)]
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    kept_orders = None
    for name in TABLES:
        t = pq.read_table(os.path.join(src, name + ".parquet"))
        t = t.replace_schema_metadata(None)
        if name in FACTS:
            key = FACTS[name][0]
            if name == "lineitem":  # follows the orders kept above
                if kept_orders is not None:
                    t = t.filter(pc.is_in(t.column("l_orderkey"), kept_orders))
            else:
                m = _keep(t.column(key).to_numpy(), fraction)
                if m is not None:
                    t = t.filter(pa.array(m))
                    if name == "orders":
                        kept_orders = t.column("o_orderkey")
            t = pa.concat_tables(
                [_replica(t, name, r, offsets[r], salts[r]) for r in range(replicas)])
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        pq.write_table(t, os.path.join(tmp, name + ".parquet"))
    shutil.rmtree(dst, ignore_errors=True)
    os.rename(tmp, dst)
