"""Seeded benchmark inputs, derived from the read-only generated fixtures.

Every table keeps its exact physical schema. The seed sets each table's row
order and its row-group split. Each table stays one file named
`<table>.parquet`, because the library's file-stream sources and the oracle
read that file by name.

With `copies > 1` the input is a K-fold inflation that follows the rules
of the library's `DevScaleFixture`: every key column of copy i is shifted
by that copy's offset, so joins and distinct counts grow linearly; every
token of a copy's document text gets that copy's prefix, so near-duplicate
pairs never cross copies; `n_chars` is recomputed; region and nation are
not inflated. The seed sets each copy's offset and prefix.
"""
import os
import random

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Key columns shifted per copy (all int64), as in DevScaleFixture.
KEYS = {
    "documents": ["doc_id"], "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "customer": ["c_custkey"], "part": ["p_partkey"], "supplier": ["s_suppkey"],
}
OFFSET_STEP = 100_000_000  # far above any source key


def _copy_params(rng, copies):
    """Per-copy key offset and token prefix; copy 0 is the source itself."""
    params = [(0, "")]
    used = set()
    for i in range(1, copies):
        while True:
            prefix = "k" + "".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                                   for _ in range(3))
            if prefix not in used:
                used.add(prefix)
                break
        params.append((i * OFFSET_STEP + rng.randrange(1, 1000) * 1000, prefix))
    return params


def _inflate(name, table, params):
    parts = []
    for offset, prefix in params:
        t = table
        for c in KEYS.get(name, []):
            i = t.schema.get_field_index(c)
            t = t.set_column(i, t.schema.field(i),
                             pc.add(t.column(c), pa.scalar(offset, t.schema.field(i).type)))
        if name == "documents" and prefix:
            text = [None if s is None else " ".join(prefix + w for w in s.split(" "))
                    for s in t.column("text").to_pylist()]
            i = t.schema.get_field_index("text")
            t = t.set_column(i, t.schema.field(i), pa.array(text, t.schema.field(i).type))
            i = t.schema.get_field_index("n_chars")
            t = t.set_column(i, t.schema.field(i), pa.array(
                [None if s is None else len(s) for s in text], t.schema.field(i).type))
        parts.append(t)
    return pa.concat_tables(parts)


def generate(src, out, seed, copies=1):
    """Writes every table of fixture dir `src` to `out`; returns row counts."""
    rng = random.Random(seed)
    params = _copy_params(rng, copies)
    os.makedirs(out, exist_ok=True)
    rows = {}
    for name in TABLES:
        path = os.path.join(src, f"{name}.parquet")
        table = pq.read_table(path)
        if copies > 1 and name in KEYS:
            table = _inflate(name, table, params)
        order = list(range(table.num_rows))
        rng.shuffle(order)
        table = table.take(pa.array(order, pa.int64()))
        groups = rng.randint(1, 4)
        pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                       row_group_size=max(1, -(-table.num_rows // groups)),
                       version="2.6", compression="snappy")
        rows[name] = table.num_rows
    return rows

