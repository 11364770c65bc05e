"""Seeded input generator.

Copies the base tables (``base/``, a TPC-H-shaped star schema plus events,
documents and embeddings) into a work directory, with every table's rows
in a seed-permuted order. Tables with at least ``SPLIT_MIN_ROWS`` rows are
written as a directory of ``parts`` parquet files, one row group each, so
their scans can use every core; the rest stay one file. The base files are
only read.

For ``load_commit`` it also writes the seed's loader batches:
one lineitem upsert batch (updates, inserts and soft deletes) and the
document batches folded into the near-duplicate index. Each document
batch holds the next unindexed documents plus near-duplicate re-crawls
of a small pool of documents, so batches pair with the index, with each
other and within themselves.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "base")
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
SPLIT_MIN_ROWS = 400

# load_commit: lineitem batches and document batches per pass
LINE_BATCH_ROWS = 600
DOC_BASE = 440          # documents indexed by NearDupIndex.build
DOC_BATCHES = 2         # the remaining documents, in this many batches
DOC_RECRAWLS = 10       # near-duplicate re-crawls added to each batch
DOC_POOL = 12           # indexed documents the re-crawls copy
RECRAWL_MIN_TOKENS = 20
# A batch stays within 10% of the indexed count (NearDupIndex.query's
# default maxBatchFraction), so every query takes the index's small-batch
# route: (500 - 440) / 2 + 10 = 40 <= 44.


def _write(table, path, parts):
    if parts <= 1:
        pq.write_table(table, path, row_group_size=max(1, table.num_rows))
        return 1
    os.makedirs(path)
    bounds = np.linspace(0, table.num_rows, parts + 1).astype(int)
    for i in range(parts):
        piece = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(piece, os.path.join(path, f"part-{i:05d}.parquet"),
                       row_group_size=max(1, piece.num_rows))
    return parts


def generate(out_dir, seed, parts):
    """Write the seed's inputs under ``out_dir``; return their manifest."""
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    data = os.path.join(out_dir, "data")
    os.makedirs(data)
    rng = np.random.default_rng(seed)
    layout = {}
    tables = {}
    for name in TABLES:
        t = pq.read_table(os.path.join(BASE, f"{name}.parquet"))
        t = t.replace_schema_metadata(None)
        order = rng.permutation(t.num_rows)
        t = t.take(pa.array(order))
        tables[name] = (t, order)
        n = parts if t.num_rows >= SPLIT_MIN_ROWS else 1
        groups = _write(t, os.path.join(data, f"{name}.parquet"), n)
        layout[name] = {"rows": t.num_rows, "row_groups": groups}
    loads = _loader_batches(out_dir, tables, rng, parts)
    manifest = {"seed": seed, "tables": layout, "load": loads}
    with open(os.path.join(out_dir, "inputs.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def _loader_batches(out_dir, tables, rng, parts):
    """The lineitem upsert batch and the document batches for ``load_commit``."""
    load = os.path.join(out_dir, "load")
    os.makedirs(load)
    # (l_orderkey, l_linenumber) is not unique in the base rows, so a
    # row's key is its position in the base table
    li, order = tables["lineitem"]
    key = pa.array(order.astype(np.int64))
    base = pa.table({
        "lkey": key,
        "bucket": pc.cast(pc.bit_wise_and(li["l_orderkey"], 7), pa.string()),
        "l_orderkey": li["l_orderkey"],
        "l_linenumber": li["l_linenumber"],
        "l_quantity": li["l_quantity"],
        "l_extendedprice": li["l_extendedprice"],
        "l_returnflag": li["l_returnflag"],
        "ver": pa.array(np.zeros(li.num_rows, dtype=np.int64)),
        "deleted": pa.array(np.zeros(li.num_rows, dtype=bool)),
    })
    _write(base, os.path.join(load, "line_base.parquet"), parts)
    # half updates of existing keys, a quarter soft deletes, a quarter
    # inserts of new keys
    n_upd = LINE_BATCH_ROWS // 2
    n_del = LINE_BATCH_ROWS // 4
    n_ins = LINE_BATCH_ROWS - n_upd - n_del
    pick = rng.choice(base.num_rows, n_upd + n_del, replace=False)
    old = base.take(pa.array(pick))
    qty = rng.integers(1, 51, n_upd + n_del).astype(np.float64)
    new_keys = li.num_rows + np.arange(n_ins)
    new_ok = rng.integers(1, 1 << 30, n_ins)
    batch = pa.table({
        "lkey": pa.concat_arrays([old["lkey"].combine_chunks(),
                                  pa.array(new_keys)]),
        "bucket": pa.array([str(int(v) & 7) for v in
                            np.concatenate([old["l_orderkey"].to_numpy(), new_ok])]),
        "l_orderkey": pa.concat_arrays([old["l_orderkey"].combine_chunks(),
                                        pa.array(new_ok)]),
        "l_linenumber": pa.concat_arrays([
            old["l_linenumber"].combine_chunks(),
            pa.array(rng.integers(1, 8, n_ins).astype(np.int32))]),
        "l_quantity": pa.array(np.concatenate(
            [qty, rng.integers(1, 51, n_ins).astype(np.float64)])),
        "l_extendedprice": pa.array(np.round(np.concatenate(
            [old["l_extendedprice"].to_numpy(),
             rng.uniform(900, 100000, n_ins)]), 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], LINE_BATCH_ROWS)),
        "ver": pa.array(np.ones(LINE_BATCH_ROWS, dtype=np.int64)),
        "deleted": pa.array(np.concatenate([
            np.zeros(n_upd, dtype=bool), np.ones(n_del, dtype=bool),
            np.zeros(n_ins, dtype=bool)])),
    })
    pq.write_table(batch, os.path.join(load, "line_batch.parquet"))
    docs = tables["documents"][0]  # already seed-permuted
    base_docs = docs.slice(0, DOC_BASE)
    pq.write_table(base_docs, os.path.join(load, "doc_base.parquet"))
    texts = base_docs["text"].to_pylist()
    vocab = sorted({w for t in texts for w in t.split(" ")})
    long_enough = [i for i, t in enumerate(texts) if len(t.split(" ")) >= RECRAWL_MIN_TOKENS]
    pool = rng.choice(long_enough, DOC_POOL, replace=False)
    rest = docs.num_rows - DOC_BASE
    bounds = np.linspace(0, rest, DOC_BATCHES + 1).astype(int)
    for b in range(DOC_BATCHES):
        fresh = docs.slice(DOC_BASE + bounds[b], bounds[b + 1] - bounds[b])
        copies = base_docs.take(pa.array(rng.choice(pool, DOC_RECRAWLS)))
        recrawled = [_recrawl(t, vocab, rng) for t in copies["text"].to_pylist()]
        copies = copies.set_column(copies.schema.get_field_index("doc_id"), "doc_id",
                                   pa.array(1_000_000 * (b + 1) + np.arange(DOC_RECRAWLS)))
        copies = copies.set_column(copies.schema.get_field_index("text"), "text",
                                   pa.array(recrawled))
        copies = copies.set_column(copies.schema.get_field_index("n_chars"), "n_chars",
                                   pa.array([len(t) for t in recrawled], pa.int64()))
        pq.write_table(pa.concat_tables([fresh, copies]),
                       os.path.join(load, f"doc_batch_{b + 1}.parquet"))
    return {"line_batch_rows": LINE_BATCH_ROWS,
            "doc_base": DOC_BASE, "doc_batches": DOC_BATCHES,
            "doc_recrawls": DOC_RECRAWLS, "doc_pool": DOC_POOL}


def _recrawl(text, vocab, rng):
    """A near-duplicate of ``text``: one word in twenty replaced."""
    words = text.split(" ")
    for i in rng.choice(len(words), max(1, len(words) // 20), replace=False):
        words[i] = vocab[rng.integers(len(vocab))]
    return " ".join(words)
