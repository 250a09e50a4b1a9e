"""Seeded input generators for the benchmark.

The corpus itself is not generated: ``data/sf0.01`` is a copy of the engine's
sf0.01 testdata (every table ``graft.Tables`` registers) and
``data/sf0.1/embeddings.parquet`` the sf0.1 embeddings, committed so the
benchmark reads nothing outside its checkout. ``serve_warm`` serves
``data/sf0.01`` as it is. What is generated derives from those rows:

* ``replica(dir, seed, factor)``: the ``wm_cold`` corpus, ``factor`` seeded
  perturbations of the sf0.1 embeddings (the ``ScaleCheck`` replica scheme:
  each copy nudged off the original's hyperplane signs).
* ``snapshots(root, seed, n)``: the ``refresh`` snapshots, each the previous
  one plus about 2% new vectors and documents and one more day of events.
  New rows are seeded resamples of existing ones: perturbed copies of
  vectors, re-ingested documents, and a past day of events moved to the
  next day.

Files are written once and reused: a directory with a ``_READY`` marker is
complete.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
BASE = os.path.join(DATA, "sf0.01")
REPLICA_SOURCE = os.path.join(DATA, "sf0.1", "embeddings.parquet")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
DAY_US = 86_400_000_000


def _done(d):
    return os.path.exists(os.path.join(d, "_READY"))


def _finish(d, meta):
    with open(os.path.join(d, "_READY"), "w") as f:
        json.dump(meta, f)


def _write(table, d, name):
    pq.write_table(table, os.path.join(d, f"{name}.parquet"), compression="snappy")


def _copy_tables(src, dst, skip):
    for t in TABLES:
        if t not in skip:
            shutil.copyfile(os.path.join(src, f"{t}.parquet"), os.path.join(dst, f"{t}.parquet"))


def _unit(v):
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _vectors(emb):
    return np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)


def _embeddings(ids, v, labels, schema):
    dim = v.shape[1]
    flat = pa.array(np.ascontiguousarray(v, dtype=np.float32).ravel())
    col = pa.FixedSizeListArray.from_arrays(flat, dim).cast(schema.field("embedding").type)
    return pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": col,
                     "label": pa.array(labels, pa.int32())}, schema=schema)


def replica(d, seed, factor):
    """`factor` seeded perturbations of the sf0.1 embeddings in `d` (copy 0
    is the original); the other tables are the base's (the watermark job
    reads only embeddings, but the engine registers every table)."""
    if _done(d):
        return
    os.makedirs(d, exist_ok=True)
    emb = pq.read_table(REPLICA_SOURCE)
    v, ids = _vectors(emb), emb.column("vec_id").to_numpy()
    rng = np.random.default_rng(seed)
    reps = [v] + [_unit(v + 0.05 * rng.standard_normal(v.shape)) for _ in range(factor - 1)]
    n = len(ids)
    _write(_embeddings(np.concatenate([ids + r * n for r in range(factor)]),
                       np.concatenate(reps),
                       np.tile(emb.column("label").to_numpy(), factor), emb.schema),
           d, "embeddings")
    _copy_tables(BASE, d, {"embeddings"})
    _finish(d, {"seed": seed, "factor": factor, "vectors": factor * n})


def _next_day(rng, ev):
    """The events of a seeded past day, moved to the day after the last,
    with new event ids."""
    ts = ev.column("ts").cast(pa.int64()).to_numpy()
    first = ts.min() // DAY_US * DAY_US
    days = (ts - first) // DAY_US
    day = rng.integers(0, days.max() + 1)
    pick = np.flatnonzero(days == day)
    shift = (days.max() + 1 - day) * DAY_US
    new = ev.take(pa.array(pick))
    start = pc.max(ev.column("event_id")).as_py() + 1
    cols = {c: new.column(c) for c in new.column_names}
    cols["event_id"] = pa.array(np.arange(start, start + len(pick)), pa.int64())
    cols["ts"] = pa.array(ts[pick] + shift).cast(ev.schema.field("ts").type)
    return pa.table(cols, schema=ev.schema)


def snapshots(root, seed, count):
    """`count` refresh snapshots under `root`/snap-1.. (snap-0 is the base).
    Returns their directories."""
    dirs = [os.path.join(root, f"snap-{k}") for k in range(1, count + 1)]
    if all(_done(d) for d in dirs):
        return dirs
    rng = np.random.default_rng(seed)
    prev = BASE
    for k, d in enumerate(dirs, start=1):
        os.makedirs(d, exist_ok=True)
        emb = pq.read_table(os.path.join(prev, "embeddings.parquet"))
        docs = pq.read_table(os.path.join(prev, "documents.parquet"))
        ev = pq.read_table(os.path.join(prev, "events.parquet"))
        nv, nd = emb.num_rows, docs.num_rows
        dv, dd = max(1, round(0.02 * nv)), max(1, round(0.02 * nd))
        pv = rng.choice(nv, dv, replace=False)
        old = _vectors(emb)[pv]
        v = _unit(old + 0.05 * rng.standard_normal(old.shape))
        new_emb = _embeddings(np.arange(nv, nv + dv), v,
                              emb.column("label").to_numpy()[pv], emb.schema)
        new_docs = docs.take(pa.array(rng.choice(nd, dd, replace=False)))
        new_docs = new_docs.set_column(0, "doc_id", pa.array(np.arange(nd, nd + dd), pa.int64()))
        new_ev = _next_day(rng, ev)
        _write(pa.concat_tables([emb, new_emb]), d, "embeddings")
        _write(pa.concat_tables([docs, new_docs]), d, "documents")
        _write(pa.concat_tables([ev, new_ev]), d, "events")
        _copy_tables(BASE, d, {"embeddings", "documents", "events"})
        _finish(d, {"seed": seed, "snapshot": k, "vectors": nv + dv,
                    "documents": nd + dd, "events": ev.num_rows + new_ev.num_rows})
        prev = d
    return dirs


def describe(d):
    """(rows, bytes) over the parquet tables of `d`."""
    rows = sum(pq.ParquetFile(os.path.join(d, f"{t}.parquet")).metadata.num_rows
               for t in TABLES)
    size = sum(os.path.getsize(os.path.join(d, f"{t}.parquet")) for t in TABLES)
    return rows, size
