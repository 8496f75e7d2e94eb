"""Seeded input generators for the graft benchmark's batch workload.

The tables have the schema of the engine's `documents` and `embeddings`
inputs and are written as parquet, one directory per table
(`<dir>/<table>.parquet/part-00000.parquet`), which is how
`graft.sources.Tables.t` and DuckDB both read them.

- `tables(seed, sf)`: both tables at scale factor `sf` (sf 1 = 50,000
  documents and 20,000 vectors).
- `relabel(tables, seed)`: a bijective relabelling of `doc_id` / `vec_id`.
- `write(tables, dir, seed)`: writes each table in a seeded row order.

The same seed always gives byte-identical files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small big "
         "fast slow row the a agg key query scan batch sort hash join filter "
         "group order line part customer").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def tables(seed, sf):
    rng = np.random.default_rng([seed, 1])
    return {"documents": _documents(rng, int(50000 * sf)),
            "embeddings": _embeddings(rng, int(20000 * sf))}


def _documents(rng, n):
    """Random-word documents; 5% are an earlier document plus " dup"
    (near duplicates) and 1% exact copies of an earlier document.
    """
    words = np.array(WORDS)
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.06:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(8, 96)))]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": np.array([f"src{i}" for i in range(20)])[rng.integers(0, 20, n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})


def _embeddings(rng, n, dim=64, labels=10):
    """Unit vectors around `labels` centres; 5% are near copies of an
    earlier vector (cosine near-duplicates).
    """
    centres = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n)
    v = centres[label] + rng.normal(scale=1.5, size=(n, dim))
    for i in range(1, n):
        if rng.random() < 0.05:
            j = int(rng.integers(0, i))
            v[i] = v[j] + rng.normal(scale=0.01, size=dim)
            label[i] = label[j]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32)})


def relabel(ts, seed):
    """Bijective relabelling of doc_id and vec_id: a seeded permutation of
    the id range, so ids stay unique and dense but their order is new.
    """
    rng = np.random.default_rng([seed, 2])
    out = dict(ts)
    for name, key in (("documents", "doc_id"), ("embeddings", "vec_id")):
        t = ts[name]
        ids = rng.permutation(t.num_rows).astype(np.int64)[t.column(key).to_numpy()]
        out[name] = t.set_column(t.schema.get_field_index(key), key, pa.array(ids, pa.int64()))
    return out


def write(ts, out_dir, seed):
    """Write each table, rows in a seeded order, as one parquet file under
    `<out_dir>/<name>.parquet/`. Returns the row count of each table.
    """
    rng = np.random.default_rng([seed, 3])
    for name in sorted(ts):
        t = ts[name].take(pa.array(rng.permutation(ts[name].num_rows)))
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        pq.write_table(t, os.path.join(d, "part-00000.parquet"))
    return {n: t.num_rows for n, t in ts.items()}
