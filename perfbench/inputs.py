"""Seeded benchmark inputs derived from a committed sf directory.

Seed 0 copies the committed tables byte for byte, so its numbers stay
comparable with earlier full-suite bench artifacts. Any other seed

- shuffles the rows of every table with a seeded permutation,
- rewrites a seeded share of the tokens of a seeded share of
  ``documents`` with draws from the corpus vocabulary (``n_chars`` is
  kept equal to the text length), and
- points a seeded ~5% of ``lineitem.l_partkey`` at other existing part
  keys,

which changes data layout, graph structure and duplicate clusters
without breaking a foreign key. The output directory's basename is
unique per seed: the query catalog caches fixtures under
``<scratch>/fixtures/<basename>/``, so a shared basename would hand one
seed's fixtures to another seed's oracle.
"""

from __future__ import annotations

import os
import shutil

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
DOC_SHARE = 0.10  # share of documents whose text is rewritten
TOKEN_SHARE = 0.25  # share of a rewritten document's tokens replaced
PARTKEY_SHARE = 0.05  # share of lineitem rows given another part key


def input_dir(root: str, base: str, seed: int) -> str:
    return os.path.join(root, f"{os.path.basename(os.path.normpath(base))}_seed{seed}")


def prepare(root: str, base: str, seed: int) -> str:
    """Build (once) and return the seed's input directory under ``root``."""
    dst = input_dir(root, base, seed)
    if os.path.exists(os.path.join(dst, "_READY")):
        return dst
    tmp = f"{dst}.build-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if seed == 0:
        for t in TABLES:
            shutil.copyfile(f"{base}/{t}.parquet", f"{tmp}/{t}.parquet")
    else:
        _derive(base, tmp, seed)
    open(os.path.join(tmp, "_READY"), "w").close()
    shutil.rmtree(dst, ignore_errors=True)
    os.rename(tmp, dst)
    return dst


def _derive(base: str, dst: str, seed: int) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    tables = {t: pq.read_table(f"{base}/{t}.parquet") for t in TABLES}

    rng = np.random.default_rng([seed, 1])
    docs = tables["documents"]
    texts = docs.column("text").to_pylist()
    vocab = np.array(sorted({w for s in texts for w in s.split(" ") if w}), dtype=object)
    for i in np.flatnonzero(rng.random(len(texts)) < DOC_SHARE):
        toks = np.array(texts[i].split(" "), dtype=object)
        hit = rng.random(len(toks)) < TOKEN_SHARE
        toks[hit] = vocab[rng.integers(0, len(vocab), int(hit.sum()))]
        texts[i] = " ".join(toks)
    docs = docs.set_column(
        docs.schema.get_field_index("text"), "text",
        pa.array(texts, docs.schema.field("text").type),
    )
    docs = docs.set_column(
        docs.schema.get_field_index("n_chars"), "n_chars",
        pa.array([len(s) for s in texts], docs.schema.field("n_chars").type),
    )
    tables["documents"] = docs

    rng = np.random.default_rng([seed, 2])
    li = tables["lineitem"]
    pk = li.column("l_partkey").to_numpy().copy()
    parts = tables["part"].column("p_partkey").to_numpy()
    hit = rng.random(len(pk)) < PARTKEY_SHARE
    pk[hit] = parts[rng.integers(0, len(parts), int(hit.sum()))]
    tables["lineitem"] = li.set_column(
        li.schema.get_field_index("l_partkey"), "l_partkey",
        pa.array(pk, li.schema.field("l_partkey").type),
    )

    for k, t in enumerate(TABLES):
        tbl = tables[t]
        perm = np.random.default_rng([seed, 3, k]).permutation(tbl.num_rows)
        tbl = tbl.take(pa.array(perm))
        # one row group per table, like the committed files
        pq.write_table(tbl, f"{dst}/{t}.parquet",
                       row_group_size=max(tbl.num_rows, 1))
