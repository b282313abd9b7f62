"""Inputs of one run: the fixed tables plus a seeded corpus.

``data/sf0.01`` and ``data/sf0.001`` hold copies of the eight relational
tables of the repository's test data at those scales (at sf0.01: 60k lineitem, 15k
orders, 1,500 customers, 10k events), so every run of every seed reads
the same relational bytes. ``generate`` links them into a run's input
directory and writes ``documents`` and ``embeddings`` there from the
seed with ``tools/scale_proof.py``'s generators, whose output matches
the test data's schema.

On top of the duplicates those plant (one exact pair per 500 docs),
``generate`` copies ``PLANTED_COPIES`` long documents onto documents of
another source: a corpus of a few hundred docs otherwise holds one
duplicate pair or none, and for some seeds the substring-dedup and
contamination entries find nothing at all.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
FIXED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
PLANTED_COPIES = 3


def _plant_copies(path: str, seed: int) -> None:
    """Overwrite PLANTED_COPIES documents with the text of another doc
    of at least 24 tokens and a different source."""
    tbl = pq.read_table(path)
    text = tbl.column("text").to_pylist()
    lang = tbl.column("lang").to_pylist()
    source = tbl.column("source").to_pylist()
    rng = np.random.default_rng(seed)
    used: set[int] = set()
    long_docs = [i for i, t in enumerate(text) if len(t.split()) >= 24]
    for a in rng.permutation(long_docs)[:PLANTED_COPIES]:
        others = [i for i in range(len(text))
                  if i != a and i not in used and source[i] != source[a]]
        b = int(rng.choice(others))
        used.update((int(a), b))
        text[b], lang[b] = text[a], lang[a]
    tbl = tbl.set_column(tbl.schema.get_field_index("text"), "text",
                         pa.array(text, pa.string()))
    tbl = tbl.set_column(tbl.schema.get_field_index("lang"), "lang",
                         pa.array(lang, pa.string()))
    tbl = tbl.set_column(tbl.schema.get_field_index("n_chars"), "n_chars",
                         pa.array([len(t) for t in text], pa.int64()))
    pq.write_table(tbl, path, row_group_size=max(1, tbl.num_rows))


def generate(out_dir: str, sf: str, n_docs: int, n_vecs: int, seed: int,
             repo_root: str) -> dict[str, str]:
    """Link the fixed ``sf`` tables into ``out_dir``, write the seeded
    corpus of ``n_docs`` documents and ``n_vecs`` embeddings beside
    them; return ``{table: path}``."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {t: os.path.join(out_dir, f"{t}.parquet") for t in TABLES}
    for t in TABLES[:-2]:
        os.symlink(os.path.join(FIXED, sf, f"{t}.parquet"), paths[t])
    if repo_root not in sys.path:
        sys.path.insert(0, repo_root)
    from tools.scale_proof import gen_documents, gen_embeddings_structured

    gen_documents(n_docs, paths["documents"], seed=seed + 1)
    _plant_copies(paths["documents"], seed + 3)
    gen_embeddings_structured(n_vecs, paths["embeddings"], seed=seed + 2)
    return paths
