"""Benchmark inputs, made from the shipped documents table.

* ``corpus(seed, out, nfiles)`` writes the corpus-build input: the 5,000
  documents in a seed-shuffled row order, split round-robin over ``nfiles``
  parquet files under ``<out>/documents.parquet/``. The same seed gives
  byte-identical files.
* ``single(out)`` writes the query input: the documents unchanged, as the
  one-file ``<out>/documents.parquet`` table.

``data/documents.parquet`` is the sf0.1 documents fixture (doc_id, text,
lang, source, n_chars), one file with one row group.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")


def corpus(seed, out, nfiles):
    docs = pq.read_table(DOCUMENTS)
    docs = docs.take(pa.array(np.random.default_rng(seed).permutation(docs.num_rows)))
    d = os.path.join(out, "documents.parquet")
    os.makedirs(d)
    for i in range(nfiles):
        pq.write_table(docs.take(pa.array(np.arange(i, docs.num_rows, nfiles))),
                       os.path.join(d, f"part-{i:05d}.parquet"), compression="snappy")


def single(out):
    shutil.copyfile(DOCUMENTS, os.path.join(out, "documents.parquet"))
