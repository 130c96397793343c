"""Seeded input corpora for the benchmark workloads.

The benchmark never reads corpora from outside its checkout: every input is
drawn here from the ``--seed`` argument with NumPy's PCG64 generator, so the
same seed gives byte-identical documents on any host. The documents follow
the shape of the repo's ``documents.parquet`` test tables (doc_id, text,
lang, source, n_chars): 10-100 words drawn from one small shared vocabulary,
which is what makes entity resolution dense.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
KEEP = 0.9  # share of the id universe a seed keeps
DELTA_SHARE = 0.1  # share of the documents that form the delta


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    """``n_docs`` documents whose ids are a seed-chosen ``KEEP`` share of
    ``range(n_docs / KEEP)`` — the seed picks the url subset, so two seeds
    build overlapping but different corpora of the same size."""
    rng = np.random.default_rng(seed)
    universe = int(round(n_docs / KEEP))
    ids = np.sort(rng.choice(universe, size=n_docs, replace=False)).astype("int64")
    lengths = rng.integers(10, 101, size=n_docs)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), size=k)]) for k in lengths]
    langs = rng.choice(np.array(LANGS), size=n_docs, p=LANG_P)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": langs,
            "source": [f"src{i % N_SOURCES}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def delta_mask(seed: int, n: int) -> np.ndarray:
    """Seed-chosen boolean mask selecting ``DELTA_SHARE`` of ``n`` documents
    as the incremental delta; the rest is the base."""
    rng = np.random.default_rng([seed, 1])
    mask = np.zeros(n, dtype=bool)
    mask[rng.choice(n, size=max(1, int(round(n * DELTA_SHARE))), replace=False)] = True
    return mask


def write_documents(df: pd.DataFrame, sf_dir: str) -> str:
    """Write ``df`` as ``<sf_dir>/documents.parquet`` — the layout the
    program's ``synth`` generators read."""
    os.makedirs(sf_dir, exist_ok=True)
    df.to_parquet(os.path.join(sf_dir, "documents.parquet"), index=False)
    return sf_dir
