"""Seeded input generators.

The ``documents`` and ``embeddings`` tables with the schema and value
domains of the repository's testdata, drawn with NumPy from one seed, so
the same seed always gives identical inputs and the program under test
only ever sees these generated files.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

#: The documents vocabulary of the testdata corpus (30 words, uniform).
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EMB_DIM = 64


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def documents(seed: int, n: int, *, dup_share: float = 0.05) -> pa.Table:
    """``n`` tweet-like documents: 10-100 words drawn uniformly from
    ``VOCAB``; ``dup_share`` of them are planted near-duplicates (a copy
    of an earlier document with one word replaced by ``dup``)."""
    rng = _rng(seed, 1)
    lens = rng.integers(10, 101, n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]
    for i in np.flatnonzero(rng.random(n) < dup_share):
        if i == 0:
            continue
        toks = texts[int(rng.integers(0, i))].split(" ")
        toks[int(rng.integers(0, len(toks)))] = "dup"
        texts[i] = " ".join(toks)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(seed: int, n: int, *, n_labels: int = 10) -> pa.Table:
    """``n`` unit vectors in ``EMB_DIM`` dimensions around ``n_labels``
    random cluster centres; ``vec_id`` is 0..n-1."""
    rng = _rng(seed, 2)
    centres = rng.normal(0.0, 1.0, (n_labels, EMB_DIM))
    label = rng.integers(0, n_labels, n)
    x = centres[label] + rng.normal(0.0, 2.5, (n, EMB_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )
