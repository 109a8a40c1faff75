"""Seeded inputs for the workloads. The engine sees only what these make.

* the base corpus: ``sparkfts.fixtures`` transcripts written as parquet;
* the query stream: 1-3 terms drawn from ``fixtures.vocabulary()`` with
  the corpus's own Zipf law (p ∝ 1/rank), about 70% OR / 30% AND, k=10;
* delta micro-batches: more transcripts, from seeds disjoint from the
  base's so their conversation ids are new;
* tombstone samples: live docids drawn without replacement.
"""
from __future__ import annotations

import numpy as np

from sparkfts.fixtures import vocabulary, write_transcripts_parquet

K = 10
OR_SHARE = 0.7


def write_corpus(path: str, n_convs: int, seed: int) -> int:
    """Write the base corpus for ``seed``; returns its row count."""
    return write_transcripts_parquet(path, n_convs, seed=seed)


def write_delta_batch(path: str, n_convs: int, seed: int, batch: int) -> int:
    """Micro-batch ``batch`` of the delta stream for ``seed``. Fixture
    conversation ids are ``seed * 10_000_019 + c``, so offsetting the
    seed by a large stride keeps every batch's ids apart from the base's
    and from each other's."""
    return write_transcripts_parquet(
        path, n_convs, seed=1_000_003 + seed * 1_000 + batch)


def query_stream(seed: int, n: int) -> list[tuple[str, str]]:
    """``n`` (query text, mode) pairs, Zipfian over the fixture vocabulary."""
    rng = np.random.default_rng([seed, 7])
    vocab = vocabulary()
    p = 1.0 / np.arange(1, len(vocab) + 1)
    p /= p.sum()
    n_terms = rng.integers(1, 4, size=n)
    terms = rng.choice(len(vocab), size=int(n_terms.sum()), p=p)
    modes = np.where(rng.random(n) < OR_SHARE, "or", "and")
    out, i = [], 0
    for q in range(n):
        out.append((" ".join(vocab[terms[i:i + n_terms[q]]]), str(modes[q])))
        i += n_terms[q]
    return out


def tombstone_sample(rng: np.random.Generator, live: np.ndarray,
                     n: int) -> np.ndarray:
    """``n`` distinct docids drawn from the sorted ``live`` set."""
    return np.sort(rng.choice(live, size=min(n, live.size), replace=False))
