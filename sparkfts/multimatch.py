"""Multi-field scored queries — the ES ``multi_match`` analog.

The restored reference cluster serves ``multi_match`` through the same
delegation point as every other query (BaseESReducer.java:154); the
semantics are public Lucene: per field, the query is a plain match
query scored against THAT field's statistics (df, N, avgdl, doc
lengths), then the per-field scores combine per doc:

- ``most_fields``  →  Σ_f boost_f · score_f           (bool-sum)
- ``best_fields``  →  max_f(boost_f · score_f)
                      + tie_breaker · Σ(the others)    (dis_max)

``best_fields`` with tie_breaker = 1.0 and equal boosts is identical
to ``most_fields`` — pinned in tests.

Spark shape: the multi-field index stores field-prefixed terms in ONE
term-sorted dictionary, so all fields' postings arrive in the same
(segment, shard) fan-out task as a single-field query — multi_match
costs one job, not one per field.
Scoring is exhaustive per shard (the per-field partial sums feed a
dense fields×docs combine); the WAND upper-bound machinery doesn't
transfer to dis_max without per-field bound bookkeeping, so pruning is
a documented non-goal here (multi_match queries are a small fraction
of traffic; the exhaustive kernel is the same cost as method='exact').

Per-doc combine order is fixed (fields ascending, terms ascending
within a field), so scores are bit-stable across partitionings.
"""
from __future__ import annotations

import numpy as np
import pandas as pd

from . import codec
from .query import _decode_term_rows, _drop_excl

__all__ = ["score_multi_group", "check_mm_args", "combine_fields"]

_EMPTY = pd.DataFrame({"docid": pd.Series(dtype=np.int64),
                       "score": pd.Series(dtype=np.float64)})


def check_mm_args(qtype: str, tie_breaker: float, mode: str) -> None:
    if qtype not in ("best_fields", "most_fields"):
        raise ValueError(
            f"type must be best_fields|most_fields, got {qtype!r}")
    if not (0.0 <= float(tie_breaker) <= 1.0):
        raise ValueError("tie_breaker must be in [0, 1]")
    if mode not in ("or", "and"):
        raise ValueError(f"mode must be or|and, got {mode!r}")


def combine_fields(per_field: dict[str, tuple[np.ndarray, np.ndarray]],
                   qtype: str, tie_breaker: float
                   ) -> tuple[np.ndarray, np.ndarray]:
    """Combine per-field (sorted docids, scores) into per-doc combined
    scores over the union of docids. Unmatched fields contribute 0
    (the Lucene DisjunctionMaxQuery contract)."""
    union = np.unique(np.concatenate(
        [u for u, _ in per_field.values()]))
    mat = np.zeros((len(per_field), union.shape[0]), dtype=np.float64)
    for i, f in enumerate(sorted(per_field)):
        u, s = per_field[f]
        mat[i, np.searchsorted(union, u)] = s
    if qtype == "most_fields":
        score = mat.sum(axis=0)
    else:
        mx = mat.max(axis=0)
        score = mx + float(tie_breaker) * (mat.sum(axis=0) - mx)
    return union, score


def score_multi_group(pdf: pd.DataFrame,
                      field_terms: dict[str, list[str]],
                      boosts: dict[str, float],
                      idf: dict[str, float],
                      avgdl_by_field: dict[str, float],
                      k1: float, b: float, k: int,
                      qtype: str, tie_breaker: float, mode: str,
                      after: tuple[float, int] | None = None,
                      excl: np.ndarray | None = None) -> pd.DataFrame:
    """Score one shard's dictionary rows (all fields' prefixed terms)
    → combined top-k. Per field: BM25 partials under THAT field's
    avgdl and idf (already per-field because terms are field-prefixed
    and idf was computed with the field's N/df), per-doc sums in
    fixed ascending-term order; ``mode='and'`` keeps docs matching
    ALL of the field's query terms IN that field (the ES
    multi_match operator=and contract: dis_max over per-field AND
    matches). ``excl`` (sorted tombstoned docids) and ``after``
    (pagination cursor) apply to the COMBINED score before
    truncation — same contracts as every other kernel."""
    per_field: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    for f in sorted(field_terms):
        terms = sorted(set(field_terms[f]))
        all_d, all_c = [], []
        for t in terms:
            sub = pdf[pdf["term"] == t]
            if sub.empty:
                continue
            d, tf, dl = _decode_term_rows(sub)
            all_d.append(d)
            all_c.append(idf[t] * codec.bm25_partial(
                tf, dl, avgdl_by_field[f], k1, b))
        if not all_d:
            continue
        d = np.concatenate(all_d)
        c = np.concatenate(all_c)
        uniq, inv = np.unique(d, return_inverse=True)
        s = np.zeros(uniq.shape[0], dtype=np.float64)
        np.add.at(s, inv, c)
        if mode == "and":
            hits = np.bincount(inv, minlength=uniq.shape[0])
            keep = hits == len(terms)
            uniq, s = uniq[keep], s[keep]
            if uniq.size == 0:
                continue
        per_field[f] = (uniq, float(boosts[f]) * s)
    if not per_field:
        return _EMPTY.copy()
    union, score = combine_fields(per_field, qtype, tie_breaker)
    m = _drop_excl(union, excl)
    if m is not None:
        union, score = union[m], score[m]
    if after is not None:
        s0, d0 = float(after[0]), int(after[1])
        keep = (score < s0) | ((score == s0) & (union > d0))
        union, score = union[keep], score[keep]
    order = np.lexsort((union, -score))[:k]
    return pd.DataFrame({"docid": union[order],
                         "score": score[order]})
