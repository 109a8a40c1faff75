"""ES 1.x default scoring: Lucene classic TF/IDF similarity.

The reference delegates scoring entirely to its embedded
Elasticsearch 1.6 (`BaseESReducer.java:154` hands documents to ES and
never touches ranking), whose default similarity was Lucene's
TFIDFSimilarity "practical scoring function", NOT BM25:

    score(q, d) = coord(q, d) · queryNorm(q)
                  · Σ_{t ∈ q∩d} tf(t, d) · idf(t)² · norm(d)

    tf        = sqrt(freq)
    idf       = 1 + ln(N / (df + 1))
    norm(d)   = byte315(1 / sqrt(dl))   — LOSSY single-byte field
                norm, decoded back to float (3 mantissa bits,
                zero-exponent 15: the SmallFloat byte315 format)
    coord     = |q ∩ d| / |q|
    queryNorm = 1 / sqrt(Σ_t idf(t)²)   — rank-neutral, kept for
                score-level fidelity with ES explain output

The engine pins BM25 per the north rule; this module adds the classic
mode as an OPT-IN twin (`classic_topk_local` / `classic_topk`) on the
same index artifacts — postings already carry exact (tf, dl), so no
rebuild is needed to switch similarity. The byte-norm quantization is
reproduced exactly (`float_to_byte315` / `byte315_to_float` from the
public SmallFloat algorithm), because it is rank-VISIBLE: docs with
different dl can share a quantization bucket and tie where true
1/sqrt(dl) would not.

Scale: the local path scores from the serving decoded-postings LRU
(zero Spark jobs); the distributed path runs the same kernel in the
one-stage (segment, shard) fan-out every dictionary-scored surface
uses (SegmentedIndex._plan).
"""
from __future__ import annotations

import numpy as np
import pandas as pd

# ---------------------------------------------------------------- norms

_B315_DECODE = None


def float_to_byte315(f: np.ndarray) -> np.ndarray:
    """Lucene SmallFloat.floatToByte315: float32 → unsigned byte with
    3 mantissa bits and zero-exponent 15 (vectorized)."""
    f32 = np.asarray(f, dtype=np.float32)
    bits = f32.view(np.int32).astype(np.int64)
    fzero = (63 - 15) << 3
    smallfloat = bits >> (24 - 3)
    out = (smallfloat - fzero).astype(np.int64)
    out = np.where(smallfloat <= fzero,
                   np.where(bits <= 0, 0, 1), out)
    out = np.where(smallfloat >= fzero + 0x100, 255, out)
    return (out & 0xFF).astype(np.uint8)


def byte315_to_float(b: np.ndarray) -> np.ndarray:
    """Lucene SmallFloat.byte315ToFloat (vectorized)."""
    b = np.asarray(b, dtype=np.int64)
    bits = (b << (24 - 3)) + ((63 - 15) << 24)
    out = bits.astype(np.int32).view(np.float32)
    return np.where(b == 0, np.float32(0.0), out)


def _decode_table() -> np.ndarray:
    global _B315_DECODE
    if _B315_DECODE is None:
        _B315_DECODE = byte315_to_float(np.arange(256))
    return _B315_DECODE


def norm_value(dl: np.ndarray) -> np.ndarray:
    """The decoded field norm for doc length dl: encode(1/sqrt(dl))
    then decode — the lossy round trip Lucene bakes into the index.
    dl=0 docs carry norm of 1/sqrt(1) quantized (they cannot match
    anyway — no terms)."""
    dl = np.asarray(dl, dtype=np.float64)
    raw = 1.0 / np.sqrt(np.maximum(dl, 1.0))
    return _decode_table()[float_to_byte315(raw)].astype(np.float64)


def classic_idf(N: float, df: float | np.ndarray) -> float | np.ndarray:
    """idf = 1 + ln(N / (df + 1))."""
    return 1.0 + np.log(float(N) / (np.asarray(df, dtype=np.float64)
                                    + 1.0))


# -------------------------------------------------------------- scoring

def _score_decoded_classic(pt: dict, idf: dict[str, float],
                           k: int, mode: str, n_query_terms: int,
                           query_norm: float,
                           excl: np.ndarray | None = None
                           ) -> pd.DataFrame:
    """Exhaustive classic scoring over pre-decoded per-term postings:
    fixed ascending-term accumulation, coord and queryNorm applied
    after the sum (matching Lucene's BooleanScorer composition)."""
    all_d, all_c = [], []
    for t in sorted(pt):
        d, tf, dl = pt[t]
        if d.size == 0:
            continue
        all_d.append(d)
        contrib = (np.sqrt(tf.astype(np.float64)) * (idf[t] ** 2)
                   * norm_value(dl))
        all_c.append(contrib)
    empty = pd.DataFrame({"docid": pd.Series(dtype=np.int64),
                          "score": pd.Series(dtype=np.float64)})
    if not all_d:
        return empty
    docids = np.concatenate(all_d)
    contribs = np.concatenate(all_c)
    uniq, inv = np.unique(docids, return_inverse=True)
    scores = np.zeros(uniq.shape[0], dtype=np.float64)
    np.add.at(scores, inv, contribs)
    hits = np.bincount(inv, minlength=uniq.shape[0])
    if mode == "and":
        m = hits == n_query_terms
        uniq, scores, hits = uniq[m], scores[m], hits[m]
    if excl is not None and excl.size and uniq.size:
        p = np.searchsorted(excl, uniq)
        hit = p < excl.shape[0]
        hit[hit] = excl[p[hit]] == uniq[hit]
        uniq, scores, hits = uniq[~hit], scores[~hit], hits[~hit]
    if uniq.size == 0:
        return empty
    scores = scores * (hits.astype(np.float64) / n_query_terms) \
        * query_norm
    order = np.lexsort((uniq, -scores))[:k]
    return pd.DataFrame({"docid": uniq[order], "score": scores[order]})


def _classic_weights(idx, query: str):
    from .analyzer import tokenize_text
    terms = sorted({t for t in tokenize_text(query, idx.tokenizer)})
    if not terms:
        return terms, {}, 0.0
    dfs = idx._df(terms)
    idf = {t: float(classic_idf(float(idx.N), dfs.get(t, 0.0)))
           for t in terms}
    ssw = sum(w * w for w in idf.values())
    return terms, idf, (1.0 / np.sqrt(ssw) if ssw > 0 else 0.0)


def classic_topk_local(idx, query: str, k: int = 10,
                       mode: str = "or") -> pd.DataFrame:
    """Zero-Spark-job classic-similarity top-k on an FTSIndex OR a
    CombinedIndex (serving decoded-postings LRU — the same cache
    topk_local uses): df/N pool over the index's segments, per-segment
    decoded postings merge exactly (disjoint docid spaces), and
    tombstoned docs drop before truncation."""
    if mode not in ("or", "and"):
        raise ValueError(f"mode {mode!r}: or|and")
    terms, idf, qn = _classic_weights(idx, query)
    if not terms:
        return pd.DataFrame({"docid": pd.Series(dtype=np.int64),
                             "score": pd.Series(dtype=np.float64)})
    pt: dict = {}
    for s in idx.subs:
        for t, arrs in s._decoded_terms(terms).items():
            pt[t] = (tuple(np.concatenate(p) for p in zip(pt[t], arrs))
                     if t in pt else arrs)
    return _score_decoded_classic(pt, idf, k, mode, len(terms), qn,
                                  excl=idx._excl())


def classic_topk(idx, query: str, k: int = 10,
                 mode: str = "or") -> pd.DataFrame:
    """Distributed classic-similarity top-k on an FTSIndex OR a
    CombinedIndex: the (segment, shard) fan-out topk runs
    (SegmentedIndex._plan) with the classic contribution in the kernel,
    tombstoned docs dropped in the kernel, driver merge of the groups'
    k candidates — equal to classic_topk_local bit for bit."""
    from .query import _EMPTY_TOPK, _decode_term_rows, _top
    if mode not in ("or", "and"):
        raise ValueError(f"mode {mode!r}: or|and")
    terms, idf, qn = _classic_weights(idx, query)
    if not terms:
        return _EMPTY_TOPK.copy()
    nq, excl = len(terms), idx._excl()

    def kernel(pdf, rng, cand):
        pt = {t: _decode_term_rows(pdf[pdf["term"] == t])
              for t in sorted(pdf["term"].unique())}
        return _score_decoded_classic(pt, idf, k, mode, nq, qn, excl=excl)

    return _top(idx._plan(terms, kernel, "docid long, score double")
                .toPandas(), k)
