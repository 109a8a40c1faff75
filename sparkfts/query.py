"""Query engine: analyzed top-k retrieval over the built index.

The capability the reference's restored ES cluster serves (SURVEY.md §2B
B6-B9), built from scratch: tokenize the query with the same analyzer as
the build, look up only the query terms' dictionary rows (parquet
predicate pushdown on the term column — rows are term-sorted within each
shard file, so row-group min/max stats prune), score BM25 per shard
(docs live in exactly one shard, so per-shard scores are final given
global idf), take per-shard top-k, merge k·num_shards candidates on the
driver. Scoring methods:

  exact : decode every posting of every query term, vectorized numpy
          aggregation (np.unique + bincount).
  wand  : block-max pruning — exact top-k, but only decodes blocks that
          can contain a doc whose score upper bound reaches a lower bound
          on the k-th best score. Two phases per shard:
            seed : decode each term's top-m blocks by upper bound
                   (ub = idf · block_max_partial); the k-th largest
                   partial sum over decoded postings is a valid lower
                   bound θ on the true k-th best score.
            sweep: piecewise-constant UB(docid) from block interval
                   boundaries; candidate region = {UB ≥ θ}; decode only
                   blocks intersecting it; score candidates exactly.
          Docs outside the region have true score ≤ UB < θ ≤ k-th best,
          so the result is identical to exhaustive scoring (ties included,
          since the region test is ≥).

Scores are float64 end-to-end with a fixed summation order (ascending
term, then ascending docid) so results are rank-identical to the
brute-force oracle; ties broken by docid ascending.
"""
from __future__ import annotations

import math
import os
import re
import threading
from collections import OrderedDict
from typing import Iterable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from . import codec, multiterm, storage
from .analyzer import (TokenizerConfig, jvm_tokens, tokenize_series,
                       tokenize_text)


def _bm25_idf(N: float, df: float) -> float:
    return math.log(1.0 + (N - df + 0.5) / (df + 0.5))


def _row_order(rows: pd.DataFrame) -> np.ndarray:
    """Positions that order one term's dictionary rows so concatenated
    decoded docids come out globally ascending: by (shard, chunk) —
    shards are contiguous ascending docid ranges and chunks are
    docid-range-ordered within a shard (build.py encoder). Stable:
    single-shard callers pass unique chunk ids, but topk_local scores
    ALL shards' rows in one call, where chunk ids repeat across
    shards."""
    chunk = rows["chunk"].to_numpy()
    if "shard" in rows.columns:
        return np.lexsort((chunk, rows["shard"].to_numpy()))
    return np.argsort(chunk, kind="stable")


def _order_rows(rows: pd.DataFrame) -> pd.DataFrame:
    """The rows themselves in _row_order."""
    return rows.iloc[_row_order(rows)]


# Block-decode telemetry (test/diagnostic only — plain dict increments,
# no locking): lets tests prove a pruned path decoded FEWER blocks than
# the exhaustive one, e.g. cursor-aware WAND on deep pages.
DECODE_COUNTERS = {"blocks": 0}


def reset_decode_counters() -> None:
    DECODE_COUNTERS["blocks"] = 0


def _ordered_cols(rows: pd.DataFrame, *cols: str) -> list[np.ndarray]:
    """Object arrays of ``cols`` in _row_order (no per-row tuples)."""
    o = _row_order(rows)
    return [rows[c].to_numpy()[o] for c in cols]


def _decode_term_rows(rows: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode all chunks of one term → concatenated (docids, tfs, dls)
    in globally ascending docid order (see _row_order)."""
    parts = []
    for blob, offs, ns in zip(*_ordered_cols(rows, "blob", "block_off",
                                             "block_n")):
        DECODE_COUNTERS["blocks"] += len(ns)
        parts.append(codec.decode_postings(blob, np.asarray(offs),
                                           np.asarray(ns)))
    return (np.concatenate([p[0] for p in parts]),
            np.concatenate([p[1] for p in parts]),
            np.concatenate([p[2] for p in parts]))


def _decode_selected(rows: pd.DataFrame, keep_mask_per_row: list[np.ndarray],
                     ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode only the selected blocks of one term's chunk rows."""
    d, t, l = [], [], []
    for blob, offs, ns, keep in zip(*_ordered_cols(rows, "blob",
                                                   "block_off", "block_n"),
                                    keep_mask_per_row):
        sel = np.flatnonzero(keep)
        if sel.size == 0:
            continue
        DECODE_COUNTERS["blocks"] += int(sel.size)
        offs = np.asarray(offs)
        ns = np.asarray(ns)
        buf = np.frombuffer(blob, dtype=np.uint8)
        ends = codec.varint_ends(buf)   # one scan per blob, not per block
        for bi in sel:
            dd, tt, ll = codec.decode_block(buf, int(offs[bi]),
                                            int(ns[bi]), ends=ends)
            d.append(dd); t.append(tt); l.append(ll)
    if not d:
        e = np.empty(0, dtype=np.int64)
        return e, e.copy(), e.copy()
    return np.concatenate(d), np.concatenate(t), np.concatenate(l)


def _drop_excl(docids: np.ndarray,
               excl: np.ndarray | None) -> np.ndarray | None:
    """Boolean keep-mask over ``docids`` dropping members of ``excl``
    (sorted tombstoned docids), or None when nothing to drop — the
    kernel-side delete exclusion (VERDICT r5 #4): deletes fall out
    BEFORE top-k truncation, so per-group output is k rows, not k+T."""
    if excl is None or excl.size == 0 or docids.size == 0:
        return None
    p = np.searchsorted(excl, docids)
    hit = p < excl.shape[0]
    hit[hit] = excl[p[hit]] == docids[hit]
    return ~hit if hit.any() else None


_EMPTY_TOPK = pd.DataFrame({"docid": pd.Series(dtype=np.int64),
                            "score": pd.Series(dtype=np.float64)})


def fold_neg_terms(pdf: pd.DataFrame, neg_terms,
                   excl: np.ndarray | None
                   ) -> tuple[pd.DataFrame, np.ndarray | None]:
    """Split one group's dictionary rows into (positive rows, widened
    exclusion set) — the ES ``bool.must_not`` kernel fold. Negative
    terms contribute ZERO score (the ES contract: must_not is a pure
    filter); their postings decode to docids only and merge into the
    sorted ``excl`` array every scoring kernel already honors for
    tombstones, so negation rides WAND, cursors, filters, org pruning
    and min_should_match with no new code path. Sound per group
    because the index is document-partitioned: ALL of a doc's postings
    (every term) live in its one (generation, shard) group, so a
    group-local exclusion set is complete for that group's docs."""
    if not neg_terms:
        return pdf, excl
    isneg = pdf["term"].isin(neg_terms)
    if not isneg.any():
        return pdf, excl
    neg = pdf[isneg]
    docs = [_decode_term_rows(neg[neg["term"] == t])[0]
            for t in sorted(neg["term"].unique())]
    nd = np.unique(np.concatenate(docs))
    if excl is not None and excl.size:
        nd = np.union1d(nd, excl)
    return pdf[~isneg], nd


def merge_excl_docids(excl: np.ndarray | None,
                      arrays) -> np.ndarray | None:
    """Union pre-decoded docid arrays (the serving-cache must_not
    path) into the sorted exclusion set."""
    arrays = [a for a in arrays if a.size]
    if not arrays:
        return excl
    nd = np.unique(np.concatenate(arrays))
    if excl is not None and excl.size:
        nd = np.union1d(nd, excl)
    return nd


def _topk_frame(uniq: np.ndarray, scores: np.ndarray,
                k: int) -> pd.DataFrame:
    """Top-k by (score desc, docid asc) — identical ordering contract
    to ``np.lexsort((uniq, -scores))[:k]`` but with an O(n) partition
    pre-selection when k is far below the candidate count: keep every
    row scoring >= the k-th largest score (ties included, so the
    docid tiebreak sees the full equal-score cohort), then lexsort
    only that cohort."""
    n = uniq.shape[0]
    if n > 4096 and k < (n >> 2):
        kth = np.partition(scores, n - k)[n - k]
        m = scores >= kth
        uniq, scores = uniq[m], scores[m]
    order = np.lexsort((uniq, -scores))[:k]
    return pd.DataFrame({"docid": uniq[order], "score": scores[order]})


def _aggregate_topk(docids: np.ndarray, contribs: np.ndarray, k: int,
                    mode: str, n_query_terms: int,
                    after: tuple[float, int] | None = None,
                    excl: np.ndarray | None = None,
                    min_hits: int | None = None,
                    req_mask: np.ndarray | None = None,
                    n_req: int = 0) -> pd.DataFrame:
    """Group contributions by docid (fixed input order ⇒ fixed summation
    order) and take top-k by (score desc, docid asc). ``after`` =
    (score, docid) cursor for deep pagination (the ES search_after
    analog): keep only docs ranked STRICTLY after it — score equality
    is exact because cursor scores come from this same fixed-order
    pipeline. ``excl`` (sorted tombstoned docids) drops deleted docs
    after aggregation but BEFORE truncation — exact, since every
    contribution was already summed. ``min_hits`` (OR-mode; the ES
    minimum_should_match analog) keeps docs matching at least that
    many distinct query terms — "and" is min_hits == n_query_terms,
    "or" is 1; intermediate values are the DSL's middle ground.

    ``req_mask`` (the Lucene bool must+should contract, r7): a boolean
    array aligned with ``docids`` flagging contributions from REQUIRED
    terms. Docs qualify only when they matched all ``n_req`` required
    terms; ``min_hits`` then counts OPTIONAL (should) matches only —
    the ES minimum_should_match-with-must semantics. Scores still sum
    over every matched term, required and optional alike."""
    if docids.size == 0:
        return pd.DataFrame({"docid": pd.Series(dtype=np.int64),
                             "score": pd.Series(dtype=np.float64)})
    mn = int(docids.min())
    rng = int(docids.max()) - mn + 1
    if rng <= 16 * docids.size + 65536 and rng <= (1 << 24):
        # Dense-range scatter: docid spans in this engine are shard- or
        # index-local and near-dense, so bincount over (max-min+1) bins
        # replaces the O(n log n) unique sort AND the unbuffered
        # np.add.at. bincount accumulates weights in input order —
        # bit-identical float summation to the np.add.at path.
        off = docids - mn
        dscore = np.bincount(off, weights=contribs, minlength=rng)
        if (req_mask is None and mode != "and"
                and (min_hits is None or min_hits <= 1)):
            # pure OR: every contribution is idf*partial > 0 (BM25 idf
            # is strictly positive for df <= N), so presence == nonzero
            # summed score — the hits bincount is dead weight here
            uniq = np.flatnonzero(dscore)
            hits = None
        else:
            dhits = np.bincount(off, minlength=rng)
            uniq = np.flatnonzero(dhits)
            hits = dhits[uniq]
        scores = dscore[uniq]
        if req_mask is not None:
            req_hits = np.bincount(off[req_mask], minlength=rng)[uniq]
        uniq = uniq + mn
    else:
        uniq, inv = np.unique(docids, return_inverse=True)
        scores = np.zeros(uniq.shape[0], dtype=np.float64)
        np.add.at(scores, inv, contribs)
        hits = np.bincount(inv, minlength=uniq.shape[0])
        if req_mask is not None:
            req_hits = np.bincount(inv[req_mask],
                                   minlength=uniq.shape[0])
    if req_mask is not None:
        m = req_hits == n_req
        if min_hits is not None and min_hits >= 1:
            m &= (hits - req_hits) >= min_hits
        uniq, scores = uniq[m], scores[m]
    elif mode == "and":
        m = hits == n_query_terms
        uniq, scores = uniq[m], scores[m]
    elif min_hits is not None and min_hits > 1:
        m = hits >= min_hits
        uniq, scores = uniq[m], scores[m]
    m = _drop_excl(uniq, excl)
    if m is not None:
        uniq, scores = uniq[m], scores[m]
    if after is not None:
        s0, d0 = float(after[0]), int(after[1])
        m = (scores < s0) | ((scores == s0) & (uniq > d0))
        uniq, scores = uniq[m], scores[m]
    return _topk_frame(uniq, scores, k)


def _score_and_pruned(per_term: dict[str, pd.DataFrame], terms: list[str],
                      idf: dict[str, float], avgdl: float, k1: float,
                      b: float, k: int, n_query_terms: int,
                      after: tuple[float, int] | None = None,
                      excl: np.ndarray | None = None) -> pd.DataFrame:
    """AND-mode scoring with block-range pruning (exact): decode the
    rarest term fully; for each further term (ascending df) keep only the
    blocks whose [block_first, block_last] range intersects the current
    candidate set, shrinking candidates as we go — a hot+rare AND decodes
    only the hot term's blocks that overlap the rare term's docids,
    instead of every posting of every term. Summation runs in ascending
    term order afterwards, so scores are bit-identical to the exhaustive
    path."""
    empty = pd.DataFrame({"docid": pd.Series(dtype=np.int64),
                          "score": pd.Series(dtype=np.float64)})
    if len(terms) < n_query_terms:
        return empty  # a query term is absent from this shard → no doc qualifies
    tdf = {t: int(per_term[t]["df"].sum()) for t in terms}
    by_rarity = sorted(terms, key=lambda t: (tdf[t], t))

    decoded: dict[str, tuple] = {}
    rare = by_rarity[0]
    d0, tf0, dl0 = _decode_term_rows(per_term[rare])
    decoded[rare] = (d0, tf0, dl0)
    cand = d0
    m0 = _drop_excl(cand, excl)
    if m0 is not None:
        cand = cand[m0]     # deletes out before any block pruning work
    for t in by_rarity[1:]:
        if cand.size == 0:
            return empty
        rows = _order_rows(per_term[t])
        firsts = np.concatenate([np.asarray(r.block_first)
                                 for r in rows.itertuples()])
        lasts = np.concatenate([np.asarray(r.block_last)
                                for r in rows.itertuples()])
        # block [f,l] holds a candidate iff some cand in [f,l]
        lo = np.searchsorted(cand, firsts, side="left")
        hi = np.searchsorted(cand, lasts, side="right")
        keep = lo < hi
        masks, pos = [], 0
        for r in rows.itertuples():
            sz = len(r.block_n)
            masks.append(keep[pos:pos + sz]); pos += sz
        d, tf, dl = _decode_selected(rows, masks)
        # restrict this term's postings to candidates, and candidates to
        # docs that contain this term too
        p = np.searchsorted(d, cand)
        ok = (p < d.shape[0])
        ok[ok] = d[p[ok]] == cand[ok]
        cand = cand[ok]
        j = p[ok]
        decoded[t] = (d[j], tf[j], dl[j])
    if cand.size == 0:
        return empty
    scores = np.zeros(cand.shape[0], dtype=np.float64)
    for t in sorted(terms):   # fixed ascending-term summation order
        d, tf, dl = decoded[t]
        j = np.searchsorted(d, cand)   # cand ⊆ d by construction
        scores += idf[t] * codec.bm25_partial(tf[j], dl[j], avgdl, k1, b)
    if after is not None:
        s0, d0_ = float(after[0]), int(after[1])
        m = (scores < s0) | ((scores == s0) & (cand > d0_))
        cand, scores = cand[m], scores[m]
    return _topk_frame(cand, scores, k)


def _score_bool_pruned(per_term: dict[str, pd.DataFrame],
                       req: frozenset, shoulds: list[str],
                       idf: dict[str, float], avgdl: float, k1: float,
                       b: float, k: int,
                       after: tuple[float, int] | None = None,
                       excl: np.ndarray | None = None,
                       min_hits: int | None = None) -> pd.DataFrame:
    """Lucene bool must+should scoring with block-range pruning
    (exact, r7): the REQUIRED terms drive candidate generation exactly
    like _score_and_pruned (rarest-first conjunction, block pruning);
    the optional (should) terms then decode ONLY the blocks whose
    [block_first, block_last] range intersects the surviving
    candidates, adding their contributions where they match — a hot
    should term next to a selective must decodes a tiny fraction of
    its postings. ``min_hits`` (ES minimum_should_match under a must)
    counts SHOULD matches only. Summation runs in ascending term
    order, bit-identical to the exhaustive req_mask path."""
    empty = pd.DataFrame({"docid": pd.Series(dtype=np.int64),
                          "score": pd.Series(dtype=np.float64)})
    req_present = [t for t in sorted(req) if t in per_term]
    if len(req_present) < len(req):
        return empty   # a required term is absent from this shard
    tdf = {t: int(per_term[t]["df"].sum()) for t in req_present}
    by_rarity = sorted(req_present, key=lambda t: (tdf[t], t))

    decoded: dict[str, tuple] = {}
    rare = by_rarity[0]
    d0, tf0, dl0 = _decode_term_rows(per_term[rare])
    decoded[rare] = (d0, tf0, dl0)
    cand = d0
    m0 = _drop_excl(cand, excl)
    if m0 is not None:
        cand = cand[m0]
    for t in by_rarity[1:]:
        if cand.size == 0:
            return empty
        rows = _order_rows(per_term[t])
        firsts = np.concatenate([np.asarray(r.block_first)
                                 for r in rows.itertuples()])
        lasts = np.concatenate([np.asarray(r.block_last)
                                for r in rows.itertuples()])
        lo = np.searchsorted(cand, firsts, side="left")
        hi = np.searchsorted(cand, lasts, side="right")
        keep = lo < hi
        masks, pos = [], 0
        for r in rows.itertuples():
            sz = len(r.block_n)
            masks.append(keep[pos:pos + sz]); pos += sz
        d, tf, dl = _decode_selected(rows, masks)
        p = np.searchsorted(d, cand)
        ok = (p < d.shape[0])
        ok[ok] = d[p[ok]] == cand[ok]
        cand = cand[ok]
        j = p[ok]
        decoded[t] = (d[j], tf[j], dl[j])
    if cand.size == 0:
        return empty

    # should terms: candidate-restricted block decode + hit counting.
    # positions are unique per term (one posting per doc), so plain
    # fancy-index += is well-defined.
    sh_hits = np.zeros(cand.shape[0], dtype=np.int64)
    sh_decoded: dict[str, tuple] = {}
    for t in shoulds:
        if t in decoded or t not in per_term:
            continue
        rows = _order_rows(per_term[t])
        firsts = np.concatenate([np.asarray(r.block_first)
                                 for r in rows.itertuples()])
        lasts = np.concatenate([np.asarray(r.block_last)
                                for r in rows.itertuples()])
        lo = np.searchsorted(cand, firsts, side="left")
        hi = np.searchsorted(cand, lasts, side="right")
        keep = lo < hi
        masks, pos = [], 0
        for r in rows.itertuples():
            sz = len(r.block_n)
            masks.append(keep[pos:pos + sz]); pos += sz
        d, tf, dl = _decode_selected(rows, masks)
        if d.size:
            p = np.searchsorted(cand, d)
            sel = p < cand.shape[0]
            sel[sel] = cand[p[sel]] == d[sel]
            d, tf, dl, p = d[sel], tf[sel], dl[sel], p[sel]
        else:
            p = np.empty(0, dtype=np.int64)
        sh_decoded[t] = (p, tf, dl)
        sh_hits[p] += 1

    scores = np.zeros(cand.shape[0], dtype=np.float64)
    for t in sorted(set(decoded) | set(sh_decoded)):
        if t in decoded:
            d, tf, dl = decoded[t]
            j = np.searchsorted(d, cand)   # cand ⊆ d by construction
            scores += idf[t] * codec.bm25_partial(tf[j], dl[j],
                                                  avgdl, k1, b)
        else:
            p, tf, dl = sh_decoded[t]
            scores[p] += idf[t] * codec.bm25_partial(tf, dl,
                                                     avgdl, k1, b)
    if min_hits is not None and min_hits >= 1:
        m = sh_hits >= min_hits
        cand, scores = cand[m], scores[m]
    if after is not None:
        s0, d0_ = float(after[0]), int(after[1])
        m = (scores < s0) | ((scores == s0) & (cand > d0_))
        cand, scores = cand[m], scores[m]
    return _topk_frame(cand, scores, k)


def score_decoded(pt: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]],
                  idf: dict[str, float], avgdl: float, k1: float,
                  b: float, k: int, mode: str, n_query_terms: int,
                  after: tuple[float, int] | None = None,
                  excl: np.ndarray | None = None,
                  min_hits: int | None = None,
                  req_terms: frozenset | None = None) -> pd.DataFrame:
    """Exhaustive BM25 top-k over pre-decoded per-term postings (the
    serving-cache path): the same ascending-term concatenation feeding
    _aggregate_topk that the frame-based paths use, so results are
    bit-identical. ``req_terms`` (bool must+should, r7): the required
    subset of the terms — docs must match all of them; min_hits then
    counts the remaining (should) terms."""
    all_d, all_c, all_r = [], [], []
    for t in sorted(pt):
        d, tf, dl = pt[t]
        if d.size == 0:
            continue
        all_d.append(d)
        all_c.append(idf[t] * codec.bm25_partial(tf, dl, avgdl, k1, b))
        if req_terms is not None:
            all_r.append(np.full(d.shape[0], t in req_terms, dtype=bool))
    if not all_d:
        return _aggregate_topk(np.empty(0, np.int64),
                               np.empty(0, np.float64), k, mode,
                               n_query_terms, after=after)
    rq = np.concatenate(all_r) if req_terms is not None else None
    return _aggregate_topk(np.concatenate(all_d), np.concatenate(all_c),
                           k, mode, n_query_terms, after=after,
                           excl=excl, min_hits=min_hits,
                           req_mask=rq,
                           n_req=len(req_terms) if req_terms else 0)


def score_partials(pp: dict[str, tuple[np.ndarray, np.ndarray]],
                   idf: dict[str, float], k: int, mode: str,
                   n_query_terms: int,
                   after: tuple[float, int] | None = None,
                   excl: np.ndarray | None = None,
                   min_hits: int | None = None,
                   req_terms: frozenset | None = None) -> pd.DataFrame:
    """score_decoded over pre-computed per-term (docids, BM25 partial)
    pairs (the partial-cache serving path): contribution = idf * partial
    in the same ascending-term concatenation order, so results are
    bit-identical to score_decoded over the raw decoded arrays.

    Dense fast path (or/and without must): per-term docids are sorted,
    so (min, max) across terms is O(#terms); when the covered docid
    range is near-dense, each term scatter-adds idf*partial straight
    into one dense score array — no concatenation, no bincount pass.
    Per-doc accumulation still happens in ascending-term order, so
    float summation (hence every score bit) matches the concat path."""
    live = [(t, pp[t][0], pp[t][1]) for t in sorted(pp)
            if pp[t][0].size]
    if not live:
        return _aggregate_topk(np.empty(0, np.int64),
                               np.empty(0, np.float64), k, mode,
                               n_query_terms, after=after)
    if req_terms is None:
        n = sum(d.shape[0] for _, d, _ in live)
        mn = min(int(d[0]) for _, d, _ in live)
        rng = max(int(d[-1]) for _, d, _ in live) - mn + 1
        if rng <= 16 * n + 65536 and rng <= (1 << 24):
            dscore = np.zeros(rng, dtype=np.float64)
            need_hits = (mode == "and"
                         or (min_hits is not None and min_hits > 1))
            dhits = np.zeros(rng, dtype=np.int64) if need_hits else None
            for t, d, part in live:
                off = d - mn
                dscore[off] += idf[t] * part
                if dhits is not None:
                    dhits[off] += 1
            if need_hits:
                uniq = np.flatnonzero(dhits)
                hits = dhits[uniq]
            else:
                uniq = np.flatnonzero(dscore)
                hits = None
            scores = dscore[uniq]
            uniq = uniq + mn
            if mode == "and":
                m = hits == n_query_terms
                uniq, scores = uniq[m], scores[m]
            elif min_hits is not None and min_hits > 1:
                m = hits >= min_hits
                uniq, scores = uniq[m], scores[m]
            m = _drop_excl(uniq, excl)
            if m is not None:
                uniq, scores = uniq[m], scores[m]
            if after is not None:
                s0, d0 = float(after[0]), int(after[1])
                m = (scores < s0) | ((scores == s0) & (uniq > d0))
                uniq, scores = uniq[m], scores[m]
            return _topk_frame(uniq, scores, k)
    all_d, all_c, all_r = [], [], []
    for t, d, part in live:
        all_d.append(d)
        all_c.append(idf[t] * part)
        if req_terms is not None:
            all_r.append(np.full(d.shape[0], t in req_terms, dtype=bool))
    rq = np.concatenate(all_r) if req_terms is not None else None
    return _aggregate_topk(np.concatenate(all_d), np.concatenate(all_c),
                           k, mode, n_query_terms, after=after,
                           excl=excl, min_hits=min_hits,
                           req_mask=rq,
                           n_req=len(req_terms) if req_terms else 0)


def _score_candidates(per_term: dict[str, pd.DataFrame],
                      terms: list[str], cand: np.ndarray,
                      idf: dict[str, float], avgdl: float, k1: float,
                      b: float, k: int, mode: str, n_query_terms: int,
                      after: tuple[float, int] | None = None,
                      excl: np.ndarray | None = None,
                      min_hits: int | None = None,
                      req_terms: frozenset | None = None) -> pd.DataFrame:
    """Score ONLY the given candidate docids (sorted unique) — the
    org-scoped search path: per term, decode just the blocks whose
    [block_first, block_last] range intersects the candidate set, then
    restrict postings to candidates. Summation order (ascending term,
    concatenated) matches the exhaustive path, so scores are
    bit-identical to unrestricted scoring filtered to the candidates.
    ``req_terms``: bool must+should qualification (see _aggregate_topk)."""
    me = _drop_excl(cand, excl)
    if me is not None:
        cand = cand[me]     # deletes out of the candidate set up front
    all_d, all_c, all_r = [], [], []
    for t in sorted(terms):
        rows = _order_rows(per_term[t])
        firsts = np.concatenate([np.asarray(r.block_first)
                                 for r in rows.itertuples()])
        lasts = np.concatenate([np.asarray(r.block_last)
                                for r in rows.itertuples()])
        lo = np.searchsorted(cand, firsts, side="left")
        hi = np.searchsorted(cand, lasts, side="right")
        keep = lo < hi
        masks, pos = [], 0
        for r in rows.itertuples():
            sz = len(r.block_n)
            masks.append(keep[pos:pos + sz]); pos += sz
        d, tf, dl = _decode_selected(rows, masks)
        if d.size:
            p = np.searchsorted(cand, d)
            sel = (p < cand.shape[0])
            sel[sel] = cand[p[sel]] == d[sel]
            d, tf, dl = d[sel], tf[sel], dl[sel]
        all_d.append(d)
        all_c.append(idf[t] * codec.bm25_partial(tf, dl, avgdl, k1, b))
        if req_terms is not None:
            all_r.append(np.full(d.shape[0], t in req_terms, dtype=bool))
    if not all_d:
        return _aggregate_topk(np.empty(0, np.int64),
                               np.empty(0, np.float64), k, mode,
                               n_query_terms, after=after)
    rq = np.concatenate(all_r) if req_terms is not None else None
    return _aggregate_topk(np.concatenate(all_d), np.concatenate(all_c),
                           k, mode, n_query_terms, after=after,
                           min_hits=min_hits, req_mask=rq,
                           n_req=len(req_terms) if req_terms else 0)


def _fold_must(req_list: list[str], must: str | None,
               terms: list[str], mode: str,
               mh: int | None
               ) -> tuple[list[str], str, frozenset | None]:
    """Validate and fold a bool ``must`` clause into the query's term
    list: returns (all terms sorted, effective mode, required set or
    None). With no distinct should terms the bool degenerates to a
    plain conjunction (mode='and', no required set) — same result,
    existing pruned path."""
    if not must:
        return terms, mode, None
    if not req_list:
        raise ValueError("must analyzed to zero terms")
    if mode != "or":
        raise ValueError(
            "must= composes with mode='or' should terms; a pure "
            "conjunction is mode='and' on the query itself")
    reqs = frozenset(req_list)
    allt = sorted(set(terms) | reqs)
    if len(reqs) == len(allt):
        if mh is not None:
            raise ValueError(
                "min_should_match requires should terms beyond must")
        return allt, "and", None
    return allt, "or", reqs


def _apply_boosts(idf: dict[str, float], boosts, terms: list[str],
                  tokenizer, prefix: str) -> dict[str, float]:
    """Query-time per-term boosting (the Lucene TermQuery boost / ES
    ``"term"^2`` clause weight): scale the boosted term's idf, so its
    every score contribution — and, because block-max upper bounds are
    ``idf[t] * bm25_partial(max_tf, min_dl)``, its every WAND pruning
    bound — scales by the same factor. Pruned paths stay exact under
    boosting for free. Keys are analyzed (one term each) and must be
    query terms; weights must be finite and > 0."""
    if not boosts:
        return idf
    from .analyzer import tokenize_text
    out = dict(idf)
    tset = set(terms)
    for raw, w in boosts.items():
        w = float(w)
        if not (w > 0.0) or w != w or w == float("inf"):
            raise ValueError(f"boost for {raw!r} must be a finite "
                             f"positive number, got {w}")
        toks = tokenize_text(str(raw), tokenizer)
        if len(toks) != 1:
            raise ValueError(
                f"boost key {raw!r} must analyze to exactly one term "
                f"(got {toks}); boost each term separately")
        t = prefix + toks[0]
        if t not in tset:
            raise ValueError(
                f"boost key {raw!r} (term {t!r}) is not a query term")
        out[t] = out[t] * w
    return out


def _check_slop(slop, seq: list[str]) -> int:
    """Validate the ES match_phrase ``slop``: non-negative, and with
    slop > 0 the phrase terms must be distinct (a single occurrence
    could legally serve two slots of a repeated term inside one
    window — Lucene requires distinct positions, and the windowed
    vote kernel cannot tell them apart; exact adjacency keeps them
    distinct by construction, so slop=0 allows repeats)."""
    s = int(slop)
    if s < 0:
        raise ValueError(f"slop must be >= 0, got {s}")
    if s > 0 and len(set(seq)) != len(seq):
        raise ValueError(
            "repeated phrase terms with slop > 0 are not supported "
            "(Lucene's distinct-position rule)")
    return s


def _check_msm(min_should_match, mode: str) -> int | None:
    """Validate the ES minimum_should_match analog: OR-mode only
    (AND already requires every term), positive int."""
    if min_should_match is None:
        return None
    if mode != "or":
        raise ValueError("min_should_match applies to mode='or' "
                         "(AND already requires every term)")
    m = int(min_should_match)
    if m < 1:
        raise ValueError(f"min_should_match must be >= 1, got {m}")
    return m


_QSET_EMPTY = pd.DataFrame({"qid": pd.Series(dtype="str"),
                            "docid": pd.Series(dtype="int64"),
                            "score": pd.Series(dtype="float64")})


def score_query_set(pdf: pd.DataFrame, cand, qterms: dict[str, list[str]],
                    modes: dict[str, str], idf: dict[str, float],
                    avgdl: float, k1: float, b: float, k: int,
                    method: str, rng: tuple[int, int] | None = None,
                    excl: np.ndarray | None = None,
                    min_hits: int | None = None,
                    after: dict | None = None,
                    reqs: dict | None = None) -> pd.DataFrame:
    """Score a whole query SET against one shard's dictionary rows in
    one pass (shared by FTSIndex.topk_many and CombinedIndex.topk_many).
    ``cand`` (sorted unique docids) or ``rng`` ([lo, hi] interval — the
    contiguous-tenant fast path) restricts scoring to a tenant's docs;
    neither = unrestricted. ``excl`` (sorted tombstoned docids) is
    excluded in-kernel before each query's top-k truncation. ``after``
    maps qid → (score, docid) pagination cursor (r7): that query's
    results rank strictly after it, same contract as topk(after=).
    ``reqs`` maps qid → required-term frozenset (batch bool
    must+should, r7): that query's docs must match all of them, same
    contract as topk(must=)."""
    outs = []
    for qid, terms in qterms.items():
        if not terms:
            continue
        sub = pdf[pdf["term"].isin(terms)]
        if sub.empty:
            continue
        mh = min_hits if modes[qid] == "or" else None
        af = after.get(qid) if after else None
        rq = reqs.get(qid) if reqs else None
        if rng is not None:
            out = score_range_pt(sub, rng[0], rng[1], idf, avgdl, k1, b,
                                 k, modes[qid], len(terms), excl=excl,
                                 min_hits=mh, after=af, req_terms=rq)
        elif cand is None:
            out = score_shard(sub, idf, avgdl, k1, b, k,
                              modes[qid], len(terms), method, excl=excl,
                              min_hits=mh, after=af, req_terms=rq)
        else:
            pt = {t: sub[sub["term"] == t]
                  for t in sorted(sub["term"].unique())}
            out = _score_candidates(pt, list(pt), cand, idf, avgdl,
                                    k1, b, k, modes[qid], len(terms),
                                    excl=excl, min_hits=mh, after=af,
                                    req_terms=rq)
        outs.append(out.assign(qid=qid))
    if not outs:
        return _QSET_EMPTY
    return pd.concat(outs)[["qid", "docid", "score"]]


def _score_candidates_range(per_term: dict[str, pd.DataFrame],
                            terms: list[str], lo: int, hi: int,
                            idf: dict[str, float], avgdl: float,
                            k1: float, b: float, k: int, mode: str,
                            n_query_terms: int,
                            after: tuple[float, int] | None = None,
                            excl: np.ndarray | None = None,
                            min_hits: int | None = None,
                            req_terms: frozenset | None = None
                            ) -> pd.DataFrame:
    """Score ONLY docids in [lo, hi] — the contiguous-tenant fast path:
    routed builds rank docs by org within each shard, so a tenant's
    candidate set is an interval and the task carries TWO ints instead
    of the tenant's docid array. Block pruning on [block_first,
    block_last] ∩ [lo, hi]; summation order matches _score_candidates
    (ascending term, concatenated), so scores are bit-identical to the
    set-based path over the same candidates. ``req_terms``: bool
    must+should qualification (see _aggregate_topk)."""
    all_d, all_c, all_r = [], [], []
    for t in sorted(terms):
        rows = _order_rows(per_term[t])
        firsts = np.concatenate([np.asarray(r.block_first)
                                 for r in rows.itertuples()])
        lasts = np.concatenate([np.asarray(r.block_last)
                                for r in rows.itertuples()])
        keep = (lasts >= lo) & (firsts <= hi)
        masks, pos = [], 0
        for r in rows.itertuples():
            sz = len(r.block_n)
            masks.append(keep[pos:pos + sz]); pos += sz
        d, tf, dl = _decode_selected(rows, masks)
        if d.size:
            sel = (d >= lo) & (d <= hi)
            d, tf, dl = d[sel], tf[sel], dl[sel]
        all_d.append(d)
        all_c.append(idf[t] * codec.bm25_partial(tf, dl, avgdl, k1, b))
        if req_terms is not None:
            all_r.append(np.full(d.shape[0], t in req_terms, dtype=bool))
    if not all_d:
        return _aggregate_topk(np.empty(0, np.int64),
                               np.empty(0, np.float64), k, mode,
                               n_query_terms, after=after)
    rq = np.concatenate(all_r) if req_terms is not None else None
    return _aggregate_topk(np.concatenate(all_d), np.concatenate(all_c),
                           k, mode, n_query_terms, after=after,
                           excl=excl, min_hits=min_hits, req_mask=rq,
                           n_req=len(req_terms) if req_terms else 0)


def score_range_pt(pdf: pd.DataFrame, lo: int, hi: int,
                   idf: dict[str, float], avgdl: float, k1: float,
                   b: float, k: int, mode: str, n_query_terms: int,
                   after: tuple[float, int] | None = None,
                   excl: np.ndarray | None = None,
                   min_hits: int | None = None,
                   req_terms: frozenset | None = None) -> pd.DataFrame:
    """Range-restricted scoring of one shard's dictionary rows — the
    single entry point every contiguous-tenant fast path goes through
    (FTSIndex/CombinedIndex topk, topk_many, topk_local)."""
    pt = {t: pdf[pdf["term"] == t] for t in sorted(pdf["term"].unique())}
    return _score_candidates_range(pt, list(pt), lo, hi, idf, avgdl,
                                   k1, b, k, mode, n_query_terms,
                                   after=after, excl=excl,
                                   min_hits=min_hits,
                                   req_terms=req_terms)


def cand_score_group(idf: dict[str, float], avgdl: float, k1: float,
                     b: float, k: int, mode: str, n_query_terms: int,
                     after: tuple[float, int] | None = None,
                     excl: np.ndarray | None = None,
                     min_hits: int | None = None,
                     neg_terms: frozenset | None = None,
                     req_terms: frozenset | None = None):
    """Cogroup kernel factory: score ONLY the candidate docids arriving
    on the right side (a tenant's or a filter's docstore rows). BM25
    statistics stay GLOBAL — the ES bool-filter contract: results equal
    the unrestricted ranking filtered to the candidates. Shared by the
    org docid-set and metadata-filter paths of FTSIndex/CombinedIndex
    topk. ``excl`` (sorted tombstoned docids) leaves the candidate set
    before scoring, so each group returns k rows, not k+T. ``neg_terms``
    (ES bool.must_not) arrive as extra dictionary rows on the left and
    fold into the exclusion set (fold_neg_terms)."""

    def per_group(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"docid": pd.Series(dtype=np.int64),
                              "score": pd.Series(dtype=np.float64)})
        if lpdf.empty or rpdf.empty:
            return empty
        lpdf, ex = fold_neg_terms(lpdf, neg_terms, excl)
        if lpdf.empty:
            return empty
        cand = np.unique(rpdf["docid"].to_numpy(np.int64))
        pt = {t: lpdf[lpdf["term"] == t]
              for t in sorted(lpdf["term"].unique())}
        return _score_candidates(pt, list(pt), cand, idf, avgdl, k1, b,
                                 k, mode, n_query_terms, after=after,
                                 excl=ex, min_hits=min_hits,
                                 req_terms=req_terms)

    return per_group


def facet_count_group(mode: str, n_query_terms: int,
                      excl: np.ndarray | None = None):
    """Cogroup kernel factory for facet counting: left = one shard's
    dictionary rows for the query terms, right = that shard's docstore
    slice projected to (docid, value). Emits PARTIAL (value, cnt) rows
    — callers sum them with one small shuffle. Matching is boolean
    (and/or); docs whose facet value is NULL are not counted (the ES
    terms-agg default). ``excl`` (sorted tombstoned docids) leaves the
    match set before counting — exact counts with no post-correction.
    Shared by FTSIndex.facet_counts and CombinedIndex.facet_counts."""

    def per_group(lpdf: pd.DataFrame,
                  rpdf: pd.DataFrame) -> pd.DataFrame:
        out_empty = pd.DataFrame({"value": pd.Series(dtype=object),
                                  "cnt": pd.Series(dtype=np.int64)})
        if lpdf.empty or rpdf.empty:
            return out_empty
        res = _boolean_match_group(lpdf, mode, n_query_terms, excl)
        if res.size == 0:
            return out_empty
        hit = rpdf[np.isin(rpdf["docid"].to_numpy(np.int64), res,
                           assume_unique=True)]
        vc = hit["value"].value_counts()   # dropna: NULLs uncounted
        if vc.empty:
            return out_empty
        return pd.DataFrame({"value": vc.index.astype(object),
                             "cnt": vc.to_numpy(np.int64)})

    return per_group


def _boolean_match_group(lpdf: pd.DataFrame, mode: str,
                         n_query_terms: int,
                         excl: np.ndarray | None) -> np.ndarray:
    """One shard's boolean match set (sorted docids) from its
    dictionary rows — the shared matching step of facet_count_group /
    facet_stats_group / sort_match_group."""
    res: np.ndarray | None = None
    union: list[np.ndarray] = []
    for t in sorted(lpdf["term"].unique()):
        d, _, _ = _decode_term_rows(lpdf[lpdf["term"] == t])
        if mode == "and":
            res = d if res is None else np.intersect1d(
                res, d, assume_unique=True)
        else:
            union.append(d)
    if mode == "and":
        if lpdf["term"].nunique() < n_query_terms or res is None:
            res = np.empty(0, dtype=np.int64)
    else:
        res = (np.unique(np.concatenate(union))
               if union else np.empty(0, dtype=np.int64))
    me = _drop_excl(res, excl)
    if me is not None:
        res = res[me]
    return res


def sort_match_group(mode: str, n_query_terms: int, k: int,
                     descending: bool,
                     excl: np.ndarray | None = None):
    """Cogroup kernel factory for sort-by-field search (the ES sort
    clause — filter context, NO scoring): boolean-match the query per
    shard exactly as the facet kernels do, then emit that shard's
    top-k (docid, sort_val) by (sort_val, docid asc) — a per-shard
    PARTIAL top-k. The caller's global order/limit runs over
    num_shards * k rows; matched docs never shuffle. Docs whose sort
    key is NULL are omitted (compose `filter="col IS NOT NULL"` /
    a COALESCE expression for ES missing:_first/_last semantics).
    ``excl`` (sorted tombstoned docids) leaves the match set first."""

    def per_group(lpdf: pd.DataFrame,
                  rpdf: pd.DataFrame) -> pd.DataFrame:
        out_empty = pd.DataFrame(
            {"docid": pd.Series(dtype=np.int64),
             "sort_val": pd.Series(dtype=np.float64)})
        if lpdf.empty or rpdf.empty:
            return out_empty
        res = _boolean_match_group(lpdf, mode, n_query_terms, excl)
        if res.size == 0:
            return out_empty
        hit = rpdf[np.isin(rpdf["docid"].to_numpy(np.int64), res,
                           assume_unique=True)]
        hit = hit.dropna(subset=["value"])
        if hit.empty:
            return out_empty
        v = hit["value"].to_numpy(np.float64)
        d = hit["docid"].to_numpy(np.int64)
        order = np.lexsort((d, -v if descending else v))[:k]
        return pd.DataFrame({"docid": d[order], "sort_val": v[order]})

    return per_group


def facet_stats_group(mode: str, n_query_terms: int,
                      excl: np.ndarray | None = None):
    """Cogroup kernel factory for facet METRIC aggregation (the ES
    stats/min/max/sum/avg aggs under a terms bucket): left = one
    shard's dictionary rows for the query terms, right = that shard's
    docstore slice projected to (docid, value, metric). Emits PARTIAL
    per-value rows (value, cnt, mcnt, mn, mx, sm) — callers combine
    them with one small shuffle (sums add, mins min, maxes max; avg =
    total sm / total mcnt, exact because sums combine associatively).
    NULL facet values are not bucketed (ES default); NULL metrics
    count toward cnt but not mcnt/mn/mx/sm (SQL aggregate semantics).
    Partial groups with no metric values emit (+inf, -inf, 0) so the
    combine stays NaN-free; the final projection nulls them out when
    the total mcnt is 0. Shared by FTSIndex.facet_metrics and
    CombinedIndex.facet_metrics."""

    def per_group(lpdf: pd.DataFrame,
                  rpdf: pd.DataFrame) -> pd.DataFrame:
        out_empty = pd.DataFrame({
            "value": pd.Series(dtype=object),
            "cnt": pd.Series(dtype=np.int64),
            "mcnt": pd.Series(dtype=np.int64),
            "mn": pd.Series(dtype=np.float64),
            "mx": pd.Series(dtype=np.float64),
            "sm": pd.Series(dtype=np.float64)})
        if lpdf.empty or rpdf.empty:
            return out_empty
        res = _boolean_match_group(lpdf, mode, n_query_terms, excl)
        if res.size == 0:
            return out_empty
        hit = rpdf[np.isin(rpdf["docid"].to_numpy(np.int64), res,
                           assume_unique=True)]
        hit = hit[hit["value"].notna()]
        if hit.empty:
            return out_empty
        g = hit.groupby("value", sort=False)
        agg = g.agg(cnt=("docid", "size"), mcnt=("metric", "count"),
                    mn=("metric", "min"), mx=("metric", "max"),
                    sm=("metric", "sum")).reset_index()
        nomet = agg["mcnt"] == 0
        agg.loc[nomet, "mn"] = np.inf
        agg.loc[nomet, "mx"] = -np.inf
        agg.loc[nomet, "sm"] = 0.0
        agg["value"] = agg["value"].astype(object)
        return agg

    return per_group


def _facet_metrics_finalize(part: DataFrame, k: int) -> DataFrame:
    """Combine per-shard partial stats rows into the final ES-stats
    shape: (value, doc_count, metric_count, min, max, sum, avg)."""
    agg = (part.groupBy("value")
           .agg(F.sum("cnt").alias("doc_count"),
                F.sum("mcnt").alias("metric_count"),
                F.min("mn").alias("_mn"), F.max("mx").alias("_mx"),
                F.sum("sm").alias("_sm")))
    has = F.col("metric_count") > 0
    return (agg.select(
                "value", "doc_count", "metric_count",
                F.when(has, F.col("_mn")).alias("min"),
                F.when(has, F.col("_mx")).alias("max"),
                F.when(has, F.col("_sm")).alias("sum"),
                F.when(has, F.col("_sm")
                       / F.col("metric_count")).alias("avg"))
            .orderBy(F.desc("doc_count"), F.asc("value"))
            .limit(k))


def _facet_percentiles_finalize(part: DataFrame, ps: list[float],
                                k: int, exact: bool,
                                accuracy: int) -> DataFrame:
    """Aggregate the kernel's (value, metric) rows into the final ES
    percentiles shape: (value, doc_count, p, pctl), one row per
    (bucket, percentile), top-k buckets by doc_count desc / value
    asc. Shared by FTSIndex/CombinedIndex.facet_percentiles."""
    frac = "array(" + ", ".join(repr(p / 100.0) for p in ps) + ")"
    qexpr = (f"percentile(metric, {frac})" if exact
             else f"percentile_approx(metric, {frac}, {accuracy})")
    agg = (part.groupBy("value")
           .agg(F.count("*").alias("doc_count"),
                F.expr(qexpr).alias("_q"))
           .orderBy(F.desc("doc_count"), F.asc("value"))
           .limit(k))
    parr = F.array(*[F.lit(p) for p in ps])
    return (agg.select("value", "doc_count",
                       F.posexplode("_q").alias("_pos", "pctl"))
            .select("value", "doc_count",
                    F.element_at(parr, F.col("_pos") + 1).alias("p"),
                    "pctl")
            .orderBy(F.desc("doc_count"), F.asc("value"),
                     F.asc("p")))


def _facet_top_hits_finalize(part: DataFrame, k_buckets: int,
                             k_hits: int) -> DataFrame:
    """Combine the kernel's per-(shard, bucket) partial top-hit rows
    into the final ES top_hits shape: (value, doc_count, rank, docid,
    score). Per-shard partial counts collapse per (shard, value)
    before summing (the kernel repeats cnt on each of a bucket's
    rows); bucket selection is a broadcast join of the top-k_buckets
    aggregate. Shared by FTSIndex/CombinedIndex.facet_top_hits."""
    from pyspark.sql import Window
    counts = (part.select("shard", "value", "cnt").distinct()
              .groupBy("value").agg(F.sum("cnt").alias("doc_count")))
    buckets = (counts.orderBy(F.desc("doc_count"), F.asc("value"))
               .limit(k_buckets))
    w = Window.partitionBy("value").orderBy(F.desc("score"),
                                            F.asc("docid"))
    hits = (part.select("value", "docid", "score")
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k_hits))
    return (hits.join(F.broadcast(buckets), "value")
            .select("value", "doc_count",
                    F.col("rank").cast("int").alias("rank"),
                    "docid", "score")
            .orderBy(F.desc("doc_count"), F.asc("value"),
                     F.asc("rank")))


def facet_values_group(mode: str, n_query_terms: int,
                       excl: np.ndarray | None = None):
    """Cogroup kernel factory for VALUE-LEVEL facet aggregation (the
    ES percentiles-agg path): left = one shard's dictionary rows for
    the query terms, right = its docstore slice projected to (docid,
    value, metric). Emits the matched docs' (value, metric) rows —
    one per matched doc with a non-NULL bucket AND metric (ES
    percentiles skip missing values) — so the caller's aggregate
    (exact `percentile` or the `percentile_approx` quantile sketch)
    runs its map-side partial directly on the kernel's output
    partitions: on the sketch path the exchange carries per-bucket
    partial sketches, never raw docs. Tombstones leave the match set
    in-kernel."""

    def per_group(lpdf: pd.DataFrame,
                  rpdf: pd.DataFrame) -> pd.DataFrame:
        out_empty = pd.DataFrame(
            {"value": pd.Series(dtype=object),
             "metric": pd.Series(dtype=np.float64)})
        if lpdf.empty or rpdf.empty:
            return out_empty
        res = _boolean_match_group(lpdf, mode, n_query_terms, excl)
        if res.size == 0:
            return out_empty
        hit = rpdf[np.isin(rpdf["docid"].to_numpy(np.int64), res,
                           assume_unique=True)]
        hit = hit[hit["value"].notna() & hit["metric"].notna()]
        if hit.empty:
            return out_empty
        return pd.DataFrame(
            {"value": hit["value"].astype(object),
             "metric": hit["metric"].to_numpy(np.float64)})

    return per_group


def top_hits_group(idf: dict[str, float], avgdl: float, k1: float,
                   b: float, k_hits: int, mode: str,
                   n_query_terms: int,
                   excl: np.ndarray | None = None):
    """Cogroup kernel factory for the ES top_hits agg nested under a
    terms bucket: left = one shard's dictionary rows for the query
    terms, right = its docstore slice projected to (docid, value).
    Scores the matched docs with GLOBAL BM25 stats via the exact
    candidate-scoring path (scores equal the plain topk ranking
    restricted to each bucket — the ES contract: _score is the
    query's, buckets just group the hits), then emits each bucket's
    per-shard PARTIAL top-k_hits as (shard, value, cnt, docid,
    score); ``cnt`` is the shard's partial bucket doc count, repeated
    on each of that bucket's rows (callers collapse per (shard,
    value) before summing — every non-empty bucket emits ≥1 hit row,
    so no partial count is ever lost). NULL bucket values drop (ES
    terms-agg default); tombstones leave the candidate set before
    scoring."""

    def per_group(lpdf: pd.DataFrame,
                  rpdf: pd.DataFrame) -> pd.DataFrame:
        out_empty = pd.DataFrame(
            {"shard": pd.Series(dtype=object),
             "value": pd.Series(dtype=object),
             "cnt": pd.Series(dtype=np.int64),
             "docid": pd.Series(dtype=np.int64),
             "score": pd.Series(dtype=np.float64)})
        if lpdf.empty or rpdf.empty:
            return out_empty
        rpdf = rpdf[rpdf["value"].notna()]
        if rpdf.empty:
            return out_empty
        cand = np.unique(rpdf["docid"].to_numpy(np.int64))
        pt = {t: lpdf[lpdf["term"] == t]
              for t in sorted(lpdf["term"].unique())}
        scored = _score_candidates(pt, list(pt), cand, idf, avgdl,
                                   k1, b, 1 << 62, mode,
                                   n_query_terms, excl=excl)
        if scored.empty:
            return out_empty
        hit = scored.merge(rpdf[["docid", "value"]], on="docid",
                           how="inner")
        # group label: distinct per cogroup key — (sub, shard) in the
        # CombinedIndex twin, so partial counts never collapse across
        # generations sharing a shard number
        shard = "|".join(str(lpdf[c].iloc[0])
                         for c in ("sub", "shard")
                         if c in lpdf.columns)
        cnts = hit.groupby("value", sort=False)["docid"].transform(
            "size")
        order = np.lexsort((hit["docid"].to_numpy(np.int64),
                            -hit["score"].to_numpy(np.float64)))
        hs = hit.iloc[order]
        cs = cnts.iloc[order]
        keep = hs.groupby("value", sort=False).cumcount() < k_hits
        hs, cs = hs[keep], cs[keep]
        return pd.DataFrame(
            {"shard": shard,
             "value": hs["value"].astype(object).to_numpy(),
             "cnt": cs.to_numpy(np.int64),
             "docid": hs["docid"].to_numpy(np.int64),
             "score": hs["score"].to_numpy(np.float64)})

    return per_group


def _score_or_wand_after(per_term: dict[str, pd.DataFrame],
                         terms: list[str], idf: dict[str, float],
                         avgdl: float, k1: float, b: float, k: int,
                         n_query_terms: int, after: tuple[float, int],
                         excl: np.ndarray | None = None,
                         min_hits: int | None = None) -> pd.DataFrame:
    """Cursor-aware block-max pruning for OR-mode deep pagination
    (exact; VERDICT r5 #6). The plain WAND seed is unsound here: a
    seed doc's PARTIAL sum can sit under the cursor score while its
    full score exceeds it, so a θ taken from partials could prune
    genuinely qualifying docs. Instead, θ comes only from seed docs
    the decode PROVES complete — a doc is complete when, for every
    query term, it lies outside all UNDECODED block ranges (block
    [first, last] metadata, no extra decode), so its partial IS its
    full score. Multi-term queries rarely finish complete in one
    round (a sparse term's undecoded blocks span wide docid ranges),
    so a SECOND bounded round decodes exactly the blocks that stab
    the highest-partial incomplete docs (≤ 4k of them), completing
    them. θ = k-th best complete score ranking strictly after the
    cursor — a valid lower bound on the page's k-th score — then the
    standard upper-bound sweep prunes blocks exactly as the
    first-page path does. Deep pages decode the seed plus only the
    blocks whose ub-sum clears θ, instead of every posting."""
    s0, d0 = float(after[0]), int(after[1])
    tinfo = {}
    for t in terms:
        rows = _order_rows(per_term[t])
        firsts = np.concatenate([np.asarray(r.block_first)
                                 for r in rows.itertuples()])
        lasts = np.concatenate([np.asarray(r.block_last)
                                for r in rows.itertuples()])
        maxtf = np.concatenate([np.asarray(r.block_max_tf)
                                for r in rows.itertuples()])
        mindl = np.concatenate([np.asarray(r.block_min_dl)
                                for r in rows.itertuples()])
        ub = idf[t] * codec.bm25_partial(maxtf, mindl, avgdl, k1, b)
        row_sizes = [len(r.block_n) for r in rows.itertuples()]
        tinfo[t] = (rows, firsts, lasts, ub, row_sizes)

    dec_d: dict[str, list] = {t: [] for t in terms}
    dec_c: dict[str, list] = {t: [] for t in terms}
    undec: dict[str, np.ndarray] = {}

    def decode_marked(t: str, keep: np.ndarray) -> None:
        rows, firsts, lasts, ub, row_sizes = tinfo[t]
        masks, pos = [], 0
        for sz in row_sizes:
            masks.append(keep[pos:pos + sz]); pos += sz
        d, tf, dl = _decode_selected(rows, masks)
        dec_d[t].append(d)
        dec_c[t].append(idf[t] * codec.bm25_partial(tf, dl, avgdl,
                                                    k1, b))
        undec[t] = undec[t] & ~keep if t in undec else ~keep

    def aggregate():
        ds = [a for t in terms for a in dec_d[t]]   # ascending-term
        cs = [a for t in terms for a in dec_c[t]]
        sd = np.concatenate(ds) if ds else np.empty(0, np.int64)
        sc = np.concatenate(cs) if cs else np.empty(0, np.float64)
        m = _drop_excl(sd, excl)
        if m is not None:
            sd, sc = sd[m], sc[m]
        if sd.size == 0:
            return (np.empty(0, np.int64), np.empty(0, np.float64),
                    np.empty(0, np.int64))
        uniq, inv = np.unique(sd, return_inverse=True)
        part = np.zeros(uniq.shape[0])
        np.add.at(part, inv, sc)    # ascending-term order: bit-exact
        return uniq, part, np.bincount(inv, minlength=uniq.shape[0])

    def completeness(uniq: np.ndarray) -> np.ndarray:
        complete = np.ones(uniq.shape[0], dtype=bool)
        for t in terms:
            um = undec[t]
            if not um.any():
                continue
            _, firsts, lasts, _, _ = tinfo[t]
            uf, ul = firsts[um], lasts[um]
            # block ranges of one term are disjoint and ascending
            # (docids strictly increase across its ordered blocks), so
            # a single searchsorted candidate decides the stab
            j = np.searchsorted(ul, uniq)
            hit = j < ul.shape[0]
            hit[hit] = uf[j[hit]] <= uniq[hit]
            complete &= ~hit
        return complete

    # round 1: decode each term's top-m blocks by ub
    m_seed = max(1, -(-k // codec.BLOCK)) + 1
    for t in terms:
        ub = tinfo[t][3]
        top = np.argsort(-ub)[:m_seed]
        keep = np.zeros(ub.shape[0], dtype=bool)
        keep[top] = True
        decode_marked(t, keep)
    uniq, part, nhits = aggregate()
    complete = completeness(uniq)

    # round 2 (bounded): complete the ≤4k highest-partial incomplete
    # docs by decoding exactly the blocks that stab them
    inc = ~complete
    if inc.any():
        docs2 = uniq[inc]
        order = np.argsort(-part[inc])[:4 * k]
        docs2 = np.sort(docs2[order])
        for t in terms:
            um = undec[t]
            if not um.any():
                continue
            _, firsts, lasts, _, _ = tinfo[t]
            uidx = np.flatnonzero(um)
            uf, ul = firsts[uidx], lasts[uidx]
            j = np.searchsorted(ul, docs2)
            ok = j < ul.shape[0]
            ok[ok] = uf[j[ok]] <= docs2[ok]
            if not ok.any():
                continue
            keep = np.zeros(um.shape[0], dtype=bool)
            keep[uidx[np.unique(j[ok])]] = True
            decode_marked(t, keep)
        uniq, part, nhits = aggregate()
        complete = completeness(uniq)

    theta = 0.0
    if uniq.size:
        qual = complete & ((part < s0) | ((part == s0) & (uniq > d0)))
        if min_hits is not None and min_hits > 1:
            # a COMPLETE doc's hit count is exact, so the msm test is
            # exact for the theta pool
            qual &= nhits >= min_hits
        qs_ = part[qual]
        if qs_.shape[0] >= k:
            theta = float(np.sort(qs_)[-k])

    # sweep: identical upper-bound machinery to the first-page path
    pts, deltas = [], []
    for t in terms:
        _, firsts, lasts, ub, _ = tinfo[t]
        pts.append(firsts); deltas.append(ub)
        pts.append(lasts + 1); deltas.append(-ub)
    xs = np.concatenate(pts)
    ds_ = np.concatenate(deltas)
    order = np.argsort(xs, kind="stable")
    xs, ds_ = xs[order], ds_[order]
    bounds = np.unique(xs)
    seg_ub = np.add.reduceat(ds_, np.searchsorted(xs, bounds,
                                                  side="left"))
    seg_ub = np.cumsum(seg_ub)
    live = (seg_ub >= theta if theta > 0
            else np.ones_like(seg_ub, dtype=bool))
    starts = bounds[live]
    nxt = np.append(bounds[1:], np.iinfo(np.int64).max)
    ends = nxt[live]

    all_d, all_c = [], []
    for t in terms:
        rows, firsts, lasts, ub, row_sizes = tinfo[t]
        ii = np.searchsorted(ends, firsts, side="right")
        keep = ((ii < starts.shape[0])
                & (starts[np.minimum(ii, starts.shape[0] - 1)]
                   <= lasts))
        masks, pos = [], 0
        for sz in row_sizes:
            masks.append(keep[pos:pos + sz]); pos += sz
        d, tf, dl = _decode_selected(rows, masks)
        if d.size:
            jj = np.searchsorted(ends, d, side="right")
            inlive = ((jj < starts.shape[0])
                      & (starts[np.minimum(jj, starts.shape[0] - 1)]
                         <= d))
            d, tf, dl = d[inlive], tf[inlive], dl[inlive]
        all_d.append(d)
        all_c.append(idf[t] * codec.bm25_partial(tf, dl, avgdl, k1, b))
    if not all_d:
        return _aggregate_topk(np.empty(0, np.int64),
                               np.empty(0, np.float64), k, "or",
                               n_query_terms, after=after)
    return _aggregate_topk(np.concatenate(all_d),
                           np.concatenate(all_c), k, "or",
                           n_query_terms, after=after, excl=excl,
                           min_hits=min_hits)


def score_shard(pdf: pd.DataFrame, idf: dict[str, float], avgdl: float,
                k1: float, b: float, k: int, mode: str,
                n_query_terms: int, method: str = "wand",
                after: tuple[float, int] | None = None,
                excl: np.ndarray | None = None,
                min_hits: int | None = None,
                req_terms: frozenset | None = None) -> pd.DataFrame:
    """Score one shard's dictionary rows (all query terms) → top-k.
    With ``after`` (deep-pagination cursor), OR-mode WAND switches to
    the cursor-aware pruned path (_score_or_wand_after, r6): exact at
    any depth, pruning via a θ seeded from docs the seed decode proves
    COMPLETE (method='exact' keeps the exhaustive reference behavior).
    ``excl`` (sorted tombstoned docids) is excluded before truncation
    in every branch; on the WAND path it is also dropped from the
    θ-seed so a high-scoring deleted doc can never inflate θ above a
    live doc's score (θ stays a lower bound on the k-th SURVIVOR).

    ``req_terms`` (Lucene bool must+should, r7): required subset of
    the terms — candidates must match all of them; the pruned path is
    conjunction-driven (_score_bool_pruned), which subsumes WAND here
    because the musts bound the candidate set, and is exact at any
    cursor depth."""
    terms = sorted(pdf["term"].unique())
    per_term = {t: pdf[pdf["term"] == t] for t in terms}
    if req_terms:
        shoulds = [t for t in terms if t not in req_terms]
        if method == "exact":
            all_d, all_c, all_r = [], [], []
            for t in terms:
                d, tf, dl = _decode_term_rows(per_term[t])
                all_d.append(d)
                all_c.append(idf[t] * codec.bm25_partial(tf, dl, avgdl,
                                                         k1, b))
                all_r.append(np.full(d.shape[0], t in req_terms,
                                     dtype=bool))
            if not all_d:
                return _aggregate_topk(np.empty(0, np.int64),
                                       np.empty(0, np.float64), k,
                                       mode, n_query_terms, after=after)
            return _aggregate_topk(
                np.concatenate(all_d), np.concatenate(all_c), k, mode,
                n_query_terms, after=after, excl=excl,
                min_hits=min_hits, req_mask=np.concatenate(all_r),
                n_req=len(req_terms))
        return _score_bool_pruned(per_term, req_terms, shoulds, idf,
                                  avgdl, k1, b, k, after=after,
                                  excl=excl, min_hits=min_hits)
    if after is not None and mode != "and":
        if method == "wand":
            return _score_or_wand_after(per_term, terms, idf, avgdl,
                                        k1, b, k, n_query_terms,
                                        after, excl, min_hits=min_hits)
        method = "exact"

    if method == "exact":
        # exhaustive reference path: decode every posting of every term
        all_d, all_c = [], []
        for t in terms:
            d, tf, dl = _decode_term_rows(per_term[t])
            all_d.append(d)
            all_c.append(idf[t] * codec.bm25_partial(tf, dl, avgdl, k1, b))
        if not all_d:
            return _aggregate_topk(np.empty(0, np.int64),
                                   np.empty(0, np.float64), k, mode,
                                   n_query_terms, after=after)
        return _aggregate_topk(np.concatenate(all_d), np.concatenate(all_c),
                               k, mode, n_query_terms, after=after,
                               excl=excl, min_hits=min_hits)

    if mode == "and":
        return _score_and_pruned(per_term, terms, idf, avgdl, k1, b, k,
                                 n_query_terms, after=after, excl=excl)

    # ---- block-max pruning (exact top-k; see module docstring) ----
    # Per term: flat arrays over all blocks of all chunk rows.
    tinfo = {}
    for t in terms:
        rows = _order_rows(per_term[t])
        firsts = np.concatenate([np.asarray(r.block_first) for r in rows.itertuples()])
        lasts = np.concatenate([np.asarray(r.block_last) for r in rows.itertuples()])
        # block upper bound computed AT QUERY TIME from (max_tf, min_dl):
        # the BM25 partial is increasing in tf and decreasing in dl, so
        # partial(max_tf, min_dl) dominates every posting in the block
        # under the avgdl of THIS query (exact for any corpus composition,
        # including base+delta streaming unions).
        maxtf = np.concatenate([np.asarray(r.block_max_tf) for r in rows.itertuples()])
        mindl = np.concatenate([np.asarray(r.block_min_dl) for r in rows.itertuples()])
        ub = idf[t] * codec.bm25_partial(maxtf, mindl, avgdl, k1, b)
        row_sizes = [len(r.block_n) for r in rows.itertuples()]
        tinfo[t] = (rows, firsts, lasts, ub, row_sizes)

    # seed: decode each term's top-m blocks by ub → lower bound θ on k-th best
    m_seed = max(1, -(-k // codec.BLOCK)) + 1
    seed_d, seed_c = [], []
    for t in terms:
        rows, firsts, lasts, ub, row_sizes = tinfo[t]
        top = np.argsort(-ub)[:m_seed]
        keep = np.zeros(ub.shape[0], dtype=bool)
        keep[top] = True
        masks, pos = [], 0
        for sz in row_sizes:
            masks.append(keep[pos:pos + sz]); pos += sz
        d, tf, dl = _decode_selected(rows, masks)
        seed_d.append(d)
        seed_c.append(idf[t] * codec.bm25_partial(tf, dl, avgdl, k1, b))
    sd = np.concatenate(seed_d) if seed_d else np.empty(0, np.int64)
    sc = np.concatenate(seed_c) if seed_c else np.empty(0, np.float64)
    ms = _drop_excl(sd, excl)
    if ms is not None:
        sd, sc = sd[ms], sc[ms]
    if sd.size:
        uniq, inv = np.unique(sd, return_inverse=True)
        part = np.zeros(uniq.shape[0])
        np.add.at(part, inv, sc)
        if min_hits is not None and min_hits > 1:
            # seed hit counts UNDERESTIMATE true hits, so requiring
            # >= min_hits here only shrinks the theta pool — theta
            # stays a valid lower bound on the k-th qualifying score
            h = np.bincount(inv, minlength=uniq.shape[0])
            part = part[h >= min_hits]
        theta = float(np.sort(part)[-k]) if part.shape[0] >= k else 0.0
    else:
        theta = 0.0

    # sweep: piecewise-constant sum of block ubs over docid space
    pts, deltas = [], []
    for t in terms:
        _, firsts, lasts, ub, _ = tinfo[t]
        pts.append(firsts); deltas.append(ub)
        pts.append(lasts + 1); deltas.append(-ub)
    xs = np.concatenate(pts)
    ds = np.concatenate(deltas)
    order = np.argsort(xs, kind="stable")
    xs, ds = xs[order], ds[order]
    bounds = np.unique(xs)
    # cumulative ub at each boundary start
    seg_ub = np.add.reduceat(ds, np.searchsorted(xs, bounds, side="left"))
    seg_ub = np.cumsum(seg_ub)
    live = seg_ub >= theta if theta > 0 else np.ones_like(seg_ub, dtype=bool)
    # candidate intervals [bounds[i], bounds[i+1]) where live
    starts = bounds[live]
    nxt = np.append(bounds[1:], np.iinfo(np.int64).max)
    ends = nxt[live]  # exclusive

    all_d, all_c = [], []
    for t in terms:
        rows, firsts, lasts, ub, row_sizes = tinfo[t]
        # block [f,l] intersects some candidate interval [s,e)?
        # idx of first interval with end > f; intersects iff start <= l
        ii = np.searchsorted(ends, firsts, side="right")
        keep = (ii < starts.shape[0]) & (starts[np.minimum(ii, starts.shape[0] - 1)] <= lasts)
        masks, pos = [], 0
        for sz in row_sizes:
            masks.append(keep[pos:pos + sz]); pos += sz
        d, tf, dl = _decode_selected(rows, masks)
        if d.size:
            # restrict to candidate docids
            jj = np.searchsorted(ends, d, side="right")
            inlive = (jj < starts.shape[0]) & (starts[np.minimum(jj, starts.shape[0] - 1)] <= d)
            d, tf, dl = d[inlive], tf[inlive], dl[inlive]
        all_d.append(d)
        all_c.append(idf[t] * codec.bm25_partial(tf, dl, avgdl, k1, b))
    if not all_d:
        return _aggregate_topk(np.empty(0, np.int64), np.empty(0, np.float64),
                               k, mode, n_query_terms, after=after)
    return _aggregate_topk(np.concatenate(all_d), np.concatenate(all_c),
                           k, "or", n_query_terms, after=after, excl=excl,
                           min_hits=min_hits)


def _decode_term_rows_pos(rows: pd.DataFrame):
    """Decode all chunks of one term WITH positions → (docids, tfs, dls,
    positions, posting→position-slice bounds)."""
    d, t, l, p = [], [], [], []
    for r in _order_rows(rows).itertuples():
        dd, tt, ll, pp = codec.decode_postings(
            r.blob, np.asarray(r.block_off), np.asarray(r.block_n),
            with_positions=True)
        d.append(dd); t.append(tt); l.append(ll); p.append(pp)
    dd = np.concatenate(d); tt = np.concatenate(t)
    ll = np.concatenate(l); pp = np.concatenate(p)
    pb = np.concatenate(([0], np.cumsum(tt)))
    return dd, tt, ll, pp, pb


def _phrase_shard(pdf: pd.DataFrame, seq: list[str], uniq: list[str],
                  idf: dict[str, float], avgdl: float, k1: float, b: float,
                  k: int, org_cand: np.ndarray | None = None,
                  org_range: tuple[int, int] | None = None,
                  excl: np.ndarray | None = None,
                  slop: int = 0) -> pd.DataFrame:
    """One shard's phrase matching + BM25 ranking (see phrase_topk).
    ``org_cand`` (sorted docids) or ``org_range`` ([lo, hi] interval —
    the contiguous-tenant fast path) restricts matching to a tenant's
    docs before any position work; ``excl`` (sorted tombstoned docids)
    leaves the candidate set before it too.

    ``slop`` (r7, the ES match_phrase slop / Lucene SloppyPhraseQuery
    window): a doc matches iff one occurrence position can be chosen
    per phrase slot with max(pos_i − i) − min(pos_i − i) ≤ slop —
    slop=0 is exact adjacency, and a transposition ('b a' vs 'a b')
    costs 2, exactly Lucene's accounting. Vectorized as a windowed
    generalization of the start-key vote: slot i's occurrence at
    position p votes for every anchor key in [p−i−slop, p−i]
    (per-slot deduped — one slot never double-counts an anchor), and
    an anchor collecting all len(seq) slots is a match. Repeated
    phrase terms with slop>0 are rejected at the API layer (a single
    occurrence could legally serve two slots of the same term in one
    window, which Lucene forbids)."""
    out_empty = pd.DataFrame({"docid": pd.Series(dtype=np.int64),
                              "score": pd.Series(dtype=np.float64)})
    per_term = {}
    for t in uniq:
        sub = pdf[pdf["term"] == t]
        if sub.empty:
            return out_empty  # a phrase term missing from this shard
        per_term[t] = _decode_term_rows_pos(sub)
    # AND candidates
    cand = None
    for t in uniq:
        d = per_term[t][0]
        cand = d if cand is None else np.intersect1d(cand, d,
                                                     assume_unique=True)
    if org_cand is not None and cand is not None:
        cand = np.intersect1d(cand, org_cand, assume_unique=True)
    if org_range is not None and cand is not None:
        cand = cand[(cand >= org_range[0]) & (cand <= org_range[1])]
    if cand is not None:
        me = _drop_excl(cand, excl)
        if me is not None:
            cand = cand[me]
    if cand is None or cand.size == 0:
        return out_empty
    # Vectorized adjacency over flat position arrays (no per-doc Python
    # loop): for phrase offset i, each occurrence of seq[i] at position p
    # in doc d votes for phrase-start key d*M + (p - i + L). A key
    # collecting exactly len(seq) votes is a phrase start — each offset i
    # contributes a given key at most once (positions are unique within a
    # (term, doc) posting), so np.unique counts decide.
    L = len(seq)
    s = int(slop)
    maxpos = max(int(per_term[t][3].max()) if per_term[t][3].size else 0
                 for t in uniq)
    M = np.int64(maxpos + 2 * L + 2 + s)
    keys = []
    for i, t in enumerate(seq):
        dd, tt, ll, pp, pb = per_term[t]
        j = np.searchsorted(dd, cand)          # cand ⊆ dd by construction
        lens = tt[j]
        starts = pb[j]
        total = int(lens.sum())
        if total == 0:
            return out_empty
        cum = np.concatenate(([0], np.cumsum(lens)))
        gather = (np.arange(total, dtype=np.int64)
                  - np.repeat(cum[:-1], lens) + np.repeat(starts, lens))
        posi = pp[gather]
        docs = np.repeat(cand, lens)
        base = docs * M + (posi - i + L + s)
        if s == 0:
            keys.append(base)
        else:
            # windowed vote: anchors base-δ, δ ∈ [0, slop]; dedupe so
            # close occurrences of THIS slot never double-vote a key
            keys.append(np.unique(
                (base[:, None]
                 - np.arange(s + 1, dtype=np.int64)).ravel()))
    allk = np.concatenate(keys)
    uk, counts = np.unique(allk, return_counts=True)
    hits = uk[counts == L]
    if hits.size == 0:
        return out_empty
    marr = np.unique(hits // M)
    scores = np.zeros(marr.shape[0], dtype=np.float64)
    for t in uniq:  # fixed ascending-term summation order
        dd, tt, ll, _, _ = per_term[t]
        j = np.searchsorted(dd, marr)
        scores += idf[t] * codec.bm25_partial(tt[j], ll[j], avgdl, k1, b)
    return _topk_frame(marr, scores, k)


def _phrase_prefix_shard(pdf: pd.DataFrame, fixed_seq: list[str],
                         uniq_fixed: list[str], exps: list[str],
                         idf: dict[str, float], avgdl: float,
                         k1: float, b: float, k: int,
                         excl: np.ndarray | None = None
                         ) -> pd.DataFrame:
    """match_phrase_prefix kernel (the ES match_phrase_prefix / Lucene
    MultiPhraseQuery shape): the fixed tokens must occur consecutively
    and SOME dictionary expansion of the trailing prefix must occupy
    the next position. Same vectorized start-key voting as
    _phrase_shard for the fixed offsets; each expansion then
    intersects its own keys at the final offset with the qualifying
    start keys. Score = BM25 over the DISTINCT terms that participate
    in a match in the doc (the fixed terms + every expansion that
    completes >= 1 occurrence there) — the same 'BM25 over the
    phrase's distinct terms' contract phrase_topk documents. ``excl``
    (sorted tombstoned docids) leaves the candidate set first."""
    out_empty = pd.DataFrame({"docid": pd.Series(dtype=np.int64),
                              "score": pd.Series(dtype=np.float64)})
    L = len(fixed_seq) + 1
    per_term = {}
    for t in uniq_fixed:
        sub = pdf[pdf["term"] == t]
        if sub.empty:
            return out_empty  # a required fixed term missing here
        per_term[t] = _decode_term_rows_pos(sub)
    pe = {}
    for e in exps:
        if e in per_term:
            pe[e] = per_term[e]
            continue
        sub = pdf[pdf["term"] == e]
        if not sub.empty:
            pe[e] = _decode_term_rows_pos(sub)
    if not pe:
        return out_empty
    if uniq_fixed:
        cand = None
        for t in uniq_fixed:
            d = per_term[t][0]
            cand = d if cand is None else np.intersect1d(
                cand, d, assume_unique=True)
    else:
        cand = np.unique(np.concatenate([pe[e][0] for e in pe]))
    me = _drop_excl(cand, excl)
    if me is not None:
        cand = cand[me]
    if cand.size == 0:
        return out_empty
    maxpos = max(int(v[3].max()) if v[3].size else 0
                 for v in list(per_term.values()) + list(pe.values()))
    M = np.int64(maxpos + L + 2)

    def start_keys(data, offset: int, docs: np.ndarray) -> np.ndarray:
        """Phrase-start keys d*M + (pos - offset + L) for one term's
        occurrences restricted to ``docs`` (sorted, ⊆ the term's
        posting docids)."""
        dd, tt, _ll, pp, pb = data
        j = np.searchsorted(dd, docs)
        lens = tt[j]
        total = int(lens.sum())
        if total == 0:
            return np.empty(0, dtype=np.int64)
        cum = np.concatenate(([0], np.cumsum(lens)))
        gather = (np.arange(total, dtype=np.int64)
                  - np.repeat(cum[:-1], lens) + np.repeat(pb[j], lens))
        return np.repeat(docs, lens) * M + (pp[gather] - offset + L)

    if fixed_seq:
        keys = [start_keys(per_term[t], i, cand)
                for i, t in enumerate(fixed_seq)]
        allk = np.concatenate(keys)
        uk, counts = np.unique(allk, return_counts=True)
        starts = uk[counts == len(fixed_seq)]
        if starts.size == 0:
            return out_empty
    else:
        starts = None   # single-token prefix: any occurrence matches
    matched_e: dict[str, np.ndarray] = {}
    for e in sorted(pe):
        docs_e = pe[e][0]
        if uniq_fixed:
            docs_e = np.intersect1d(docs_e, cand, assume_unique=True)
        else:
            m2 = _drop_excl(docs_e, excl)
            if m2 is not None:
                docs_e = docs_e[m2]
        if docs_e.size == 0:
            continue
        if starts is None:
            matched_e[e] = docs_e
            continue
        ke = start_keys(pe[e], L - 1, docs_e)
        hit = np.intersect1d(starts, ke)
        if hit.size:
            matched_e[e] = np.unique(hit // M)
    if not matched_e:
        return out_empty
    marr = np.unique(np.concatenate(list(matched_e.values())))
    scores = np.zeros(marr.shape[0], dtype=np.float64)
    for t in uniq_fixed:  # fixed ascending-term summation order
        dd, tt, ll, _, _ = per_term[t]
        j = np.searchsorted(dd, marr)
        scores += idf[t] * codec.bm25_partial(tt[j], ll[j], avgdl,
                                              k1, b)
    for e in sorted(matched_e):
        if e in uniq_fixed:
            continue  # its BM25 is already in the fixed sum
        dd, tt, ll, _, _ = pe[e]
        de = matched_e[e]
        j = np.searchsorted(dd, de)
        contrib = idf[e] * codec.bm25_partial(tt[j], ll[j], avgdl,
                                              k1, b)
        pos = np.searchsorted(marr, de)
        scores[pos] += contrib
    return _topk_frame(marr, scores, k)


# -- search_join building blocks (shared by FTSIndex and
# streaming.CombinedIndex) ------------------------------------------

def sj_normalize_queries(queries: DataFrame, qid_col: str,
                         query_col: str, mode_col: str | None,
                         default_mode: str,
                         after_cols: tuple[str, str] | None = None
                         ) -> DataFrame:
    """(qid, qtext, mode, a_s, a_d) with null text coalesced, modes
    lowered, and NULL modes falling back to default_mode (a real query
    log has missing modes; one NULL must not kill the whole batch
    job). ``after_cols`` names per-query (score, docid) pagination
    cursor columns (r7) — NULL cursor = page 1; absent = all page 1."""
    a_s = (F.col(after_cols[0]).cast("double") if after_cols
           else F.lit(None).cast("double"))
    a_d = (F.col(after_cols[1]).cast("long") if after_cols
           else F.lit(None).cast("long"))
    return queries.select(
        F.col(qid_col).cast("string").alias("qid"),
        F.coalesce(F.col(query_col).cast("string"),
                   F.lit("")).alias("qtext"),
        (F.coalesce(F.lower(F.col(mode_col).cast("string")),
                    F.lit(default_mode)) if mode_col
         else F.lit(default_mode)).alias("mode"),
        a_s.alias("a_s"), a_d.alias("a_d"))


def sj_make_qt_factory(q: DataFrame, cfg: TokenizerConfig, prefix: str,
                       B: int):
    """Factory for the (qid, mode, term, bucket, qpos) query-term plan —
    one row per DISTINCT term per query, ``qpos`` the term's positions
    in the query's token sequence (phrase mode rebuilds the sequence
    from them; or/and ignore the column — computing it is O(len²) in a
    handful of query tokens, no extra shuffle either way).
    Callers invoke the factory ONCE PER SIDE of a join/cogroup so each
    side gets an independent plan lineage (the same source plan on both
    sides trips Spark's ambiguous-self-join analysis); everything inside
    is deterministic, and re-tokenizing the query table is cheap next to
    the postings scan."""

    def make_qt() -> DataFrame:
        toks = jvm_tokens(F.col("qtext"), cfg)
        if toks is not None:
            # positions per distinct token as a pure Catalyst
            # expression: filter an index-tagged copy of the array
            tc = F.col("_toks")
            pairs = F.transform(
                F.array_distinct(tc),
                lambda t: F.struct(
                    t.alias("tok"),
                    F.filter(
                        F.transform(tc, lambda x, i: F.when(x == t, i)),
                        lambda v: v.isNotNull()
                    ).cast("array<int>").alias("qpos")))
            qt = (q.withColumn("_toks", toks)
                  .select("qid", "mode", "a_s", "a_d",
                          F.explode(pairs).alias("p"))
                  .select("qid", "mode", "a_s", "a_d",
                          F.col("p.tok").alias("tok"),
                          F.col("p.qpos").alias("qpos")))
        else:
            def tok_pd(it):
                for pdf in it:
                    tl = tokenize_series(pdf["qtext"], cfg)
                    qids, mds, tks, qps = [], [], [], []
                    ass, ads = [], []
                    for qid, md, asv, adv, t in zip(
                            pdf["qid"], pdf["mode"], pdf["a_s"],
                            pdf["a_d"], tl):
                        posmap: dict[str, list[int]] = {}
                        for i, tok in enumerate(t):
                            posmap.setdefault(tok, []).append(i)
                        for tok, ps_ in posmap.items():
                            qids.append(qid); mds.append(md)
                            tks.append(tok); qps.append(ps_)
                            ass.append(asv); ads.append(adv)
                    yield pd.DataFrame({"qid": qids, "mode": mds,
                                        "a_s": pd.Series(
                                            ass, dtype="float64"),
                                        "a_d": pd.Series(
                                            ads, dtype="Int64"),
                                        "tok": tks, "qpos": qps})

            # one input row per qid → within-query posmap already
            # dedups; nothing to drop across partitions
            qt = q.mapInPandas(
                tok_pd, schema="qid string, mode string, a_s double, "
                               "a_d long, tok string, qpos array<int>")
        return (qt.withColumn("term", F.concat(F.lit(prefix),
                                               F.col("tok")))
                .withColumn("bucket",
                            F.pmod(F.xxhash64("qid"),
                                   F.lit(B)).cast("int"))
                .select("qid", "mode", "term", "bucket", "qpos",
                        "a_s", "a_d"))

    return make_qt


def sj_attach_idf(qt: DataFrame, stats: DataFrame, N: float) -> DataFrame:
    """idf via LEFT join on a (term, df) stats table: absent terms stay
    (df→0) so AND-mode term counts include them; their idf never scores
    (no postings). The formula must stay BIT-identical to _bm25_idf so
    search_join ranks equal topk's even through exact score ties —
    JVM Math.log and C libm disagree in the last ulp, so the log runs
    in a pandas UDF through the same _bm25_idf the driver paths use
    (query-vocab-sized input: cost is nil)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _idf_udf(df_col: pd.Series) -> pd.Series:
        d = df_col.fillna(0.0).to_numpy(np.float64)
        return pd.Series([_bm25_idf(N, float(x)) for x in d],
                         dtype=np.float64)

    return (qt.join(stats, "term", "left")
            .withColumn("idf", _idf_udf(F.col("df")))
            .select("qid", "mode", "term", "bucket", "qpos", "idf",
                    "a_s", "a_d"))


# Sentinel dictionary term for candidate-set side-channel rows: real
# terms are "<prefix><analyzer token>" and neither part can contain a
# NUL, so this can never collide with an indexed term.
SJ_CAND_TERM = "\x00__cand__"


def sj_cand_rows(fdocs: DataFrame, keys: list[str],
                 buckets: DataFrame, excl: np.ndarray | None = None
                 ) -> DataFrame:
    """Filter-candidate side-channel for search_join(filter=): one
    POSTING_SCHEMA-shaped sentinel row per (group keys × query bucket)
    whose ``blob`` is the group's delta+varint-encoded matching docid
    set — unioned into the postings side of the cogroup so the scoring
    kernel restricts (and truncates to k) INSIDE the group instead of
    emitting postings-scale rows into a semi-join (VERDICT r5 #3). The
    per-bucket replication is the cost: |matches| × ~1.5 B × B buckets
    on the wire, vs |matches| × |matching queries| full rows before.
    ``excl`` (sorted tombstoned docids) is dropped from the set at
    encode time, so deleted docs never reach the kernels at all."""

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        d = pdf["docid"].to_numpy(np.int64)
        if excl is not None and excl.size:
            d = d[~np.isin(d, excl)]
        row = {c: [pdf[c].iloc[0]] for c in keys}
        row["blob"] = [codec.encode_docid_set(d)]
        return pd.DataFrame(row)

    blobs = fdocs.groupBy(*keys).applyInPandas(
        enc, schema=", ".join(f"{c} int" for c in keys) + ", blob binary")
    return (blobs.crossJoin(F.broadcast(buckets))
            .select(*keys,
                    F.lit(SJ_CAND_TERM).alias("term"),
                    F.lit(0).cast("long").alias("th"),
                    F.lit(0).cast("int").alias("chunk"),
                    F.lit(0).cast("long").alias("df"),
                    F.lit(0).cast("long").alias("cf"),
                    F.col("blob"),
                    F.array().cast("array<long>").alias("block_first"),
                    F.array().cast("array<long>").alias("block_last"),
                    F.array().cast("array<long>").alias("block_off"),
                    F.array().cast("array<int>").alias("block_n"),
                    F.array().cast("array<long>").alias("block_max_tf"),
                    F.array().cast("array<long>").alias("block_min_dl"),
                    F.length("blob").cast("long").alias("nbytes"),
                    F.lit(0).cast("long").alias("enc_us"),
                    F.col("bucket")))


def sj_score_group_factory(avgdl: float, k1: float, b: float, k: int,
                           method: str, rng_lookup=None,
                           filtered: bool = False,
                           excl: np.ndarray | None = None,
                           min_hits: int | None = None):
    """Cogroup kernel: rebuild the per-bucket qterms/modes/idf dicts
    from the query side; or/and queries score in one score_query_set
    pass, phrase queries each rebuild their token sequence from qpos
    and run the shared positions kernel (_phrase_shard — the exact
    kernel phrase_topk uses, so ranks/scores match it). ``rng_lookup``
    (org-scoped paths) maps the postings pdf to the tenant's docid
    interval for this group — None result means the tenant has no docs
    here and the group is skipped. ``filtered``: the postings side
    carries one SJ_CAND_TERM sentinel row (sj_cand_rows) whose blob is
    this group's candidate docid set; scoring restricts to it in the
    kernel so per-group output truncates to k (exact: BM25 stats stay
    global, so results equal the unrestricted ranking filtered to the
    candidates). A filtered group with no sentinel has no matching
    docs in this shard — skipped."""

    def score_group(lpdf: pd.DataFrame,
                    rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty or rpdf.empty:
            return _QSET_EMPTY
        bad = set(rpdf["mode"].unique()) - {"or", "and", "phrase"}
        if bad:
            raise ValueError(f"search_join: bad mode(s) {bad}")
        cand = None
        if filtered:
            sent = (lpdf["term"] == SJ_CAND_TERM).to_numpy()
            if not sent.any():
                return _QSET_EMPTY
            cand = codec.decode_docid_set(
                lpdf.loc[sent, "blob"].iloc[0])
            lpdf = lpdf[~sent]
            if cand.size == 0 or lpdf.empty:
                return _QSET_EMPTY
        rng = None
        if rng_lookup is not None:
            rng = rng_lookup(lpdf)
            if rng is None:
                return _QSET_EMPTY
        if cand is not None:
            # org composition already folded into the candidate set by
            # _filter_docs(filter, org); cand drives the restriction
            rng = None
        ph = rpdf[rpdf["mode"] == "phrase"]
        nb = rpdf[rpdf["mode"] != "phrase"]
        if "a_s" in ph.columns and ph["a_s"].notna().any():
            raise ValueError(
                "search_join: pagination cursors apply to or/and "
                "queries, not phrase mode")
        outs = []
        if not nb.empty:
            qterms = {qid: sorted(g["term"].unique())
                      for qid, g in nb.groupby("qid")}
            modes = dict(zip(nb["qid"], nb["mode"]))
            idf = dict(zip(nb["term"], nb["idf"]))
            after = None
            if "a_s" in nb.columns:
                cur = nb[nb["a_s"].notna()]
                if len(cur):
                    after = {qid: (float(g["a_s"].iloc[0]),
                                   int(g["a_d"].iloc[0]))
                             for qid, g in cur.groupby("qid")}
            outs.append(score_query_set(lpdf, cand, qterms, modes, idf,
                                        avgdl, k1, b, k, method,
                                        rng=rng, excl=excl,
                                        min_hits=min_hits,
                                        after=after))
        for qid, g in ph.groupby("qid"):
            seq: list[str] = [""] * int(sum(len(p) for p in g["qpos"]))
            for term, ps_ in zip(g["term"], g["qpos"]):
                for p in ps_:
                    seq[int(p)] = term
            idf_q = dict(zip(g["term"], g["idf"]))
            out = _phrase_shard(lpdf, seq, sorted(idf_q), idf_q, avgdl,
                                k1, b, k, org_cand=cand, org_range=rng,
                                excl=excl)
            if not out.empty:
                outs.append(out.assign(qid=qid))
        if not outs:
            return _QSET_EMPTY
        return pd.concat(outs)[["qid", "docid", "score"]]

    return score_group


def sj_global_topk(tops: DataFrame, k: int) -> DataFrame:
    """Per-query global top-k: ONE window over qid (Spark inserts
    WindowGroupLimit before the exchange, so at most k rows per
    (query, partition) shuffle)."""
    from pyspark.sql import Window
    w = (Window.partitionBy("qid")
         .orderBy(F.desc("score"), F.asc("docid")))
    return (tops.withColumn("rank",
                            F.row_number().over(w).cast("int"))
            .where(F.col("rank") <= k)
            .select("qid", "rank", "docid", "score"))


class _RowGroup(NamedTuple):
    """One parquet row group of a driver-read table: its cache key,
    fragment, id, footer min/max of the table's key column (None when
    the footer has no statistics, so it is never pruned) and on-disk
    (compressed) bytes."""
    key: tuple[str, int]
    frag: object
    rg: int
    lo: object
    hi: object
    nbytes: int


class _RowGroupCatalog:
    """The row groups of one parquet table, listed once per handle from
    a pyarrow dataset's fragments (in the dataset's file order), with
    the footer min/max of ``key`` — the column the table is sorted on
    within a file: docid (docstore), th (postings), term (term_stats).
    Pruning by those summary statistics is the footer-only half of a
    point lookup; ``load`` decodes one surviving row group together
    with its sorted key array, and ``take`` answers a lookup on loaded
    row groups with searchsorted + Table.take."""

    def __init__(self, dataset, key: str):
        self.schema = dataset.schema
        self.key = key
        self.groups: list[_RowGroup] = []
        for frag in dataset.get_fragments():
            md = frag.metadata
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                cols = [rg.column(j) for j in range(rg.num_columns)]
                st = next(c for c in cols
                          if c.path_in_schema == key).statistics
                lo, hi = ((st.min, st.max) if st is not None
                          and st.has_min_max else (None, None))
                self.groups.append(_RowGroup(
                    (frag.path, i), frag, i, lo, hi,
                    sum(c.total_compressed_size for c in cols)))

    def candidates(self, want: np.ndarray) -> list[_RowGroup]:
        """Row groups whose [min, max] may hold a key of ``want``
        (sorted, unique)."""
        return [g for g in self.groups
                if g.lo is None
                or (np.searchsorted(want, g.lo, "left")
                    < np.searchsorted(want, g.hi, "right"))]

    def load(self, g: _RowGroup):
        """((table, sorted keys, sort order or None), bytes held) for
        one row group, read with the dataset schema so hive partition
        columns come back exactly as a dataset scan gives them."""
        tbl = g.frag.subset(row_group_ids=[g.rg]).to_table(
            schema=self.schema)
        keys = tbl.column(self.key).to_numpy(zero_copy_only=False)
        order = (None if np.all(keys[:-1] <= keys[1:])
                 else np.argsort(keys, kind="stable"))
        skeys = keys if order is None else keys[order]
        held = tbl.nbytes + skeys.nbytes + (0 if order is None
                                            else order.nbytes)
        if skeys.dtype == object:   # one str object per key
            held += tbl.column(self.key).nbytes + 56 * skeys.size
        return (tbl, skeys, order), held

    def take(self, entries: list, want: np.ndarray):
        """Rows whose key is in ``want`` from the loaded ``entries``,
        concatenated in entry then row order."""
        import pyarrow as pa
        parts = []
        for tbl, skeys, order in entries:
            lo = np.searchsorted(skeys, want, "left")
            n = np.searchsorted(skeys, want, "right") - lo
            sel = np.arange(n.sum()) + np.repeat(lo - (np.cumsum(n) - n), n)
            if order is not None:
                sel = np.sort(order[sel])
            if sel.size:
                parts.append(tbl.take(sel))
        return (pa.concat_tables(parts) if parts
                else self.schema.empty_table())


class FTSIndex:
    """Loaded index handle; query entry points."""

    def __init__(self, spark: SparkSession, root: str,
                 tokenizer: TokenizerConfig = TokenizerConfig()):
        self.spark = spark
        self.root = root
        self.tokenizer = tokenizer
        st = storage.read_stats(root)   # driver-side read, no Spark job
        self.N = int(st["n"])
        self.avgdl = float(st["avgdl"])
        self.num_shards = int(st["num_shards"])
        self.docs_per_shard = int(st["docs_per_shard"])
        self.k1 = float(st["k1"])
        self.b = float(st["b"])
        self.docid_offset = int(st.get("docid_offset") or 0)
        # id-space extent above the offset (sparse for routed builds);
        # legacy stats rows lack it → derived from routing geometry /
        # docstore footers, NOT n (understating it corrupts delta
        # attachment — see storage.effective_docid_span)
        self.docid_span = storage.effective_docid_span(root, st)
        import json as _json
        rt = st.get("routing") or ""
        self.routing_col = _json.loads(rt)["col"] if rt else None
        self.shards_per_org = _json.loads(rt)["k"] if rt else None
        fj = st.get("fields") or ""
        # multi-field index: {field name: that field's avgdl}. New-form
        # rows (built with field_doc_counts — the type→field doc-type
        # mapping) store {"avgdl": …, "n": …} per field: n opts the
        # field into its OWN document count for idf, making field
        # scoring BM25-identical to a dedicated per-type index. Legacy
        # float values keep the documented index-global-N behavior.
        self.fields: dict[str, float] | None = None
        self._field_n: dict[str, float] = {}
        if fj:
            self.fields = {}
            for name, v in _json.loads(fj).items():
                if isinstance(v, dict):
                    self.fields[name] = float(v["avgdl"])
                    self._field_n[name] = float(v["n"])
                else:
                    self.fields[name] = float(v)
        # one file-index per handle: re-creating the read per query would
        # re-list the directory tree every time
        self._postings = spark.read.parquet(storage.path(root, "postings"))
        self._term_stats = spark.read.parquet(
            storage.path(root, "term_stats"))
        self._docstore = spark.read.parquet(storage.path(root, "docstore"))
        # driver-local serving state (see _cached): one lock guards the
        # term caches, the row-group cache and the read counters
        self._lock = threading.Lock()
        self._pa_ds = self._pa_docstore = None
        self._catalogs: dict[str, _RowGroupCatalog] = {}
        self._term_cache: "OrderedDict[str, pd.DataFrame]" = OrderedDict()
        self._dec_cache: OrderedDict = OrderedDict()
        self._part_cache: OrderedDict = OrderedDict()
        self._rg_cache: OrderedDict = OrderedDict()
        self._term_cache_sz: dict = {}
        self._dec_cache_sz: dict = {}
        self._part_cache_sz: dict = {}
        self._rg_cache_sz: dict = {}
        self._read_counters = dict.fromkeys(
            ("row_groups_read", "row_groups_pruned", "row_groups_cached",
             "bytes_read"), 0)

    # -- helpers -----------------------------------------------------
    def _field(self, field: str | None) -> tuple[str, float]:
        """(term prefix, avgdl) for a query — field-scoped on
        multi-field indexes, classic otherwise."""
        if self.fields is None:
            if field is not None:
                raise ValueError("index was not built with fields")
            return "", self.avgdl
        if field is None or field not in self.fields:
            raise ValueError(
                f"multi-field index: pick field= from "
                f"{sorted(self.fields)}")
        return f"{field}:", float(self.fields[field])

    def _fieldN(self, field: str | None) -> float:
        """Document count for idf: the field's own n when the index
        stores per-field doc counts (type→field mapping), else the
        index-global N (classic and legacy multi-field builds)."""
        if field is not None and field in self._field_n:
            return self._field_n[field]
        return float(self.N)

    def _terms(self, query: str, prefix: str = "") -> list[str]:
        return sorted({prefix + t
                       for t in tokenize_text(query, self.tokenizer)})

    def _idf_map(self, terms: list[str],
                 N: float | None = None) -> dict[str, float]:
        if not terms:
            return {}
        if os.path.isdir(storage.path(self.root, "term_stats")):
            # driver-side pyarrow point read (term-sorted row groups,
            # cached per handle) — the dictionary df lookup is
            # vocab-scale, so burning a whole Spark job on it doubled
            # every distributed query's fixed latency. Same table, same
            # values; non-local roots keep the Spark path.
            dfm = self._local_df_counts(terms)
        else:
            rows = (self._term_stats
                    .where(F.col("term").isin(terms)).collect())
            dfm = {r["term"]: float(r["df"]) for r in rows}
        n = float(self.N) if N is None else float(N)
        return {t: _bm25_idf(n, dfm.get(t, 0.0)) for t in terms}

    def _shard_map_collect(self, allt: list[str], fn,
                           schema: str = "docid long, score double",
                           shards: list[int] | None = None
                           ) -> pd.DataFrame | None:
        """ONE-job, ONE-stage shard-local query fan-out: each task
        pyarrow-reads its own shard partitions with the same th/term
        pushdown the DataFrame path uses and runs the SAME per-shard
        kernel ``fn`` (pdf → pdf) on the complete shard group — the
        shard-local search pattern of a real cluster. Replaces the
        two-stage scan → Exchange(hash shard) → applyInPandas plan
        with mapInArrow over a shard-id range (nothing to shuffle: the
        index is already partitioned by shard on disk), removing the
        exchange stage and one job from every query's fixed cost; the
        Arrow lane it runs in is the one the build already warmed.
        Results are identical by construction (same rows, same kernel,
        driver merge unchanged). Returns None when the root is not a
        task-readable filesystem path — callers fall back to the
        DataFrame plan."""
        post_root = storage.path(self.root, "postings")
        if not os.path.isdir(post_root):
            return None
        import pyarrow as pa
        hs = [codec.term_hash(t) for t in allt]
        terms = list(allt)
        sids = list(range(self.num_shards)) if shards is None \
            else sorted(shards)
        # fan-out at the session's query-parallelism knob (shuffle
        # partitions) — the same width the applyInPandas plan used, and
        # the width of the worker pool the build warmed
        try:
            p = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        except Exception:   # noqa: BLE001
            p = self.spark.sparkContext.defaultParallelism
        p = max(1, min(len(sids), p))
        smap = None if shards is None else list(sids)

        def reader(batches):
            import os as _os
            import pyarrow.dataset as _ds
            for rb in batches:
                for i in rb.column("id").to_pylist():
                    s = int(i) if smap is None else smap[int(i)]
                    pth = _os.path.join(post_root, f"shard={s}")
                    if not _os.path.isdir(pth):
                        continue
                    t = _ds.dataset(pth, format="parquet").to_table(
                        filter=(_ds.field("th").isin(hs)
                                & _ds.field("term").isin(terms)))
                    if t.num_rows == 0:
                        continue
                    pdf = t.to_pandas()
                    pdf["shard"] = s
                    out = fn(pdf)
                    if len(out):
                        yield pa.RecordBatch.from_pandas(
                            out, preserve_index=False)

        return (self.spark.range(0, len(sids), numPartitions=p)
                .mapInArrow(reader, schema=schema)
                .toPandas())

    def _posting_rows(self, terms: list[str]) -> DataFrame:
        """Dictionary lookup: pushdown filter on `th` = md5-based int64
        term hash (parquet row-group pruning; computed driver-side in
        plain Python, codec.term_hash); the term IN-filter keeps
        exactness under hash collisions."""
        hs = [codec.term_hash(t) for t in terms]
        return (self._postings
                .where(F.col("th").isin(hs))
                .where(F.col("term").isin(terms)))

    def _org_ranges(self, org: str) -> dict[int, tuple[int, int]] | None:
        """Tenant docid interval per shard from the org_ranges table
        (driver-side pyarrow point read, org-sorted row groups). None on
        legacy indexes that predate contiguous-tenant docid minting —
        callers fall back to the docid-set cogroup path. Results are
        memoized per org (the table is immutable for an index root), so
        the ms-latency serving path pays the parquet read once per
        tenant, not per query."""
        import pyarrow.dataset as ds
        cache = getattr(self, "_org_ranges_cache", None)
        if cache is None:
            cache = self._org_ranges_cache = {}
        if org in cache:
            return cache[org]
        p = storage.path(self.root, "org_ranges")
        if not os.path.isdir(p):
            cache[org] = None
            return None
        if not hasattr(self, "_pa_org_ranges"):
            self._pa_org_ranges = ds.dataset(p, format="parquet")
        t = self._pa_org_ranges.to_table(
            filter=ds.field("org") == org)
        out = {int(s): (int(lo), int(hi))
               for s, lo, hi in zip(t.column("shard").to_pylist(),
                                    t.column("lo").to_pylist(),
                                    t.column("hi").to_pylist())}
        cache[org] = out
        return out

    def _org_rows_docs(self, terms: list[str],
                       org: str) -> tuple[DataFrame, DataFrame]:
        """(shard-pruned posting rows, tenant docids) for an org-scoped
        query — the shared assembly for topk and topk_many."""
        shards = self.possible_shards(org)
        rows = (self._posting_rows(terms)
                .where(F.col("shard").isin(shards)))
        orgdocs = (self._docstore
                   .where(F.col("shard").isin(shards))
                   .where(F.col(self.routing_col) == org)
                   .select("shard", "docid"))
        return rows, orgdocs

    def _filter_docs(self, filter: str | Column,
                     org: str | None = None) -> DataFrame:
        """(shard, docid) of docs satisfying a SQL predicate over
        docstore columns — the candidate feed for filtered search. The
        predicate plus the two-column projection push down to the
        parquet scan (column-pruned: only shard, docid, and the
        predicate's columns are read); with ``org`` the scan is also
        partition-pruned to the tenant's shards and conjoined with the
        tenant condition."""
        fd = self._docstore.where(filter)
        if org is not None:
            fd = (fd.where(F.col("shard")
                           .isin(self.possible_shards(org)))
                  .where(F.col(self.routing_col) == org))
        return fd.select("shard", "docid")

    # -- public API ---------------------------------------------------
    def possible_shards(self, org: str) -> list[int]:
        """Query-side shard pruning set for one tenant — the
        getPossibleRoutingHashes analog
        (ElasticsearchRoutingStrategyV1.java:137-148)."""
        from . import routing as _routing
        if self.routing_col is None:
            raise ValueError("index was not built with org routing")
        return _routing.possible_shards(org, self.num_shards,
                                        self.shards_per_org)

    def _topk_pd(self, query: str, k: int = 10, mode: str = "or",
                 method: str = "wand", org: str | None = None,
                 field: str | None = None,
                 filter: str | Column | None = None,
                 after: tuple[float, int] | None = None,
                 min_should_match: int | None = None,
                 raw_terms: list[str] | None = None,
                 must_not: str | None = None,
                 must: str | None = None,
                 boosts: dict[str, float] | None = None) -> pd.DataFrame:
        """Distributed top-k: per-shard scoring fanned out as one
        mapInArrow stage of shard-local readers (_shard_map_collect;
        applyInPandas/cogroup plans for the filter/org-docid-set legs
        and non-local roots), driver merge of num_shards·k candidates.
        Returns (docid, score) as pandas.

        With ``org`` (routed indexes only): the dictionary read is
        partition-pruned to the org's shards_per_org shards, the org's
        docids are cogrouped in per shard from the (equally pruned) doc
        store, and scoring restricts to them — BM25 stats stay GLOBAL,
        so scores equal the unrestricted ranking filtered to the org.

        With ``filter`` (a SQL predicate string or Column over docstore
        columns — the ES bool-filter analog): results restrict to docs
        satisfying the predicate, scores unchanged (stats stay global).
        The predicate and the (shard, docid) projection push down to
        the docstore parquet scan; matching docids never touch the
        driver — they cogroup into the scoring kernel per shard.
        Composes with ``org`` (conjunction) and ``field``.

        ``after`` — (score, docid) deep-pagination cursor (the ES
        search_after analog): results rank STRICTLY after it, so page
        N+1 is ``topk(..., after=tuple(page_N.iloc[-1]))`` with no
        from+size over-fetch. Exact at any depth (cursor scores come
        from this same fixed-summation pipeline, so score equality is
        bit-reliable; since r6 OR-mode cursor pages prune via the
        cursor-aware WAND). Composes with org/field/filter.

        ``min_should_match`` (OR mode; the ES minimum_should_match
        analog): keep only docs matching at least that many distinct
        query terms — "or" is 1, "and" is all; this is the DSL's
        middle ground. Composes with everything above.

        ``raw_terms`` — pre-analyzed, field-prefixed dictionary terms
        replacing the analyzer pass on ``query`` (the multi-term-query
        extension point: pattern_topk feeds expanded prefix/wildcard/
        fuzzy terms here so they ride every scoring surface).

        ``must_not`` — analyzed like ``query``; docs containing ANY of
        its terms are excluded (the ES bool.must_not contract: pure
        exclusion, zero score contribution, scores of survivors
        unchanged). The negative terms' postings ride the SAME pushed
        dictionary scan and per-shard exchange as the positive terms
        (no extra job) and fold into the kernel exclusion set the
        tombstone machinery already honors. Requires a non-empty
        positive query (a pure-negation match-all belongs on
        ``filter=``/the docstore scan, not the dictionary).

        ``must`` (r7) — analyzed like ``query``; its terms are
        REQUIRED (the Lucene bool must+should contract): results
        match ALL must terms, scores sum over every matched term
        (must and should alike, stats global), and
        ``min_should_match`` counts only the ``query`` (should)
        terms. Same-field composition only (requires mode='or'; a
        pure conjunction is mode='and'). A term in both must and
        query is required and scored once.

        ``boosts`` (r7) — {term: weight} query-time clause boosts (the
        Lucene TermQuery boost / ES ``"term"^2``): the term's idf —
        hence its every contribution AND its WAND pruning bounds —
        scales by the weight, so pruned paths stay exact. Keys are
        analyzed and must be query (or must) terms; weights finite
        positive. Composes with everything above."""
        prefix, avgdl = self._field(field)
        mh = _check_msm(min_should_match, mode if not must else "or")
        if after is not None:
            after = (float(after[0]), int(after[1]))
        terms = (sorted(set(raw_terms)) if raw_terms is not None
                 else self._terms(query, prefix))
        neg = self._terms(must_not, prefix) if must_not else []
        if must_not and not neg:
            raise ValueError("must_not analyzed to zero terms")
        terms, mode, reqs = _fold_must(
            self._terms(must, prefix) if must else [], must, terms,
            mode, mh)
        if neg and not terms:
            raise ValueError(
                "must_not requires a non-empty positive query; a "
                "pure-negation match-all is a docstore predicate — "
                "use filter= / match_docids")
        idf = _apply_boosts(self._idf_map(terms, N=self._fieldN(field)),
                            boosts, terms, self.tokenizer, prefix)
        empty = _EMPTY_TOPK.copy()
        if not terms:
            return empty
        nq = len(terms)
        k1, b = self.k1, self.b
        allt = sorted(set(terms) | set(neg))
        negs = frozenset(neg)

        parts: pd.DataFrame | None = None
        shard_tops: list = []
        if filter is not None:
            rows = self._posting_rows(allt)
            if org is not None:
                rows = rows.where(
                    F.col("shard").isin(self.possible_shards(org)))
            fdocs = self._filter_docs(filter, org)
            shard_tops = (rows.groupBy("shard")
                          .cogroup(fdocs.groupBy("shard"))
                          .applyInPandas(
                              cand_score_group(idf, avgdl, k1, b, k,
                                               mode, nq, after=after,
                                               min_hits=mh,
                                               neg_terms=negs,
                                               req_terms=reqs),
                              schema="docid long, score double")
                          .collect())
        elif org is not None:
            ranges = self._org_ranges(org)
            if ranges is not None:
                if not ranges:
                    return empty          # unknown tenant
                def per_shard_rng(pdf: pd.DataFrame) -> pd.DataFrame:
                    lo, hi = ranges[int(pdf["shard"].iloc[0])]
                    pdf, ex = fold_neg_terms(pdf, negs, None)
                    if pdf.empty:
                        return _EMPTY_TOPK.copy()
                    return score_range_pt(pdf, lo, hi, idf, avgdl, k1,
                                          b, k, mode, nq, after=after,
                                          min_hits=mh, excl=ex,
                                          req_terms=reqs)

                parts = self._shard_map_collect(allt, per_shard_rng,
                                                shards=sorted(ranges))
                if parts is None:
                    rows = (self._posting_rows(allt)
                            .where(F.col("shard")
                                   .isin(sorted(ranges))))
                    shard_tops = (rows.groupBy("shard")
                                  .applyInPandas(
                                      per_shard_rng,
                                      schema="docid long, score double")
                                  .collect())
            else:
                rows, orgdocs = self._org_rows_docs(allt, org)
                shard_tops = (rows.groupBy("shard")
                              .cogroup(orgdocs.groupBy("shard"))
                              .applyInPandas(
                                  cand_score_group(idf, avgdl, k1, b,
                                                   k, mode, nq,
                                                   after=after,
                                                   min_hits=mh,
                                                   neg_terms=negs,
                                                   req_terms=reqs),
                                  schema="docid long, score double")
                              .collect())
        else:
            def per_shard(pdf: pd.DataFrame) -> pd.DataFrame:
                pdf, ex = fold_neg_terms(pdf, negs, None)
                if pdf.empty:
                    return _EMPTY_TOPK.copy()
                return score_shard(pdf, idf, avgdl, k1, b, k, mode, nq,
                                   method, after=after, min_hits=mh,
                                   excl=ex, req_terms=reqs)

            parts = self._shard_map_collect(allt, per_shard)
            if parts is None:
                rows = self._posting_rows(allt)
                shard_tops = (rows.groupBy("shard")
                              .applyInPandas(
                                  per_shard,
                                  schema="docid long, score double")
                              .collect())
        if parts is not None:
            if parts.empty:
                return empty
            merged = parts
        else:
            if not shard_tops:
                return empty
            merged = pd.DataFrame([r.asDict() for r in shard_tops])
        merged = merged.sort_values(["score", "docid"],
                                    ascending=[False, True]).head(k)
        return (merged.astype({"docid": "int64", "score": "float64"})
                .reset_index(drop=True))

    def topk(self, query: str, k: int = 10, mode: str = "or",
             method: str = "wand", org: str | None = None,
             field: str | None = None,
             filter: str | Column | None = None,
             after: tuple[float, int] | None = None,
             min_should_match: int | None = None,
             raw_terms: list[str] | None = None,
             must_not: str | None = None,
             must: str | None = None,
             boosts: dict[str, float] | None = None) -> DataFrame:
        """Spark-DataFrame surface over :meth:`_topk_pd` (see its
        docstring for the full contract — every keyword is forwarded
        verbatim; results identical)."""
        pdf = self._topk_pd(query, k, mode, method, org=org,
                            field=field, filter=filter, after=after,
                            min_should_match=min_should_match,
                            raw_terms=raw_terms, must_not=must_not,
                            must=must, boosts=boosts)
        if pdf.empty:
            return self.spark.createDataFrame(
                [], "docid long, score double")
        return self.spark.createDataFrame(
            pdf, schema="docid long, score double")

    def topk_pandas(self, query: str, k: int = 10, mode: str = "or",
                    method: str = "wand", org: str | None = None,
                    field: str | None = None,
                    filter: str | Column | None = None,
                    after: tuple[float, int] | None = None,
                    min_should_match: int | None = None,
                    must_not: str | None = None,
                    must: str | None = None,
                    boosts: dict[str, float] | None = None
                    ) -> pd.DataFrame:
        """Driver-local result as pandas (test/bench convenience).
        Same rows as ``topk(...).toPandas()`` without bouncing the
        k-row result through a Spark local relation."""
        return self._topk_pd(query, k, mode, method, org=org,
                             field=field, must_not=must_not, must=must,
                             boosts=boosts, filter=filter, after=after,
                             min_should_match=min_should_match)

    # -- multi-term queries: prefix / wildcard / fuzzy ---------------
    def expand_terms(self, pattern: str, kind: str = "prefix",
                     field: str | None = None,
                     max_expansions: int = multiterm.MAX_EXPANSIONS,
                     fuzziness: int = 2, prefix_length: int = 0,
                     distributed: bool = False) -> list[str]:
        """Dictionary expansion of a prefix/wildcard/fuzzy pattern —
        the ES multi-term-query rewrite step (served by the restored
        cluster via the delegation point BaseESReducer.java:154; the
        DSL semantics are public Lucene). The dictionary (term_stats)
        is term-sorted parquet, so the literal prefix becomes a PUSHED
        range filter (``term >= lo AND term < hi`` → row-group
        pruning); wildcard adds an anchored-regex verify, fuzzy a
        pushed length window + exact Levenshtein verify
        (JVM ``levenshtein`` distributed, numpy Wagner-Fischer local).

        ``distributed=True`` scans via Spark (the 100-TB dictionary
        path — only the <= max_expansions matching terms are
        collected); default is the driver-side pyarrow scan (serving).
        Returns field-prefixed terms, capped deterministically by
        (df DESC, term ASC) — Lucene's top_terms_N selection."""
        multiterm.validate_kind(kind)
        fp, _ = self._field(field)
        cand = self._expand_candidates(pattern, kind, fp=fp,
                                       max_expansions=max_expansions,
                                       fuzziness=fuzziness,
                                       prefix_length=prefix_length,
                                       distributed=distributed)
        return multiterm.select_expansions(
            [t for t, _ in cand], [d for _, d in cand],
            int(max_expansions))

    def _expand_candidates(self, pattern: str, kind: str, fp: str = "",
                           max_expansions: int =
                           multiterm.MAX_EXPANSIONS,
                           fuzziness: int = 2, prefix_length: int = 0,
                           distributed: bool = False
                           ) -> list[tuple[str, float]]:
        """(prefixed term, df) candidates for one index segment —
        CombinedIndex sums dfs across generations before the cap. The
        per-segment cap keeps the collect bounded; ``fp`` is the
        ALREADY-VALIDATED field prefix (a field with zero tokens in one
        generation is absent from that generation's stats, so per-sub
        validation would wrongly raise — same contract as
        _match_docids_local_terms)."""
        p = pattern.lower()
        lit, _ = multiterm.pattern_bounds(p, kind, fuzziness,
                                          prefix_length)
        lo = fp + lit
        hi = multiterm.prefix_upper_bound(lo) if lo else None
        if kind == "regexp":
            # validate early, build the anchored full-term form once
            re.compile(p)
            full_rx = ("^" + multiterm.escape_literal(fp)
                       + "(?:" + p + ")$")
        if kind == "fuzzy":
            d = int(fuzziness)
            lmin = len(fp) + max(0, len(p) - d)
            lmax = len(fp) + len(p) + d
        if distributed:
            sdf = self._term_stats.select("term", "df")
            if lo:
                sdf = sdf.where(F.col("term") >= lo)
            if hi is not None:
                sdf = sdf.where(F.col("term") < hi)
            if kind == "wildcard":
                sdf = sdf.where(F.col("term").rlike(
                    multiterm.wildcard_regex(fp + p)))
            elif kind == "regexp":
                sdf = sdf.where(F.col("term").rlike(full_rx))
            elif kind == "fuzzy":
                sdf = (sdf.where(F.length("term").between(lmin, lmax))
                       # shared-prefix lemma: lev(fp+t, fp+q) == lev(t, q)
                       .where(F.levenshtein(F.col("term"),
                                            F.lit(fp + p)) <= d))
            rows = (sdf.orderBy(F.desc("df"), F.asc("term"))
                    .limit(int(max_expansions)).collect())
            return [(r["term"], float(r["df"])) for r in rows]
        import pyarrow.compute as pc
        import pyarrow.dataset as ds
        _, tsds = self._pa_datasets()
        flt = None
        if lo:
            flt = ds.field("term") >= lo
        if hi is not None:
            f2 = ds.field("term") < hi
            flt = f2 if flt is None else (flt & f2)
        if kind == "fuzzy":
            f3 = ((pc.utf8_length(ds.field("term")) >= lmin)
                  & (pc.utf8_length(ds.field("term")) <= lmax))
            flt = f3 if flt is None else (flt & f3)
        t = tsds.to_table(filter=flt, columns=["term", "df"])
        terms = np.asarray(t.column("term").to_pylist(), dtype=np.str_)
        dfs = t.column("df").to_numpy()
        if kind == "wildcard" and len(terms):
            rx = re.compile(multiterm.wildcard_regex(fp + p))
            keep = np.fromiter((rx.match(x) is not None for x in terms),
                               dtype=bool, count=len(terms))
            terms, dfs = terms[keep], dfs[keep]
        elif kind == "regexp" and len(terms):
            rx = re.compile(full_rx)
            keep = np.fromiter((rx.match(x) is not None for x in terms),
                               dtype=bool, count=len(terms))
            terms, dfs = terms[keep], dfs[keep]
        elif kind == "fuzzy" and len(terms):
            bare = (np.asarray([x[len(fp):] for x in terms.tolist()],
                               dtype=np.str_) if fp else terms)
            keep = multiterm.levenshtein_batch(p, bare) <= int(fuzziness)
            terms, dfs = terms[keep], dfs[keep]
        pairs = sorted(zip(terms.tolist(),
                           [float(x) for x in dfs.tolist()]),
                       key=lambda td: (-td[1], td[0]))
        return pairs[:int(max_expansions)]

    def pattern_topk(self, pattern: str, kind: str = "prefix",
                     k: int = 10, method: str = "wand",
                     org: str | None = None, field: str | None = None,
                     filter: str | Column | None = None,
                     after: tuple[float, int] | None = None,
                     rewrite: str = "scoring_boolean",
                     max_expansions: int = multiterm.MAX_EXPANSIONS,
                     fuzziness: int = 2,
                     prefix_length: int = 0) -> DataFrame:
        """Distributed prefix/wildcard/fuzzy top-k. Expansion runs as a
        pushed Spark dictionary scan; the expanded terms then ride the
        UNCHANGED scoring pipeline (per-term idf, WAND pruning, org/
        filter/cursor composition), so results equal an explicit OR of
        the matching terms (rewrite=scoring_boolean). With
        rewrite=constant_score every matching doc scores 1.0 and top-k
        is the first k docids (the ES 1.x prefix/wildcard default)."""
        terms = self.expand_terms(pattern, kind, field=field,
                                  max_expansions=max_expansions,
                                  fuzziness=fuzziness,
                                  prefix_length=prefix_length,
                                  distributed=True)
        if rewrite == "constant_score":
            m = self.match_docids("", mode="or", field=field, org=org,
                                  filter=filter, raw_terms=terms)
            return (m.orderBy("docid").limit(k)
                    .select("docid",
                            F.lit(1.0).cast("double").alias("score")))
        if rewrite != "scoring_boolean":
            raise ValueError(
                "rewrite must be scoring_boolean|constant_score")
        return self.topk("", k=k, mode="or", method=method, org=org,
                         field=field, filter=filter, after=after,
                         raw_terms=terms)

    def pattern_topk_local(self, pattern: str, kind: str = "prefix",
                           k: int = 10, method: str = "wand",
                           org: str | None = None,
                           field: str | None = None,
                           after: tuple[float, int] | None = None,
                           rewrite: str = "scoring_boolean",
                           max_expansions: int =
                           multiterm.MAX_EXPANSIONS,
                           fuzziness: int = 2,
                           prefix_length: int = 0) -> pd.DataFrame:
        """Serving twin of pattern_topk: pyarrow dictionary range scan
        + the zero-job local scoring kernels. Rank-identical to
        pattern_topk (same expansion rule, same kernels)."""
        terms = self.expand_terms(pattern, kind, field=field,
                                  max_expansions=max_expansions,
                                  fuzziness=fuzziness,
                                  prefix_length=prefix_length)
        if rewrite == "constant_score":
            m = self._match_docids_local_terms(terms, "or", org)
            out = m.head(k).reset_index(drop=True)
            out["score"] = 1.0
            return out
        if rewrite != "scoring_boolean":
            raise ValueError(
                "rewrite must be scoring_boolean|constant_score")
        return self.topk_local("", k=k, mode="or", method=method,
                               field=field, org=org, after=after,
                               raw_terms=terms)

    def _mm_prep(self, query: str, fields):
        """(boosts, per-field terms, idf, per-field avgdl, all terms)
        for a multi_match query — shared by the distributed and local
        paths. idf uses each FIELD's N and df (the field-prefixed
        dictionary keeps them isolated); boosts fold in at the
        per-field score level, never into the stats."""
        if self.fields is None:
            raise ValueError("multi_match needs a multi-field index "
                             "(BuildConfig.fields)")
        if fields is None:
            boosts = {f: 1.0 for f in self.fields}
        elif isinstance(fields, (list, tuple, set)):
            boosts = {f: 1.0 for f in fields}
        else:
            boosts = {f: float(w) for f, w in fields.items()}
        bad = sorted(set(boosts) - set(self.fields))
        if bad:
            raise ValueError(f"unknown fields {bad}; index has "
                             f"{sorted(self.fields)}")
        field_terms, idf, avgdl_by_field = {}, {}, {}
        for f in sorted(boosts):
            prefix, avgdl = self._field(f)
            ts = self._terms(query, prefix)
            field_terms[f] = ts
            avgdl_by_field[f] = avgdl
        return boosts, field_terms, avgdl_by_field, sorted(
            {t for ts in field_terms.values() for t in ts})

    def multi_match(self, query: str, fields=None, k: int = 10,
                    qtype: str = "best_fields",
                    tie_breaker: float = 0.0, mode: str = "or",
                    after: tuple[float, int] | None = None
                    ) -> DataFrame:
        """Multi-field scored query — the ES ``multi_match`` analog
        (public Lucene semantics; see sparkfts/multimatch.py). Scores
        the SAME analyzed query against several fields at once, each
        under its own statistics, and combines per doc:

        - ``qtype='most_fields'``: sum of per-field scores × boosts,
        - ``qtype='best_fields'`` (ES default): best field's score +
          ``tie_breaker`` × the rest (DisjunctionMaxQuery).

        ``fields`` is {field: boost} (or a list, boost 1.0; default =
        every indexed field). ``mode='and'`` requires ALL terms in a
        field for that field to match (dis_max over per-field ANDs).
        One Spark job: every field's postings ride the same pushed
        dictionary scan and per-shard exchange (field-prefixed terms,
        one dictionary). ``after`` pages the combined ranking."""
        from . import multimatch as mm
        mm.check_mm_args(qtype, tie_breaker, mode)
        boosts, field_terms, avgdls, allt = self._mm_prep(query, fields)
        if after is not None:
            after = (float(after[0]), int(after[1]))
        empty = self.spark.createDataFrame(
            [], "docid long, score double")
        if not allt:
            return empty
        idf = {}
        for f in sorted(boosts):
            idf.update(self._idf_map(field_terms[f],
                                     N=self._fieldN(f)))
        k1, b = self.k1, self.b

        def per_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            return mm.score_multi_group(pdf, field_terms, boosts, idf,
                                        avgdls, k1, b, k, qtype,
                                        tie_breaker, mode, after=after)

        shard_tops = (self._posting_rows(allt)
                      .groupBy("shard")
                      .applyInPandas(per_shard,
                                     schema="docid long, score double")
                      .collect())
        if not shard_tops:
            return empty
        merged = (pd.DataFrame([r.asDict() for r in shard_tops])
                  .sort_values(["score", "docid"],
                               ascending=[False, True]).head(k))
        return self.spark.createDataFrame(
            merged.astype({"docid": "int64", "score": "float64"}),
            schema="docid long, score double")

    def multi_match_local(self, query: str, fields=None, k: int = 10,
                          qtype: str = "best_fields",
                          tie_breaker: float = 0.0, mode: str = "or",
                          after: tuple[float, int] | None = None
                          ) -> pd.DataFrame:
        """Zero-job serving twin of multi_match (pyarrow dictionary
        reads + the same numpy kernel), rank-identical to it."""
        from . import multimatch as mm
        mm.check_mm_args(qtype, tie_breaker, mode)
        boosts, field_terms, avgdls, allt = self._mm_prep(query, fields)
        if after is not None:
            after = (float(after[0]), int(after[1]))
        if not allt:
            return _EMPTY_TOPK.copy()
        idf = {}
        for f in sorted(boosts):
            dfm = self._local_df_counts(field_terms[f])
            n = self._fieldN(f)
            idf.update({t: _bm25_idf(n, dfm.get(t, 0.0))
                        for t in field_terms[f]})
        pdf = self._local_term_rows(allt)
        if pdf.empty:
            return _EMPTY_TOPK.copy()
        return mm.score_multi_group(
            pdf, field_terms, boosts, idf, avgdls, self.k1, self.b,
            k, qtype, tie_breaker, mode,
            after=after).reset_index(drop=True)

    def topk_many(self, queries: dict[str, tuple[str, str]], k: int = 10,
                  method: str = "wand", field: str | None = None,
                  org: str | None = None,
                  filter: str | Column | None = None,
                  min_should_match: int | None = None,
                  after: dict[str, tuple[float, int]] | None = None,
                  must: str | None = None,
                  boosts: dict[str, float] | None = None
                  ) -> dict[str, pd.DataFrame]:
        """Batched top-k: score MANY queries in ONE Spark job — the
        fixed per-job latency (~1-2s at small scale) is paid once for
        the whole query set instead of per query. ``queries`` maps
        query-id → (query text, mode); each result is rank-identical to
        the corresponding ``topk`` call (same kernels per (query, shard)
        group). The dictionary read fetches the UNION of all query
        terms' rows once. ``field``/``org``/``filter`` apply to the
        whole batch (same semantics as topk: field-scoped stats on
        multi-field indexes; tenant-pruned candidate scoring on routed
        indexes; bool-filter restriction with global stats — the
        matching docids cogroup in per shard, r6).

        ``after`` (r7) maps qid → (score, docid) pagination cursor:
        that query's page ranks strictly after it (same contract as
        topk(after=); queries absent from the dict start at page 1) —
        batch deep-exports page WITHOUT re-ranking from page 1.

        ``must`` / ``boosts`` (r7) apply to the WHOLE batch (the
        common export shape: one mandatory term / weighting across a
        query set): each query gains the must terms as REQUIRED
        (topk(must=) contract — every query must be mode='or'), and
        boosts scale the shared per-term idf so every query's use of
        a boosted term scales identically (topk(boosts=) contract;
        keys must appear in the batch's term union)."""
        prefix, avgdl = self._field(field)
        if after is not None:
            after = {qid: (float(s), int(d))
                     for qid, (s, d) in after.items()}
        qterms = {qid: self._terms(q, prefix)
                  for qid, (q, _) in queries.items()}
        modes = {qid: m for qid, (_, m) in queries.items()}
        mh = (None if min_should_match is None
              else _check_msm(min_should_match, "or"))
        reqs = None
        if must:
            req_list = self._terms(must, prefix)
            reqs = {}
            for qid in list(qterms):
                t2, m2, rq = _fold_must(req_list, must, qterms[qid],
                                        modes[qid], mh)
                qterms[qid], modes[qid], reqs[qid] = t2, m2, rq
        all_terms = sorted({t for ts in qterms.values() for t in ts})
        if not all_terms:
            return {qid: pd.DataFrame({"docid": pd.Series(dtype="int64"),
                                       "score": pd.Series(dtype="float64")})
                    for qid in queries}
        idf = _apply_boosts(
            self._idf_map(all_terms, N=self._fieldN(field)),
            boosts, all_terms, self.tokenizer, prefix)
        k1, b = self.k1, self.b
        out_schema = "qid string, docid long, score double"

        def _score_queries(pdf: pd.DataFrame,
                           cand: np.ndarray | None) -> pd.DataFrame:
            return score_query_set(pdf, cand, qterms, modes, idf, avgdl,
                                   k1, b, k, method, min_hits=mh,
                                   after=after, reqs=reqs)

        if filter is not None:
            # bool-filter batch: matching (shard, docid) cogroup in —
            # the cand path of score_query_set, so per-group output
            # truncates to k per query; composes with org (conjoined
            # inside _filter_docs)
            rows = self._posting_rows(all_terms)
            if org is not None:
                rows = rows.where(
                    F.col("shard").isin(self.possible_shards(org)))
            fd = self._filter_docs(filter, org)

            def per_shard_flt(lpdf: pd.DataFrame,
                              rpdf: pd.DataFrame) -> pd.DataFrame:
                if lpdf.empty or rpdf.empty:
                    return _QSET_EMPTY
                cand = np.unique(rpdf["docid"].to_numpy(np.int64))
                return _score_queries(lpdf, cand)

            tops = (rows.groupBy("shard")
                    .cogroup(fd.groupBy("shard"))
                    .applyInPandas(per_shard_flt, schema=out_schema)
                    .toPandas())
        elif org is not None:
            ranges = self._org_ranges(org)
            if ranges is not None:
                tops = _QSET_EMPTY
                if ranges:
                    def per_shard_rng(pdf: pd.DataFrame) -> pd.DataFrame:
                        rng = ranges[int(pdf["shard"].iloc[0])]
                        return score_query_set(pdf, None, qterms, modes,
                                               idf, avgdl, k1, b, k,
                                               method, rng=rng,
                                               min_hits=mh, after=after,
                                               reqs=reqs)

                    parts = self._shard_map_collect(
                        all_terms, per_shard_rng, schema=out_schema,
                        shards=sorted(ranges))
                    if parts is not None:
                        tops = parts
                    else:
                        rows = (self._posting_rows(all_terms)
                                .where(F.col("shard")
                                       .isin(sorted(ranges))))
                        tops = (rows.groupBy("shard")
                                .applyInPandas(per_shard_rng,
                                               schema=out_schema)
                                .toPandas())
            else:
                rows, orgdocs = self._org_rows_docs(all_terms, org)

                def per_shard_org(lpdf: pd.DataFrame,
                                  rpdf: pd.DataFrame) -> pd.DataFrame:
                    if lpdf.empty or rpdf.empty:
                        return _QSET_EMPTY
                    cand = np.sort(rpdf["docid"].to_numpy(np.int64))
                    return _score_queries(lpdf, cand)

                tops = (rows.groupBy("shard")
                        .cogroup(orgdocs.groupBy("shard"))
                        .applyInPandas(per_shard_org, schema=out_schema)
                        .toPandas())
        else:
            parts = self._shard_map_collect(
                all_terms, lambda pdf: _score_queries(pdf, None),
                schema=out_schema)
            if parts is not None:
                tops = parts
            else:
                rows = self._posting_rows(all_terms)
                tops = (rows.groupBy("shard")
                        .applyInPandas(
                            lambda pdf: _score_queries(pdf, None),
                            schema=out_schema)
                        .toPandas())
        out = {}
        for qid in queries:
            sub = tops[tops["qid"] == qid]
            out[qid] = (sub.sort_values(["score", "docid"],
                                        ascending=[False, True])
                        .head(k)[["docid", "score"]]
                        .reset_index(drop=True))
        return out

    def search_join(self, queries: DataFrame, k: int = 10,
                    method: str = "wand", field: str | None = None,
                    org: str | None = None, qid_col: str = "qid",
                    query_col: str = "query",
                    mode_col: str | None = None,
                    default_mode: str = "or",
                    n_buckets: int | None = None,
                    filter: str | Column | None = None,
                    min_should_match: int | None = None,
                    after_cols: tuple[str, str] | None = None
                    ) -> DataFrame:
        """Batch search as a JOIN: score a whole DataFrame of queries
        against the index in one distributed plan and return per-query
        top-k as a DataFrame — the surface for query-set-scale work
        (query-log evaluation, search-based decontamination, weak
        labeling) where the query table itself is big data.

        Input: ``queries(qid_col, query_col[, mode_col])``; qids must
        be unique (one row per query). Output:
        ``(qid, rank, docid, score)`` with rank 1..k by (score desc,
        docid asc) — each query's rows are rank-identical to the
        corresponding ``topk`` call. Queries with no tokens, or whose
        terms are all absent from the index, simply emit no rows.
        Modes: ``or`` / ``and`` (BM25 over the query's distinct terms)
        and ``phrase`` (exact consecutive match, positions-based —
        rank-identical to ``phrase_topk``); a batch can mix all three
        via ``mode_col``.

        Scale shape (how this differs from ``topk_many``'s driver
        dict): NOTHING here is O(#queries) on the driver.

        - queries tokenize with the same Catalyst expression the build
          uses (pandas fallback for non-JVM configs) and explode to
          (qid, term) rows; idf comes from a LEFT join against the
          term_stats table (absent terms kept at df=0 so AND-mode term
          counts stay exact) — no driver vocab collect;
        - each query lands in one of ``n_buckets`` buckets
          (xxhash64(qid) % B) — the parallelism axis of the query
          dimension;
        - dictionary rows are selected by BROADCAST-joining the query
          set's distinct (term, bucket) pairs against the postings
          table: the big side never shuffles for the join, and only
          matching rows enter the ONE exchange that cogroups
          (shard, bucket) postings with that bucket's queries. A hot
          term queried in many buckets replicates its rows up to B× —
          the classic replication/parallelism trade; B defaults to the
          session's shuffle partitions and is caller-tunable;
        - per-(shard, bucket) scoring reuses score_query_set (the
          topk_many kernel), then ONE window over qid takes the global
          per-query top-k. Total: broadcast + 2 shuffles, all stages
          distributed in both the corpus and query dimensions.

        For a handful of queries prefer ``topk_many`` (per-term
        dictionary point-probes); search_join's full dictionary scan
        only amortizes across a large query set.

        ``org=`` (routed indexes with contiguous-tenant ranges) scopes
        the WHOLE batch to one tenant: shard-pruned scan + interval
        scoring, same semantics as ``topk(org=)``.

        ``filter=`` (SQL predicate over docstore columns) restricts
        the WHOLE batch like ``topk(filter=)`` — stats stay global.
        Plan shape: the filter's per-shard docid set is delta+varint
        encoded into ONE sentinel row per (shard, bucket) riding the
        postings side of the cogroup (sj_cand_rows), the kernels score
        only those candidates and truncate to k per query in-group,
        and the global window merges — per-group output is
        O(k · queries in bucket), never postings-scale; nothing
        doc-scale on the driver. Composes with ``org``
        (conjunction).

        ``after_cols=(score_col, docid_col)`` (r7) names per-query
        pagination-cursor columns in ``queries``: a non-NULL cursor
        makes that query's rows rank strictly after it (NULL = page
        1) — batch deep-exports page per query without re-ranking
        from page 1. The cursor rides the query rows into the
        kernels, so the plan shape is unchanged. or/and modes only."""
        prefix, avgdl = self._field(field)
        if default_mode not in ("or", "and", "phrase"):
            raise ValueError(
                f"default_mode {default_mode!r}: or|and|phrase")
        B = int(n_buckets
                or self.spark.conf.get("spark.sql.shuffle.partitions",
                                       "32"))
        spark = self.spark
        q = sj_normalize_queries(queries, qid_col, query_col, mode_col,
                                 default_mode, after_cols=after_cols)
        make_qt = sj_make_qt_factory(q, self.tokenizer, prefix, B)
        qs = sj_attach_idf(make_qt(),
                           self._term_stats.select("term", "df"),
                           self._fieldN(field))
        ranges = None
        if org is not None:
            if self.routing_col is None:
                raise ValueError("index was not built with org routing")
            ranges = self._org_ranges(org)
            if ranges is None:
                raise ValueError(
                    "search_join(org=...) needs contiguous-tenant "
                    "ranges (index predates org_ranges); rebuild or "
                    "use topk_many(org=...)")
            shard_ids = sorted(ranges)
        else:
            shard_ids = list(range(self.num_shards))
        empty = spark.createDataFrame(
            [], "qid string, rank int, docid long, score double")
        if not shard_ids:
            return empty          # unknown tenant
        shards_df = spark.createDataFrame(
            [(int(s),) for s in shard_ids], "shard int")
        # every query scores on every (pruned) shard: tiny broadcast
        # nested-loop, O(#query-terms × #shards) rows of a few columns
        qs_sh = qs.crossJoin(F.broadcast(shards_df))
        # dictionary selection: broadcast the query vocab at the scan —
        # postings never shuffle for the join itself
        tb = make_qt().select("term", "bucket").distinct()
        ps = (self._postings
              .where(F.col("shard").isin(shard_ids))
              .join(F.broadcast(tb), "term"))
        rng_lookup = None
        if ranges is not None:
            rng_by_shard = ranges
            rng_lookup = (lambda lpdf:
                          rng_by_shard.get(int(lpdf["shard"].iloc[0])))
        if filter is not None:
            # candidate side-channel: the filter's per-shard docid set
            # rides the postings side as one sentinel row per (shard,
            # bucket), so kernels restrict and truncate to k IN-GROUP —
            # per-group output is O(k · queries), never postings-scale
            fdocs = self._filter_docs(filter, org)
            buckets = make_qt().select("bucket").distinct()
            ps = ps.unionByName(sj_cand_rows(fdocs, ["shard"], buckets))
        score_group = sj_score_group_factory(
            avgdl, self.k1, self.b, k, method, rng_lookup,
            filtered=filter is not None,
            min_hits=(None if min_should_match is None
                      else _check_msm(min_should_match, "or")))
        tops = (ps.groupBy("shard", "bucket")
                .cogroup(qs_sh.groupBy("shard", "bucket"))
                .applyInPandas(score_group,
                               schema="qid string, docid long, "
                                      "score double"))
        return sj_global_topk(tops, k)

    def explain(self, query: str, docid: int,
                field: str | None = None) -> pd.DataFrame:
        """Per-term BM25 score breakdown for one document — the ES
        `_explain` analog. Returns pandas (term, tf, dl, idf, weight)
        for each query term PRESENT in the doc, ascending term order;
        ``weight = idf · bm25_partial(tf, dl)`` and the left-to-right
        accumulation ``(0 + w₁) + w₂ + …`` reproduces the doc's
        ``topk``/``topk_local`` score BIT-for-bit (the scoring kernel
        adds the same contributions in the same ascending-term
        order). Absent terms contribute no row; an
        unmatched docid yields an empty frame. Zero Spark jobs (serving
        decoded-postings LRU)."""
        prefix, avgdl = self._field(field)
        terms = self._terms(query, prefix)
        out_empty = pd.DataFrame(
            {"term": pd.Series(dtype=object),
             "tf": pd.Series(dtype=np.int64),
             "dl": pd.Series(dtype=np.int64),
             "idf": pd.Series(dtype=np.float64),
             "weight": pd.Series(dtype=np.float64)})
        if not terms:
            return out_empty
        dfs = self._local_df_counts(terms)
        idf = {t: _bm25_idf(self._fieldN(field), dfs.get(t, 0.0))
               for t in terms}
        dec = self._decoded_terms(terms)
        rows = []
        for t in terms:                      # ascending (sorted set)
            d, tf, dl = dec[t]
            i = np.searchsorted(d, docid)
            if i < d.size and d[i] == docid:
                w = float(idf[t] * codec.bm25_partial(
                    np.asarray([tf[i]], dtype=np.float64),
                    np.asarray([dl[i]], dtype=np.float64),
                    avgdl, self.k1, self.b)[0])
                rows.append((t, int(tf[i]), int(dl[i]),
                             float(idf[t]), w))
        if not rows:
            return out_empty
        return pd.DataFrame(rows, columns=["term", "tf", "dl", "idf",
                                           "weight"])

    def highlight(self, query: str, k: int = 10, mode: str = "or",
                  method: str = "wand", window: int = 12,
                  col: str = "text", field: str | None = None,
                  org: str | None = None,
                  filter: str | Column | None = None,
                  local: bool = False, pre_tag: str = "<em>",
                  post_tag: str = "</em>") -> pd.DataFrame:
        """Highlighted search — the ES plain-highlighter analog: top-k
        hits plus, per hit, the best ``window``-token fragment of the
        stored ``col`` with matched terms wrapped in pre/post tags
        (fragment scoring: most distinct query terms, then most
        matches, then earliest — sparkfts.highlight). Returns pandas
        (docid, score, fragment, n_matches) in rank order.

        ``local=True`` serves with ZERO Spark jobs (topk_local +
        pyarrow doc fetch); the default path uses the distributed topk
        and composes with ``org``/``field``/``filter``. On multi-field
        indexes the highlighted column follows the queried field
        unless ``col`` is set explicitly. Decoration runs driver-side
        over exactly k fetched rows — the distributed part of a
        highlighted search is the search.

        ``mode="phrase"`` (r6) highlights exact-phrase hits: ranking
        comes from phrase_topk[_local], fragments still tag every
        occurrence of the phrase's terms (the ES plain-highlighter
        convention — it is term-based even under phrase queries)."""
        from .highlight import highlight_hits
        if field is not None and col == "text":
            col = field
        if mode == "phrase":
            if filter is not None:
                hits = self.phrase_topk(query, k, org=org, field=field,
                                        filter=filter).toPandas()
            elif local:
                hits = self.phrase_topk_local(query, k, org=org,
                                              field=field)
            else:
                hits = self.phrase_topk(query, k, org=org,
                                        field=field).toPandas()
        elif local:
            if filter is not None:
                raise ValueError(
                    "highlight(local=True) does not take filter= "
                    "(predicate evaluation is a docstore scan)")
            hits = self.topk_local(query, k, mode, method, org=org,
                                   field=field)
        else:
            hits = self._topk_pd(query, k, mode, method, org=org,
                                 field=field, filter=filter)
        if hits.empty:
            return hits.assign(
                fragment=pd.Series(dtype=object),
                n_matches=pd.Series(dtype="int64"))
        docs = self.fetch_docs_local(hits["docid"].tolist())
        qterms = set(tokenize_text(query, self.tokenizer))
        return highlight_hits(hits, docs, qterms, self.tokenizer,
                              col=col, window=window, pre_tag=pre_tag,
                              post_tag=post_tag)

    def _pa_datasets(self):
        import pyarrow.dataset as ds
        if self._pa_ds is None:
            # file listing once per handle, not per query; one tuple
            # assignment, so a concurrent caller never sees half of it
            self._pa_ds = (
                ds.dataset(storage.path(self.root, "postings"),
                           format="parquet", partitioning="hive"),
                ds.dataset(storage.path(self.root, "term_stats"),
                           format="parquet"))
        return self._pa_ds

    # serving-path cache bounds per handle (entries AND payload bytes —
    # a 256-entry cap over hot terms' decoded postings can still be GBs
    # on a large index, so bytes are the binding limit); the index is
    # an immutable snapshot, so entries never invalidate — rotation
    # swaps in a NEW handle. The row-group cache has the byte cap only,
    # with its own TERM_CACHE_BYTES budget.
    TERM_CACHE_CAP = 256
    TERM_CACHE_BYTES = 256 << 20

    @staticmethod
    def _lru_evict(cache, sizes: dict, cap: float, byte_cap: int,
                   protect: set) -> None:
        """Evict from the front (LRU) until both caps hold, but NEVER a
        key the current call needs — callers move_to_end their keys
        first, so a query with more terms than the cap overshoots
        temporarily instead of evicting (then crashing on) its own
        entries."""
        while (len(cache) > cap
               or sum(sizes.values()) > byte_cap):
            k = next(iter(cache))
            if k in protect:
                break   # only the current call's keys remain
            cache.pop(k)
            sizes.pop(k, None)

    def _cached(self, cache, sizes: dict, keys: list, load,
                cap: float) -> dict:
        """key → value for ``keys`` from one of the handle's LRU caches.
        ``load(missing)`` returns {key: (value, nbytes)} and runs
        outside the handle's lock, so concurrent callers never wait on
        each other's parquet reads; every cache change happens under
        the lock. Values are immutable, and the call keeps the ones it
        returns even if a concurrent call evicts them meanwhile."""
        with self._lock:
            got = {k: cache[k] for k in keys if k in cache}
        miss = [k for k in dict.fromkeys(keys) if k not in got]
        new = load(miss) if miss else {}
        with self._lock:
            for k, (v, nbytes) in new.items():
                cache[k] = got[k] = v
                sizes[k] = nbytes
            for k in keys:
                if k in cache:
                    cache.move_to_end(k)
            self._lru_evict(cache, sizes, cap, self.TERM_CACHE_BYTES,
                            set(keys))
        return {k: got[k] for k in keys}

    def _catalog(self, table: str) -> _RowGroupCatalog:
        """The row-group catalogue of one of the three driver-read
        tables, listed on first use."""
        with self._lock:
            cat = self._catalogs.get(table)
            if cat is None:
                if table == "docstore":
                    dset, key = self._pa_docstore_ds(), "docid"
                else:
                    post, ts = self._pa_datasets()
                    dset, key = ((post, "th") if table == "postings"
                                 else (ts, "term"))
                cat = self._catalogs[table] = _RowGroupCatalog(dset, key)
        return cat

    def _rg_take(self, table: str, want: np.ndarray):
        """Rows of ``table`` whose key is in ``want`` (sorted, unique),
        in file then row order — what a pyarrow dataset scan filtered on
        ``key.isin(want)`` returns. Row groups whose footer min/max
        holds no wanted key are pruned; the rest are read once and then
        served decoded from the row-group LRU."""
        cat = self._catalog(table)
        groups = cat.candidates(want)
        byk = {g.key: g for g in groups}
        read: list[_RowGroup] = []

        def load(miss):
            read.extend(byk[k] for k in miss)
            return {k: cat.load(byk[k]) for k in miss}

        got = self._cached(self._rg_cache, self._rg_cache_sz, list(byk),
                           load, math.inf)
        with self._lock:
            c = self._read_counters
            c["row_groups_pruned"] += len(cat.groups) - len(groups)
            c["row_groups_read"] += len(read)
            c["row_groups_cached"] += len(groups) - len(read)
            c["bytes_read"] += sum(g.nbytes for g in read)
        return cat.take([got[g.key] for g in groups], want)

    def read_counters(self) -> dict[str, int]:
        """What the driver-local reads did on this handle so far: row
        groups read from disk, pruned by footer min/max, served from the
        row-group cache, and the compressed bytes read."""
        with self._lock:
            return dict(self._read_counters)

    def _read_term_rows(self, terms: list[str]) -> pd.DataFrame:
        """Dictionary rows of ``terms``: th match, then the exact term
        check (a th collision never leaks another term's rows)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        hs = np.unique(np.array([codec.term_hash(t) for t in terms],
                                dtype=np.int64))
        tbl = self._rg_take("postings", hs)
        keep = pc.is_in(tbl.column("term"),
                        value_set=pa.array(terms, pa.string()))
        return tbl.filter(keep).to_pandas()

    def _local_term_rows(self, terms: list[str],
                         use_cache: bool = True) -> pd.DataFrame:
        """Driver-side dictionary lookup (the same th/term match as the
        Spark path, no Spark job) on the row-group cache, behind a
        per-handle LRU of term → dictionary rows: repeated serving
        queries skip the lookup entirely (the reference's always-on ES
        keeps its segments hot; this is the snapshot-reader analog).
        Negative entries (absent terms) are cached too.
        ``use_cache=False`` reads through without populating (the
        decoded-postings cache keeps its own copy — storing the raw
        frames again would double the footprint of every hot term)."""
        cache = self._term_cache
        if not use_cache:
            with self._lock:
                parts = [cache[t] for t in terms if t in cache]
                miss = [t for t in terms if t not in cache]
            if miss:
                parts.append(self._read_term_rows(miss))
            return pd.concat(parts, ignore_index=True)

        def load(miss):
            got = self._read_term_rows(miss)
            out = {}
            for t in miss:
                # per-term frame keeps its chunk/file order (scoring
                # paths re-order by (shard, chunk) where needed)
                sub = got[got["term"] == t]
                out[t] = (sub, int(sub["nbytes"].sum()) if len(sub) else 0)
            return out

        got = self._cached(cache, self._term_cache_sz, terms, load,
                           self.TERM_CACHE_CAP)
        return pd.concat([got[t] for t in terms], ignore_index=True)

    def _decoded_terms(self, terms: list[str]) \
            -> dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]]:
        """term → decoded (docids, tfs, dls) in globally ascending docid
        order, behind a per-handle LRU: the second hit on a term skips
        BOTH the dictionary lookup and the varint decode. Absent terms
        cache empty arrays. Reads bypass the raw-frame cache
        (use_cache=False) so hot terms aren't stored twice."""
        def load(miss):
            pdf = self._local_term_rows(miss, use_cache=False)
            e = np.empty(0, dtype=np.int64)
            # (a per-term decode thread pool was tried and REJECTED in
            # r8: the pandas term filter is GIL-bound, so threads
            # serialized on it and cold-query walls got WORSE)
            out = {}
            for t in miss:
                sub = pdf[pdf["term"] == t]
                dec = _decode_term_rows(sub) if len(sub) else (e, e, e)
                out[t] = (dec, sum(a.nbytes for a in dec))
            return out

        return self._cached(self._dec_cache, self._dec_cache_sz, terms,
                            load, self.TERM_CACHE_CAP)

    def _decoded_partials(self, terms: list[str], avgdl: float
                          ) -> dict[str, tuple[np.ndarray, np.ndarray]]:
        """term → (docids, BM25 partial array) behind a per-handle LRU:
        the partial tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)) depends only on
        the term's postings and the handle's (avgdl, k1, b), so a warm
        serving query skips the whole per-posting float pipeline, not
        just the decode. Computed ONCE from the decoded arrays with the
        same codec.bm25_partial call every scoring path uses —
        bit-identical scores. Entries are keyed by (term, avgdl)
        (multi-field handles score each prefixed term with its own
        field avgdl, so the key is stable)."""
        def load(miss):
            dec = self._decoded_terms([t for t, _ in miss])
            out = {}
            for key in miss:
                d, tf, dl = dec[key[0]]
                part = (codec.bm25_partial(tf, dl, avgdl, self.k1,
                                           self.b)
                        if d.size else np.empty(0, dtype=np.float64))
                out[key] = ((d, part), d.nbytes + part.nbytes)
            return out

        got = self._cached(self._part_cache, self._part_cache_sz,
                           [(t, avgdl) for t in terms], load,
                           self.TERM_CACHE_CAP)
        return {t: v for (t, _), v in got.items()}

    def _local_df_counts(self, terms: list[str]) -> dict[str, float]:
        """term → df for the terms present in term_stats."""
        if not terms:
            return {}
        tbl = self._rg_take("term_stats",
                            np.array(sorted(set(terms)), dtype=object))
        got = dict(zip(tbl.column("term").to_pylist(),
                       tbl.column("df").to_numpy().astype(float)))
        return {t: got[t] for t in terms if got.get(t, 0.0) > 0.0}

    def _pa_docstore_ds(self):
        import pyarrow.dataset as ds
        if self._pa_docstore is None:
            self._pa_docstore = ds.dataset(
                storage.path(self.root, "docstore"),
                format="parquet", partitioning="hive")
        return self._pa_docstore

    def _local_org_docids(self, org: str, shards: list[int]) -> np.ndarray:
        """Driver-side tenant candidate set: shard-pruned pyarrow read of
        the doc store filtered to the org (no Spark job)."""
        import pyarrow.dataset as ds
        flt = (ds.field("shard").isin(shards)
               & (ds.field(self.routing_col) == org))
        t = self._pa_docstore_ds().to_table(filter=flt, columns=["docid"])
        return np.sort(t.column("docid").to_numpy().astype(np.int64))

    def topk_local(self, query: str, k: int = 10, mode: str = "or",
                   method: str = "wand", field: str | None = None,
                   org: str | None = None,
                   after: tuple[float, int] | None = None,
                   min_should_match: int | None = None,
                   raw_terms: list[str] | None = None,
                   must_not: str | None = None,
                   must: str | None = None,
                   boosts: dict[str, float] | None = None
                   ) -> pd.DataFrame:
        """Low-latency single-node query path: pyarrow dataset reads with
        the same th/term pushdown (no Spark job at all) + the same numpy
        scoring kernel. Because docs live in exactly one shard, scoring
        all returned dictionary rows in one pass is identical to the
        per-shard + merge result. This is the latency-parity answer to
        the reference's always-on ES cluster (ms, not Spark-job seconds);
        the distributed topk() path exists for indexes too large for one
        reader. Returns (docid, score) pandas, rank-identical to topk().

        With ``org`` (routed indexes only): dictionary rows are pruned to
        the tenant's shards and scoring restricts to the org's docids
        (read driver-side from the shard-pruned doc store) — the
        ms-latency analog of topk(org=...), rank-identical to it.

        The org=None path serves from the decoded-postings LRU: the
        FIRST query on a term pays a full decode (warming the cache —
        deliberate for a serving handle; the always-on reference keeps
        segments hot the same way), so ``method`` block pruning applies
        only on the org paths. One-shot cold queries that must not warm
        a cache belong on the distributed topk(). ``after`` is the
        deep-pagination cursor, ``min_should_match`` the OR-mode
        match-count floor, ``must_not`` the bool-negation exclusion —
        same contracts as topk()."""
        prefix, avgdl = self._field(field)
        mh = _check_msm(min_should_match, mode if not must else "or")
        if after is not None:
            after = (float(after[0]), int(after[1]))
        terms = (sorted(set(raw_terms)) if raw_terms is not None
                 else self._terms(query, prefix))
        neg = self._terms(must_not, prefix) if must_not else []
        if must_not and not neg:
            raise ValueError("must_not analyzed to zero terms")
        terms, mode, reqs = _fold_must(
            self._terms(must, prefix) if must else [], must, terms,
            mode, mh)
        if neg and not terms:
            raise ValueError(
                "must_not requires a non-empty positive query; a "
                "pure-negation match-all is a docstore predicate — "
                "use filter= / match_docids")
        negs = frozenset(neg)
        empty = pd.DataFrame({"docid": pd.Series(dtype="int64"),
                              "score": pd.Series(dtype="float64")})
        if org is not None:
            shards = self.possible_shards(org)   # raises if unrouted
        if not terms:
            return empty
        if org is None:
            # decoded-postings LRU fast path (the serving hot path):
            # per-term (docids, tfs, dls) arrays are decoded once per
            # handle; scoring is the same ascending-term concatenation
            # feeding _aggregate_topk that every exhaustive path uses,
            # so results are bit-identical to the cold path
            pp = self._decoded_partials(terms, avgdl)
            ex = (merge_excl_docids(
                None, [d for d, _, _ in
                       self._decoded_terms(neg).values()])
                if neg else None)
            dfm = self._local_df_counts(terms)
            idf = _apply_boosts(
                {t: _bm25_idf(self._fieldN(field), dfm.get(t, 0.0))
                 for t in terms}, boosts, terms, self.tokenizer,
                prefix)
            return score_partials(pp, idf, k, mode, len(terms),
                                  after=after, min_hits=mh, excl=ex,
                                  req_terms=reqs)
        pdf = self._local_term_rows(sorted(set(terms) | negs))
        if org is not None:
            pdf = pdf[pdf["shard"].isin(shards)]
        pdf, ex = fold_neg_terms(pdf, negs, None)
        if pdf.empty:
            return empty
        dfm = self._local_df_counts(terms)
        idf = _apply_boosts(
            {t: _bm25_idf(self._fieldN(field), dfm.get(t, 0.0))
             for t in terms}, boosts, terms, self.tokenizer, prefix)
        if org is not None:
            ranges = self._org_ranges(org)
            if ranges is not None:
                # contiguous-tenant fast path: interval per shard, no
                # docstore read at all
                parts = []
                for s in sorted(ranges):
                    sub = pdf[pdf["shard"] == s]
                    if sub.empty:
                        continue
                    lo, hi = ranges[s]
                    parts.append(score_range_pt(
                        sub, lo, hi, idf, avgdl, self.k1, self.b, k,
                        mode, len(terms), after=after, min_hits=mh,
                        excl=ex, req_terms=reqs))
                if not parts:
                    return empty
                return (pd.concat(parts)
                        .sort_values(["score", "docid"],
                                     ascending=[False, True])
                        .head(k).reset_index(drop=True))
            cand = self._local_org_docids(org, shards)
            if cand.size == 0:
                return empty
            pt = {t: pdf[pdf["term"] == t]
                  for t in sorted(pdf["term"].unique())}
            out = _score_candidates(pt, list(pt), cand, idf, avgdl,
                                    self.k1, self.b, k, mode,
                                    len(terms), after=after,
                                    min_hits=mh, excl=ex,
                                    req_terms=reqs)
        return out.reset_index(drop=True)

    def match_docids(self, query: str, mode: str = "and",
                     field: str | None = None,
                     org: str | None = None,
                     filter: str | Column | None = None,
                     raw_terms: list[str] | None = None) -> DataFrame:
        """Boolean match without scoring (B7): docids containing all
        (and) / any (or) query terms, sorted ascending. With ``org``
        (routed indexes): shard-pruned read + restriction to the
        tenant's docids. With ``filter`` (SQL predicate over docstore
        columns): restriction to docs satisfying it — composes with
        ``org`` as a conjunction. ``raw_terms`` replaces the analyzer
        pass (multi-term constant_score feed)."""
        prefix, _ = self._field(field)
        terms = (sorted(set(raw_terms)) if raw_terms is not None
                 else self._terms(query, prefix))
        if not terms:
            return self.spark.createDataFrame([], "docid long")
        nq = len(terms)

        def _match(lpdf: pd.DataFrame, restrict) -> pd.DataFrame:
            res: np.ndarray | None = None
            union: list[np.ndarray] = []
            for t in sorted(lpdf["term"].unique()):
                d, _, _ = _decode_term_rows(lpdf[lpdf["term"] == t])
                d = restrict(d)
                if mode == "and":
                    res = d if res is None else np.intersect1d(
                        res, d, assume_unique=True)
                else:
                    union.append(d)
            if mode == "and":
                if lpdf["term"].nunique() < nq or res is None:
                    res = np.empty(0, dtype=np.int64)
            else:
                res = (np.unique(np.concatenate(union))
                       if union else np.empty(0, dtype=np.int64))
            return pd.DataFrame({"docid": res})

        if filter is not None:
            rows = self._posting_rows(terms)
            if org is not None:
                rows = rows.where(
                    F.col("shard").isin(self.possible_shards(org)))
            fdocs = self._filter_docs(filter, org)

            def per_shard_flt(lpdf: pd.DataFrame,
                              rpdf: pd.DataFrame) -> pd.DataFrame:
                if lpdf.empty or rpdf.empty:
                    return pd.DataFrame(
                        {"docid": pd.Series(dtype=np.int64)})
                cand = np.unique(rpdf["docid"].to_numpy(np.int64))
                return _match(
                    lpdf, lambda d: d[np.isin(d, cand,
                                              assume_unique=True)])

            return (rows.groupBy("shard")
                    .cogroup(fdocs.groupBy("shard"))
                    .applyInPandas(per_shard_flt, schema="docid long")
                    .sort("docid"))

        if org is not None:
            ranges = self._org_ranges(org)

            if ranges is not None:
                if not ranges:
                    return self.spark.createDataFrame([], "docid long")
                rows = (self._posting_rows(terms)
                        .where(F.col("shard").isin(sorted(ranges))))

                def per_shard_rng(pdf: pd.DataFrame) -> pd.DataFrame:
                    lo, hi = ranges[int(pdf["shard"].iloc[0])]
                    return _match(pdf,
                                  lambda d: d[(d >= lo) & (d <= hi)])

                return (rows.groupBy("shard")
                        .applyInPandas(per_shard_rng, schema="docid long")
                        .sort("docid"))

            rows, orgdocs = self._org_rows_docs(terms, org)

            def per_shard_org(lpdf: pd.DataFrame,
                              rpdf: pd.DataFrame) -> pd.DataFrame:
                if lpdf.empty or rpdf.empty:
                    return pd.DataFrame({"docid": pd.Series(dtype=np.int64)})
                cand = np.sort(rpdf["docid"].to_numpy(np.int64))
                return _match(
                    lpdf, lambda d: d[np.isin(d, cand,
                                              assume_unique=True)])

            return (rows.groupBy("shard")
                    .cogroup(orgdocs.groupBy("shard"))
                    .applyInPandas(per_shard_org, schema="docid long")
                    .sort("docid"))

        def per_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            res: np.ndarray | None = None
            union: list[np.ndarray] = []
            for t in sorted(pdf["term"].unique()):
                d, _, _ = _decode_term_rows(pdf[pdf["term"] == t])
                if mode == "and":
                    res = d if res is None else np.intersect1d(res, d,
                                                               assume_unique=True)
                else:
                    union.append(d)
            if mode == "and":
                n_present = pdf["term"].nunique()
                if n_present < nq or res is None:
                    res = np.empty(0, dtype=np.int64)
            else:
                res = (np.unique(np.concatenate(union))
                       if union else np.empty(0, dtype=np.int64))
            return pd.DataFrame({"docid": res})

        return (self._posting_rows(terms).groupBy("shard")
                .applyInPandas(per_shard, schema="docid long")
                .sort("docid"))

    def facet_counts(self, query: str, by: str, k: int = 20,
                     mode: str = "and", field: str | None = None,
                     org: str | None = None,
                     filter: str | Column | None = None) -> DataFrame:
        """Per-value document counts of docstore column — or SQL
        EXPRESSION — ``by`` over the docs matching the query: the ES
        terms-aggregation analog (`"aggs": {"terms": {"field": by}}`
        under a bool query). An expression ``by`` buys the other ES
        bucket aggs in one surface: `date_trunc('day', ts)` is a
        date_histogram, `CAST(n_chars / 200 AS INT)` a range/histogram
        agg. Returns (value string, doc_count long), count desc /
        value asc, top ``k`` facet values; docs with a NULL facet
        value are not counted (ES default).

        Matching is boolean (``mode`` and/or — unscored, like a filter
        context); ``org`` and ``filter`` restrict it exactly as in
        ``match_docids``.

        Scale shape: postings of the query terms cogroup with the
        shard's docstore slice (column-pruned to shard, docid, ``by``
        and any filter columns — all pushed to the parquet scan); each
        shard emits PARTIAL (value, count) rows, one small shuffle sums
        them, and the top-k order/limit runs on counts, never on docs.
        No driver materialization anywhere."""
        out = self._facet_partials(query, by, mode, field, org, filter)
        if out is None:
            return self.spark.createDataFrame(
                [], "value string, doc_count long")
        return (out.orderBy(F.desc("doc_count"), F.asc("value"))
                .limit(k))

    def _facet_partials(self, query: str, by: str, mode: str,
                        field: str | None, org: str | None,
                        filter) -> DataFrame | None:
        """Shared bucket-agg plan (terms / histogram / date_histogram):
        per-shard partial (value, count) rows from the postings ⋈
        docstore cogroup, one combining shuffle. Returns the UNORDERED
        (value string, doc_count long) frame, or None for an empty
        query / unknown tenant — callers order/limit/reshape."""
        prefix, _ = self._field(field)
        terms = self._terms(query, prefix)
        if not terms:
            return None
        nq = len(terms)
        rows = self._posting_rows(terms)
        store = self._docstore
        if org is not None:
            shards = self.possible_shards(org)
            rows = rows.where(F.col("shard").isin(shards))
            store = (store.where(F.col("shard").isin(shards))
                     .where(F.col(self.routing_col) == org))
        if filter is not None:
            store = store.where(filter)
        store = store.select(
            "shard", "docid", F.expr(by).cast("string").alias("value"))

        return (rows.groupBy("shard")
                .cogroup(store.groupBy("shard"))
                .applyInPandas(facet_count_group(mode, nq),
                               schema="value string, cnt long")
                .groupBy("value").agg(F.sum("cnt").alias("doc_count")))

    @staticmethod
    def _gapfill_hist(counts: DataFrame, interval: float) -> DataFrame:
        """Single-pass gap fill over bucket indexes (gaps-and-islands):
        lag each occupied bucket, explode the missing range before it.
        ONE doc-scale pass (the counts input is computed once); the
        unpartitioned window orders BUCKET-scale rows only — buckets
        are bounded by value-range/interval, never by corpus size."""
        from pyspark.sql.window import Window
        w = Window.orderBy("idx")
        return (counts
                .withColumn("prev", F.lag("idx").over(w))
                .select(F.explode(F.sequence(
                            F.coalesce(F.col("prev") + 1,
                                       F.col("idx")),
                            F.col("idx"))).alias("b"),
                        "idx", "doc_count")
                .select((F.col("b") * F.lit(float(interval)))
                        .alias("bucket"),
                        F.when(F.col("b") == F.col("idx"),
                               F.col("doc_count")).otherwise(F.lit(0))
                        .alias("doc_count"))
                .orderBy("bucket"))

    @staticmethod
    def _gapfill_dh(counts: DataFrame, step: str) -> DataFrame:
        """Gap fill for calendar buckets, same single-pass shape."""
        from pyspark.sql.window import Window
        w = Window.orderBy("bkt")
        return (counts
                .withColumn("prev", F.lag("bkt").over(w))
                .select(F.explode(F.sequence(
                            F.coalesce(
                                F.col("prev") + F.expr(step),
                                F.col("bkt")),
                            F.col("bkt"),
                            F.expr(step))).alias("bucket"),
                        "bkt", "doc_count")
                .select("bucket",
                        F.when(F.col("bucket") == F.col("bkt"),
                               F.col("doc_count")).otherwise(F.lit(0))
                        .alias("doc_count"))
                .orderBy("bucket"))

    def facet_histogram(self, query: str, on: str, interval: float,
                        mode: str = "and", field: str | None = None,
                        org: str | None = None,
                        filter: str | Column | None = None,
                        min_doc_count: int = 0) -> DataFrame:
        """Histogram aggregation — the ES ``histogram`` agg under a
        bool query: bucket matching docs by
        ``floor(on / interval) * interval`` over the numeric docstore
        column or SQL expression ``on``. Returns (bucket double,
        doc_count long) ordered bucket asc — the ES key-asc order.
        With ``min_doc_count=0`` (the ES histogram default) EMPTY
        buckets between the min and max occupied bucket are emitted
        with doc_count 0; higher values drop buckets below the floor.
        NULL metric values are uncounted. ``mode``/``field``/``org``/
        ``filter`` restrict matching exactly as in facet_counts.

        Scale shape: the facet partial-agg plan (docs never shuffle,
        one small combining exchange) bucketing by the INTEGER bucket
        index (exact — no float-formatting drift crossing the Arrow
        string boundary); the gap fill is a single-pass
        gaps-and-islands explode (lag + sequence) over the BUCKET-
        scale aggregate — one doc-scale pass total, no self-join."""
        interval = float(interval)
        if not interval > 0:
            raise ValueError(f"interval must be > 0, got {interval}")
        mdc = int(min_doc_count)
        bexpr = f"CAST(FLOOR(({on}) / {interval!r}) AS BIGINT)"
        out = self._facet_partials(query, bexpr, mode, field, org,
                                   filter)
        empty = self.spark.createDataFrame(
            [], "bucket double, doc_count long")
        if out is None:
            return empty
        counts = out.select(
            F.col("value").cast("long").alias("idx"), "doc_count")
        if mdc > 0:
            return (counts.where(F.col("doc_count") >= mdc)
                    .select((F.col("idx") * F.lit(interval))
                            .alias("bucket"), "doc_count")
                    .orderBy("bucket"))
        return self._gapfill_hist(counts, interval)

    @staticmethod
    def _range_case(on: str, ranges) -> tuple[str, list[str]]:
        """(CASE expression, ordered keys) for the ES range agg:
        each (from_, to_) bucket is from-INCLUSIVE / to-EXCLUSIVE
        (the ES contract), None = open end; keys are the ES
        '<from>-<to>' / '*-<to>' / '<from>-*' labels, emitted in the
        caller's order. Overlapping ranges are legal in ES (a doc can
        land in several buckets) — legal here too, via one CASE arm
        per bucket unioned by the caller."""
        keys, whens = [], []
        for fr, to in ranges:
            if fr is None and to is None:
                raise ValueError("range bucket needs from or to")
            key = (("*" if fr is None else f"{float(fr):g}") + "-"
                   + ("*" if to is None else f"{float(to):g}"))
            conds = []
            if fr is not None:
                conds.append(f"({on}) >= {float(fr)!r}")
            if to is not None:
                conds.append(f"({on}) < {float(to)!r}")
            whens.append((key, " AND ".join(conds)))
            keys.append(key)
        if len(set(keys)) != len(keys):
            raise ValueError(f"duplicate range keys: {keys}")
        return whens, keys

    def facet_range(self, query: str, on: str,
                    ranges, mode: str = "and",
                    field: str | None = None, org: str | None = None,
                    filter: str | Column | None = None) -> DataFrame:
        """Range aggregation — the ES ``range`` agg under a bool
        query: explicit (from, to) buckets over the numeric docstore
        column or SQL expression ``on``, from-INCLUSIVE /
        to-EXCLUSIVE, ``None`` = open end. Returns (key string,
        doc_count long) in the CALLER'S bucket order, one row per
        requested bucket (empty buckets count 0 — the ES contract).
        Buckets may overlap (a doc counts in each bucket it falls
        in); NULL metric values count nowhere.

        Scale shape: ONE facet partial-agg pass. Each doc's bucket
        memberships encode as a '|'-joined COMPOSITE key (one CASE
        arm per bucket, concat_ws skips misses; no-bucket docs go
        NULL and are uncounted by the kernel); the composite counts
        explode back into member keys AFTER aggregation — bucket-
        scale work, docs never shuffle, overlap costs nothing."""
        ranges = list(ranges)
        whens, keys = self._range_case(on, ranges)
        comp = ("nullif(concat_ws('|', " + ", ".join(
            f"CASE WHEN {cond} THEN '{key}' END"
            for key, cond in whens) + "), '')")
        out = self._facet_partials(query, comp, mode, field, org,
                                   filter)
        empty = self.spark.createDataFrame(
            [], "key string, doc_count long")
        if out is None:
            out = empty.withColumnRenamed("key", "value")
        per_key = (out
                   .select(F.explode(F.split("value", "[|]"))
                           .alias("key"), "doc_count")
                   .groupBy("key")
                   .agg(F.sum("doc_count").alias("doc_count")))
        grid = self.spark.createDataFrame(
            [(k, i) for i, k in enumerate(keys)],
            "key string, ord int")
        return (grid.join(per_key, "key", "left")
                .select("key", F.coalesce("doc_count", F.lit(0))
                        .alias("doc_count"), "ord")
                .orderBy("ord").drop("ord"))

    def facet_nested(self, query: str, by: str, sub: str,
                     k: int = 10, k_sub: int = 10, mode: str = "and",
                     field: str | None = None, org: str | None = None,
                     filter: str | Column | None = None) -> DataFrame:
        """Nested terms aggregation — the ES terms-agg with a terms
        SUB-aggregation (`aggs: {terms: {field: by}, aggs: {terms:
        {field: sub}}}`): top-``k`` outer buckets by doc_count
        (count desc, value asc — the ES order), and inside each the
        top-``k_sub`` inner values. Outer doc_count counts EVERY doc
        in the bucket (docs with a NULL inner value included — the ES
        contract); inner buckets only non-NULL sub values. Returns
        one row per (outer, inner) pair:
        (value, doc_count, sub_value, sub_count), ordered by outer
        rank then inner rank; an outer bucket whose docs all have
        NULL inner emits one row with NULL sub_value / sub_count 0.

        Scale shape: ONE facet partial-agg pass bucketing by the
        (outer, inner) composite (U+001F-joined; values containing
        that control char are unsupported) — sub-bucket splitting,
        outer totals, and both top-k windows run on BUCKET-scale rows
        after the combining shuffle. Docs never shuffle."""
        from pyspark.sql.window import Window
        SEP, NULLMARK = "\x1f", "\x00"
        comp = (f"CASE WHEN ({by}) IS NOT NULL THEN "
                f"concat(CAST(({by}) AS STRING), '{SEP}', "
                f"coalesce(CAST(({sub}) AS STRING), '{NULLMARK}')) "
                f"END")
        out = self._facet_partials(query, comp, mode, field, org,
                                   filter)
        if out is None:
            return self.spark.createDataFrame(
                [], "value string, doc_count long, sub_value string, "
                    "sub_count long")
        return self._nested_post(out, k, k_sub)

    @staticmethod
    def _nested_post(out: DataFrame, k: int, k_sub: int) -> DataFrame:
        """Bucket-scale post-work of facet_nested (shared with the
        CombinedIndex twin): split the composite, outer totals via a
        partition window, both top-k windows, ES ordering."""
        from pyspark.sql.window import Window
        SEP, NULLMARK = "\x1f", "\x00"
        pairs = out.select(
            F.split_part("value", F.lit(SEP), F.lit(1)).alias("value"),
            F.nullif(F.split_part("value", F.lit(SEP), F.lit(2)),
                     F.lit(NULLMARK)).alias("sub_value"),
            F.col("doc_count").alias("pc"))
        wo = Window.partitionBy("value")
        outer = (pairs
                 .withColumn("doc_count", F.sum("pc").over(wo))
                 .withColumn("sub_count",
                             F.when(F.col("sub_value").isNotNull(),
                                    F.col("pc")).otherwise(F.lit(0))))
        ro = Window.orderBy(F.desc("doc_count"), F.asc("value"))
        ri = Window.partitionBy("value").orderBy(
            F.desc("sub_count"), F.asc_nulls_last("sub_value"))
        ranked = (outer
                  .withColumn("irank", F.row_number().over(ri))
                  .where((F.col("irank") <= k_sub)
                         & (F.col("sub_value").isNotNull()
                            | (F.col("irank") == 1)))
                  .withColumn("orank", F.dense_rank().over(ro)))
        return (ranked.where(F.col("orank") <= k)
                .select("value", "doc_count", "sub_value", "sub_count")
                .orderBy(F.desc("doc_count"), F.asc("value"),
                         F.desc("sub_count"),
                         F.asc_nulls_last("sub_value")))

    def facet_filters(self, query: str, filters: dict,
                      mode: str = "and", field: str | None = None,
                      org: str | None = None,
                      filter: str | Column | None = None) -> DataFrame:
        """Filters aggregation — the ES ``filters`` agg: one named
        bucket per SQL predicate over docstore columns, counting the
        matched docs satisfying it. Buckets may overlap (a doc counts
        in every bucket whose predicate it satisfies); keys emit in
        the CALLER'S order with empty buckets at 0 (the ES keyed
        response). ``filter=`` still restricts the whole aggregation
        (both compose). One facet pass via the same composite-key
        encoding facet_range uses — overlap costs nothing, docs never
        shuffle. Bucket names must not contain '|'."""
        filters = dict(filters)
        if not filters:
            raise ValueError("filters agg needs at least one bucket")
        bad = [k for k in filters if "|" in k]
        if bad:
            raise ValueError(f"bucket names must not contain '|': "
                             f"{bad}")
        comp = ("nullif(concat_ws('|', " + ", ".join(
            f"CASE WHEN ({pred}) THEN '{key}' END"
            for key, pred in filters.items()) + "), '')")
        out = self._facet_partials(query, comp, mode, field, org,
                                   filter)
        empty = self.spark.createDataFrame(
            [], "key string, doc_count long")
        if out is None:
            out = empty.withColumnRenamed("key", "value")
        per_key = (out
                   .select(F.explode(F.split("value", "[|]"))
                           .alias("key"), "doc_count")
                   .groupBy("key")
                   .agg(F.sum("doc_count").alias("doc_count")))
        grid = self.spark.createDataFrame(
            [(k, i) for i, k in enumerate(filters)],
            "key string, ord int")
        return (grid.join(per_key, "key", "left")
                .select("key", F.coalesce("doc_count", F.lit(0))
                        .alias("doc_count"), "ord")
                .orderBy("ord").drop("ord"))

    def facet_missing(self, query: str, by: str, mode: str = "and",
                      field: str | None = None,
                      org: str | None = None,
                      filter: str | Column | None = None) -> int:
        """Missing aggregation — the ES ``missing`` agg: the number
        of matched docs whose ``by`` value is NULL. One facet
        partial-agg pass bucketing on IS NULL; returns an int."""
        out = self._facet_partials(
            query, f"CASE WHEN ({by}) IS NULL THEN 'm' END",
            mode, field, org, filter)
        if out is None:
            return 0
        # the kernel drops NULL bucket values, so only the 'm' bucket
        # (by IS NULL) survives — its count is the answer
        rows = out.collect()
        return int(rows[0]["doc_count"]) if rows else 0

    _DH_STEP = {"year": "interval 1 year",
                "quarter": "interval 3 month",
                "month": "interval 1 month",
                "week": "interval 7 day",
                "day": "interval 1 day",
                "hour": "interval 1 hour",
                "minute": "interval 1 minute",
                "second": "interval 1 second"}

    def facet_date_histogram(self, query: str, on: str,
                             interval: str = "day", mode: str = "and",
                             field: str | None = None,
                             org: str | None = None,
                             filter: str | Column | None = None,
                             min_doc_count: int = 0) -> DataFrame:
        """Date-histogram aggregation — the ES ``date_histogram`` agg
        under a bool query: bucket matching docs by
        ``date_trunc(interval, on)`` over the timestamp docstore
        column or SQL expression ``on``; calendar intervals year /
        quarter / month / week / day / hour / minute / second (the ES
        1.x calendar units). Returns (bucket timestamp, doc_count
        long) ordered bucket asc; ``min_doc_count=0`` (ES default)
        gap-fills empty calendar buckets between the min and max
        occupied bucket (single-pass lag + sequence explode —
        bucket-scale work only, one doc-scale pass). NULL timestamps uncounted; matching restricted by
        mode/field/org/filter exactly as in facet_counts."""
        if interval not in self._DH_STEP:
            raise ValueError(
                f"interval must be one of {sorted(self._DH_STEP)}, "
                f"got {interval!r}")
        mdc = int(min_doc_count)
        bexpr = f"date_trunc('{interval}', {on})"
        out = self._facet_partials(query, bexpr, mode, field, org,
                                   filter)
        empty = self.spark.createDataFrame(
            [], "bucket timestamp, doc_count long")
        if out is None:
            return empty
        counts = out.select(
            F.to_timestamp("value").alias("bkt"), "doc_count")
        if mdc > 0:
            return (counts.where(F.col("doc_count") >= mdc)
                    .withColumnRenamed("bkt", "bucket")
                    .orderBy("bucket"))
        return self._gapfill_dh(counts, self._DH_STEP[interval])

    def sorted_search(self, query: str, by: str, k: int = 10,
                      mode: str = "and", descending: bool = True,
                      field: str | None = None,
                      org: str | None = None,
                      filter: str | Column | None = None) -> DataFrame:
        """Sort-by-field search — the ES ``sort`` clause (filter
        context, NO scoring): docs matching the query boolean
        (``mode`` and/or), ordered by the numeric docstore column or
        SQL expression ``by`` instead of _score. Returns (docid,
        sort_val), (sort_val desc|asc, docid asc), top ``k``. Docs
        whose sort key is NULL are omitted (compose a COALESCE
        expression for ES missing:_first/_last). ``org``/``filter``
        restrict exactly as in match_docids.

        Scale shape: postings cogroup with the column-pruned docstore
        slice per shard (same plan as facet_counts); each shard emits
        its PARTIAL top-k (docid, sort_val) — the global order/limit
        runs over num_shards * k rows, matched docs never shuffle."""
        prefix, _ = self._field(field)
        terms = self._terms(query, prefix)
        empty = self.spark.createDataFrame(
            [], "docid long, sort_val double")
        if not terms:
            return empty
        nq = len(terms)
        rows = self._posting_rows(terms)
        store = self._docstore
        if org is not None:
            shards = self.possible_shards(org)
            rows = rows.where(F.col("shard").isin(shards))
            store = (store.where(F.col("shard").isin(shards))
                     .where(F.col(self.routing_col) == org))
        if filter is not None:
            store = store.where(filter)
        store = store.select(
            "shard", "docid",
            F.expr(by).cast("double").alias("value"))
        part = (rows.groupBy("shard")
                .cogroup(store.groupBy("shard"))
                .applyInPandas(sort_match_group(mode, nq, k,
                                                descending),
                               schema="docid long, sort_val double"))
        key = (F.desc("sort_val") if descending
               else F.asc("sort_val"))
        return part.orderBy(key, F.asc("docid")).limit(k)

    def count(self, query: str, mode: str = "and",
              field: str | None = None, org: str | None = None,
              filter: str | Column | None = None) -> int:
        """Hit count — the ES _count API analog: the number of docs
        matching the query boolean (+ org/filter), no scoring, no
        fetch. One job; only per-shard counts reach the driver."""
        return self.match_docids(query, mode, field=field, org=org,
                                 filter=filter).count()

    def count_local(self, query: str, mode: str = "and",
                    field: str | None = None,
                    org: str | None = None) -> int:
        """Zero-job serving twin of count()."""
        return int(len(self.match_docids_local(query, mode,
                                               field=field, org=org)))

    def facet_cardinality(self, query: str, by: str,
                          mode: str = "and",
                          field: str | None = None,
                          org: str | None = None,
                          filter: str | Column | None = None,
                          exact: bool = True,
                          rsd: float = 0.05) -> int:
        """Distinct-value count of ``by`` (column or SQL expression)
        over the query's boolean matches — the ES ``cardinality``
        aggregation analog. ``exact=True`` counts exactly (countDistinct
        over the per-shard partial facet rows — the oracle-parity
        path); ``exact=False`` is the 100-TB path: Spark's
        HyperLogLog++ sketch (approx_count_distinct, relative error
        ``rsd``) combines map-side, so the exchange carries sketches,
        never values — exactly how ES itself serves this agg. NULLs
        uncounted (ES default)."""
        prefix, _ = self._field(field)
        terms = self._terms(query, prefix)
        if not terms:
            return 0
        nq = len(terms)
        rows = self._posting_rows(terms)
        store = self._docstore
        if org is not None:
            shards = self.possible_shards(org)
            rows = rows.where(F.col("shard").isin(shards))
            store = (store.where(F.col("shard").isin(shards))
                     .where(F.col(self.routing_col) == org))
        if filter is not None:
            store = store.where(filter)
        store = store.select(
            "shard", "docid", F.expr(by).cast("string").alias("value"))
        part = (rows.groupBy("shard")
                .cogroup(store.groupBy("shard"))
                .applyInPandas(facet_count_group(mode, nq),
                               schema="value string, cnt long"))
        agg = (F.countDistinct("value") if exact
               else F.approx_count_distinct("value", rsd))
        row = part.agg(agg.alias("c")).collect()[0]
        return int(row["c"])

    def facet_metrics(self, query: str, by: str, metric: str,
                      k: int = 20, mode: str = "and",
                      field: str | None = None,
                      org: str | None = None,
                      filter: str | Column | None = None) -> DataFrame:
        """Per-bucket METRIC aggregation over the query's boolean
        matches — the ES stats/min/max/sum/avg aggs nested under a
        terms bucket (r7, VERDICT r6 next #3): ``by`` buckets exactly
        like facet_counts; ``metric`` is a numeric docstore column or
        SQL expression. Returns (value, doc_count, metric_count, min,
        max, sum, avg), doc_count desc / value asc, top ``k``.
        doc_count counts every matched doc in the bucket; the four
        stats cover non-NULL metric values only (SQL aggregate
        semantics; NULL when the bucket has none).

        Scale shape identical to facet_counts: the docstore scan is
        column-pruned to (shard, docid, by, metric, filter cols), each
        shard emits per-value PARTIAL stats, one small shuffle
        combines them (sums add, mins min) — avg is exact because it
        divides combined sums, never averages averages."""
        prefix, _ = self._field(field)
        terms = self._terms(query, prefix)
        empty = self.spark.createDataFrame(
            [], "value string, doc_count long, metric_count long, "
                "min double, max double, sum double, avg double")
        if not terms:
            return empty
        nq = len(terms)
        rows = self._posting_rows(terms)
        store = self._docstore
        if org is not None:
            shards = self.possible_shards(org)
            rows = rows.where(F.col("shard").isin(shards))
            store = (store.where(F.col("shard").isin(shards))
                     .where(F.col(self.routing_col) == org))
        if filter is not None:
            store = store.where(filter)
        store = store.select(
            "shard", "docid",
            F.expr(by).cast("string").alias("value"),
            F.expr(metric).cast("double").alias("metric"))
        part = (rows.groupBy("shard")
                .cogroup(store.groupBy("shard"))
                .applyInPandas(facet_stats_group(mode, nq),
                               schema="value string, cnt long, "
                                      "mcnt long, mn double, "
                                      "mx double, sm double"))
        return _facet_metrics_finalize(part, k)

    def facet_percentiles(self, query: str, metric: str,
                          percentiles: Iterable[float] = (
                              25.0, 50.0, 75.0, 95.0, 99.0),
                          by: str | None = None, k: int = 20,
                          mode: str = "and",
                          field: str | None = None,
                          org: str | None = None,
                          filter: str | Column | None = None,
                          exact: bool = True,
                          accuracy: int = 10000) -> DataFrame:
        """Percentiles of ``metric`` (a numeric docstore column or SQL
        expression) over the query's boolean matches — the ES
        ``percentiles`` aggregation, optionally nested under a terms
        bucket (``by``; None = one global '_all' bucket). Returns
        (value, doc_count, p, pctl) long-shaped — one row per (bucket,
        percentile), buckets ordered doc_count desc / value asc, top
        ``k`` buckets. ``percentiles`` are ES-style 0-100. doc_count
        counts matched docs with a non-NULL metric (ES percentiles
        skip missing). ``exact=True`` is the oracle-parity path:
        Spark's `percentile` — linear interpolation on the sorted
        values, the same definition as SQL quantile_cont/ES tdigest's
        exact small-set behavior. ``exact=False`` is the 100-TB path:
        `percentile_approx` (Greenwald-Khanna quantile sketch,
        ``accuracy`` trades error 1/accuracy for memory) — partial
        sketches build map-side on the kernel output, so the one
        value-keyed exchange carries SKETCHES, never doc values —
        the same mergeable-sketch design ES's tdigest uses."""
        prefix, _ = self._field(field)
        terms = self._terms(query, prefix)
        ps = [float(p) for p in percentiles]
        if not ps or not all(0.0 <= p <= 100.0 for p in ps):
            raise ValueError("percentiles must be in [0, 100]")
        empty = self.spark.createDataFrame(
            [], "value string, doc_count long, p double, pctl double")
        if not terms:
            return empty
        nq = len(terms)
        rows = self._posting_rows(terms)
        store = self._docstore
        if org is not None:
            shards = self.possible_shards(org)
            rows = rows.where(F.col("shard").isin(shards))
            store = (store.where(F.col("shard").isin(shards))
                     .where(F.col(self.routing_col) == org))
        if filter is not None:
            store = store.where(filter)
        bucket = (F.expr(by).cast("string") if by is not None
                  else F.lit("_all"))
        store = store.select(
            "shard", "docid", bucket.alias("value"),
            F.expr(metric).cast("double").alias("metric"))
        part = (rows.groupBy("shard")
                .cogroup(store.groupBy("shard"))
                .applyInPandas(facet_values_group(mode, nq),
                               schema="value string, metric double"))
        return _facet_percentiles_finalize(part, ps, k, exact,
                                           accuracy)

    def facet_top_hits(self, query: str, by: str,
                       k_buckets: int = 10, k_hits: int = 3,
                       mode: str = "and", field: str | None = None,
                       org: str | None = None,
                       filter: str | Column | None = None
                       ) -> DataFrame:
        """Per-bucket top hits — the ES ``top_hits`` agg nested under
        a terms bucket: for each of the top ``k_buckets`` values of
        ``by`` (by doc_count desc, value asc), the ``k_hits``
        best-scoring matched docs. Returns (value, doc_count, rank,
        docid, score), buckets in bucket order, hits by (score desc,
        docid asc). Scores use GLOBAL BM25 stats — the ES contract:
        _score is the query's score, buckets only group the hits, so
        each bucket's hits equal the plain topk ranking restricted to
        that bucket.

        Scale shape: the per-shard kernel scores matched candidates
        and emits each bucket's PARTIAL top-k_hits (plus a per-shard
        partial count riding each row), so the exchange carries at
        most shards × buckets × k_hits rows; the bucket-selection
        top-k_buckets is a broadcast join against that small
        aggregate — matched docs never shuffle."""
        from pyspark.sql import Window
        prefix, avgdl = self._field(field)
        terms = self._terms(query, prefix)
        empty = self.spark.createDataFrame(
            [], "value string, doc_count long, rank int, "
                "docid long, score double")
        if not terms:
            return empty
        nq = len(terms)
        idf = self._idf_map(terms, N=self._fieldN(field))
        rows = self._posting_rows(terms)
        store = self._docstore
        if org is not None:
            shards = self.possible_shards(org)
            rows = rows.where(F.col("shard").isin(shards))
            store = (store.where(F.col("shard").isin(shards))
                     .where(F.col(self.routing_col) == org))
        if filter is not None:
            store = store.where(filter)
        store = store.select(
            "shard", "docid", F.expr(by).cast("string").alias("value"))
        part = (rows.groupBy("shard")
                .cogroup(store.groupBy("shard"))
                .applyInPandas(
                    top_hits_group(idf, avgdl, self.k1, self.b,
                                   k_hits, mode, nq),
                    schema="shard string, value string, cnt long, "
                           "docid long, score double"))
        return _facet_top_hits_finalize(part, k_buckets, k_hits)

    def phrase_topk(self, query: str, k: int = 10,
                    field: str | None = None,
                    org: str | None = None,
                    filter: str | Column | None = None,
                    slop: int = 0) -> DataFrame:
        """Exact phrase query (positions-based, the Lucene .prx analog):
        docs containing the query tokens consecutively, ranked by BM25
        over the phrase's distinct terms, ties by docid. Adjacency is
        checked per shard by intersecting position sets shifted by one
        ((pos(t_i) + 1) ∩ pos(t_{i+1})), after an AND intersection of the
        terms' postings narrows the candidates. On multi-field indexes
        pass ``field`` — terms are field-prefixed and the field's avgdl
        scores the hits (positions are per (field, doc), so adjacency is
        within the chosen field). With ``org`` (routed indexes) the read
        prunes to the tenant's shards and matching restricts to its docs
        — rank-identical to the unrestricted phrase ranking filtered to
        the org (stats stay global). ``filter`` (SQL predicate over
        docstore columns) restricts the hits the same way — composes
        with ``org`` as a conjunction.

        ``slop`` (r7, the ES match_phrase slop): allow the matched
        positions to deviate from exact adjacency by a total window of
        ``slop`` (max(pos_i − i) − min(pos_i − i) ≤ slop; a
        transposition costs 2, Lucene's accounting). slop=0 is this
        exact phrase; scoring is unchanged (BM25 over the phrase's
        distinct terms — the engine's phrase contract)."""
        prefix, avgdl = self._field(field)
        seq = [prefix + t for t in tokenize_text(query, self.tokenizer)]
        empty = self.spark.createDataFrame([], "docid long, score double")
        if not seq:
            return empty
        slop = _check_slop(slop, seq)
        uniq = sorted(set(seq))
        idf = self._idf_map(uniq, N=self._fieldN(field))
        k1, b = self.k1, self.b

        if filter is not None:
            rows = self._posting_rows(uniq)
            if org is not None:
                rows = rows.where(
                    F.col("shard").isin(self.possible_shards(org)))
            fdocs = self._filter_docs(filter, org)

            def per_shard_flt(lpdf: pd.DataFrame,
                              rpdf: pd.DataFrame) -> pd.DataFrame:
                if lpdf.empty or rpdf.empty:
                    return pd.DataFrame(
                        {"docid": pd.Series(dtype=np.int64),
                         "score": pd.Series(dtype=np.float64)})
                cand = np.unique(rpdf["docid"].to_numpy(np.int64))
                return _phrase_shard(lpdf, seq, uniq, idf, avgdl,
                                     k1, b, k, org_cand=cand,
                                     slop=slop)

            tops = (rows.groupBy("shard")
                    .cogroup(fdocs.groupBy("shard"))
                    .applyInPandas(per_shard_flt,
                                   schema="docid long, score double")
                    .collect())
        elif org is not None:
            ranges = self._org_ranges(org)
            if ranges is not None:
                if not ranges:
                    return empty
                rows = (self._posting_rows(uniq)
                        .where(F.col("shard").isin(sorted(ranges))))

                def per_shard_rng(pdf: pd.DataFrame) -> pd.DataFrame:
                    rng = ranges[int(pdf["shard"].iloc[0])]
                    return _phrase_shard(pdf, seq, uniq, idf, avgdl,
                                         k1, b, k, org_range=rng,
                                         slop=slop)

                tops = (rows.groupBy("shard")
                        .applyInPandas(per_shard_rng,
                                       schema="docid long, score double")
                        .collect())
            else:
                rows, orgdocs = self._org_rows_docs(uniq, org)

                def per_shard_org(lpdf: pd.DataFrame,
                                  rpdf: pd.DataFrame) -> pd.DataFrame:
                    if lpdf.empty or rpdf.empty:
                        return pd.DataFrame(
                            {"docid": pd.Series(dtype=np.int64),
                             "score": pd.Series(dtype=np.float64)})
                    cand = np.sort(rpdf["docid"].to_numpy(np.int64))
                    return _phrase_shard(lpdf, seq, uniq, idf, avgdl,
                                         k1, b, k, org_cand=cand,
                                         slop=slop)

                tops = (rows.groupBy("shard")
                        .cogroup(orgdocs.groupBy("shard"))
                        .applyInPandas(per_shard_org,
                                       schema="docid long, score double")
                        .collect())
        else:
            def per_shard(pdf: pd.DataFrame) -> pd.DataFrame:
                return _phrase_shard(pdf, seq, uniq, idf, avgdl, k1, b,
                                     k, slop=slop)

            rows = self._posting_rows(uniq)
            tops = (rows.groupBy("shard")
                    .applyInPandas(per_shard,
                                   schema="docid long, score double")
                    .collect())
        if not tops:
            return empty
        merged = (pd.DataFrame([r.asDict() for r in tops])
                  .sort_values(["score", "docid"],
                               ascending=[False, True]).head(k))
        return self.spark.createDataFrame(
            merged.astype({"docid": "int64", "score": "float64"}),
            schema="docid long, score double")

    def match_docids_local(self, query: str, mode: str = "and",
                           field: str | None = None,
                           org: str | None = None) -> pd.DataFrame:
        """Boolean match with ZERO Spark jobs (the serving twin of
        match_docids): docids containing all (and) / any (or) query
        terms, ascending pandas. org=None serves from the decoded-
        postings LRU; org paths restrict to the tenant's interval map
        (or docid set) exactly like topk_local."""
        prefix, _ = self._field(field)
        return self._match_docids_local_terms(
            self._terms(query, prefix), mode, org)

    def _match_docids_local_terms(self, terms: list[str], mode: str,
                                  org: str | None) -> pd.DataFrame:
        """Core of match_docids_local over ALREADY-PREFIXED terms —
        CombinedIndex validates field against its UNION field set and
        calls this per generation (a field with zero tokens in one
        generation is absent from that generation's stats json, so
        per-sub field validation would wrongly raise)."""
        empty = pd.DataFrame({"docid": pd.Series(dtype="int64")})
        if not terms:
            return empty
        if org is not None:
            shards = self.possible_shards(org)
            ranges = self._org_ranges(org)
            pdf = self._local_term_rows(terms)
            pdf = pdf[pdf["shard"].isin(shards)]
            pt = {}
            for t in terms:
                sub = pdf[pdf["term"] == t]
                pt[t] = (_decode_term_rows(sub)[0] if len(sub)
                         else np.empty(0, dtype=np.int64))
            if ranges is not None:
                def restrict(d):
                    if d.size == 0 or not ranges:
                        return d[:0]
                    m = np.zeros(d.shape[0], dtype=bool)
                    for lo, hi in ranges.values():
                        m |= (d >= lo) & (d <= hi)
                    return d[m]
            else:
                cand = self._local_org_docids(org, shards)

                def restrict(d):
                    return d[np.isin(d, cand, assume_unique=True)]
            dec = {t: restrict(d) for t, d in pt.items()}
        else:
            dec = {t: d for t, (d, _, _)
                   in self._decoded_terms(terms).items()}
        if mode == "and":
            res: np.ndarray | None = None
            for t in terms:
                d = dec[t]
                if d.size == 0:
                    return empty
                res = d if res is None else np.intersect1d(
                    res, d, assume_unique=True)
        else:
            parts = [d for d in dec.values() if d.size]
            res = (np.unique(np.concatenate(parts)) if parts
                   else np.empty(0, dtype=np.int64))
        return pd.DataFrame({"docid": np.sort(res)})

    def phrase_topk_local(self, query: str, k: int = 10,
                          field: str | None = None,
                          org: str | None = None,
                          slop: int = 0) -> pd.DataFrame:
        """Exact phrase query with ZERO Spark jobs (the serving twin of
        phrase_topk): driver-side dictionary read + the same vectorized
        flat-array adjacency kernel over ALL shards in one call (docs
        live in exactly one shard, so the global call equals the
        per-shard + merge result). Rank-identical to phrase_topk.
        ``slop`` = the ES match_phrase slop (phrase_topk contract)."""
        prefix, avgdl = self._field(field)
        seq = [prefix + t for t in tokenize_text(query, self.tokenizer)]
        empty = pd.DataFrame({"docid": pd.Series(dtype="int64"),
                              "score": pd.Series(dtype="float64")})
        if not seq:
            return empty
        slop = _check_slop(slop, seq)
        uniq = sorted(set(seq))
        if org is not None:
            shards = self.possible_shards(org)
        pdf = self._local_term_rows(uniq)
        if pdf.empty:
            return empty
        dfm = self._local_df_counts(uniq)
        idf = {t: _bm25_idf(self._fieldN(field), dfm.get(t, 0.0))
               for t in uniq}
        if org is not None:
            ranges = self._org_ranges(org)
            if ranges is not None:
                parts = []
                for s in sorted(ranges):
                    sub = pdf[pdf["shard"] == s]
                    if sub.empty:
                        continue
                    parts.append(_phrase_shard(
                        sub, seq, uniq, idf, avgdl, self.k1, self.b,
                        k, org_range=ranges[s], slop=slop))
                if not parts:
                    return empty
                return (pd.concat(parts)
                        .sort_values(["score", "docid"],
                                     ascending=[False, True])
                        .head(k).reset_index(drop=True))
            pdf = pdf[pdf["shard"].isin(shards)]
            if pdf.empty:
                return empty
            cand = self._local_org_docids(org, shards)
            if cand.size == 0:
                return empty
            return _phrase_shard(pdf, seq, uniq, idf, avgdl, self.k1,
                                 self.b, k, org_cand=cand,
                                 slop=slop).reset_index(drop=True)
        return _phrase_shard(pdf, seq, uniq, idf, avgdl, self.k1,
                             self.b, k, slop=slop).reset_index(drop=True)

    def phrase_prefix_topk(self, query: str, k: int = 10,
                           field: str | None = None,
                           max_expansions: int =
                           multiterm.MAX_EXPANSIONS) -> DataFrame:
        """match_phrase_prefix — the ES autocomplete-phrase analog
        (public Lucene MultiPhraseQuery semantics): the query's last
        token is a PREFIX; docs match when the fixed tokens occur
        consecutively and some dictionary expansion of the prefix
        occupies the next position. Expansion is the same pushed
        range scan pattern_topk uses (deterministic df DESC cap =
        Lucene top_terms_N); hits score by BM25 over the distinct
        participating terms (phrase_topk's contract). One job: fixed
        + expanded terms ride one dictionary scan and one per-shard
        exchange."""
        prefix, avgdl = self._field(field)
        toks = tokenize_text(query, self.tokenizer)
        empty = self.spark.createDataFrame(
            [], "docid long, score double")
        if not toks:
            return empty
        fixed_seq = [prefix + t for t in toks[:-1]]
        uniq_fixed = sorted(set(fixed_seq))
        exps = self.expand_terms(toks[-1], "prefix", field=field,
                                 max_expansions=max_expansions)
        if not exps:
            return empty
        allt = sorted(set(uniq_fixed) | set(exps))
        idf = self._idf_map(allt, N=self._fieldN(field))
        k1, b = self.k1, self.b

        def per_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            return _phrase_prefix_shard(pdf, fixed_seq, uniq_fixed,
                                        exps, idf, avgdl, k1, b, k)

        tops = (self._posting_rows(allt)
                .groupBy("shard")
                .applyInPandas(per_shard,
                               schema="docid long, score double")
                .collect())
        if not tops:
            return empty
        merged = (pd.DataFrame([r.asDict() for r in tops])
                  .sort_values(["score", "docid"],
                               ascending=[False, True]).head(k))
        return self.spark.createDataFrame(
            merged.astype({"docid": "int64", "score": "float64"}),
            schema="docid long, score double")

    def phrase_prefix_topk_local(self, query: str, k: int = 10,
                                 field: str | None = None,
                                 max_expansions: int =
                                 multiterm.MAX_EXPANSIONS
                                 ) -> pd.DataFrame:
        """Zero-job serving twin of phrase_prefix_topk (driver-side
        dictionary reads + the same kernel over all shards in one
        call), rank-identical to it."""
        prefix, avgdl = self._field(field)
        toks = tokenize_text(query, self.tokenizer)
        empty = pd.DataFrame({"docid": pd.Series(dtype="int64"),
                              "score": pd.Series(dtype="float64")})
        if not toks:
            return empty
        fixed_seq = [prefix + t for t in toks[:-1]]
        uniq_fixed = sorted(set(fixed_seq))
        exps = self.expand_terms(toks[-1], "prefix", field=field,
                                 max_expansions=max_expansions)
        if not exps:
            return empty
        allt = sorted(set(uniq_fixed) | set(exps))
        pdf = self._local_term_rows(allt)
        if pdf.empty:
            return empty
        dfm = self._local_df_counts(allt)
        idf = {t: _bm25_idf(self._fieldN(field), dfm.get(t, 0.0))
               for t in allt}
        return _phrase_prefix_shard(
            pdf, fixed_seq, uniq_fixed, exps, idf, avgdl, self.k1,
            self.b, k).reset_index(drop=True)

    def fetch_docs_local(self, docids: Iterable[int]) -> pd.DataFrame:
        """Doc-store point fetch with NO Spark job: docid lookup on the
        row-group cache (docstore rows are docid-sorted per shard, so
        footer min/max prunes every row group but the owners). Each
        stored row comes back once, in docid order. Completes the
        ms-latency serving path."""
        ids = np.unique(np.array([int(d) for d in docids], dtype=np.int64))
        if not ids.size:
            return pd.DataFrame()
        return self._rg_take("docstore", ids).sort_by("docid").to_pandas()

    def suggest(self, text: str, size: int = 5, max_edits: int = 2,
                prefix_length: int = 1, min_doc_freq: int = 1,
                field: str | None = None,
                suggest_mode: str = "missing") -> pd.DataFrame:
        """ES term suggester (the did-you-mean surface): for each
        analyzed token, dictionary terms within ``max_edits``
        Levenshtein edits sharing the first ``prefix_length`` chars
        (the ES prefix_length default 1), ranked (distance asc, df
        desc, suggestion asc) and capped at ``size`` per token — the
        ES term-suggester sort. The input term itself is never a
        suggestion. ``suggest_mode='missing'`` (ES default) suggests
        only for tokens ABSENT from the dictionary; ``'always'``
        suggests for every token. Candidates come from the same
        pushed length-window dictionary scan fuzzy queries use.
        Returns (token, suggestion, distance, df) pandas, tokens in
        input order."""
        if suggest_mode not in ("missing", "always"):
            raise ValueError("suggest_mode is 'missing' or 'always'")
        prefix, _ = self._field(field)
        toks = list(dict.fromkeys(tokenize_text(text, self.tokenizer)))
        out = []
        if toks:
            dfs_self = self._local_df_counts(
                [prefix + t for t in toks])
        for tok in toks:
            if (suggest_mode == "missing"
                    and dfs_self.get(prefix + tok, 0.0) > 0):
                continue
            cand = self._expand_candidates(
                tok, "fuzzy", fp=prefix,
                max_expansions=1 << 20, fuzziness=int(max_edits),
                prefix_length=int(prefix_length))
            if not cand:
                continue
            bare = [t[len(prefix):] for t, _ in cand]
            dist = multiterm.levenshtein_batch(tok, bare)
            ranked = sorted(
                (int(d), -df, s)
                for s, (_, df), d in zip(bare, cand, dist)
                if d > 0 and df >= int(min_doc_freq))
            for d, ndf, s in ranked[:int(size)]:
                out.append((tok, s, d, float(-ndf)))
        return pd.DataFrame(out, columns=["token", "suggestion",
                                          "distance", "df"]).astype(
            {"token": "str", "suggestion": "str",
             "distance": "int64", "df": "float64"})

    def mlt_terms(self, docid: int, field: str | None = None,
                  col: str = "text", max_query_terms: int = 25,
                  min_term_freq: int = 1,
                  min_doc_freq: int = 2) -> list[str]:
        """ES more_like_this term selection (the 1.x MLT
        "interestingness" ranking): tokenize the source doc (one
        driver-side point fetch), keep terms with in-doc tf ≥
        min_term_freq and corpus df ≥ min_doc_freq, rank by
        tf · idf (the engine's BM25 idf) and take max_query_terms by
        (weight desc, term asc) — fully deterministic, so the DuckDB
        oracle re-derives the selected set independently. On
        multi-field indexes ``field`` scopes the terms and ``col``
        defaults to the field's column (highlight convention)."""
        from collections import Counter
        prefix, _ = self._field(field)
        if field is not None and col == "text":
            col = field
        doc = self.fetch_docs_local([int(docid)])
        if doc.empty:
            raise ValueError(f"docid {int(docid)} not found")
        if col not in doc.columns:
            raise ValueError(f"column {col!r} not in doc store")
        tf = Counter(prefix + t
                     for t in tokenize_text(str(doc[col].iloc[0]),
                                            self.tokenizer))
        cand = sorted(t for t, c in tf.items()
                      if c >= int(min_term_freq))
        if not cand:
            return []
        dfs = self._local_df_counts(cand)
        N = self._fieldN(field)
        scored = sorted(
            (-tf[t] * _bm25_idf(N, dfs.get(t, 0.0)), t)
            for t in cand if dfs.get(t, 0.0) >= int(min_doc_freq))
        return [t for _, t in scored[:int(max_query_terms)]]

    def more_like_this(self, docid: int, k: int = 10,
                       field: str | None = None, col: str = "text",
                       max_query_terms: int = 25,
                       min_term_freq: int = 1, min_doc_freq: int = 2,
                       min_should_match: int | None = None,
                       org: str | None = None,
                       filter: str | Column | None = None,
                       local: bool = False) -> pd.DataFrame:
        """The ES more_like_this query: find documents similar to
        ``docid`` by scoring an OR of its most interesting terms
        (mlt_terms selection), excluding the source doc itself.
        Results ride the UNCHANGED scoring surfaces via raw_terms, so
        WAND pruning, org/filter restriction, min_should_match and
        tombstones all compose; the source doc is excluded EXACTLY by
        ranking k+1 and dropping it (it occupies at most one slot).
        ``local=True`` runs the zero-Spark-job twin. Returns (docid,
        score) pandas."""
        terms = self.mlt_terms(docid, field=field, col=col,
                               max_query_terms=max_query_terms,
                               min_term_freq=min_term_freq,
                               min_doc_freq=min_doc_freq)
        if not terms:
            return pd.DataFrame({"docid": pd.Series(dtype="int64"),
                                 "score": pd.Series(dtype="float64")})
        kw = dict(query="", k=k + 1, mode="or", field=field,
                  raw_terms=terms, min_should_match=min_should_match,
                  org=org)
        if local:
            if filter is not None:
                raise ValueError("filter= runs on the distributed "
                                 "path (docstore scan); local=True "
                                 "composes with org= only")
            hits = self.topk_local(**kw)
        else:
            hits = self._topk_pd(filter=filter, **kw)
        return (hits[hits["docid"] != int(docid)].head(k)
                .reset_index(drop=True))

    def search_local(self, query: str, k: int = 10, mode: str = "or",
                     method: str = "wand", field: str | None = None,
                     org: str | None = None,
                     after: tuple[float, int] | None = None,
                     must_not: str | None = None,
                     must: str | None = None,
                     boosts: dict[str, float] | None = None
                     ) -> pd.DataFrame:
        """Full search (top-k + doc fetch) with zero Spark jobs — the
        latency-parity answer to the reference's always-on ES cluster.
        ``after`` pages it (ES search_after analog); ``must_not``
        excludes docs containing any of its terms (bool.must_not);
        ``must`` requires ALL of its terms (bool must+should);
        ``boosts`` scales per-term weights (topk contract)."""
        hits = self.topk_local(query, k, mode, method, field=field,
                               org=org, after=after, must_not=must_not,
                               must=must, boosts=boosts)
        if hits.empty:
            return hits
        docs = self.fetch_docs_local(hits["docid"].tolist())
        out = hits.merge(docs.drop(columns=["shard"]), on="docid")
        return (out.sort_values(["score", "docid"],
                                ascending=[False, True])
                .reset_index(drop=True))

    def fetch_docs(self, docids: Iterable[int]) -> DataFrame:
        """Doc-store fetch (B9): shard-pruned + docid-pushdown read."""
        ids = sorted(int(d) for d in docids)
        shards = sorted({(d - self.docid_offset) // self.docs_per_shard
                         for d in ids})
        return (self._docstore
                .where(F.col("shard").isin(shards))
                .where(F.col("docid").isin(ids)))

    def search(self, query: str, k: int = 10, mode: str = "or",
               method: str = "wand", field: str | None = None,
               org: str | None = None,
               filter: str | Column | None = None,
               after: tuple[float, int] | None = None,
               must_not: str | None = None,
               must: str | None = None,
               boosts: dict[str, float] | None = None) -> DataFrame:
        """topk + doc-store join: the full 'search' the restored ES
        cluster would serve. ``after`` pages it (search_after);
        ``must_not`` excludes docs containing any of its terms
        (bool.must_not, topk contract); ``must`` requires ALL of its
        terms (bool must+should, topk contract); ``boosts`` scales
        per-term weights (topk contract)."""
        hits = self.topk(query, k, mode, method, org=org, field=field,
                         filter=filter, after=after, must_not=must_not,
                         must=must, boosts=boosts)
        docs = self.fetch_docs([r["docid"] for r in hits.collect()])
        return (hits.join(F.broadcast(docs).drop("shard"), "docid")
                    .sort(F.desc("score"), F.asc("docid")))
