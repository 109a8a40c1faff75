"""Query engine: analyzed top-k retrieval over the built index.

The capability the reference's restored ES cluster serves (SURVEY.md §2B
B6-B9), built from scratch: tokenize the query with the same analyzer as
the build, look up only the query terms' dictionary rows (parquet
predicate pushdown on the term column — rows are term-sorted within each
shard file, so row-group min/max stats prune), score BM25 per shard
(docs live in exactly one shard, so per-shard scores are final given
global idf), take per-shard top-k, merge k·num_shards candidates on the
driver.

Scoring: every bag-of-words surface (topk, topk_local, topk_many,
search_join, multi-term patterns) scores one group's dictionary rows
through ``score_shard``, which takes one of three restrictions:

  cand= : a sorted docid set (a tenant's or a filter's candidates);
  rng=  : an inclusive docid interval (a contiguous tenant);
  none  : every doc.

A restricted call decodes only the blocks whose [block_first,
block_last] range meets the restriction and keeps the postings inside
it (_score_candidates); method='exact' is the same path with nothing
restricted, the reference the pruned methods are tested against. The
pruned default (method='wand') restricts as it goes:

  and / must : rarest-first conjunction — each next required term
               decodes only the blocks meeting the candidates so far,
               and its postings there become the candidates; should
               terms then decode only blocks meeting the survivors.
  or         : block-max WAND (Ding & Suel, SIGIR 2011), two phases:
                 seed : decode each term's top-m blocks by upper bound
                        (ub = idf · block_max_partial) → a lower bound θ
                        on the k-th best score: the k-th partial sum on
                        a first page; under a search_after cursor, the
                        k-th score among seed docs the decode proves
                        complete and ranked after the cursor.
                 sweep: piecewise-constant UB(docid) from block
                        boundaries; the live region {UB ≥ θ} is itself
                        a restriction (sorted intervals), scored
                        exhaustively.
               Docs outside the region have true score ≤ UB < θ ≤
               k-th best, so the result is identical to exhaustive
               scoring (ties included, since the region test is ≥).

One query body per scored surface: a prep (SegmentedIndex._topk_q,
_mm_q, _phrase_q, _phrase_prefix_q) validates the input, analyzes the
query, computes idf and returns (terms to read, kernel(rows, rng,
cand)), or None when nothing can match. Two runners execute it:

  _run       : the one-stage fan-out (_plan) over (segment, shard)
               tasks, then the driver's global top-k (_top);
  _run_local : the same kernel over driver-side groups read through
               the per-segment LRUs (_local_groups), no Spark job.

The *_local twins differ from the distributed surfaces only in the
runner, so they are rank-identical by construction. Cache-served legs
stay beside it where an input selects them: topk_local without org=
(BM25-partials LRU), match_docids_local without org= and
classic_topk_local (decoded-postings LRU).

Scores are float64 end-to-end with a fixed summation order (ascending
term, then ascending docid) so results are rank-identical to the
brute-force oracle; ties broken by docid ascending.
"""
from __future__ import annotations

import functools
import math
import os
import re
import threading
from collections import OrderedDict
from typing import Callable, Iterable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from . import codec, multiterm, storage
from .placement import repartition_exact
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


class _Blocks:
    """One term's chunk rows in _row_order: per row its blob, block
    byte offsets and block sizes (``blob``/``off``/``n``), plus any
    per-block column flattened across rows (``flat``). ``first`` /
    ``last`` are the flat block docid bounds — block i holds docids in
    [first[i], last[i]], and the bounds ascend and are disjoint. A flat
    keep-mask over the blocks splits back into rows by len(n[r])."""

    def __init__(self, rows: pd.DataFrame):
        self._rows, self._o = rows, _row_order(rows)
        self.blob, self.off, self.n = (
            rows[c].to_numpy()[self._o]
            for c in ("blob", "block_off", "block_n"))

    def flat(self, col: str) -> np.ndarray:
        return np.concatenate([np.asarray(a) for a in
                               self._rows[col].to_numpy()[self._o]])

    @functools.cached_property
    def first(self) -> np.ndarray:
        return self.flat("block_first")

    @functools.cached_property
    def last(self) -> np.ndarray:
        return self.flat("block_last")


def _decode_blocks(bl: _Blocks, keep: np.ndarray | None,
                   ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode the blocks of ``bl`` flagged in the flat mask ``keep``
    (None: every block) → ascending (docids, tfs, dls). Each row's
    selected blocks decode in one vectorized codec call."""
    parts, pos = [], 0
    for blob, offs, ns in zip(bl.blob, bl.off, bl.n):
        offs, ns = np.asarray(offs), np.asarray(ns)
        if keep is not None:
            sel = keep[pos:pos + ns.shape[0]]
            pos += ns.shape[0]
            offs, ns = offs[sel], ns[sel]
        if ns.size:
            parts.append(codec.decode_postings(blob, offs, ns))
    if not parts:
        e = np.empty(0, dtype=np.int64)
        return e, e.copy(), e.copy()
    d, tf, dl = zip(*parts)
    return np.concatenate(d), np.concatenate(tf), np.concatenate(dl)


def _decode_term_rows(rows: pd.DataFrame
                      ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode all chunks of one term → concatenated (docids, tfs, dls)
    in globally ascending docid order (see _row_order)."""
    return _decode_blocks(_Blocks(rows), None)


_DECODE_COLS = ["term", "shard", "chunk", "blob", "block_off", "block_n"]


def _np_views(tbl, columns) -> dict:
    """Zero-copy numpy views of ``columns`` of a null-free Arrow table
    whose columns hold at most one chunk: a primitive column → its
    values; a binary or string column → (offsets, data bytes); a list
    column → (offsets, flat values). Offsets are absolute into the
    data or values."""
    import pyarrow as pa
    out = {}
    for c in columns:
        col = tbl.column(c)
        a = col.chunk(0) if col.num_chunks else pa.array([], col.type)
        if pa.types.is_list(a.type):
            out[c] = (a.offsets.to_numpy(), a.values.to_numpy())
        elif pa.types.is_binary(a.type) or pa.types.is_string(a.type):
            _, offs, data = a.buffers()
            out[c] = (np.frombuffer(offs, dtype=np.int32, count=len(a) + 1,
                                    offset=4 * a.offset),
                      np.frombuffer(data or b"", dtype=np.uint8))
        else:
            out[c] = a.to_numpy()
    return out


def _decode_rows(parts, nterms: int
                 ) -> list[tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Decode dictionary rows of ``nterms`` terms in ONE codec call →
    per term its (docids, tfs, dls), equal to _decode_term_rows of the
    term's rows. ``parts`` holds (views, rows, ti): the _np_views of
    one table's shard/chunk/blob/block_off/block_n columns, the rows
    to decode and each row's term index. The rows are ordered by
    (term, shard, chunk) — per term the _row_order — and their blob
    byte ranges gathered into one buffer, each block offset (relative
    to its blob) shifted by its blob's start there. Exact because every
    blob ends on a varint terminator, so blob boundaries survive the
    concatenation, and each block's first gap is absolute, so the
    blocks decode independently. A load holds a few rows per term, so
    the gather slices per row: at that size numpy's per-call dispatch,
    not the bytes copied, is the cost."""
    e = np.empty(0, dtype=np.int64)
    recs = []
    for v, rows, ti in parts:
        (bo, data), (oo, off), (no, n) = (
            v[c] for c in ("blob", "block_off", "block_n"))
        for t, sh, ch, b0, b1, o0, o1, n0, n1 in zip(
                ti.tolist(), v["shard"][rows].tolist(),
                v["chunk"][rows].tolist(),
                bo[rows].tolist(), bo[rows + 1].tolist(),
                oo[rows].tolist(), oo[rows + 1].tolist(),
                no[rows].tolist(), no[rows + 1].tolist()):
            recs.append((t, sh, ch, data[b0:b1], off[o0:o1], n[n0:n1]))
    if not recs:
        return [(e, e, e)] * nterms
    recs.sort(key=lambda x: x[:3])
    ti, _, _, blobs, offs, ns = zip(*recs)
    size = np.fromiter(map(len, blobs), dtype=np.int64, count=len(recs))
    nb = np.fromiter(map(len, offs), dtype=np.int64, count=len(recs))
    n = np.concatenate(ns)
    d, tf, dl = codec.decode_postings(
        np.concatenate(blobs),
        np.concatenate(offs) + np.repeat(np.cumsum(size) - size, nb), n)
    # posting bounds of each term: rows → blocks → postings
    rows = np.searchsorted(ti, np.arange(nterms + 1))
    blocks = np.concatenate(([0], np.cumsum(nb)))[rows]
    p = np.concatenate(([0], np.cumsum(n)))[blocks]
    # copies: a cached view would keep the whole load's arrays alive
    # under one term's byte count
    return [tuple(a[p[j]:p[j + 1]].copy() for a in (d, tf, dl))
            for j in range(nterms)]


def _stab(lo: np.ndarray, hi: np.ndarray, first: np.ndarray,
          last: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Sorted disjoint inclusive intervals [lo, hi] against spans
    [first, last] → (i, meets): i is the first interval ending at or
    after each span's first, and meets flags the spans that overlap
    it — the spans that overlap any interval, as the intervals
    ascend."""
    i = np.searchsorted(hi, first)
    n = hi.shape[0]
    return i, (i < n) & (lo[np.minimum(i, n - 1)] <= last)


# A restriction is a sorted unique docid array (a tenant's or a
# filter's candidate set) or inclusive intervals (lo, hi) — two ints
# for a contiguous tenant, or two sorted disjoint arrays for WAND's
# live region. These two helpers hold the only difference between the
# kinds: which blocks meet it, and which postings fall inside it.

def _meets(restrict, first: np.ndarray, last: np.ndarray) -> np.ndarray:
    """Mask of the blocks [first, last] holding a docid of ``restrict``."""
    if isinstance(restrict, np.ndarray):
        return (np.searchsorted(restrict, first, side="left")
                < np.searchsorted(restrict, last, side="right"))
    lo, hi = (np.atleast_1d(v) for v in restrict)
    return _stab(lo, hi, first, last)[1]


def _inside(restrict, d: np.ndarray) -> np.ndarray:
    """Mask of the docids ``d`` inside ``restrict``."""
    if isinstance(restrict, np.ndarray):
        p = np.searchsorted(restrict, d)
        sel = p < restrict.shape[0]
        sel[sel] = restrict[p[sel]] == d[sel]
        return sel
    lo, hi = (np.atleast_1d(v) for v in restrict)
    return _stab(lo, hi, d, d)[1]


def _decode_in(bl: _Blocks, restrict
               ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One term's postings inside ``restrict`` (None: all of them):
    decode only the blocks that meet it, keep the postings inside."""
    if restrict is None:
        return _decode_blocks(bl, None)
    d, tf, dl = _decode_blocks(bl, _meets(restrict, bl.first, bl.last))
    if d.size:
        m = _inside(restrict, d)
        d, tf, dl = d[m], tf[m], dl[m]
    return d, tf, dl


def _drop_excl(docids: np.ndarray,
               excl: np.ndarray | None) -> np.ndarray | None:
    """Boolean keep-mask over ``docids`` dropping members of ``excl``
    (sorted tombstoned docids), or None when nothing to drop — the
    kernel-side delete exclusion (VERDICT r5 #4): deletes fall out
    BEFORE top-k truncation, so per-group output is k rows, not k+T."""
    if excl is None or excl.size == 0 or docids.size == 0:
        return None
    hit = _inside(excl, docids)
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


def _after_mask(docids: np.ndarray, scores: np.ndarray,
                after: tuple[float, int]) -> np.ndarray:
    """Docs ranked STRICTLY after the (score, docid) cursor ``after``
    (deep pagination, the ES search_after analog). Score equality is
    exact because cursor scores come from this same fixed-order
    pipeline."""
    s0, d0 = float(after[0]), int(after[1])
    return (scores < s0) | ((scores == s0) & (docids > d0))


def _qualify(uniq: np.ndarray, scores: np.ndarray, mode: str,
             n_query_terms: int, hits: np.ndarray | None,
             after: tuple[float, int] | None, excl: np.ndarray | None,
             min_hits: int | None, req_hits: np.ndarray | None = None,
             n_req: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """(docids, scores) of the docs among ``uniq`` that qualify: every
    AND term or ``min_hits`` matched (``req_hits``: every required
    term, then ``min_hits`` optional ones; see _aggregate_topk), not
    tombstoned, ranked after the cursor."""
    m = None
    if req_hits is not None:
        m = req_hits == n_req
        if min_hits is not None and min_hits >= 1:
            m &= (hits - req_hits) >= min_hits
    elif mode == "and":
        m = hits == n_query_terms
    elif min_hits is not None and min_hits > 1:
        m = hits >= min_hits
    if m is not None:
        uniq, scores = uniq[m], scores[m]
    m = _drop_excl(uniq, excl)
    if m is not None:
        uniq, scores = uniq[m], scores[m]
    if after is not None:
        m = _after_mask(uniq, scores, after)
        uniq, scores = uniq[m], scores[m]
    return uniq, scores


def _finish_topk(uniq: np.ndarray, scores: np.ndarray, k: int,
                 mode: str, n_query_terms: int, hits: np.ndarray | None,
                 after: tuple[float, int] | None,
                 excl: np.ndarray | None, min_hits: int | None,
                 req_hits: np.ndarray | None = None,
                 n_req: int = 0) -> pd.DataFrame:
    """The tail of every exhaustive aggregation: per-doc summed
    ``scores`` and match counts ``hits`` → the top-k of the docs that
    _qualify. score_partials' floor path runs _qualify on its
    candidates first and builds a frame only once it knows whether
    they suffice."""
    return _topk_frame(*_qualify(uniq, scores, mode, n_query_terms, hits,
                                 after, excl, min_hits, req_hits, n_req),
                       k)


def _aggregate_topk(docids: np.ndarray, contribs: np.ndarray, k: int,
                    mode: str, n_query_terms: int,
                    after: tuple[float, int] | None = None,
                    excl: np.ndarray | None = None,
                    min_hits: int | None = None,
                    req_mask: np.ndarray | None = None,
                    n_req: int = 0) -> pd.DataFrame:
    """Group contributions by docid (fixed input order ⇒ fixed summation
    order) and take top-k by (score desc, docid asc). ``after`` =
    (score, docid) cursor: keep only docs ranked strictly after it
    (_after_mask). ``excl`` (sorted tombstoned docids) drops deleted
    docs after aggregation but BEFORE truncation — exact, since every
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
        return _EMPTY_TOPK.copy()
    mn = int(docids.min())
    rng = int(docids.max()) - mn + 1
    req_hits = None
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
            uniq = np.flatnonzero(dscore != 0)
            hits = None
        else:
            dhits = np.bincount(off, minlength=rng)
            uniq = np.flatnonzero(dhits != 0)
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
    return _finish_topk(uniq, scores, k, mode, n_query_terms, hits,
                        after, excl, min_hits, req_hits, n_req)


def score_partials(pp: dict[str, tuple[np.ndarray, np.ndarray]],
                   idf: dict[str, float], k: int, mode: str,
                   n_query_terms: int,
                   after: tuple[float, int] | None = None,
                   excl: np.ndarray | None = None,
                   min_hits: int | None = None,
                   req_terms: frozenset | None = None,
                   count: Callable[[str], None] | None = None
                   ) -> pd.DataFrame:
    """Exact BM25 top-k over pre-computed per-term (docids, BM25
    partial) pairs (the partial-cache serving path): contribution =
    idf * partial, summed per doc in the ascending-term order of the
    concatenation feeding _aggregate_topk that the frame-based paths
    use, so results are bit-identical. ``req_terms`` (bool
    must+should): the required subset of the terms — docs must match
    all of them; min_hits then counts the remaining (should) terms.

    Without ``req_terms``:

    - A query needing more matched terms than have postings (an
      absent AND term, min_hits above the live terms) is empty; one
      live term's contributions are its docs' scores, selected
      directly.
    - Dense path: per-term docids are sorted, so (min, max) across
      terms is O(#terms); when the covered docid range is near-dense,
      each term scatters idf*partial straight into one dense score
      array (the first assigns: 0.0 + c == c) — no concatenation, no
      bincount pass, the same per-doc summation order.
    - Selection by a score floor θ (MaxScore's threshold, Turtle &
      Flood 1995): θ is the k-th largest contribution of the shortest
      list holding at least k postings. Contributions are >= 0 and
      rounding is monotone (fl(a + c) >= c for a >= 0), so k docs end
      with a score >= θ, and the top k lie among the docs scoring
      >= θ. When at least k of those qualify, they are the answer,
      ties at the k-th score included; otherwise (or with no such
      list, or an idf <= 0) the selection scans the whole range.
      ``count(name)`` is told which selection ran:
      ``topk_floor_used`` or ``topk_floor_fallback``."""
    live = [(t, pp[t][0], pp[t][1]) for t in sorted(pp)
            if pp[t][0].size]
    if not live:
        return _EMPTY_TOPK.copy()
    if req_terms is None:
        if (n_query_terms if mode == "and" else (min_hits or 1)) \
                > len(live):
            return _EMPTY_TOPK.copy()
        if len(live) == 1:
            t, d, part = live[0]
            return _finish_topk(d, idf[t] * part, k, "or", 1, None,
                                after, excl, None)
        n = sum(d.shape[0] for _, d, _ in live)
        mn = min(int(d[0]) for _, d, _ in live)
        rng = max(int(d[-1]) for _, d, _ in live) - mn + 1
        if rng <= 16 * n + 65536 and rng <= (1 << 24):
            dscore = np.zeros(rng, dtype=np.float64)
            need_hits = (mode == "and"
                         or (min_hits is not None and min_hits > 1))
            dhits = np.zeros(rng, dtype=np.int64) if need_hits else None
            floor_t = (min(((d.size, t) for t, d, _ in live
                            if d.size >= k), default=(0, None))[1]
                       if all(idf[t] > 0 for t, _, _ in live) else None)
            theta = 0.0
            for i, (t, d, part) in enumerate(live):
                off = d - mn
                c = idf[t] * part
                if i == 0:
                    dscore[off] = c
                else:
                    dscore[off] += c
                if dhits is not None:
                    dhits[off] += 1
                if t == floor_t:
                    theta = np.partition(c, c.size - k)[c.size - k]
            used = False
            if theta > 0:
                cand = np.flatnonzero(dscore >= theta)
                got = _qualify(cand + mn, dscore[cand], mode,
                               n_query_terms,
                               None if dhits is None else dhits[cand],
                               after, excl, min_hits)
                used = got[0].size >= k
            if count is not None:
                count("topk_floor_used" if used
                      else "topk_floor_fallback")
            if used:
                return _topk_frame(*got, k)
            uniq = np.flatnonzero((dscore if dhits is None else dhits)
                                  != 0)
            return _finish_topk(uniq + mn, dscore[uniq], k, mode,
                                n_query_terms,
                                None if dhits is None else dhits[uniq],
                                after, excl, min_hits)
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
                      terms: list[str], restrict,
                      idf: dict[str, float], avgdl: float, k1: float,
                      b: float, k: int, mode: str, n_query_terms: int,
                      after: tuple[float, int] | None = None,
                      excl: np.ndarray | None = None,
                      min_hits: int | None = None,
                      req_terms: frozenset | None = None) -> pd.DataFrame:
    """Exhaustive scoring of the docs inside ``restrict``: a sorted
    unique docid array (a tenant's or a filter's candidates), an
    inclusive (lo, hi) interval (a contiguous tenant — the task
    carries two ints instead of a docid array), or None (every doc —
    the method='exact' reference path). Per term, decode just the
    blocks that meet the restriction and keep the postings inside it
    (_decode_in). Summation order (ascending term, concatenated)
    matches every other path, so scores are bit-identical to
    unrestricted scoring filtered to the restriction. ``req_terms``:
    bool must+should qualification (see _aggregate_topk)."""
    if isinstance(restrict, np.ndarray):
        me = _drop_excl(restrict, excl)
        if me is not None:
            restrict = restrict[me]   # deletes out of the set up front
    all_d, all_c, all_r = [], [], []
    for t in sorted(terms):
        d, tf, dl = _decode_in(_Blocks(per_term[t]), restrict)
        all_d.append(d)
        all_c.append(idf[t] * codec.bm25_partial(tf, dl, avgdl, k1, b))
        if req_terms is not None:
            all_r.append(np.full(d.shape[0], t in req_terms, dtype=bool))
    rq = np.concatenate(all_r) if req_terms is not None else None
    return _aggregate_topk(np.concatenate(all_d), np.concatenate(all_c),
                           k, mode, n_query_terms, after=after,
                           excl=excl, min_hits=min_hits, req_mask=rq,
                           n_req=len(req_terms) if req_terms else 0)


def _score_bool_pruned(per_term: dict[str, pd.DataFrame],
                       req: frozenset, shoulds: list[str],
                       idf: dict[str, float], avgdl: float, k1: float,
                       b: float, k: int,
                       after: tuple[float, int] | None = None,
                       excl: np.ndarray | None = None,
                       min_hits: int | None = None) -> pd.DataFrame:
    """Lucene bool must+should scoring with block-range pruning
    (exact): the REQUIRED terms drive candidate generation rarest
    first — the rarest decodes in full, and each next one decodes only
    the blocks meeting the candidates so far, its postings inside them
    becoming the new candidates. The optional (should) terms then
    decode only the blocks meeting the final candidates and add their
    contributions where they match. AND mode is ``req`` = every term
    and no shoulds: a hot+rare AND decodes only the hot term's blocks
    that overlap the rare term's docids. ``min_hits`` (ES
    minimum_should_match under a must) counts SHOULD matches only.
    Summation runs in ascending term order, bit-identical to the
    exhaustive req_mask path."""
    req_present = [t for t in sorted(req) if t in per_term]
    if len(req_present) < len(req):
        return _EMPTY_TOPK.copy()   # a required term is absent here
    rare, *rest = sorted(req_present,
                         key=lambda t: (int(per_term[t]["df"].sum()), t))
    decoded = {rare: _decode_term_rows(per_term[rare])}
    cand = decoded[rare][0]
    m0 = _drop_excl(cand, excl)
    if m0 is not None:
        cand = cand[m0]     # deletes out before any block pruning work
    for t in rest:
        if cand.size == 0:
            return _EMPTY_TOPK.copy()
        decoded[t] = _decode_in(_Blocks(per_term[t]), cand)
        cand = decoded[t][0]
    if cand.size == 0:
        return _EMPTY_TOPK.copy()

    # should terms: positions are unique per term (one posting per
    # doc), so plain fancy-index += is well-defined
    sh_hits = np.zeros(cand.shape[0], dtype=np.int64)
    sh_decoded: dict[str, tuple] = {}
    for t in shoulds:
        if t in decoded or t not in per_term:
            continue
        d, tf, dl = _decode_in(_Blocks(per_term[t]), cand)
        p = np.searchsorted(cand, d)
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
        m = _after_mask(cand, scores, after)
        cand, scores = cand[m], scores[m]
    return _topk_frame(cand, scores, k)


def _seed_sums(parts: list[tuple[np.ndarray, np.ndarray]],
               excl: np.ndarray | None
               ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decoded (docids, contributions) pairs, listed in ascending-term
    order, minus tombstones → (docids, partial sums, hit counts).
    np.add.at sums in input order, so a doc decoded under every term
    gets its exact full score."""
    sd = np.concatenate([d for d, _ in parts])
    sc = np.concatenate([c for _, c in parts])
    m = _drop_excl(sd, excl)
    if m is not None:
        sd, sc = sd[m], sc[m]
    uniq, inv = np.unique(sd, return_inverse=True)
    part = np.zeros(uniq.shape[0])
    np.add.at(part, inv, sc)
    return uniq, part, np.bincount(inv, minlength=uniq.shape[0])


def _theta_page1(bls, contrib, seed, terms, k, after, excl, min_hits):
    """θ for a first page: the k-th largest partial sum over the seed
    decode is a lower bound on the k-th best score (partials only
    grow). Tombstones leave the pool first, so a deleted doc never
    lifts θ above a survivor's score. Seed hit counts UNDERESTIMATE
    true hits, so requiring >= min_hits only shrinks the pool."""
    uniq, part, hits = _seed_sums([contrib(t, seed[t]) for t in terms],
                                  excl)
    if uniq.size == 0:
        return 0.0
    if min_hits is not None and min_hits > 1:
        part = part[hits >= min_hits]
    return float(np.sort(part)[-k]) if part.shape[0] >= k else 0.0


def _theta_cursor(bls, contrib, seed, terms, k, after, excl, min_hits):
    """θ for a page after a cursor (VERDICT r5 #6). The first-page
    seed is unsound here: a seed doc's PARTIAL sum can sit under the
    cursor score while its full score exceeds it. So θ comes only from
    seed docs the decode PROVES complete — a doc lying outside every
    undecoded block of every term, whose partial IS its full score.
    Multi-term queries rarely finish complete in one round (a sparse
    term's undecoded blocks span wide docid ranges), so a SECOND
    bounded round decodes exactly the blocks that stab the ≤ 4k
    highest-partial incomplete docs. θ = k-th best complete score
    ranking strictly after the cursor; a complete doc's hit count is
    exact, so the min_hits test is exact for the pool."""
    got = {t: [contrib(t, seed[t])] for t in terms}
    undec = {t: ~seed[t] for t in terms}

    def sums():
        uniq, part, hits = _seed_sums([p for t in terms for p in got[t]],
                                      excl)
        complete = np.ones(uniq.shape[0], dtype=bool)
        for t in terms:
            um = undec[t]
            if um.any():
                complete &= ~_stab(bls[t].first[um], bls[t].last[um],
                                   uniq, uniq)[1]
        return uniq, part, hits, complete

    uniq, part, hits, complete = sums()
    inc = ~complete
    if inc.any():
        docs2 = np.sort(uniq[inc][np.argsort(-part[inc])[:4 * k]])
        for t in terms:
            uidx = np.flatnonzero(undec[t])
            if uidx.size == 0:
                continue
            i, ok = _stab(bls[t].first[uidx], bls[t].last[uidx],
                          docs2, docs2)
            if not ok.any():
                continue
            keep = np.zeros(undec[t].shape[0], dtype=bool)
            keep[uidx[np.unique(i[ok])]] = True
            got[t].append(contrib(t, keep))
            undec[t] &= ~keep
        uniq, part, hits, complete = sums()
    if uniq.size == 0:
        return 0.0
    qual = complete & _after_mask(uniq, part, after)
    if min_hits is not None and min_hits > 1:
        qual &= hits >= min_hits
    qs = part[qual]
    return float(np.sort(qs)[-k]) if qs.shape[0] >= k else 0.0


def _score_wand(per_term: dict[str, pd.DataFrame], terms: list[str],
                idf: dict[str, float], avgdl: float, k1: float, b: float,
                k: int, n_query_terms: int,
                after: tuple[float, int] | None = None,
                excl: np.ndarray | None = None,
                min_hits: int | None = None) -> pd.DataFrame:
    """OR-mode block-max WAND (exact top-k; see the module docstring):
    seed → θ (_theta_page1, or _theta_cursor under a cursor) → sweep
    the live region {UB ≥ θ} → score it exhaustively."""
    bls = {t: _Blocks(per_term[t]) for t in terms}
    # block upper bound computed AT QUERY TIME from (max_tf, min_dl):
    # the BM25 partial is increasing in tf and decreasing in dl, so
    # partial(max_tf, min_dl) dominates every posting in the block
    # under the avgdl of THIS query (exact for any corpus composition,
    # including base+delta streaming unions).
    ub = {t: idf[t] * codec.bm25_partial(
              bls[t].flat("block_max_tf"), bls[t].flat("block_min_dl"),
              avgdl, k1, b)
          for t in terms}

    def contrib(t: str, keep: np.ndarray):
        d, tf, dl = _decode_blocks(bls[t], keep)
        return d, idf[t] * codec.bm25_partial(tf, dl, avgdl, k1, b)

    # seed: each term's top-m blocks by ub
    m_seed = max(1, -(-k // codec.BLOCK)) + 1
    seed = {}
    for t in terms:
        seed[t] = np.zeros(ub[t].shape[0], dtype=bool)
        seed[t][np.argsort(-ub[t])[:m_seed]] = True
    theta = (_theta_page1 if after is None else _theta_cursor)(
        bls, contrib, seed, terms, k, after, excl, min_hits)

    # sweep: piecewise-constant sum of block ubs over docid space; the
    # live region is the union of intervals [bounds[i], bounds[i+1])
    # whose sum reaches θ
    xs = np.concatenate([a for t in terms
                         for a in (bls[t].first, bls[t].last + 1)])
    ds = np.concatenate([a for t in terms for a in (ub[t], -ub[t])])
    order = np.argsort(xs, kind="stable")
    xs, ds = xs[order], ds[order]
    bounds = np.unique(xs)
    seg_ub = np.cumsum(np.add.reduceat(
        ds, np.searchsorted(xs, bounds, side="left")))
    live = seg_ub >= theta if theta > 0 else np.ones_like(seg_ub, dtype=bool)
    nxt = np.append(bounds[1:], np.iinfo(np.int64).max)
    region = (bounds[live], nxt[live] - 1)
    all_d, all_c = [], []
    for t in terms:
        d, tf, dl = _decode_in(bls[t], region)
        all_d.append(d)
        all_c.append(idf[t] * codec.bm25_partial(tf, dl, avgdl, k1, b))
    return _aggregate_topk(np.concatenate(all_d), np.concatenate(all_c),
                           k, "or", n_query_terms, after=after, excl=excl,
                           min_hits=min_hits)


def score_shard(pdf: pd.DataFrame, idf: dict[str, float], avgdl: float,
                k1: float, b: float, k: int, mode: str,
                n_query_terms: int, method: str = "wand", *,
                after: tuple[float, int] | None = None,
                excl: np.ndarray | None = None,
                min_hits: int | None = None,
                req_terms: frozenset | None = None,
                rng: tuple[int, int] | None = None,
                cand: np.ndarray | None = None) -> pd.DataFrame:
    """Score one group's dictionary rows (every query term) → top-k:
    the one BM25 kernel of every bag-of-words surface.

    ``rng`` ([lo, hi] — a contiguous tenant's docids) or ``cand``
    (sorted unique docids — a tenant's or a filter's set) restricts
    scoring to those docs: _score_candidates decodes only the blocks
    that meet the restriction. Otherwise ``method='exact'`` decodes
    everything (the reference path), and the pruned default runs AND
    and bool must+should through the rarest-first conjunction
    (_score_bool_pruned) and OR through block-max WAND (_score_wand),
    cursor-aware under ``after``. Every branch is exact at any cursor
    depth.

    ``excl`` (sorted tombstoned docids) is excluded before truncation
    in every branch; on the WAND path it also leaves the θ seed, so a
    high-scoring deleted doc can never inflate θ above a live doc's
    score. ``min_hits`` is the OR-mode match-count floor, counting
    should terms only under ``req_terms`` (Lucene bool must+should:
    the required subset of the terms)."""
    if pdf.empty:
        return _EMPTY_TOPK.copy()
    terms = sorted(pdf["term"].unique())
    per_term = {t: pdf[pdf["term"] == t] for t in terms}
    kw = dict(after=after, excl=excl, min_hits=min_hits)
    if rng is not None or cand is not None or method == "exact":
        restrict = (int(rng[0]), int(rng[1])) if rng is not None else cand
        return _score_candidates(per_term, terms, restrict, idf, avgdl,
                                 k1, b, k, mode, n_query_terms,
                                 req_terms=req_terms, **kw)
    if mode == "and":
        if len(terms) < n_query_terms:
            return _EMPTY_TOPK.copy()   # a query term is absent here
        req_terms, kw["min_hits"] = frozenset(terms), None
    if req_terms:
        return _score_bool_pruned(
            per_term, req_terms, [t for t in terms if t not in req_terms],
            idf, avgdl, k1, b, k, **kw)
    return _score_wand(per_term, terms, idf, avgdl, k1, b, k,
                       n_query_terms, **kw)


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


def _check_k(k: int) -> None:
    """Validate a top-k size on the driver, before any job: slicing
    [:k] with k < 0 keeps all but the last rows of each group, and
    k = 0 breaks _topk_frame's partition pre-selection (in an
    executor, on a fan-out query)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")


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
    one pass (the topk_many and search_join kernel), one score_shard
    call per query. ``cand`` (sorted unique docids) or ``rng`` ([lo,
    hi] interval — the contiguous-tenant fast path) restricts scoring
    to a tenant's docs; neither = unrestricted. ``excl`` (sorted
    tombstoned docids) is excluded in-kernel before each query's top-k
    truncation. ``after`` maps qid → (score, docid) pagination cursor
    (r7): that query's results rank strictly after it, same contract
    as topk(after=). ``reqs`` maps qid → required-term frozenset
    (batch bool must+should, r7): that query's docs must match all of
    them, same contract as topk(must=)."""
    outs = []
    for qid, terms in qterms.items():
        if not terms:
            continue
        sub = pdf[pdf["term"].isin(terms)]
        if sub.empty:
            continue
        out = score_shard(
            sub, idf, avgdl, k1, b, k, modes[qid], len(terms), method,
            excl=excl, rng=rng, cand=cand,
            min_hits=min_hits if modes[qid] == "or" else None,
            after=after.get(qid) if after else None,
            req_terms=reqs.get(qid) if reqs else None)
        outs.append(out.assign(qid=qid))
    if not outs:
        return _QSET_EMPTY
    return pd.concat(outs)[["qid", "docid", "score"]]

def _bool_match(mode: str, n_query_terms: int,
                excl: np.ndarray | None = None):
    """Matcher (_store_plan) of the unscored bucket aggregations: (one
    shard's dictionary rows, the group's docstore rows) → the docstore
    rows in the shard's boolean match set. ``excl`` (sorted tombstoned
    docids) leaves the set, so counts are exact with no
    post-correction."""

    def match(rows: pd.DataFrame, grp: pd.DataFrame) -> pd.DataFrame:
        res = _boolean_match_group(rows, mode, n_query_terms, excl)
        return grp[np.isin(grp["docid"].to_numpy(np.int64), res)]

    return match


def _scored_match(idf: dict[str, float], avgdl: float, k1: float,
                  b: float, mode: str, n_query_terms: int,
                  excl: np.ndarray | None = None):
    """Matcher (_store_plan) of facet_top_hits: (one shard's dictionary
    rows, the group's docstore rows) → the matched docstore rows with
    their ``score``. Only the group's docids are candidates, so a
    tenant- or filter-restricted slice decodes just the blocks that
    overlap its docs; scores use GLOBAL BM25 stats and are
    bit-identical to unrestricted scoring (score_shard's cand=), so each
    bucket's hits equal the plain topk ranking restricted to that
    bucket. Tombstones leave before scoring."""

    def match(rows: pd.DataFrame, grp: pd.DataFrame) -> pd.DataFrame:
        cand = np.unique(grp["docid"].to_numpy(np.int64))
        scored = score_shard(rows, idf, avgdl, k1, b, 1 << 62, mode,
                             n_query_terms, excl=excl, cand=cand)
        return grp.merge(scored, on="docid")

    return match


def facet_count_group(hit: pd.DataFrame) -> pd.DataFrame:
    """Bucket-aggregation kernel (_store_plan) for facet counting:
    ``hit`` = a (segment, shard) group's matched rows (docid, value).
    Emits PARTIAL (value, cnt) rows — callers sum them with one small
    shuffle. Docs whose facet value is NULL are not counted (the ES
    terms-agg default). Shared by facet_counts, its bucket-agg variants
    and facet_cardinality."""
    vc = hit["value"].value_counts()   # dropna: NULLs uncounted
    return pd.DataFrame({"value": vc.index.astype(object),
                         "cnt": vc.to_numpy(np.int64)})


def _boolean_match_group(lpdf: pd.DataFrame, mode: str,
                         n_query_terms: int,
                         excl: np.ndarray | None) -> np.ndarray:
    """One shard's boolean match set (sorted docids) from its
    dictionary rows — the shared matching step of match_docids and the
    unscored bucket aggregations (_bool_match)."""
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


def _match_kernel(mode: str, n_query_terms: int,
                  excl: np.ndarray | None):
    """match_docids' group kernel(rows, rng, cand) → (docid) frame:
    the boolean match set restricted to a tenant interval or a
    candidate set."""
    def kernel(pdf, rng, cand):
        d = _boolean_match_group(pdf, mode, n_query_terms, excl)
        if rng is not None:
            d = d[(d >= rng[0]) & (d <= rng[1])]
        if cand is not None:
            d = d[np.isin(d, cand, assume_unique=True)]
        return pd.DataFrame({"docid": d})

    return kernel


def sort_match_group(k: int, descending: bool):
    """Bucket-aggregation kernel factory (_store_plan) for
    sort-by-field search (the ES sort clause — filter context, NO
    scoring): of a (segment, shard) group's matched rows (docid,
    value), emit the top-k (docid, sort_val) by (sort_val, docid asc)
    — a PARTIAL top-k. The caller's global order/limit runs over
    groups * k rows; matched docs never shuffle. Docs whose sort key
    is NULL are omitted (compose `filter="col IS NOT NULL"` / a
    COALESCE expression for ES missing:_first/_last semantics)."""

    def per_group(hit: pd.DataFrame) -> pd.DataFrame:
        hit = hit.dropna(subset=["value"])
        v = hit["value"].to_numpy(np.float64)
        d = hit["docid"].to_numpy(np.int64)
        order = np.lexsort((d, -v if descending else v))[:k]
        return pd.DataFrame({"docid": d[order], "sort_val": v[order]})

    return per_group


def facet_stats_group(hit: pd.DataFrame) -> pd.DataFrame:
    """Bucket-aggregation kernel (_store_plan) for facet METRIC
    aggregation (the ES stats/min/max/sum/avg aggs under a terms
    bucket): ``hit`` = a (segment, shard) group's matched rows (docid,
    value, metric). Emits PARTIAL per-value rows (value, cnt, mcnt, mn,
    mx, sm) — callers combine them with one small shuffle (sums add, mins
    min, maxes max; avg = total sm / total mcnt, exact because sums
    combine associatively). NULL facet values are not bucketed (ES
    default); NULL metrics count toward cnt but not mcnt/mn/mx/sm (SQL
    aggregate semantics). Partial groups with no metric values emit
    (+inf, -inf, 0) so the combine stays NaN-free; the final
    projection nulls them out when the total mcnt is 0. Shared by
    facet_metrics."""
    hit = hit[hit["value"].notna()]
    agg = (hit.groupby("value", sort=False)
           .agg(cnt=("docid", "size"), mcnt=("metric", "count"),
                mn=("metric", "min"), mx=("metric", "max"),
                sm=("metric", "sum")).reset_index())
    nomet = agg["mcnt"] == 0
    agg.loc[nomet, "mn"] = np.inf
    agg.loc[nomet, "mx"] = -np.inf
    agg.loc[nomet, "sm"] = 0.0
    agg["value"] = agg["value"].astype(object)
    return agg


def _facet_metrics_finalize(part: DataFrame, k: int) -> DataFrame:
    """Combine partial stats rows into the final ES-stats
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
    asc. Shared by facet_percentiles."""
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
    """Combine the kernel's per-(group, bucket) partial top-hit rows
    into the final ES top_hits shape: (value, doc_count, rank, docid,
    score), in ONE aggregation per value: doc_count sums the partial
    counts (the kernel puts each partial on one row) and the hits are
    the first k_hits of the value's partial hits by (score desc, docid
    asc); the top-k_buckets order/limit runs on those bucket rows.
    Shared by facet_top_hits."""
    hits = F.slice(F.array_sort(F.collect_list(F.struct(
        (-F.col("score")).alias("neg"), "docid"))), 1, k_hits)
    top = (part.groupBy("value")
           .agg(F.sum("cnt").alias("doc_count"), hits.alias("hits"))
           .orderBy(F.desc("doc_count"), F.asc("value"))
           .limit(k_buckets))
    return (top.select("value", "doc_count",
                       F.posexplode("hits").alias("pos", "h"))
            .select("value", "doc_count",
                    (F.col("pos") + 1).cast("int").alias("rank"),
                    F.col("h.docid").alias("docid"),
                    (-F.col("h.neg")).alias("score"))
            .orderBy(F.desc("doc_count"), F.asc("value"),
                     F.asc("rank")))


def facet_values_group(hit: pd.DataFrame) -> pd.DataFrame:
    """Bucket-aggregation kernel (_store_plan) for VALUE-LEVEL facet
    aggregation (the ES percentiles-agg path): ``hit`` = a (segment,
    shard) group's matched rows (docid, value, metric). Emits their
    (value, metric) rows — one per matched doc with a non-NULL bucket AND
    metric (ES percentiles skip missing values) — so the caller's
    aggregate (exact `percentile` or the `percentile_approx` quantile
    sketch) runs its map-side partial directly on the kernel's output
    partitions: on the sketch path the exchange carries per-bucket
    partial sketches, never raw docs."""
    hit = hit[hit["value"].notna() & hit["metric"].notna()]
    return pd.DataFrame({"value": hit["value"].astype(object),
                         "metric": hit["metric"].to_numpy(np.float64)})


def top_hits_group(k_hits: int):
    """Bucket-aggregation kernel factory (_store_plan) for the ES
    top_hits agg nested under a terms bucket: of a (segment, shard)
    group's matched rows (docid, value, score — _scored_match), emit
    each bucket's PARTIAL top-k_hits by (score desc, docid asc) as
    (value, cnt, docid, score); ``cnt`` is the group's partial bucket
    doc count on the bucket's first hit row and 0 on the others, so
    callers sum it per value (every non-empty bucket emits ≥1 hit row, so no
    partial count is ever lost). NULL bucket values drop (ES terms-agg
    default)."""

    def per_group(hit: pd.DataFrame) -> pd.DataFrame:
        hit = hit[hit["value"].notna()]
        cnts = hit.groupby("value", sort=False)["docid"].transform(
            "size")
        order = np.lexsort((hit["docid"].to_numpy(np.int64),
                            -hit["score"].to_numpy(np.float64)))
        hs = hit.iloc[order]
        rank = hs.groupby("value", sort=False).cumcount().to_numpy()
        keep = rank < k_hits
        hs = hs[keep]
        cs = np.where(rank[keep] == 0,
                      cnts.iloc[order].to_numpy(np.int64)[keep], 0)
        return pd.DataFrame(
            {"value": hs["value"].astype(object).to_numpy(),
             "cnt": cs,
             "docid": hs["docid"].to_numpy(np.int64),
             "score": hs["score"].to_numpy(np.float64)})

    return per_group


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


def _start_keys(data, offset: int, docs: np.ndarray, M: np.int64,
                L: int) -> np.ndarray:
    """Phrase-start keys d*M + (pos - offset + L) for one term's
    occurrences (``data`` from _decode_term_rows_pos) restricted to
    ``docs`` (sorted, ⊆ the term's posting docids): the occurrence of
    phrase slot ``offset`` at position pos votes for the phrase start
    pos - offset of doc d."""
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
    per_term = {}
    for t in uniq:
        sub = pdf[pdf["term"] == t]
        if sub.empty:
            return _EMPTY_TOPK.copy()  # a phrase term missing here
        per_term[t] = _decode_term_rows_pos(sub)
    # AND candidates
    cand = None
    for t in uniq:
        d = per_term[t][0]
        cand = d if cand is None else np.intersect1d(cand, d,
                                                     assume_unique=True)
    if cand is None:
        return _EMPTY_TOPK.copy()
    for restrict in (org_cand, org_range):
        if restrict is not None:
            cand = cand[_inside(restrict, cand)]
    me = _drop_excl(cand, excl)
    if me is not None:
        cand = cand[me]
    if cand.size == 0:
        return _EMPTY_TOPK.copy()
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
        # slot i's anchor with the window's slack folded in: offset i - s
        base = _start_keys(per_term[t], i - s, cand, M, L)
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
        return _EMPTY_TOPK.copy()
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
    L = len(fixed_seq) + 1
    per_term = {}
    for t in uniq_fixed:
        sub = pdf[pdf["term"] == t]
        if sub.empty:
            return _EMPTY_TOPK.copy()  # a required fixed term missing here
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
        return _EMPTY_TOPK.copy()
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
        return _EMPTY_TOPK.copy()
    maxpos = max(int(v[3].max()) if v[3].size else 0
                 for v in list(per_term.values()) + list(pe.values()))
    M = np.int64(maxpos + L + 2)
    if fixed_seq:
        keys = [_start_keys(per_term[t], i, cand, M, L)
                for i, t in enumerate(fixed_seq)]
        allk = np.concatenate(keys)
        uk, counts = np.unique(allk, return_counts=True)
        starts = uk[counts == len(fixed_seq)]
        if starts.size == 0:
            return _EMPTY_TOPK.copy()
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
        ke = _start_keys(pe[e], L - 1, docs_e, M, L)
        hit = np.intersect1d(starts, ke)
        if hit.size:
            matched_e[e] = np.unique(hit // M)
    if not matched_e:
        return _EMPTY_TOPK.copy()
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


# -- search_join building blocks ------------------------------------

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


def sj_score_group_factory(avgdl: float, k1: float, b: float, k: int,
                           method: str, rng_lookup=None,
                           cand_sets: dict | None = None,
                           excl: np.ndarray | None = None,
                           min_hits: int | None = None):
    """search_join's cogroup kernel: rebuild the per-bucket
    qterms/modes/idf dicts from the query side; or/and queries score in
    one score_query_set pass, phrase queries each rebuild their token
    sequence from qpos and run the shared positions kernel
    (_phrase_shard — the exact kernel phrase_topk uses, so ranks/scores
    match it). ``rng_lookup`` (org-scoped paths) maps the postings pdf
    to the tenant's docid interval for this group — None result means
    the tenant has no docs here and the group is skipped.
    ``cand_sets`` (filter=): {(segment, shard): codec.encode_docid_set
    of the group's candidate docids} (SegmentedIndex._cand_sets);
    scoring restricts to the group's set in the kernel so per-group
    output truncates to k (exact: BM25 stats stay global, so results
    equal the unrestricted ranking filtered to the candidates). A group
    without a set has no matching docs in this shard — skipped."""

    def score_group(lpdf: pd.DataFrame,
                    rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty or rpdf.empty:
            return _QSET_EMPTY
        bad = set(rpdf["mode"].unique()) - {"or", "and", "phrase"}
        if bad:
            raise ValueError(f"search_join: bad mode(s) {bad}")
        cand = rng = None
        if cand_sets is not None:
            # org composition already folded into the candidate set by
            # _filter_docs(filter, org); cand drives the restriction
            blob = cand_sets.get(_group_key(lpdf))
            if blob is None:
                return _QSET_EMPTY
            cand = codec.decode_docid_set(blob)
        elif rng_lookup is not None:
            rng = rng_lookup(lpdf)
            if rng is None:
                return _QSET_EMPTY
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


class _Loaded(NamedTuple):
    """A row group as the row-group cache holds it: the Arrow table
    (one chunk per column), its key column sorted, the sort order (None
    when the rows already are sorted) and zero-copy numpy views of the
    catalogue's view columns (_np_views), over buffers of ``tbl``."""
    tbl: object
    keys: np.ndarray
    order: np.ndarray | None
    views: dict


class _RowGroupCatalog:
    """The row groups of one parquet table, listed once per handle from
    a pyarrow dataset's fragments (in the dataset's file order), with
    the footer min/max of ``key`` — the column the table is sorted on
    within a file: docid (docstore), th (postings), term (term_stats).
    Pruning by those summary statistics is the footer-only half of a
    point lookup; ``load`` decodes one surviving row group together
    with its sorted key array and numpy views of the ``views`` columns,
    ``locate`` answers a lookup on loaded row groups with index
    arithmetic (searchsorted on the sorted keys), and ``take`` gathers
    located rows as Arrow for the readers that return tables."""

    def __init__(self, dataset, key: str, views=()):
        self.schema = dataset.schema
        self.key = key
        self.views = views
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
        # footer bounds as arrays, for the groups that have them
        self._stat = np.flatnonzero([g.lo is not None for g in self.groups])
        self._lo, self._hi = (
            self._bounds([getattr(self.groups[i], f) for i in self._stat])
            for f in ("lo", "hi"))

    @staticmethod
    def _bounds(vals: list) -> np.ndarray:
        a = np.array(vals)
        # str keys compare as Python objects, like the wanted term keys
        return a.astype(object) if a.dtype.kind in "US" else a

    def candidates(self, want: np.ndarray) -> list[_RowGroup]:
        """Row groups whose [min, max] may hold a key of ``want``
        (sorted, unique); groups without footer statistics always."""
        keep = np.ones(len(self.groups), dtype=bool)
        keep[self._stat] = (want.searchsorted(self._lo, "left")
                            < want.searchsorted(self._hi, "right"))
        return [self.groups[i] for i in np.flatnonzero(keep)]

    def load(self, g: _RowGroup):
        """(_Loaded, bytes held) for one row group, read with the
        dataset schema so hive partition columns come back exactly as a
        dataset scan gives them. The views add no bytes: they share the
        table's buffers."""
        tbl = g.frag.subset(row_group_ids=[g.rg]).to_table(
            schema=self.schema).combine_chunks()
        keys = tbl.column(self.key).to_numpy(zero_copy_only=False)
        order = (None if np.all(keys[:-1] <= keys[1:])
                 else np.argsort(keys, kind="stable"))
        skeys = keys if order is None else keys[order]
        held = tbl.nbytes + skeys.nbytes + (0 if order is None
                                            else order.nbytes)
        if skeys.dtype == object:   # one str object per key
            held += tbl.column(self.key).nbytes + 56 * skeys.size
        return _Loaded(tbl, skeys, order, _np_views(tbl, self.views)), held

    @staticmethod
    def locate(entries: list, want: np.ndarray
               ) -> list[tuple[np.ndarray, np.ndarray]]:
        """Per loaded entry, (rows, w): the rows whose key is in
        ``want`` (sorted, unique), ascending, and the index in ``want``
        of each row's key."""
        out = []
        for e in entries:
            lo = e.keys.searchsorted(want, "left")
            n = e.keys.searchsorted(want, "right") - lo
            # the concatenated ranges [lo, lo + n), one per wanted key
            c = n.cumsum()
            rows = np.arange(c[-1:].sum()) + (lo - c + n).repeat(n)
            w = np.arange(n.size).repeat(n)
            if e.order is not None:
                rows = e.order[rows]
                o = rows.argsort()
                rows, w = rows[o], w[o]
            out.append((rows, w))
        return out

    def take(self, entries: list, rows: list):
        """Rows ``rows[i]`` of each loaded entries[i] as one Arrow
        table, in entry then row order."""
        import pyarrow as pa
        parts = [e.tbl.take(r) for e, r in zip(entries, rows) if r.size]
        return pa.concat_tables(parts) if parts else self.schema.empty_table()


_TOPK_SCHEMA = "docid long, score double"


def _pooled(pairs) -> float:
    """Weighted mean of (weight, value) pairs — a statistic pooled over
    segments. One segment's value passes through unchanged (n·v/n can
    differ from v in the last ulp)."""
    if len(pairs) == 1:
        return float(pairs[0][1])
    w = sum(n for n, _ in pairs)
    return sum(n * v for n, v in pairs) / w if w else 0.0


def _top(tops: pd.DataFrame, k: int) -> pd.DataFrame:
    """Global top-k by (score desc, docid asc) of per-group tops."""
    if tops.empty:
        return _EMPTY_TOPK.copy()
    return (tops.sort_values(["score", "docid"], ascending=[False, True])
            .head(k).astype({"docid": "int64", "score": "float64"})
            .reset_index(drop=True))


def _merge_local(parts: list[pd.DataFrame], k: int) -> pd.DataFrame:
    """_top over driver-side kernel outputs; a lone non-empty part is
    already its group's final top-k, so it passes through — as it is
    when its index is the default RangeIndex (the kernels build fresh
    frames, so no caller shares it), else re-indexed."""
    parts = [p for p in parts if len(p)]
    if len(parts) == 1:
        p = parts[0]
        ix = p.index
        if (isinstance(ix, pd.RangeIndex) and ix.start == 0
                and ix.step == 1):
            return p
        return p.reset_index(drop=True)
    return _top(pd.concat(parts) if parts else _EMPTY_TOPK, k)


def _group_key(pdf: pd.DataFrame) -> tuple[int, int]:
    """(segment, shard) of one group's dictionary rows."""
    return int(pdf["seg"].iloc[0]), int(pdf["shard"].iloc[0])


def _by_seg(keys) -> dict[int, list[int]] | None:
    """[(segment, shard)] → {segment: [shards]} (None stays None)."""
    if keys is None:
        return None
    out: dict[int, list[int]] = {}
    for i, sh in keys:
        out.setdefault(i, []).append(sh)
    return out


def _dict_reader(subs: list, terms: list[str]):
    """``read(segment, shard)`` → the dictionary rows of ``terms`` in
    the postings directory of one (segment, shard) of the segment list
    ``subs``, as pandas with ``seg`` and ``shard`` columns: a pyarrow
    read with the th/term pushdown, so row groups prune on the footer
    min/max of th and the term IN-filter keeps exactness under hash
    collisions. Runs inside tasks; a directory it
    cannot read raises, which fails the query."""
    roots = [storage.path(s.root, "postings") for s in subs]
    hs = [codec.term_hash(t) for t in terms]
    terms = list(terms)

    def read(seg: int, shard: int) -> pd.DataFrame:
        import os as _os
        import pyarrow.dataset as _ds
        pdf = _ds.dataset(_os.path.join(roots[seg], f"shard={shard}"),
                          format="parquet").to_table(
            filter=(_ds.field("th").isin(hs)
                    & _ds.field("term").isin(terms))).to_pandas()
        pdf["shard"] = shard
        pdf["seg"] = seg
        return pdf

    return read


def _sql_str(v: str) -> str:
    """``v`` escaped for a single-quoted Spark SQL string literal."""
    return v.replace("\\", "\\\\").replace("'", "\\'")


class SegmentedIndex:
    """Every query surface, run once over a list of index segments
    (``subs``) — Lucene's one reader over a segment list plus
    live-docs. A plain :class:`FTSIndex` is one segment with no
    tombstones; ``streaming.CombinedIndex`` is a base index plus its
    delta generations and their tombstones. Segments own disjoint docid
    ranges and each doc lives in one (segment, shard) group with all of
    its postings, so kernels run per group and the per-group top-k
    merge is exact. BM25 statistics — N, avgdl, per-field avgdl and n,
    and df — pool over the segments, so scores equal those of one index
    over all segments' rows; tombstoned docids reach every kernel
    through its ``excl`` argument and leave before top-k truncation.

    Subclasses provide ``spark``, ``subs``, ``N``, ``avgdl``, ``k1``,
    ``b`` and ``tokenizer``; ``deleted_docids`` is empty unless
    overridden."""

    # -- statistics over the segments --------------------------------
    def _field(self, field: str | None) -> tuple[str, float]:
        """(term prefix, avgdl) for a query — field-scoped on
        multi-field indexes, classic otherwise. The per-field avgdl
        pools the field's tokens over the segments (over the field's
        own docs when every segment stores per-field doc counts — the
        type→field mapping). Segments mixing classic and multi-field
        builds are refused."""
        subs = self.subs
        if all(s.fields is None for s in subs):
            if field is not None:
                raise ValueError("index was not built with fields")
            return "", self.avgdl
        if any(s.fields is None for s in subs):
            raise ValueError(
                "mixed multi-field and classic generations cannot be "
                "queried together")
        names = sorted(set().union(*(s.fields for s in subs)))
        if field is None or field not in names:
            raise ValueError(f"multi-field index: pick field= from {names}")
        if all(field in s._field_n for s in subs):
            return f"{field}:", _pooled(
                [(s._field_n[field], s.fields[field]) for s in subs])
        return f"{field}:", _pooled(
            [(s.N, s.fields.get(field, 0.0)) for s in subs])

    def _fieldN(self, field: str | None) -> float:
        """Document count for idf: the field's own n summed over the
        segments when every segment stores it (type→field mapping),
        else the index-wide N (classic and legacy multi-field)."""
        if field is not None and \
                all(field in s._field_n for s in self.subs):
            return float(sum(s._field_n[field] for s in self.subs))
        return float(self.N)

    def _terms(self, query: str, prefix: str = "") -> list[str]:
        return sorted({prefix + t
                       for t in tokenize_text(query, self.tokenizer)})

    def _df(self, terms: list[str]) -> dict[str, float]:
        """term → document frequency summed over the segments (terms
        absent from every segment are missing)."""
        out: dict[str, float] = {}
        for s in self.subs:
            for t, d in s._df_counts(terms).items():
                out[t] = out.get(t, 0.0) + d
        return out

    def _idf_map(self, terms: list[str],
                 N: float | None = None) -> dict[str, float]:
        if not terms:
            return {}
        dfm = self._df(terms)
        n = float(self.N) if N is None else float(N)
        return {t: _bm25_idf(n, dfm.get(t, 0.0)) for t in terms}

    def _expand_union(self, pattern: str, kind: str, fp: str,
                      max_expansions: int, fuzziness: int,
                      prefix_length: int, distributed: bool = False
                      ) -> dict[str, float]:
        """Dictionary expansion candidates of every segment, dfs summed
        (term → df, in first-seen order)."""
        agg: dict[str, float] = {}
        for s in self.subs:
            for t, d in s._expand_candidates(
                    pattern, kind, fp=fp, max_expansions=max_expansions,
                    fuzziness=fuzziness, prefix_length=prefix_length,
                    distributed=distributed):
                agg[t] = agg.get(t, 0.0) + d
        return agg

    # -- tombstones and docid routing --------------------------------
    def deleted_docids(self) -> np.ndarray:
        """Sorted unique deleted docids (none on a plain index)."""
        return np.empty(0, dtype=np.int64)

    def _excl(self) -> np.ndarray | None:
        """Tombstones for the kernels' ``excl`` argument, or None."""
        tomb = self.deleted_docids()
        return tomb if tomb.size else None

    def _sub_for(self, docid: int):
        for s in self.subs:
            if s.docid_offset <= docid < s.docid_offset + s.docid_span:
                return s
        raise KeyError(f"docid {docid} outside every sub-index range")

    def _route(self, docids) -> list[tuple["FTSIndex", np.ndarray]]:
        """(segment, its sorted unique live docids) for a docid list.
        Tombstoned ids drop. With several segments each id goes to the
        one whose range owns it (KeyError when none does); a single
        segment answers every id."""
        ids = np.unique(np.array([int(d) for d in docids], dtype=np.int64))
        ex = self._excl()
        if ex is not None:
            ids = ids[~np.isin(ids, ex)]
        if not ids.size:
            return []
        if len(self.subs) == 1:
            return [(self.subs[0], ids)]
        owner = np.array([id(self._sub_for(int(d))) for d in ids])
        return [(s, ids[owner == id(s)]) for s in self.subs
                if (owner == id(s)).any()]

    # -- Spark plans over (segment, shard) groups ----------------------
    def _union(self, mk) -> DataFrame:
        """Union of ``mk(ordinal, segment)`` over the segments (None
        skips one), tagged with the segment ordinal ``seg``."""
        dfs = [d.withColumn("seg", F.lit(i))
               for i, s in enumerate(self.subs)
               if (d := mk(i, s)) is not None]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def _org_shards(self, org: str) -> dict[int, list[int]]:
        """segment → the tenant's possible shards (the
        getPossibleRoutingHashes analog,
        ElasticsearchRoutingStrategyV1.java:137-148). Every segment must
        be routed — the reference refuses mixed routing strategies
        across indices (RealtimeIndexSelectionStrategyLagged.java:62-90);
        shard geometry may differ per segment."""
        bad = [s.root for s in self.subs if s.routing_col is None]
        if bad:
            raise ValueError(
                "index was not built with org routing (org-scoped "
                f"queries need every segment routed; unrouted: {bad})")
        return {i: s.possible_shards(org) for i, s in enumerate(self.subs)}

    def _org_range_map(self, org: str):
        """{(segment, shard): (lo, hi)} tenant docid intervals when every
        segment has contiguous-tenant ranges ({} for an unknown tenant);
        None on legacy layouts — callers restrict to the tenant's docid
        sets instead."""
        self._org_shards(org)
        out: dict[tuple[int, int], tuple[int, int]] = {}
        for i, s in enumerate(self.subs):
            ranges = s._org_ranges(org)
            if ranges is None:
                return None
            out.update({(i, sh): r for sh, r in ranges.items()})
        return out

    def _listed(self) -> list[tuple[int, int]]:
        """The (segment, shard) groups with a postings directory, as
        each segment listed them once (FTSIndex._shard_dirs)."""
        return [(i, sh) for i, s in enumerate(self.subs)
                for sh in s._shard_dirs()]

    def _width(self, n: int) -> int:
        """Task count for ``n`` (segment, shard) groups: the session's
        query-parallelism knob (shuffle partitions — the width of the
        worker pool the build warmed), at most ``n``."""
        try:
            p = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        except Exception:   # noqa: BLE001
            p = self.spark.sparkContext.defaultParallelism
        return max(1, min(n, p))

    def _fan_out(self, allt: list[str], fn, schema: str,
                 keys=None) -> DataFrame:
        """ONE-job, ONE-stage fan-out over (segment, shard) tasks: each
        task reads its own shard's dictionary rows (_dict_reader) and
        runs the per-group kernel ``fn`` (pdf → pdf) on the complete
        group — the shard-local search pattern of a real cluster. The
        index is already partitioned by shard on disk, so nothing
        shuffles. Tasks go to the listed shards (_listed), intersected
        with ``keys`` (None: all); a task that cannot read its listed
        shard fails the query instead of dropping the shard's hits. The
        kernel sees the rows with ``seg`` and ``shard`` columns."""
        import pyarrow as pa
        read = _dict_reader(self.subs, allt)
        tasks = self._listed()
        if keys is not None:
            keys = set(keys)
            tasks = [key for key in tasks if key in keys]
        p = self._width(len(tasks))

        def reader(batches):
            for rb in batches:
                for j in rb.column("id").to_pylist():
                    pdf = read(*tasks[int(j)])
                    if pdf.empty:
                        continue
                    out = fn(pdf)
                    if len(out):
                        yield pa.RecordBatch.from_pandas(
                            out, preserve_index=False)

        return (self.spark.range(0, len(tasks), numPartitions=p)
                .mapInArrow(reader, schema=schema))

    def _cand_sets(self, filter, org: str | None
                   ) -> dict[tuple[int, int], bytes]:
        """{(segment, shard): codec.encode_docid_set of the group's
        candidate docids}, non-empty groups only. With ``filter``: the
        docs satisfying it (ANDed with ``org``), each segment's sets
        from its memo (FTSIndex._filter_sets) and the segments that miss
        computed together in one Spark job (_filter_job). Without: a
        tenant on a legacy layout, read from the driver-local docstore
        (no Spark job). Tombstones are never in a set; the kernels drop
        them through ``excl``."""
        shards = self._org_shards(org) if org is not None else None
        out: dict[tuple[int, int], bytes] = {}
        if filter is None:
            for i, s in enumerate(self.subs):
                for sh, d in s._local_org_docids(org, shards[i]).items():
                    out[(i, sh)] = codec.encode_docid_set(d)
            return out
        miss = [i for i, s in enumerate(self.subs)
                if not s._filter_memoized(filter, org)]
        job = self._filter_job(filter, org, miss) if miss else {}

        def compute(i):
            if i not in job:    # evicted since the memo check
                job.update(self._filter_job(filter, org, [i]))
            return job[i]

        for i, s in enumerate(self.subs):
            sets = s._filter_sets(filter, org, lambda i=i: compute(i))
            out.update({(i, sh): blob for sh, blob in sets.items()})
        return out

    def _filter_job(self, filter, org: str | None,
                    segs: list[int]) -> dict[int, dict[int, bytes]]:
        """ONE Spark job: {segment: {shard: encoded docid set}} of the
        docs satisfying ``filter`` (ANDed with ``org``) in the segments
        ``segs`` — the pruned docstore scans (_filter_docs), collected
        as Arrow (about 16 B per matching doc; no Python task, no
        Exchange) and encoded per (segment, shard) on the driver. The
        memo keeps only the encoded sets (~1.5 B per docid)."""
        want = set(segs)
        pdf = self._union(lambda i, s: s._filter_docs(filter, org)
                          if i in want else None).toPandas()
        out: dict[int, dict[int, bytes]] = {i: {} for i in segs}
        for (i, sh), d in pdf.groupby(["seg", "shard"])["docid"]:
            out[int(i)][int(sh)] = codec.encode_docid_set(d.to_numpy())
        return out

    def _plan(self, terms: list[str], kernel, schema: str,
              org: str | None = None, filter=None) -> DataFrame | None:
        """The Spark plan running ``kernel(rows, rng, cand)`` once per
        (segment, shard) group of the query terms' dictionary rows: the
        one-stage fan-out (_fan_out) on every leg. ``rng`` is a
        tenant's [lo, hi] docid interval in the group and ``cand`` the
        group's sorted candidate docids — of a filter (SQL predicate or
        Column over docstore columns, ANDed with ``org``) or of a tenant
        on a legacy layout (_cand_sets); both None when unrestricted. A
        candidate leg ships each group's encoded set in the task
        closure and runs only the groups that have candidates. None
        when no group can match."""
        if filter is None and org is None:
            return self._fan_out(terms, lambda pdf: kernel(pdf, None, None),
                                 schema)
        rng = self._org_range_map(org) if filter is None else None
        if rng is not None:
            if not rng:
                return None
            return self._fan_out(
                terms, lambda pdf: kernel(pdf, rng[_group_key(pdf)], None),
                schema, rng)
        sets = self._cand_sets(filter, org)
        if not sets:
            return None
        return self._fan_out(
            terms, lambda pdf: kernel(
                pdf, None, codec.decode_docid_set(sets[_group_key(pdf)])),
            schema, sets)

    def _run(self, q, k: int, org: str | None = None,
             filter=None) -> pd.DataFrame:
        """Distributed runner of a prepared query ``q`` — (terms to
        read, kernel(rows, rng, cand), …) or None when nothing can
        match: the _plan fan-out, then the driver's global top-k."""
        if q is None:
            return _EMPTY_TOPK.copy()
        plan = self._plan(*q[:2], _TOPK_SCHEMA, org, filter)
        return _top(plan.toPandas() if plan is not None else _EMPTY_TOPK,
                    k)

    def _run_local(self, q, k: int, org: str | None = None
                   ) -> pd.DataFrame:
        """Zero-job runner of the same ``q``: its kernel over the
        driver-side groups (_local_groups), then _merge_local."""
        if q is None:
            return _EMPTY_TOPK.copy()
        terms, kernel = q[:2]
        return _merge_local([kernel(*g) for g in
                             self._local_groups(terms, org)], k)

    def _local_groups(self, terms: list[str], org: str | None):
        """Driver-side (rows, rng, cand) groups of ``terms``'
        dictionary rows, read through each segment's LRU — what
        _plan's tasks see, without a Spark job. ``org=None``: one
        unrestricted group per segment (a doc lives in one shard, so a
        segment's rows form an exact group). With ``org``: one group
        per (segment, tenant shard), restricted by the tenant's [lo,
        hi] interval on contiguous-tenant layouts, else by its sorted
        docids in the shard."""
        shards = self._org_shards(org) if org is not None else None
        for i, s in enumerate(self.subs):
            pdf = s._local_term_rows(terms)
            if org is None:
                if len(pdf):
                    yield pdf, None, None
                continue
            pdf = pdf[pdf["shard"].isin(shards[i])]
            if pdf.empty:
                continue
            ranges = s._org_ranges(org)
            groups = ({sh: (r, None) for sh, r in ranges.items()}
                      if ranges is not None else
                      {sh: (None, d) for sh, d in
                       s._local_org_docids(org, shards[i]).items()})
            for sh in sorted(groups):
                sub = pdf[pdf["shard"] == sh]
                if len(sub):
                    yield (sub, *groups[sh])

    def _store_plan(self, terms: list[str], org: str | None, filter,
                    cols: list[Column], match, kernel,
                    schema: str) -> DataFrame:
        """The bucket-aggregation plan: each segment's docstore slice
        projected to (shard, docid, *cols) — column-pruned, tenant- and
        filter-restricted at the scan, with Spark evaluating the
        ``cols`` SQL — placed by (segment, shard) with each group on
        exactly one task and the groups spread evenly over the tasks
        (placement.repartition_exact), sorted by (segment, shard), then
        ONE mapInArrow stage. A task thus holds every docstore row of
        its groups and sees each group contiguously: per group it
        reads the shard's dictionary rows for the query terms once
        (_dict_reader), ``match`` (dictionary rows, group rows) returns
        the group's matched rows and ``kernel`` emits the group's
        partials, and then the group is dropped. A shard the segment
        did not list has no postings and is skipped; a listed shard the
        task cannot read fails the query. Only the projected slice
        shuffles; postings and matched docs never do."""
        import pyarrow as pa
        shards = self._org_shards(org) if org is not None else None
        listed = set(self._listed())
        groups = sorted(key for key in listed
                        if shards is None or key[1] in shards[key[0]])
        if not groups:
            return self.spark.createDataFrame([], schema)
        read = _dict_reader(self.subs, terms)
        m = 1 + max(sh for _, sh in groups)     # group ordinal seg*m+shard

        def store(i, s):
            st = s._docstore
            if org is not None:
                st = (st.where(F.col("shard").isin(shards[i]))
                      .where(F.col(s.routing_col) == org))
            if filter is not None:
                st = st.where(filter)
            return st.select("shard", "docid", *cols)

        def group(key, parts):
            if not parts:
                return
            rows = read(*key)
            if rows.empty:
                return
            hit = match(rows, pd.concat(parts, ignore_index=True))
            out = kernel(hit) if len(hit) else hit
            if len(out):
                yield pa.RecordBatch.from_pandas(out, preserve_index=False)

        def task(batches):
            key, parts = None, []
            for rb in batches:
                for (seg, sh), g in rb.to_pandas().groupby(
                        ["seg", "shard"], sort=False):
                    if (int(seg), int(sh)) != key:
                        yield from group(key, parts)
                        key, parts = (int(seg), int(sh)), []
                    if key in listed:
                        parts.append(g)
            yield from group(key, parts)

        plan = self._union(store).withColumn(
            "_g", F.col("seg") * m + F.col("shard"))
        return (repartition_exact(plan, [i * m + sh for i, sh in groups],
                                  self._width(len(groups)), "_g")
                .drop("_g")
                .sortWithinPartitions("seg", "shard")
                .mapInArrow(task, schema))

    def _sdf(self, hits: pd.DataFrame) -> DataFrame:
        """(docid, score) hits as a Spark DataFrame."""
        if hits.empty:
            return self.spark.createDataFrame([], _TOPK_SCHEMA)
        return self.spark.createDataFrame(hits, schema=_TOPK_SCHEMA)

    def read_counters(self) -> dict[str, int]:
        """What the driver-local reads did so far, summed over the
        segments: row groups read from disk, pruned by footer min/max,
        served from the row-group cache, and the compressed bytes
        read; filter docid sets computed by a Spark job or served
        from the memo (one count per segment and filtered call); the
        terms the decoded-postings cache loaded on a miss (absent
        terms included) with the postings decoded for them; and how
        topk_local's multi-term dense selections ran (score_partials):
        from the score floor's candidates or by the full-range
        fallback."""
        out: dict[str, int] = {}
        for s in self.subs:
            with s._lock:
                for key, v in s._read_counters.items():
                    out[key] = out.get(key, 0) + v
        return out

    # -- scored top-k ------------------------------------------------
    def _bool_terms(self, query: str, field: str | None, mode: str,
                    min_should_match, raw_terms, must_not, must):
        """The analyzed bool query of topk / topk_local: (term prefix,
        avgdl, positive terms, mode, min hits, required terms,
        must_not terms)."""
        prefix, avgdl = self._field(field)
        mh = _check_msm(min_should_match, mode if not must else "or")
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
        return prefix, avgdl, terms, mode, mh, reqs, neg

    def _topk_q(self, query: str, k: int, mode: str, method: str,
                org: str | None, field: str | None, after,
                min_should_match, raw_terms, must_not, must, boosts):
        """The prepared bool query of topk / topk_local: (terms to
        read, kernel(rows, rng, cand), cached(segment)), or None when
        nothing can match. ``cached`` scores a whole segment from its
        BM25-partials LRU under the pooled avgdl — the same
        ascending-term summation as the kernel, so bit-identical."""
        _check_k(k)
        prefix, avgdl, terms, mode, mh, reqs, neg = self._bool_terms(
            query, field, mode, min_should_match, raw_terms, must_not,
            must)
        if after is not None:
            after = (float(after[0]), int(after[1]))
        if org is not None:
            self._org_shards(org)              # raises if unrouted
        if not terms:
            return None
        idf = _apply_boosts(self._idf_map(terms, N=self._fieldN(field)),
                            boosts, terms, self.tokenizer, prefix)
        nq, k1, b = len(terms), self.k1, self.b
        negs, excl = frozenset(neg), self._excl()
        kw = dict(after=after, min_hits=mh, req_terms=reqs)

        def kernel(pdf, rng, cand):
            pdf, ex = fold_neg_terms(pdf, negs, excl)
            return score_shard(pdf, idf, avgdl, k1, b, k, mode, nq,
                               method, excl=ex, rng=rng, cand=cand, **kw)

        def cached(s):
            ex = (merge_excl_docids(
                excl, [d for d, _, _ in s._decoded_terms(neg).values()])
                if neg else excl)
            return score_partials(s._decoded_partials(terms, avgdl), idf,
                                  k, mode, nq, excl=ex, count=s._bump,
                                  **kw)

        return sorted(set(terms) | negs), kernel, cached

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
        """Distributed top-k: per-(segment, shard) scoring fanned out as
        one mapInArrow stage of shard-local readers (_fan_out, every
        leg), driver merge of the groups' k candidates. Returns (docid,
        score) as pandas.

        With ``org`` (routed indexes only): the dictionary read is
        partition-pruned to the org's shards_per_org shards and scoring
        restricts to the tenant's docids (a docid interval per shard on
        contiguous-tenant layouts, else the tenant's docid set per shard,
        read driver-side from the equally pruned doc store) — BM25 stats
        stay GLOBAL, so scores equal the unrestricted ranking filtered
        to the org.

        With ``filter`` (a SQL predicate string or Column over docstore
        columns — the ES bool-filter analog): results restrict to docs
        satisfying the predicate, scores unchanged (stats stay global).
        The predicate and the (shard, docid) projection push down to
        the docstore parquet scan; one scan job collects the matching
        (shard, docid) pairs, the driver encodes each shard's set
        (~1.5 B per docid), and each fan-out task scores against its
        shard's set. A string
        predicate's sets are memoized on the handle, so a repeat costs
        the fan-out alone (FTSIndex._filter_sets). Composes with
        ``org`` (conjunction) and ``field``.

        ``after`` — (score, docid) deep-pagination cursor (the ES
        search_after analog): results rank STRICTLY after it, so page
        N+1 is ``topk(..., after=tuple(page_N.iloc[-1]))`` with no
        from+size over-fetch. Exact at any depth (cursor scores come
        from this same fixed-summation pipeline, so score equality is
        bit-reliable; OR-mode cursor pages prune via the cursor-aware
        WAND). Composes with org/field/filter.

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
        dictionary scan as the positive terms (no extra job) and fold
        into the kernel exclusion set tombstones use. Requires a
        non-empty positive query (a pure-negation match-all belongs on
        ``filter=``/the docstore scan, not the dictionary).

        ``must`` — analyzed like ``query``; its terms are REQUIRED (the
        Lucene bool must+should contract): results match ALL must
        terms, scores sum over every matched term (must and should
        alike, stats global), and ``min_should_match`` counts only the
        ``query`` (should) terms. Same-field composition only (requires
        mode='or'; a pure conjunction is mode='and'). A term in both
        must and query is required and scored once.

        ``boosts`` — {term: weight} query-time clause boosts (the
        Lucene TermQuery boost / ES ``"term"^2``): the term's idf —
        hence its every contribution AND its WAND pruning bounds —
        scales by the weight, so pruned paths stay exact. Keys are
        analyzed and must be query (or must) terms; weights finite
        positive. Composes with everything above."""
        return self._run(self._topk_q(
            query, k, mode, method, org, field, after, min_should_match,
            raw_terms, must_not, must, boosts), k, org, filter)

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
        return self._sdf(self._topk_pd(
            query, k, mode, method, org=org, field=field, filter=filter,
            after=after, min_should_match=min_should_match,
            raw_terms=raw_terms, must_not=must_not, must=must,
            boosts=boosts))

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
        """Zero-job top-k: driver-side dictionary reads and the same
        kernels as topk(), merged on the driver — the latency-parity
        answer to the reference's always-on ES cluster. Every keyword
        has topk()'s contract (``method`` is accepted for signature
        parity; neither leg reads it). ``org=None`` serves from each
        segment's BM25-partials LRU: a term's first query pays a full
        decode that warms the cache, so one-shot cold queries belong
        on topk(). Rank-identical to topk()."""
        q = self._topk_q(query, k, mode, method, org, field, after,
                         min_should_match, raw_terms, must_not, must,
                         boosts)
        if q is None or org is not None:
            return self._run_local(q, k, org)
        return _merge_local([q[2](s) for s in self.subs], k)

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
        fixed per-job latency is paid once for the whole query set
        instead of per query. ``queries`` maps query-id → (query text,
        mode); each result is rank-identical to the corresponding
        ``topk`` call (same kernels per (query, group)). The dictionary
        read fetches the UNION of all query terms' rows once.
        ``field``/``org``/``filter`` apply to the whole batch (same
        semantics and the same one-stage fan-out as topk; a filter's
        docid sets come from the handle's memo or one scan job).

        ``after`` maps qid → (score, docid) pagination cursor: that
        query's page ranks strictly after it (same contract as
        topk(after=); queries absent from the dict start at page 1) —
        batch deep-exports page WITHOUT re-ranking from page 1.

        ``must`` / ``boosts`` apply to the WHOLE batch (the common
        export shape: one mandatory term / weighting across a query
        set): each query gains the must terms as REQUIRED (topk(must=)
        contract — every query must be mode='or'), and boosts scale the
        shared per-term idf so every query's use of a boosted term
        scales identically (topk(boosts=) contract; keys must appear in
        the batch's term union)."""
        _check_k(k)
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
        if org is not None:
            self._org_shards(org)              # raises if unrouted
        if not all_terms:
            return {qid: _EMPTY_TOPK.copy() for qid in queries}
        idf = _apply_boosts(
            self._idf_map(all_terms, N=self._fieldN(field)),
            boosts, all_terms, self.tokenizer, prefix)
        k1, b, excl = self.k1, self.b, self._excl()

        def kernel(pdf, rng, cand):
            return score_query_set(pdf, cand, qterms, modes, idf, avgdl,
                                   k1, b, k, method, rng=rng, excl=excl,
                                   min_hits=mh, after=after, reqs=reqs)

        plan = self._plan(all_terms, kernel,
                          "qid string, docid long, score double", org,
                          filter)
        tops = _QSET_EMPTY if plan is None else plan.toPandas()
        out = {}
        for qid in queries:
            sub = tops[tops["qid"] == qid]
            out[qid] = (sub.sort_values(["score", "docid"],
                                        ascending=[False, True])
                        .head(k)[["docid", "score"]]
                        .reset_index(drop=True))
        return out

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
        path — only the <= max_expansions matching terms per segment
        are collected); default is the driver-side pyarrow scan
        (serving). Dfs sum over the segments before the cap. Returns
        field-prefixed terms, capped deterministically by (df DESC,
        term ASC) — Lucene's top_terms_N selection."""
        multiterm.validate_kind(kind)
        fp, _ = self._field(field)
        agg = self._expand_union(pattern, kind, fp, max_expansions,
                                 fuzziness, prefix_length, distributed)
        return multiterm.select_expansions(
            list(agg), list(agg.values()), int(max_expansions))

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
        _check_k(k)
        terms = self.expand_terms(pattern, kind, field=field,
                                  max_expansions=max_expansions,
                                  fuzziness=fuzziness,
                                  prefix_length=prefix_length,
                                  distributed=True)
        if rewrite == "constant_score":
            m = self._match_sdf("", mode="or", field=field, org=org,
                                filter=filter, raw_terms=terms)
            return (m.orderBy("docid").limit(k)
                    .select("docid",
                            F.lit(1.0).cast("double").alias("score")))
        if rewrite != "scoring_boolean":
            raise ValueError(
                "rewrite must be scoring_boolean|constant_score")
        return self._sdf(self._topk_pd(
            "", k=k, mode="or", method=method, org=org, field=field,
            filter=filter, after=after, raw_terms=terms))

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
        """Zero-job pattern_topk (driver-side dictionary range scan);
        rank-identical to pattern_topk."""
        _check_k(k)
        terms = self.expand_terms(pattern, kind, field=field,
                                  max_expansions=max_expansions,
                                  fuzziness=fuzziness,
                                  prefix_length=prefix_length)
        if rewrite == "constant_score":
            return self._match_local(terms, "or", org).head(k).assign(
                score=1.0)
        if rewrite != "scoring_boolean":
            raise ValueError(
                "rewrite must be scoring_boolean|constant_score")
        return self.topk_local("", k=k, mode="or", method=method,
                               field=field, org=org, after=after,
                               raw_terms=terms)

    # -- multi_match ---------------------------------------------------
    def _mm_q(self, query: str, fields, k: int, qtype: str,
              tie_breaker: float, mode: str, after):
        """The prepared multi_match query: (terms to read, kernel), or
        None when nothing can match. idf uses each FIELD's N and df
        (the field-prefixed dictionary keeps them isolated); boosts
        fold in at the per-field score level, never into the stats."""
        _check_k(k)
        from . import multimatch as mm
        mm.check_mm_args(qtype, tie_breaker, mode)
        if all(s.fields is None for s in self.subs):
            raise ValueError("multi_match needs a multi-field index "
                             "(BuildConfig.fields)")
        names = sorted(set().union(*(s.fields for s in self.subs
                                     if s.fields is not None)))
        if fields is None:
            boosts = {f: 1.0 for f in names}
        elif isinstance(fields, (list, tuple, set)):
            boosts = {f: 1.0 for f in fields}
        else:
            boosts = {f: float(w) for f, w in fields.items()}
        bad = sorted(set(boosts) - set(names))
        if bad:
            raise ValueError(f"unknown fields {bad}; index has {names}")
        field_terms, avgdls, idf = {}, {}, {}
        for f in sorted(boosts):
            prefix, avgdls[f] = self._field(f)
            field_terms[f] = self._terms(query, prefix)
            idf.update(self._idf_map(field_terms[f], N=self._fieldN(f)))
        if after is not None:
            after = (float(after[0]), int(after[1]))
        allt = sorted({t for ts in field_terms.values() for t in ts})
        if not allt:
            return None
        k1, b, excl = self.k1, self.b, self._excl()

        def kernel(pdf, rng, cand):
            return mm.score_multi_group(pdf, field_terms, boosts, idf,
                                        avgdls, k1, b, k, qtype,
                                        tie_breaker, mode, after=after,
                                        excl=excl)

        return allt, kernel

    def _multi_match_pd(self, query: str, fields=None, k: int = 10,
                        qtype: str = "best_fields",
                        tie_breaker: float = 0.0, mode: str = "or",
                        after: tuple[float, int] | None = None
                        ) -> pd.DataFrame:
        """:meth:`multi_match` as pandas."""
        return self._run(self._mm_q(query, fields, k, qtype, tie_breaker,
                                    mode, after), k)

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
        One Spark job, one stage: every field's postings ride the same
        (segment, shard) fan-out tasks (field-prefixed terms, one
        dictionary). ``after`` pages the combined ranking."""
        return self._sdf(self._multi_match_pd(query, fields, k, qtype,
                                              tie_breaker, mode, after))

    def multi_match_local(self, query: str, fields=None, k: int = 10,
                          qtype: str = "best_fields",
                          tie_breaker: float = 0.0, mode: str = "or",
                          after: tuple[float, int] | None = None
                          ) -> pd.DataFrame:
        """Zero-job multi_match; rank-identical to multi_match."""
        return self._run_local(self._mm_q(query, fields, k, qtype,
                                          tie_breaker, mode, after), k)

    # -- batch search as a join ----------------------------------------
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
          term_stats table (dfs summed over segments; absent terms kept
          at df=0 so AND-mode term counts stay exact) — no driver vocab
          collect;
        - each query lands in one of ``n_buckets`` buckets
          (xxhash64(qid) % B) — the parallelism axis of the query
          dimension;
        - dictionary rows are selected by BROADCAST-joining the query
          set's distinct (term, bucket) pairs against the postings
          table: the big side never shuffles for the join, and only
          matching rows enter the ONE exchange that cogroups
          (segment, shard, bucket) postings with that bucket's queries
          — the one cogroup left in the engine: the query table is
          itself big data, and an in-task read would re-read each
          shard once per bucket.
          A hot term queried in many buckets replicates its rows up to
          B× — the classic replication/parallelism trade; B defaults to
          the session's shuffle partitions and is caller-tunable;
        - per-group scoring reuses score_query_set (the topk_many
          kernel), then ONE window over qid takes the global per-query
          top-k. Total: broadcast + 2 shuffles, all stages distributed
          in both the corpus and query dimensions.

        For a handful of queries prefer ``topk_many`` (per-term
        dictionary point-probes); search_join's full dictionary scan
        only amortizes across a large query set.

        ``org=`` (routed indexes with contiguous-tenant ranges) scopes
        the WHOLE batch to one tenant: shard-pruned scan + interval
        scoring, same semantics as ``topk(org=)``.

        ``filter=`` (SQL predicate over docstore columns) restricts
        the WHOLE batch like ``topk(filter=)`` — stats stay global.
        Plan shape: the filter's per-(segment, shard) docid sets come
        from the handle's memo or one docstore scan job (_cand_sets —
        the same sets ``topk(filter=)`` uses; the job collects about
        16 B per matching doc to the driver, so a broad filter on a
        very large index is bounded by driver memory), ride the kernel
        closure encoded (~1.5 B per docid), and only groups with
        candidates are scheduled; the kernels score only those
        candidates and truncate to k per query in-group, and the
        global window merges — per-group output is O(k · queries in
        bucket), never postings-scale. Composes with ``org`` (conjunction).

        ``after_cols=(score_col, docid_col)`` names per-query
        pagination-cursor columns in ``queries``: a non-NULL cursor
        makes that query's rows rank strictly after it (NULL = page
        1) — batch deep-exports page per query without re-ranking
        from page 1. The cursor rides the query rows into the
        kernels, so the plan shape is unchanged. or/and modes only."""
        _check_k(k)
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
        stats = self.subs[0]._term_stats.select("term", "df")
        if len(self.subs) > 1:          # df summed over the segments
            stats = (self._union(lambda i, s: s._term_stats)
                     .groupBy("term").agg(F.sum("df").alias("df")))
        qs = sj_attach_idf(make_qt(), stats, self._fieldN(field))
        rng = None
        if org is not None:
            rng = self._org_range_map(org)
            if rng is None:
                raise ValueError(
                    "search_join(org=...) needs contiguous-tenant "
                    "ranges in every segment (index predates "
                    "org_ranges); rebuild or use topk_many(org=...)")
            keys = sorted(rng)
        else:
            keys = [(i, sh) for i, s in enumerate(self.subs)
                    for sh in range(s.num_shards)]
        sets = None
        if filter is not None:
            # the filter's per-group docid sets (org folded in) ride the
            # kernel closure; groups without candidates are not scheduled
            sets = self._cand_sets(filter, org)
            keys = [key for key in keys if key in sets]
        if not keys:                   # unknown tenant / no candidates
            return spark.createDataFrame(
                [], "qid string, rank int, docid long, score double")
        shards = _by_seg(keys)
        # every query scores in every (pruned) group: tiny broadcast
        # nested-loop, O(#query-terms × #groups) rows of a few columns
        qs_k = qs.crossJoin(F.broadcast(spark.createDataFrame(
            [(int(i), int(sh)) for i, sh in keys], "seg int, shard int")))
        # dictionary selection: broadcast the query vocab at the scan —
        # postings never shuffle for the join itself
        tb = make_qt().select("term", "bucket").distinct()
        ps = self._union(
            lambda i, s: s._postings.where(F.col("shard").isin(shards[i]))
            .join(F.broadcast(tb), "term") if i in shards else None)
        score_group = sj_score_group_factory(
            avgdl, self.k1, self.b, k, method,
            None if rng is None else (lambda lpdf:
                                      rng.get(_group_key(lpdf))),
            cand_sets=sets, excl=self._excl(),
            min_hits=(None if min_should_match is None
                      else _check_msm(min_should_match, "or")))
        tops = (ps.groupBy("seg", "shard", "bucket")
                .cogroup(qs_k.groupBy("seg", "shard", "bucket"))
                .applyInPandas(score_group,
                               schema="qid string, docid long, "
                                      "score double"))
        return sj_global_topk(tops, k)

    # -- explain / highlight -------------------------------------------
    def explain(self, query: str, docid: int,
                field: str | None = None) -> pd.DataFrame:
        """Per-term BM25 score breakdown for one document — the ES
        `_explain` analog. Returns pandas (term, tf, dl, idf, weight)
        for each query term PRESENT in the doc, ascending term order;
        ``weight = idf · bm25_partial(tf, dl)`` and the left-to-right
        accumulation ``(0 + w₁) + w₂ + …`` reproduces the doc's
        ``topk``/``topk_local`` score BIT-for-bit (the scoring kernel
        adds the same contributions in the same ascending-term
        order). tf and dl decode from the doc's segment; idf and avgdl
        are the pooled statistics. Absent terms contribute no row; an
        unmatched or deleted docid yields an empty frame. Zero Spark
        jobs (serving decoded-postings LRU)."""
        prefix, avgdl = self._field(field)
        terms = self._terms(query, prefix)
        out_empty = pd.DataFrame(
            {"term": pd.Series(dtype=object),
             "tf": pd.Series(dtype=np.int64),
             "dl": pd.Series(dtype=np.int64),
             "idf": pd.Series(dtype=np.float64),
             "weight": pd.Series(dtype=np.float64)})
        owner = self._route([docid])
        if not terms or not owner:
            return out_empty
        idf = self._idf_map(terms, N=self._fieldN(field))
        dec = owner[0][0]._decoded_terms(terms)
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

        ``mode="phrase"`` highlights exact-phrase hits: ranking comes
        from phrase_topk[_local], fragments still tag every occurrence
        of the phrase's terms (the ES plain-highlighter convention —
        it is term-based even under phrase queries)."""
        from .highlight import highlight_hits
        if field is not None and col == "text":
            col = field
        if local and filter is not None:
            raise ValueError(
                "highlight(local=True) does not take filter= "
                "(predicate evaluation is a docstore scan)")
        if mode == "phrase":
            hits = (self.phrase_topk_local(query, k, org=org, field=field)
                    if local
                    else self._phrase_topk_pd(query, k, org=org,
                                              field=field, filter=filter))
        elif local:
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

    # -- boolean match -------------------------------------------------
    def match_docids(self, query: str, mode: str = "and",
                     field: str | None = None,
                     org: str | None = None,
                     filter: str | Column | None = None,
                     raw_terms: list[str] | None = None) -> DataFrame:
        """Boolean match without scoring (B7): docids containing all
        (and) / any (or) query terms, sorted ascending, as a lazy Spark
        DataFrame. With ``org`` (routed indexes): shard-pruned read +
        restriction to the tenant's docids. With ``filter`` (SQL
        predicate over docstore columns): restriction to docs
        satisfying it — composes with ``org`` as a conjunction.
        ``raw_terms`` replaces the analyzer pass (multi-term
        constant_score feed). Deleted docs never match."""
        prefix, _ = self._field(field)
        terms = (sorted(set(raw_terms)) if raw_terms is not None
                 else self._terms(query, prefix))
        if org is not None:
            self._org_shards(org)              # raises if unrouted
        if not terms:
            return self.spark.createDataFrame([], "docid long")
        plan = self._plan(terms, _match_kernel(mode, len(terms),
                                               self._excl()),
                          "docid long", org, filter)
        if plan is None:
            return self.spark.createDataFrame([], "docid long")
        return plan.sort("docid")

    # the Spark-returning match for internal callers (a subclass may
    # override the public name with another return type)
    _match_sdf = match_docids

    def match_docids_local(self, query: str, mode: str = "and",
                           field: str | None = None,
                           org: str | None = None,
                           raw_terms: list[str] | None = None
                           ) -> pd.DataFrame:
        """Zero-job match_docids as ascending pandas docids (org=None
        reads the decoded-postings LRU); identical to match_docids."""
        prefix, _ = self._field(field)
        return self._match_local(
            sorted(set(raw_terms)) if raw_terms is not None
            else self._terms(query, prefix), mode, org)

    def _match_local(self, terms: list[str], mode: str,
                     org: str | None) -> pd.DataFrame:
        """Core of match_docids_local over already-prefixed terms:
        org=None combines each segment's decoded-postings LRU arrays;
        a tenant runs match_docids' kernel over _local_groups. Segments
        own disjoint docids, so the union of their matches is exact."""
        if org is not None:
            self._org_shards(org)              # raises if unrouted
        if not terms:
            return pd.DataFrame({"docid": pd.Series(dtype="int64")})
        excl = self._excl()
        if org is not None:
            kernel = _match_kernel(mode, len(terms), excl)
            parts = [kernel(*g)["docid"].to_numpy()
                     for g in self._local_groups(terms, org)]
        else:
            parts = []
            for s in self.subs:
                docs = [d for d, _, _ in s._decoded_terms(terms).values()]
                if mode == "and":
                    res = docs[0]
                    for d in docs[1:]:
                        res = np.intersect1d(res, d, assume_unique=True)
                else:
                    res = np.unique(np.concatenate(docs))
                m = _drop_excl(res, excl)
                parts.append(res if m is None else res[m])
        return pd.DataFrame({"docid": np.sort(np.concatenate(
            [np.empty(0, dtype=np.int64)] + parts))})

    def count(self, query: str, mode: str = "and",
              field: str | None = None, org: str | None = None,
              filter: str | Column | None = None) -> int:
        """Hit count — the ES _count API analog: the number of docs
        matching the query boolean (+ org/filter), no scoring, no
        fetch. One job; only per-group counts reach the driver."""
        return self._match_sdf(query, mode, field=field, org=org,
                               filter=filter).count()

    def count_local(self, query: str, mode: str = "and",
                    field: str | None = None,
                    org: str | None = None) -> int:
        """Zero-job serving twin of count()."""
        return int(len(self.match_docids_local(query, mode,
                                               field=field, org=org)))

    # -- aggregations --------------------------------------------------
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

        Scale shape: the docstore slice (column-pruned to shard,
        docid, ``by`` and any filter columns — all pushed to the
        parquet scan) is grouped by (segment, shard) into one
        mapInArrow stage whose tasks read each group's query-term
        postings in-task (_store_plan); each group emits PARTIAL
        (value, count) rows, one small shuffle sums them, and the
        top-k order/limit runs on counts, never on docs. No driver
        materialization anywhere."""
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
        per-(segment, shard) partial (value, count) rows from the
        docstore stage that reads postings in-task (_store_plan), one
        combining shuffle. Returns the UNORDERED
        (value string, doc_count long) frame, or None for an empty
        query — callers order/limit/reshape."""
        terms = self._terms(query, self._field(field)[0])
        if not terms:
            return None
        return (self._store_plan(
                    terms, org, filter,
                    [F.expr(by).cast("string").alias("value")],
                    _bool_match(mode, len(terms), self._excl()),
                    facet_count_group, "value string, cnt long")
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
        """Bucket-scale post-work of facet_nested: split the
        composite, outer totals via a partition window, both top-k
        windows, ES ordering."""
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
            f"CASE WHEN ({pred}) THEN '{_sql_str(key)}' END"
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

        Scale shape: the column-pruned docstore slice with postings
        read in-task (same plan as facet_counts, _store_plan); each
        (segment, shard) group emits its PARTIAL top-k (docid,
        sort_val) — the global order/limit runs over groups * k rows,
        matched docs never shuffle."""
        terms = self._terms(query, self._field(field)[0])
        if not terms:
            return self.spark.createDataFrame(
                [], "docid long, sort_val double")
        part = self._store_plan(
            terms, org, filter,
            [F.expr(by).cast("double").alias("value")],
            _bool_match(mode, len(terms), self._excl()),
            sort_match_group(k, descending),
            "docid long, sort_val double")
        key = (F.desc("sort_val") if descending
               else F.asc("sort_val"))
        return part.orderBy(key, F.asc("docid")).limit(k)

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
        over the per-group partial facet rows — the oracle-parity
        path); ``exact=False`` is the 100-TB path: Spark's
        HyperLogLog++ sketch (approx_count_distinct, relative error
        ``rsd``) combines map-side, so the exchange carries sketches,
        never values — exactly how ES itself serves this agg. NULLs
        uncounted (ES default)."""
        terms = self._terms(query, self._field(field)[0])
        if not terms:
            return 0
        part = self._store_plan(
            terms, org, filter,
            [F.expr(by).cast("string").alias("value")],
            _bool_match(mode, len(terms), self._excl()),
            facet_count_group, "value string, cnt long")
        agg = (F.countDistinct("value") if exact
               else F.approx_count_distinct("value", rsd))
        return int(part.agg(agg.alias("c")).collect()[0]["c"])

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
        group emits per-value PARTIAL stats, one small shuffle
        combines them (sums add, mins min) — avg is exact because it
        divides combined sums, never averages averages."""
        terms = self._terms(query, self._field(field)[0])
        if not terms:
            return self.spark.createDataFrame(
                [], "value string, doc_count long, metric_count long, "
                    "min double, max double, sum double, avg double")
        part = self._store_plan(
            terms, org, filter,
            [F.expr(by).cast("string").alias("value"),
             F.expr(metric).cast("double").alias("metric")],
            _bool_match(mode, len(terms), self._excl()),
            facet_stats_group,
            "value string, cnt long, mcnt long, mn double, mx double, "
            "sm double")
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
        terms = self._terms(query, self._field(field)[0])
        ps = [float(p) for p in percentiles]
        if not ps or not all(0.0 <= p <= 100.0 for p in ps):
            raise ValueError("percentiles must be in [0, 100]")
        if not terms:
            return self.spark.createDataFrame(
                [], "value string, doc_count long, p double, pctl double")
        bucket = (F.expr(by).cast("string") if by is not None
                  else F.lit("_all"))
        part = self._store_plan(
            terms, org, filter,
            [bucket.alias("value"),
             F.expr(metric).cast("double").alias("metric")],
            _bool_match(mode, len(terms), self._excl()),
            facet_values_group,
            "value string, metric double")
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

        Scale shape: per (segment, shard) group of the docstore slice,
        its task scores only the group's docs (_store_plan,
        _scored_match) and emits each bucket's PARTIAL top-k_hits (plus
        the group's partial count riding its first row), so the
        exchange carries at most groups × buckets × k_hits rows into a
        per-value aggregate of counts and hits; bucket selection orders
        those bucket rows — matched docs never shuffle."""
        prefix, avgdl = self._field(field)
        terms = self._terms(query, prefix)
        if not terms:
            return self.spark.createDataFrame(
                [], "value string, doc_count long, rank int, "
                    "docid long, score double")
        idf = self._idf_map(terms, N=self._fieldN(field))
        part = self._store_plan(
            terms, org, filter,
            [F.expr(by).cast("string").alias("value")],
            _scored_match(idf, avgdl, self.k1, self.b, mode, len(terms),
                          self._excl()),
            top_hits_group(k_hits),
            "value string, cnt long, docid long, score double")
        return _facet_top_hits_finalize(part, k_buckets, k_hits)


    # -- phrase queries ----------------------------------------------
    def _phrase_q(self, query: str, k: int, field: str | None,
                  org: str | None, slop: int):
        """The prepared phrase query: (its distinct terms, kernel), or
        None when the query analyzes to nothing."""
        _check_k(k)
        prefix, avgdl = self._field(field)
        seq = [prefix + t for t in tokenize_text(query, self.tokenizer)]
        if org is not None:
            self._org_shards(org)              # raises if unrouted
        if not seq:
            return None
        slop = _check_slop(slop, seq)
        uniq = sorted(set(seq))
        idf = self._idf_map(uniq, N=self._fieldN(field))
        k1, b, excl = self.k1, self.b, self._excl()

        def kernel(pdf, rng, cand):
            return _phrase_shard(pdf, seq, uniq, idf, avgdl, k1, b, k,
                                 org_cand=cand, org_range=rng, excl=excl,
                                 slop=slop)

        return uniq, kernel

    def _phrase_topk_pd(self, query: str, k: int = 10,
                        field: str | None = None,
                        org: str | None = None,
                        filter: str | Column | None = None,
                        slop: int = 0) -> pd.DataFrame:
        """:meth:`phrase_topk` as pandas."""
        return self._run(self._phrase_q(query, k, field, org, slop), k,
                         org, filter)

    def phrase_topk(self, query: str, k: int = 10,
                    field: str | None = None,
                    org: str | None = None,
                    filter: str | Column | None = None,
                    slop: int = 0) -> DataFrame:
        """Exact phrase query (positions-based, the Lucene .prx analog):
        docs containing the query tokens consecutively, ranked by BM25
        over the phrase's distinct terms, ties by docid. Adjacency is
        checked per (segment, shard) group by intersecting position sets
        shifted by one ((pos(t_i) + 1) ∩ pos(t_{i+1})), after an AND
        intersection of the terms' postings narrows the candidates.
        Positions are per (segment, doc), so adjacency never crosses
        segments. On multi-field indexes pass ``field`` — terms are
        field-prefixed and the field's avgdl scores the hits (positions
        are per (field, doc), so adjacency is within the chosen field).
        With ``org`` (routed indexes) the read prunes to the tenant's
        shards and matching restricts to its docs — rank-identical to
        the unrestricted phrase ranking filtered to the org (stats stay
        global). ``filter`` (SQL predicate over docstore columns)
        restricts the hits the same way — composes with ``org`` as a
        conjunction.

        ``slop`` (the ES match_phrase slop): allow the matched positions
        to deviate from exact adjacency by a total window of ``slop``
        (max(pos_i − i) − min(pos_i − i) ≤ slop; a transposition costs
        2, Lucene's accounting). slop=0 is this exact phrase; scoring
        is unchanged (BM25 over the phrase's distinct terms — the
        engine's phrase contract)."""
        return self._sdf(self._phrase_topk_pd(query, k, field, org,
                                              filter, slop))

    def phrase_topk_local(self, query: str, k: int = 10,
                          field: str | None = None,
                          org: str | None = None,
                          slop: int = 0) -> pd.DataFrame:
        """Zero-job phrase_topk (``slop`` included); rank-identical
        to phrase_topk."""
        return self._run_local(self._phrase_q(query, k, field, org, slop),
                               k, org)

    def _phrase_prefix_q(self, query: str, k: int, field: str | None,
                         max_expansions: int):
        """The prepared match_phrase_prefix query: (fixed terms plus
        the prefix's expansions, kernel), or None when nothing can
        match."""
        _check_k(k)
        prefix, avgdl = self._field(field)
        toks = tokenize_text(query, self.tokenizer)
        if not toks:
            return None
        fixed_seq = [prefix + t for t in toks[:-1]]
        exps = self.expand_terms(toks[-1], "prefix", field=field,
                                 max_expansions=max_expansions)
        if not exps:
            return None
        uniq_fixed = sorted(set(fixed_seq))
        idf = self._idf_map(sorted(set(uniq_fixed) | set(exps)),
                            N=self._fieldN(field))
        k1, b, excl = self.k1, self.b, self._excl()

        def kernel(pdf, rng, cand):
            return _phrase_prefix_shard(pdf, fixed_seq, uniq_fixed, exps,
                                        idf, avgdl, k1, b, k, excl=excl)

        return sorted(idf), kernel

    def _phrase_prefix_topk_pd(self, query: str, k: int = 10,
                               field: str | None = None,
                               max_expansions: int =
                               multiterm.MAX_EXPANSIONS) -> pd.DataFrame:
        """:meth:`phrase_prefix_topk` as pandas."""
        return self._run(self._phrase_prefix_q(query, k, field,
                                               max_expansions), k)

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
        participating terms (phrase_topk's contract). One job, one
        stage: fixed + expanded terms ride the same (segment, shard)
        fan-out tasks."""
        return self._sdf(self._phrase_prefix_topk_pd(query, k, field,
                                                     max_expansions))

    def phrase_prefix_topk_local(self, query: str, k: int = 10,
                                 field: str | None = None,
                                 max_expansions: int =
                                 multiterm.MAX_EXPANSIONS
                                 ) -> pd.DataFrame:
        """Zero-job phrase_prefix_topk; rank-identical to it."""
        return self._run_local(self._phrase_prefix_q(query, k, field,
                                                     max_expansions), k)

    # -- doc fetch and full search -------------------------------------
    def fetch_docs_local(self, docids: Iterable[int]) -> pd.DataFrame:
        """Doc-store point fetch with NO Spark job: docid lookup on each
        owning segment's row-group cache (docstore rows are docid-sorted
        per shard, so footer min/max prunes every row group but the
        owners), one ``take`` per row group holding a wanted docid,
        one concatenation. Each stored row comes back once, in docid
        order; deleted docs are dropped. Docids that route but match
        no stored row give an empty frame with the docstore's columns
        and dtypes. Completes the ms-latency serving path."""
        import pyarrow as pa
        parts = [t for s, ids in self._route(docids)
                 for t in s._rg_take("docstore", ids)]
        if not parts:
            return pd.DataFrame()
        # generations built from different inputs may type a column
        # differently (e.g. an all-null one); promote to a common schema
        tbl = pa.concat_tables(parts, promote_options="permissive")
        d = tbl.column("docid").to_numpy()
        if not np.all(d[:-1] < d[1:]):
            # file order is hive path order: shard=10 sorts before
            # shard=2, so past ten shards rows can arrive out of order
            tbl = tbl.sort_by("docid")
        return tbl.to_pandas(use_threads=False)

    def fetch_docs(self, docids: Iterable[int]) -> DataFrame:
        """Doc-store fetch (B9): per owning segment, a shard-pruned +
        docid-pushdown read under that segment's shard geometry (base
        and deltas may differ); deleted docs are dropped."""
        parts = [s._docstore
                 .where(F.col("shard").isin(sorted(
                     {(int(d) - s.docid_offset) // s.docs_per_shard
                      for d in ids})))
                 .where(F.col("docid").isin(ids.tolist()))
                 for s, ids in self._route(docids)]
        if not parts:
            return self.subs[0]._docstore.where(F.lit(False))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # the Spark-returning fetch for internal callers
    _fetch_sdf = fetch_docs

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
        hits = self._topk_pd(query, k, mode, method, org=org, field=field,
                             filter=filter, after=after,
                             must_not=must_not, must=must, boosts=boosts)
        docs = self._fetch_sdf(hits["docid"].tolist())
        return (self._sdf(hits)
                .join(F.broadcast(docs).drop("shard"), "docid")
                .sort(F.desc("score"), F.asc("docid")))

    # -- suggesters and more_like_this -----------------------------------
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
        pushed length-window dictionary scan fuzzy queries use; a
        candidate's df sums over the segments. Returns (token,
        suggestion, distance, df) pandas, tokens in input order."""
        if suggest_mode not in ("missing", "always"):
            raise ValueError("suggest_mode is 'missing' or 'always'")
        prefix, _ = self._field(field)
        toks = list(dict.fromkeys(tokenize_text(text, self.tokenizer)))
        dfs_self = self._df([prefix + t for t in toks]) if toks else {}
        out = []
        for tok in toks:
            if (suggest_mode == "missing"
                    and dfs_self.get(prefix + tok, 0.0) > 0):
                continue
            agg = self._expand_union(tok, "fuzzy", prefix, 1 << 20,
                                     int(max_edits), int(prefix_length))
            if not agg:
                continue
            bare = [t[len(prefix):] for t in agg]
            dist = multiterm.levenshtein_batch(tok, bare)
            ranked = sorted(
                (int(d), -df, s)
                for s, df, d in zip(bare, agg.values(), dist)
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
        dfs = self._df(cand)
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
        _check_k(k)
        terms = self.mlt_terms(docid, field=field, col=col,
                               max_query_terms=max_query_terms,
                               min_term_freq=min_term_freq,
                               min_doc_freq=min_doc_freq)
        if not terms:
            return _EMPTY_TOPK.copy()
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


class FTSIndex(SegmentedIndex):
    """Loaded index handle: one segment — its statistics, the Spark
    reads of its tables and the driver-local readers with their
    caches — and, through SegmentedIndex, every query surface over
    itself."""

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
        # term caches, the row-group cache, the per-org range memo, the
        # filter docid-set memo and the read counters
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
        self._pa_org = None
        self._listed_shards: list[int] | None = None
        self._org_cache: OrderedDict = OrderedDict()
        self._org_cache_sz: dict = {}
        self._filter_cache: OrderedDict = OrderedDict()
        self._filter_cache_sz: dict = {}
        self._read_counters = dict.fromkeys(
            ("row_groups_read", "row_groups_pruned", "row_groups_cached",
             "bytes_read", "filter_sets_computed", "filter_sets_cached",
             "terms_decoded", "postings_decoded", "topk_floor_used",
             "topk_floor_fallback"),
            0)

    @property
    def subs(self) -> list["FTSIndex"]:
        return [self]

    def _shard_dirs(self) -> list[int]:
        """The shards with a postings directory: one os.listdir per
        handle, memoized under the handle lock. The fan-out schedules
        tasks for these shards only, so a shard without postings costs
        no task, and a listed shard its task cannot read fails the
        query."""
        with self._lock:
            if self._listed_shards is None:
                self._listed_shards = sorted(
                    int(d[len("shard="):]) for d in os.listdir(
                        storage.path(self.root, "postings"))
                    if d.startswith("shard="))
            return self._listed_shards

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
        callers fall back to the docid-set paths. Memoized per org in
        one of the handle's LRUs (the table is immutable for an index
        root), so the ms-latency serving path pays the parquet read once
        per tenant, not per query."""
        def load(miss):
            p = storage.path(self.root, "org_ranges")
            if not os.path.isdir(p):
                return {o: (None, 0) for o in miss}
            import pyarrow.dataset as ds
            if self._pa_org is None:
                self._pa_org = ds.dataset(p, format="parquet")
            out = {}
            for o in miss:
                t = self._pa_org.to_table(filter=ds.field("org") == o)
                rng = {int(s): (int(lo), int(hi))
                       for s, lo, hi in zip(t.column("shard").to_pylist(),
                                            t.column("lo").to_pylist(),
                                            t.column("hi").to_pylist())}
                out[o] = (rng, 64 * (len(rng) + 1))
            return out

        return self._cached(self._org_cache, self._org_cache_sz, [org],
                            load, math.inf)[org]

    def _filter_docs(self, filter: str | Column,
                     org: str | None = None) -> DataFrame:
        """(shard, docid) of docs satisfying a SQL predicate over
        docstore columns — the scan behind the filter docid sets of
        filtered search and search_join (SegmentedIndex._filter_job).
        The predicate plus the two-column projection push down to the
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

    def _filter_memoized(self, filter, org: str | None) -> bool:
        """Whether the filter docid-set memo holds (filter, org)."""
        if not isinstance(filter, str):
            return False
        with self._lock:
            return (filter, org) in self._filter_cache

    def _filter_sets(self, filter, org: str | None,
                     compute) -> dict[int, bytes]:
        """shard → codec.encode_docid_set of this segment's docs
        satisfying ``filter`` (ANDed with tenant ``org``); ``compute()``
        runs the Spark job that finds them. A SQL string is memoized per
        (filter, org) in one of the handle's LRUs: a root's docstore
        never changes (the reason _org_ranges is memoized too), and
        tombstones are never baked into a set. A Column runs the job on
        every call: its printed form does not tell '1' from 1, so it is
        no faithful key. Counts filter_sets_computed / _cached."""
        computed = []

        def load(miss):
            sets = compute()
            computed.append(sets)
            return {k: (sets, 64 + sum(map(len, sets.values())))
                    for k in miss}

        if isinstance(filter, str):
            key = (filter, org)
            sets = self._cached(self._filter_cache, self._filter_cache_sz,
                                [key], load, self.TERM_CACHE_CAP)[key]
        else:
            sets = compute()
            computed.append(sets)
        with self._lock:
            self._read_counters["filter_sets_computed" if computed
                                else "filter_sets_cached"] += 1
        return sets

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


    def _expand_candidates(self, pattern: str, kind: str, fp: str = "",
                           max_expansions: int =
                           multiterm.MAX_EXPANSIONS,
                           fuzziness: int = 2, prefix_length: int = 0,
                           distributed: bool = False
                           ) -> list[tuple[str, float]]:
        """(prefixed term, df) candidates for one index segment —
        SegmentedIndex sums dfs across segments before the cap. The
        per-segment cap keeps the collect bounded; ``fp`` is the
        ALREADY-VALIDATED field prefix (a field with zero tokens in one
        segment is absent from that segment's stats, so per-segment
        validation would wrongly raise)."""
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
        tables, listed on first use, with numpy views of the columns
        the point lookups read: the decode columns of postings, the df
        of term_stats."""
        with self._lock:
            cat = self._catalogs.get(table)
            if cat is None:
                if table == "docstore":
                    cat = _RowGroupCatalog(self._pa_docstore_ds(), "docid")
                else:
                    post, ts = self._pa_datasets()
                    cat = (_RowGroupCatalog(post, "th", _DECODE_COLS)
                           if table == "postings"
                           else _RowGroupCatalog(ts, "term", ("df",)))
                self._catalogs[table] = cat
        return cat

    def _rg_entries(self, table: str, want: np.ndarray
                    ) -> tuple[_RowGroupCatalog, list[_Loaded]]:
        """(catalogue, loaded row groups) of ``table`` that may hold a
        key in ``want`` (sorted, unique), in file order. Row groups
        whose footer min/max holds no wanted key are pruned; the rest
        are read once, whole, and then served decoded from the
        row-group LRU."""
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
        return cat, [got[g.key] for g in groups]

    def _bump(self, key: str) -> None:
        """Add one to a read counter, under the handle lock."""
        with self._lock:
            self._read_counters[key] += 1

    def _rg_take(self, table: str, want: np.ndarray) -> list:
        """Rows of ``table`` whose key is in ``want`` (sorted, unique),
        as one Arrow table per row group holding any, in file then row
        order — what a pyarrow dataset scan filtered on
        ``key.isin(want)`` returns, before its concatenation; the
        table's empty table when no row group holds one."""
        cat, entries = self._rg_entries(table, want)
        return [e.tbl.take(r) for e, (r, _) in
                zip(entries, cat.locate(entries, want))
                if r.size] or [cat.schema.empty_table()]

    def _term_rows(self, terms: list[str]
                   ) -> list[tuple[_Loaded, np.ndarray, np.ndarray]]:
        """The dictionary rows of ``terms`` on the row-group cache: per
        postings row group holding a th of ``terms``, (entry, rows, ti)
        — the located rows whose term equals one of ``terms``, compared
        from the term column's data buffer (a th collision never leaks
        another term's rows), and each row's index in ``terms``."""
        hs = np.unique(np.array([codec.term_hash(t) for t in terms],
                                dtype=np.int64))
        index_of: dict[bytes, int] = {}
        for i, t in enumerate(terms):
            index_of.setdefault(t.encode("utf-8"), i)
        cat, entries = self._rg_entries("postings", hs)
        out = []
        for e, (rows, _) in zip(entries, cat.locate(entries, hs)):
            if not rows.size:
                continue
            off, data = e.views["term"]
            ti = np.fromiter(
                (index_of.get(data[a:b].tobytes(), -1) for a, b in
                 zip(off[rows].tolist(), off[rows + 1].tolist())),
                dtype=np.int64, count=rows.size)
            keep = ti >= 0
            out.append((e, rows[keep], ti[keep]))
        return out

    def _term_table(self, terms: list[str]):
        """(rows, ti): the dictionary rows of ``terms`` (_term_rows) as
        Arrow, and each row's index in ``terms``."""
        parts = self._term_rows(terms)
        tbl = self._catalog("postings").take(
            [e for e, _, _ in parts], [r for _, r, _ in parts])
        return tbl, np.concatenate([t for _, _, t in parts]
                                   or [np.empty(0, dtype=np.int64)])

    def _read_term_rows(self, terms: list[str]) -> pd.DataFrame:
        """Dictionary rows of ``terms`` as pandas (see _term_rows)."""
        return self._term_table(terms)[0].to_pandas()

    def _local_term_rows(self, terms: list[str]) -> pd.DataFrame:
        """Driver-side dictionary lookup (the same th/term match as the
        Spark path, no Spark job) on the row-group cache, behind a
        per-handle LRU of term → dictionary rows: repeated serving
        queries skip the lookup entirely (the reference's always-on ES
        keeps its segments hot; this is the snapshot-reader analog).
        Negative entries (absent terms) are cached too."""
        def load(miss):
            tbl, ti = self._term_table(miss)
            got = tbl.to_pandas()
            nbytes = tbl.column("nbytes").to_numpy()
            # per-term frames keep their chunk/file order (scoring
            # paths re-order by (shard, chunk) where needed)
            o = np.argsort(ti, kind="stable")
            b = np.searchsorted(ti[o], np.arange(len(miss) + 1))
            return {t: (got.iloc[o[b[j]:b[j + 1]]],
                        int(nbytes[o[b[j]:b[j + 1]]].sum()))
                    for j, t in enumerate(miss)}

        got = self._cached(self._term_cache, self._term_cache_sz, terms,
                           load, self.TERM_CACHE_CAP)
        return pd.concat([got[t] for t in terms], ignore_index=True)

    def _decoded_terms(self, terms: list[str]) \
            -> dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]]:
        """term → decoded (docids, tfs, dls) in globally ascending docid
        order, behind a per-handle LRU: the second hit on a term skips
        BOTH the dictionary lookup and the varint decode. A miss load
        never leaves numpy: _term_rows locates the missed terms' rows
        in the cached row groups' views, and _decode_rows decodes them
        from the blob buffers in one codec call. Absent terms cache
        empty arrays. The raw-frame cache is bypassed, so hot terms
        aren't stored twice."""
        def load(miss):
            dec = _decode_rows([(e.views, r, t) for e, r, t in
                                self._term_rows(miss)], len(miss))
            with self._lock:
                c = self._read_counters
                c["terms_decoded"] += len(miss)
                c["postings_decoded"] += sum(d.size for d, _, _ in dec)
            return {t: (v, sum(a.nbytes for a in v))
                    for t, v in zip(miss, dec)}

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

    def _df_counts(self, terms: list[str]) -> dict[str, float]:
        """term → df for the terms present in term_stats: a driver-side
        point read on the row-group cache (term-sorted row groups) —
        locate the terms among the sorted keys, read the df view. The
        dictionary df lookup is vocab-scale, so a Spark job for it
        would double every distributed query's fixed latency."""
        if not terms:
            return {}
        want = np.array(sorted(set(terms)), dtype=object)
        cat, entries = self._rg_entries("term_stats", want)
        df = np.zeros(want.size, dtype=np.float64)
        for e, (rows, w) in zip(entries, cat.locate(entries, want)):
            df[w] = e.views["df"][rows]
        got = dict(zip(want.tolist(), df))
        return {t: got[t] for t in terms if got[t] > 0.0}

    def _pa_docstore_ds(self):
        import pyarrow.dataset as ds
        if self._pa_docstore is None:
            self._pa_docstore = ds.dataset(
                storage.path(self.root, "docstore"),
                format="parquet", partitioning="hive")
        return self._pa_docstore

    def _local_org_docids(self, org: str,
                          shards: list[int]) -> dict[int, np.ndarray]:
        """Driver-side tenant candidate sets, shard → sorted docids (shards
        without the tenant's docs absent): a shard-pruned pyarrow read
        of the doc store filtered to the org (no Spark job)."""
        import pyarrow.dataset as ds
        flt = (ds.field("shard").isin(shards)
               & (ds.field(self.routing_col) == org))
        t = self._pa_docstore_ds().to_table(filter=flt,
                                            columns=["shard", "docid"])
        sh = t.column("shard").to_numpy()
        d = t.column("docid").to_numpy().astype(np.int64)
        return {int(k): np.sort(d[sh == k]) for k in np.unique(sh)}
