"""Kernel-level differential of the BM25 shard scorer, no Spark.

Seeded postings are encoded with small blocks (codec block=16) and cut
into several chunk rows per term, listed in shuffled row order. For
or/and, min_should_match, must, a search_after cursor and tombstones:

- score_shard's pruned default (WAND / rarest-first conjunction) equals
  method='exact' frame for frame;
- the cand= (docid set) and rng= (interval) restrictions equal the
  exact full ranking filtered to the restriction, then head(k);
- score_partials (the serving cache path) equals method='exact',
  on the seeded shapes and on the edges of its score-floor selection
  (ties at the k-th score, single live terms, k above every list, a
  sparse AND intersection, cursors near the end, tombstones on the
  docs that set the floor), with the selection it counted.

Every comparison is bit-exact (assert_frame_equal, check_exact).
"""
from __future__ import annotations

import functools

import numpy as np
import pandas as pd
import pytest

from sparkfts import codec
from sparkfts import query as Q

AVGDL, K1, B = 60.0, 1.2, 0.75
BLOCK = 16
ALL = 10 ** 9


def _corpus(seed: int):
    """(dictionary rows, per-term (docids, tfs, dls), idf) for one
    seeded shard: term densities from hot to rare, skewed tfs, so the
    pruned paths have blocks to skip."""
    rng = np.random.default_rng(seed)
    n_docs = 2500
    base = int(rng.integers(0, 10 ** 6))
    docids_all = base + np.sort(rng.choice(4 * n_docs, n_docs,
                                           replace=False))
    dls = rng.integers(5, 240, n_docs)
    post, rows = {}, []
    for ti, dens in enumerate((0.6, 0.3, 0.12, 0.05, 0.02, 0.006)):
        t = f"t{ti}"
        sel = np.flatnonzero(rng.random(n_docs) < dens)
        if sel.size < 3:
            sel = np.arange(3)
        tf = np.minimum(rng.zipf(1.6, sel.size), 60)
        d, dl = docids_all[sel], dls[sel]
        post[t] = (d, tf, dl)
        cuts = np.sort(rng.choice(np.arange(1, sel.size),
                                  min(3, sel.size - 1), replace=False))
        for ci, (lo, hi) in enumerate(zip(np.r_[0, cuts],
                                          np.r_[cuts, sel.size])):
            enc = codec.encode_postings(d[lo:hi], tf[lo:hi], dl[lo:hi],
                                        block=BLOCK)
            rows.append({**enc, "term": t, "shard": 0, "chunk": ci})
    pdf = pd.DataFrame(rows)
    pdf = pdf.iloc[rng.permutation(len(pdf))].reset_index(drop=True)
    idf = {t: Q._bm25_idf(float(4 * n_docs), float(v[0].size))
           for t, v in post.items()}
    return pdf, post, idf, docids_all, rng


# (terms, mode, min_should_match, must terms)
SHAPES = [
    (["t0", "t1", "t2"], "or", None, None),
    (["t0", "t3", "t5"], "or", None, None),
    (["t1"], "or", None, None),
    (["t0", "t1", "t2", "t4"], "or", 2, None),
    (["t0", "t1", "t2"], "and", None, None),
    (["t0", "t4"], "and", None, None),
    (["t0", "t1", "t3"], "or", None, ["t3"]),
    (["t0", "t1", "t2", "t4"], "or", 1, ["t2"]),
]


def _score(pdf, terms, mode, mh, must, idf, k, method="wand", **kw):
    rows = pdf[pdf["term"].isin(terms)]
    return Q.score_shard(rows, idf, AVGDL, K1, B, k, mode, len(terms),
                         method, min_hits=mh,
                         req_terms=frozenset(must) if must else None,
                         **kw)


def _same(got: pd.DataFrame, want: pd.DataFrame, what: str) -> None:
    pd.testing.assert_frame_equal(got.reset_index(drop=True),
                                  want.reset_index(drop=True),
                                  check_exact=True, obj=what)


@pytest.mark.parametrize("seed", [3, 17])
def test_pruned_restricted_and_partials_match_exact(seed):
    pdf, post, idf, docids_all, rng = _corpus(seed)
    for terms, mode, mh, must in SHAPES:
        full = _score(pdf, terms, mode, mh, must, idf, ALL, "exact")
        assert len(full) > 12, (terms, mode)
        cursors = [None] + [(float(full["score"].iloc[i]),
                             int(full["docid"].iloc[i]))
                            for i in (5, len(full) // 3)]
        for excl in (None, np.sort(full["docid"].to_numpy()[1:9:2])):
            for after in cursors:
                kw = dict(after=after, excl=excl)
                what = f"seed={seed} {terms} {mode} mh={mh} must={must} " \
                       f"after={after} excl={excl is not None}"
                ref = _score(pdf, terms, mode, mh, must, idf, ALL,
                             "exact", **kw)
                for k in (1, 10):
                    want = ref.head(k)
                    _same(_score(pdf, terms, mode, mh, must, idf, k,
                                 "wand", **kw),
                          want, f"wand k={k} {what}")
                    _same(_score(pdf, terms, mode, mh, must, idf, k,
                                 "exact", **kw),
                          want, f"exact k={k} {what}")
                    pp = {t: (post[t][0],
                              codec.bm25_partial(post[t][1], post[t][2],
                                                 AVGDL, K1, B))
                          for t in terms}
                    _same(Q.score_partials(
                              pp, idf, k, mode, len(terms), after=after,
                              excl=excl, min_hits=mh,
                              req_terms=frozenset(must) if must else None),
                          want, f"partials k={k} {what}")
                # restrictions: a random docid set and an interval
                cand = np.sort(rng.choice(docids_all, 900, replace=False))
                lo, hi = np.sort(rng.choice(docids_all, 2, replace=False))
                for name, r, inside in (
                        ("cand", dict(cand=cand),
                         ref["docid"].isin(cand)),
                        ("rng", dict(rng=(int(lo), int(hi))),
                         ref["docid"].between(lo, hi))):
                    for k in (1, 10):
                        _same(_score(pdf, terms, mode, mh, must, idf, k,
                                     **kw, **r),
                              ref[inside].head(k),
                              f"{name} k={k} {what}")


def test_and_mode_term_absent_is_empty():
    pdf, _, idf, _, _ = _corpus(5)
    rows = pdf[pdf["term"].isin(["t0", "t1"])]
    for method in ("wand", "exact"):
        out = Q.score_shard(rows, idf, AVGDL, K1, B, 5, "and", 3, method)
        assert out.empty, method


def _shaped_corpus():
    """Hand-built postings for the floor's edges. Every posting of a,
    b and c has tf=1 in a doc of length 50, so a term's contributions
    are all equal: docs 100-199 (a and b) tie, as do docs 0-99 (a
    only); docs 150-159 hold all three. ``rare`` (20 postings, varied
    tfs) meets ``hot`` (docs 0-999) in three docs only."""
    rng = np.random.default_rng(0)
    post = {}
    for t, d in (("a", np.arange(0, 200)), ("b", np.arange(100, 400)),
                 ("c", np.arange(150, 160)), ("hot", np.arange(0, 1000)),
                 ("rare", np.r_[10, 500, 900, 1000:1017])):
        tied = t in ("a", "b", "c")
        post[t] = (d, np.ones(d.size, dtype=np.int64) if tied
                   else rng.integers(1, 9, d.size),
                   np.full(d.size, 50) if tied
                   else rng.integers(5, 240, d.size))
    rows = [{**codec.encode_postings(d[sl], tf[sl], dl[sl], block=BLOCK),
             "term": t, "shard": 0, "chunk": ci}
            for t, (d, tf, dl) in post.items()
            for ci, sl in enumerate((slice(0, d.size // 2),
                                     slice(d.size // 2, None)))]
    idf = {t: Q._bm25_idf(2000.0, float(v[0].size))
           for t, v in post.items()}
    return pd.DataFrame(rows), post, idf


def _partials_match_exact(pdf, post, idf, terms, mode, k, mh=None,
                          after=None, excl=None) -> list[str]:
    """score_partials against method='exact', bit for bit, terms
    absent from ``post`` given empty lists as the serving cache does;
    returns the selections it counted."""
    want = _score(pdf, terms, mode, mh, None, idf, k, "exact",
                  after=after, excl=excl)
    none = (np.empty(0, dtype=np.int64), np.empty(0))
    pp = {t: (post[t][0], codec.bm25_partial(post[t][1], post[t][2],
                                             AVGDL, K1, B))
          if t in post else none for t in terms}
    seen: list[str] = []
    _same(Q.score_partials(pp, idf, k, mode, len(terms), after=after,
                           excl=excl, min_hits=mh, count=seen.append),
          want, f"partials {terms} {mode} k={k} mh={mh} after={after} "
                f"excl={excl is not None}")
    return seen


USED, FALLBACK = ["topk_floor_used"], ["topk_floor_fallback"]


def test_partials_floor_ties_and_sparse_and():
    pdf, post, idf = _shaped_corpus()
    run = functools.partial(_partials_match_exact, pdf, post, idf)
    # the k-th score inside a tie cohort: docid order decides
    for k in (10, 100, 150):
        assert run(["a", "b"], "or", k) == USED
    assert run(["a", "b", "c"], "and", 5) == USED
    assert run(["a", "b"], "or", 10, mh=2) == USED
    # rare sets the floor, but only three docs hold hot as well
    assert run(["hot", "rare"], "and", 10) == FALLBACK
    assert run(["hot", "rare"], "or", 10) == USED


@pytest.mark.parametrize("seed", [3, 17])
def test_partials_floor_edges_match_exact(seed):
    pdf, post, idf, _, _ = _corpus(seed)
    idf = {**idf, "zz": 9.0}          # zz has no postings
    run = functools.partial(_partials_match_exact, pdf, post, idf)
    assert run(["t0", "t1", "t2"], "or", 10) == USED
    # one live term selects from its own list; an absent AND term or
    # min_should_match above the live terms matches nothing
    for terms, mode in ((["t1"], "or"), (["t1"], "and"),
                        (["t1", "zz"], "or"), (["t1", "zz"], "and")):
        assert run(terms, mode, 10) == []
    assert run(["t1", "t4"], "or", 10, mh=3) == []
    # k above every list: no floor
    assert run(["t0", "t3"], "or", 5000) == FALLBACK
    # cursors near the end of the ranking
    full = _score(pdf, ["t0", "t3", "t5"], "or", None, None, idf, ALL,
                  "exact")
    for back in (4, 15):
        at = len(full) - back
        after = (float(full["score"].iloc[at]), int(full["docid"].iloc[at]))
        seen = run(["t0", "t3", "t5"], "or", 10, after=after)
        if back <= 10:      # fewer than k docs rank after the cursor
            assert seen == FALLBACK
    # tombstones on the docs that set the floor (t4's ten largest
    # contributions), then on every doc scoring at or above it
    terms = ["t0", "t2", "t4"]
    c4 = idf["t4"] * codec.bm25_partial(post["t4"][1], post["t4"][2],
                                        AVGDL, K1, B)
    top4 = np.argsort(-c4, kind="stable")[:10]
    run(terms, "or", 10, excl=np.sort(post["t4"][0][top4]))
    full = _score(pdf, terms, "or", None, None, idf, ALL, "exact")
    above = full["docid"].to_numpy()[full["score"].to_numpy()
                                     >= np.sort(c4)[-10]]
    assert run(terms, "or", 10, excl=np.sort(above)) == FALLBACK
