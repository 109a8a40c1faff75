"""Document deletes (tombstones) — the Lucene live-docs analog.

Contract under test:
- delete_docs removes docs from EVERY query surface immediately
  (topk/topk_local/phrase_topk/phrase_topk_local/topk_many/
  match_docids/match_docids_local/search_join/facet_counts/
  fetch_docs/fetch_docs_local/search_local);
- surviving docs keep their EXACT pre-delete scores (stats stay stale
  until compaction — deleted docs still count in N/avgdl/df);
- results equal the pre-delete ranking with deleted rows dropped —
  exclusion happens INSIDE the scoring kernels before top-k
  truncation, so groups return k rows even under huge delete batches;
- compact() physically drops tombstoned docs with FRESH stats;
- compact_merge() folds pending tombstones in BOTH plain and routed
  modes (document-identical to the rebuild), so nightly_rotate keeps
  the postings-bytes merge path;
- unknown docids raise; re-deleting returns 0; a fresh handle
  observes deletes made through another handle.
"""
import os

import numpy as np
import pandas as pd
import pytest

from sparkfts import BuildConfig, FTSIndex, build_index
from sparkfts.fixtures import make_transcripts
from sparkfts.streaming import CombinedIndex, make_batch_indexer

Q_OR = "alpha query index"
Q_AND = "alpha index"
Q_PH = "nightly index snapshot"


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    """Build base + 2 deltas, record pre-delete references on every
    surface, then tombstone docs chosen to be VISIBLE in the top ranks
    (top-2 of the or-query, the phrase's top hit, plus two mid-pack)."""
    cfg = BuildConfig(num_shards=2, partitions=2)
    root = str(tmp_path_factory.mktemp("del_stream"))
    build_index(spark,
                spark.createDataFrame(make_transcripts(12, seed=90)),
                root, order_cols=["conv_id", "turn_idx"], cfg=cfg)
    idxer = make_batch_indexer(root, cfg=cfg)
    for i, seed in enumerate((91, 92)):
        idxer(spark.createDataFrame(make_transcripts(4, seed=seed)),
              batch_id=i)
    ci = CombinedIndex(spark, root)

    full_or = ci.topk(Q_OR, k=10 ** 6, mode="or", method="exact")
    full_and = ci.topk(Q_AND, k=10 ** 6, mode="and", method="exact")
    full_ph = ci.phrase_topk(Q_PH, k=10 ** 6)
    match_and = ci.match_docids(Q_AND, mode="and")["docid"].tolist()

    assert len(full_or) >= 8, "fixture too small for the delete picks"
    dead = {int(full_or["docid"].iloc[0]),
            int(full_or["docid"].iloc[1]),
            int(full_or["docid"].iloc[7])}
    if not full_and.empty:
        dead.add(int(full_and["docid"].iloc[0]))
    if not full_ph.empty:
        dead.add(int(full_ph["docid"].iloc[0]))
    dead = sorted(dead)
    n_new = ci.delete_docs(dead)
    assert n_new == len(dead)

    return {"root": root, "ci": ci, "dead": dead, "cfg": cfg,
            "full_or": full_or, "full_and": full_and,
            "full_ph": full_ph, "match_and": match_and}


def _drop(pdf, dead, k):
    out = pdf[~pdf["docid"].isin(dead)].head(k)
    return out.reset_index(drop=True)


def _check(got, want, label):
    assert got["docid"].tolist() == want["docid"].tolist(), label
    np.testing.assert_allclose(got["score"], want["score"], rtol=0,
                               atol=1e-9, err_msg=label)


def test_topk_excludes_and_scores_stale(env):
    want = _drop(env["full_or"], env["dead"], 7)
    got = env["ci"].topk(Q_OR, k=7, mode="or").reset_index(drop=True)
    _check(got, want, "topk/or")
    want = _drop(env["full_and"], env["dead"], 7)
    got = env["ci"].topk(Q_AND, k=7, mode="and").reset_index(drop=True)
    _check(got, want, "topk/and")


def test_topk_local_excludes(env):
    want = _drop(env["full_or"], env["dead"], 7)
    got = env["ci"].topk_local(Q_OR, k=7, mode="or")
    _check(got, want, "topk_local")


def test_phrase_excludes(env):
    if env["full_ph"].empty:
        pytest.skip("phrase has no hits in this fixture")
    want = _drop(env["full_ph"], env["dead"], 5)
    got = env["ci"].phrase_topk(Q_PH, k=5).reset_index(drop=True)
    _check(got, want, "phrase")
    got = env["ci"].phrase_topk_local(Q_PH, k=5)
    _check(got, want, "phrase_local")


def test_topk_many_excludes(env):
    res = env["ci"].topk_many({"a": (Q_OR, "or"), "b": (Q_AND, "and")},
                              k=6)
    _check(res["a"], _drop(env["full_or"], env["dead"], 6), "many/a")
    _check(res["b"], _drop(env["full_and"], env["dead"], 6), "many/b")


def test_match_docids_excludes(env):
    want = [d for d in env["match_and"] if d not in set(env["dead"])]
    got = env["ci"].match_docids(Q_AND, mode="and")["docid"].tolist()
    assert got == want
    gotl = (env["ci"].match_docids_local(Q_AND, mode="and")["docid"]
            .tolist())
    assert gotl == want


def test_search_join_excludes(env, spark):
    qdf = spark.createDataFrame([("a", Q_OR, "or"), ("b", Q_AND, "and")],
                                "qid string, query string, mode string")
    res = env["ci"].search_join(qdf, k=6, mode_col="mode").toPandas()
    for qid, full in (("a", env["full_or"]), ("b", env["full_and"])):
        want = _drop(full, env["dead"], 6)
        g = (res[res["qid"] == qid].sort_values("rank")
             [["docid", "score"]].reset_index(drop=True))
        _check(g, want, f"search_join/{qid}")


def test_facet_counts_excludes(env):
    ci = env["ci"]
    matched = set(ci.match_docids(Q_OR, mode="or")["docid"])
    cstore = pd.concat([s._docstore.toPandas() for s in ci.subs],
                       ignore_index=True)
    sub = cstore[cstore["docid"].isin(matched)]   # already tomb-free
    vc = sub["role"].dropna().astype(str).value_counts()
    exp = (pd.DataFrame({"value": vc.index, "doc_count": vc.to_numpy()})
           .sort_values(["doc_count", "value"],
                        ascending=[False, True]).head(10)
           .reset_index(drop=True))
    got = ci.facet_counts(Q_OR, by="role", k=10, mode="or").toPandas()
    assert got["value"].tolist() == exp["value"].tolist()
    assert got["doc_count"].tolist() == exp["doc_count"].tolist()


def test_fetch_and_search_local_exclude(env):
    ci, dead = env["ci"], env["dead"]
    live = int(_drop(env["full_or"], dead, 1)["docid"].iloc[0])
    got = ci.fetch_docs_local([dead[0], live])
    assert got["docid"].tolist() == [live]
    got = ci.fetch_docs([dead[0], live])
    assert got["docid"].tolist() == [live]
    s = ci.search_local(Q_OR, k=5, mode="or")
    assert not set(s["docid"]) & set(dead)
    assert "text" in s.columns


def test_delete_validation_and_idempotence(env):
    ci = env["ci"]
    with pytest.raises(KeyError):
        ci.delete_docs([10 ** 12])
    assert ci.delete_docs([env["dead"][0]]) == 0
    assert ci.delete_docs([]) == 0


def test_fresh_handle_sees_deletes(env, spark):
    ci2 = CombinedIndex(spark, env["root"])
    got = ci2.topk(Q_OR, k=7, mode="or").reset_index(drop=True)
    _check(got, _drop(env["full_or"], env["dead"], 7), "fresh handle")


def test_compact_drops_tombstones(env, spark, tmp_path_factory):
    from sparkfts.streaming import compact
    out = str(tmp_path_factory.mktemp("del_compact"))
    compact(spark, env["root"], out,
            order_cols=["conv_id", "turn_idx"], cfg=env["cfg"])
    idx = FTSIndex(spark, out)
    n_before = env["ci"].N
    assert idx.N == n_before - len(env["dead"])
    store = idx._docstore.toPandas()
    assert len(store) == idx.N
    # fresh stats: the compacted ranking equals a from-scratch build
    # over the surviving rows (delete → compact == never indexed)
    live = pd.concat([s._docstore.toPandas() for s in env["ci"].subs],
                     ignore_index=True)
    live = live[~live["docid"].isin(env["dead"])] \
        .drop(columns=["shard", "docid"])
    root2 = str(tmp_path_factory.mktemp("del_rebuild"))
    build_index(spark, spark.createDataFrame(live), root2,
                order_cols=["conv_id", "turn_idx"], cfg=env["cfg"])
    idx2 = FTSIndex(spark, root2)
    a = idx.topk_pandas(Q_OR, k=8, mode="or")
    b = idx2.topk_pandas(Q_OR, k=8, mode="or")
    assert a["docid"].tolist() == b["docid"].tolist()
    np.testing.assert_allclose(a["score"], b["score"], rtol=0,
                               atol=1e-9)


def test_compact_merge_folds_tombstones(env, spark, tmp_path_factory):
    """PLAIN generations merge-fold deletes: tombstoned postings/doc
    rows drop in the kernel, survivors re-rank DENSELY, stats
    recompute — document-identical to compact() (scores equal the
    fresh-stats rebuild; doc identity via (conv_id, turn_idx))."""
    from sparkfts.streaming import compact_merge
    out = str(tmp_path_factory.mktemp("del_mergefold"))
    compact_merge(spark, env["root"], out,
                  cfg=BuildConfig(num_shards=3, partitions=3))
    idx = FTSIndex(spark, out)
    n_live = env["ci"].N - len(env["dead"])
    assert idx.N == n_live
    assert idx.docid_span == idx.N          # dense id space: future
    store = idx._docstore.toPandas()        # folds stay legal
    assert len(store) == n_live
    assert store["docid"].min() == 0
    assert store["docid"].max() == n_live - 1
    assert store["docid"].nunique() == n_live
    # no tombstoned doc survived (identity = conv_id, turn_idx)
    old = pd.concat([s._docstore.toPandas() for s in env["ci"].subs],
                    ignore_index=True)
    dead_keys = set(map(tuple, old[old["docid"].isin(env["dead"])]
                        [["conv_id", "turn_idx"]].to_numpy()))
    got_keys = set(map(tuple, store[["conv_id", "turn_idx"]]
                       .to_numpy()))
    assert not (dead_keys & got_keys)
    # fresh-stats parity with the rebuild path, identity-matched
    rroot = str(tmp_path_factory.mktemp("del_mergefold_rb"))
    from sparkfts.streaming import compact
    compact(spark, env["root"], rroot,
            order_cols=["conv_id", "turn_idx"],
            cfg=BuildConfig(num_shards=3, partitions=3))
    ridx = FTSIndex(spark, rroot)
    for q, mode in ((Q_OR, "or"), (Q_AND, "and")):
        a = idx.topk_pandas(q, k=10, mode=mode)
        ad = idx.fetch_docs(a["docid"].tolist()).toPandas()
        b = ridx.topk_pandas(q, k=10, mode=mode)
        bd = ridx.fetch_docs(b["docid"].tolist()).toPandas()
        ak = (a.merge(ad[["docid", "conv_id", "turn_idx"]], on="docid")
              .assign(s=lambda x: x["score"].round(9)))
        bk = (b.merge(bd[["docid", "conv_id", "turn_idx"]], on="docid")
              .assign(s=lambda x: x["score"].round(9)))
        assert (sorted(map(tuple,
                           ak[["s", "conv_id", "turn_idx"]].to_numpy()))
                == sorted(map(tuple,
                              bk[["s", "conv_id",
                                  "turn_idx"]].to_numpy()))), (q, mode)


def test_compact_merge_folds_routed_tombstones(spark,
                                               tmp_path_factory):
    """ROUTED generations merge-fold deletes too (r6, VERDICT r5 #5):
    each (gen, shard, org) segment shrinks by its delete count,
    survivors re-rank densely within their segment, org blocks stay
    contiguous (org_ranges regenerate), and the result is
    document-identical to the compact() rebuild — globally AND
    org-scoped."""
    from sparkfts.streaming import (CombinedIndex, compact,
                                    compact_merge, make_batch_indexer)
    pdf = make_transcripts(10, seed=95)
    orgs = sorted(pdf["conv_id"].unique())
    pdf["org"] = pdf["conv_id"].map(lambda c: f"o{orgs.index(c) % 2}")
    root = str(tmp_path_factory.mktemp("del_routed"))
    cfg = BuildConfig(num_shards=4, partitions=4,
                      routing_col="org", shards_per_org=2)
    build_index(spark, spark.createDataFrame(pdf), root,
                order_cols=["conv_id", "turn_idx"], cfg=cfg)
    dpdf = make_transcripts(4, seed=96)
    dorgs = sorted(dpdf["conv_id"].unique())
    dpdf["org"] = dpdf["conv_id"].map(
        lambda c: f"o{dorgs.index(c) % 2}")
    make_batch_indexer(root, cfg=cfg)(
        spark.createDataFrame(dpdf), batch_id=0)
    ci = CombinedIndex(spark, root)
    # tombstone top-visible docs from BOTH generations + one org's hit
    full = ci.topk(Q_OR, k=10 ** 6, mode="or", method="exact")
    base_docs = ci.subs[0]._docstore.select("docid").toPandas()
    delta_docs = ci.subs[1]._docstore.select("docid").toPandas()
    dead = {int(full["docid"].iloc[0]), int(full["docid"].iloc[2]),
            int(base_docs["docid"].iloc[3]),
            int(delta_docs["docid"].iloc[1])}
    ci.delete_docs(sorted(dead))
    n_live = ci.N - len(dead)

    out = str(tmp_path_factory.mktemp("del_routed_merge"))
    compact_merge(spark, root, out, cfg=cfg)
    idx = FTSIndex(spark, out)
    assert idx.N == n_live
    assert os.path.isdir(os.path.join(out, "org_ranges")), \
        "routed fold must keep the contiguous-tenant layout"
    # identity: no tombstoned (conv_id, turn_idx) survived
    old = pd.concat([s._docstore.toPandas() for s in ci.subs],
                    ignore_index=True)
    dead_keys = set(map(tuple, old[old["docid"].isin(sorted(dead))]
                        [["conv_id", "turn_idx"]].to_numpy()))
    store = idx._docstore.toPandas()
    assert len(store) == n_live
    got_keys = set(map(tuple, store[["conv_id", "turn_idx"]]
                       .to_numpy()))
    assert not (dead_keys & got_keys)
    # rebuild-oracle parity (identity-matched scores), incl. org-scoped
    rroot = str(tmp_path_factory.mktemp("del_routed_rb"))
    compact(spark, root, rroot, order_cols=["conv_id", "turn_idx"],
            cfg=cfg)
    ridx = FTSIndex(spark, rroot)

    def keyset(ix, q, mode, org=None):
        h = ix.topk_pandas(q, k=10, mode=mode, org=org)
        dd = ix.fetch_docs(h["docid"].tolist()).toPandas()
        m = h.merge(dd[["docid", "conv_id", "turn_idx"]], on="docid")
        return sorted((round(s, 9), c, int(t)) for s, c, t in
                      zip(m["score"], m["conv_id"], m["turn_idx"]))

    for q, mode in ((Q_OR, "or"), (Q_AND, "and")):
        assert keyset(idx, q, mode) == keyset(ridx, q, mode), (q, mode)
        for o in ("o0", "o1"):
            assert keyset(idx, q, mode, org=o) \
                == keyset(ridx, q, mode, org=o), (q, mode, o)


def test_nightly_rotate_merges_with_tombstones(env, spark,
                                               tmp_path_factory):
    from sparkfts.rotation import RotationRegistry
    from sparkfts.streaming import nightly_rotate
    reg_dir = str(tmp_path_factory.mktemp("del_reg"))
    out = str(tmp_path_factory.mktemp("del_rotate"))
    res = nightly_rotate(spark, RotationRegistry(reg_dir), "convs",
                         env["root"], out, index_date="20260817",
                         order_cols=["conv_id", "turn_idx"],
                         cfg=env["cfg"], merge=True)
    idx = FTSIndex(spark, res["root"])
    assert idx.N == env["ci"].N - len(env["dead"])


def test_kernel_output_bounded_under_large_tombstone_batch(env):
    """VERDICT r5 #4: deletes are excluded INSIDE the scoring kernels,
    before top-k truncation — a group returns k rows (not k+T) even
    under a >=10^4 tombstone batch, on every kernel branch (exact,
    WAND, and-pruned, candidates), and the survivors equal the
    exhaustive ranking minus the tombstones."""
    from sparkfts.query import (_bm25_idf, _score_candidates,
                                score_shard)
    ci = env["ci"]
    base = ci.subs[0]
    terms = sorted({t for t in Q_OR.split()})
    pdf = base._local_term_rows(terms)
    pdf = pdf[pdf["shard"] == int(pdf["shard"].iloc[0])]
    dfs = base._df_counts(terms)
    idf = {t: _bm25_idf(float(ci.N), dfs.get(t, 0.0)) for t in terms}
    full = score_shard(pdf, idf, ci.avgdl, ci.k1, ci.b, 10 ** 6,
                       "or", len(terms), "exact")
    assert len(full) > 3, "fixture: need matches beyond k"
    # 10^4+ tombstones: every matching doc except the last 3, plus
    # filler ids that never match (the realistic big-batch shape)
    keep_tail = full["docid"].to_numpy(np.int64)[-3:]
    dead = full["docid"].to_numpy(np.int64)[:-3]
    filler = np.arange(10 ** 9, 10 ** 9 + 10 ** 4, dtype=np.int64)
    excl = np.unique(np.concatenate([dead, filler]))
    assert excl.size >= 10 ** 4
    k = 5
    for method, mode in (("exact", "or"), ("wand", "or"),
                         ("wand", "and")):
        out = score_shard(pdf, idf, ci.avgdl, ci.k1, ci.b, k,
                          mode, len(terms), method, excl=excl)
        assert len(out) <= k, f"{method}/{mode}: {len(out)} rows > k"
        assert not np.isin(out["docid"].to_numpy(np.int64),
                           excl).any(), f"{method}/{mode}"
        if mode == "or":
            assert set(out["docid"]) <= set(keep_tail.tolist())
    # candidates branch (org/filter paths)
    cand = np.sort(full["docid"].to_numpy(np.int64))
    pt = {t: pdf[pdf["term"] == t]
          for t in sorted(pdf["term"].unique())}
    out = _score_candidates(pt, list(pt), cand, idf, ci.avgdl, ci.k1,
                            ci.b, k, "or", len(terms), excl=excl)
    assert len(out) <= k and len(out) == min(k, 3)
    assert not np.isin(out["docid"].to_numpy(np.int64), excl).any()


def test_wand_theta_not_inflated_by_deleted_top_docs(env):
    """Deleting the entire visible top of a query must not let WAND's
    theta-seed prune live docs: wand == exact on the survivor set."""
    from sparkfts.query import _bm25_idf, score_shard
    ci = env["ci"]
    base = ci.subs[0]
    terms = sorted({t for t in Q_OR.split()})
    pdf = base._local_term_rows(terms)
    pdf = pdf[pdf["shard"] == int(pdf["shard"].iloc[0])]
    dfs = base._df_counts(terms)
    idf = {t: _bm25_idf(float(ci.N), dfs.get(t, 0.0)) for t in terms}
    full = score_shard(pdf, idf, ci.avgdl, ci.k1, ci.b, 10 ** 6,
                       "or", len(terms), "exact")
    excl = np.sort(full["docid"].to_numpy(np.int64)[:len(full) // 2])
    w = score_shard(pdf, idf, ci.avgdl, ci.k1, ci.b, 4, "or",
                    len(terms), "wand", excl=excl)
    e = score_shard(pdf, idf, ci.avgdl, ci.k1, ci.b, 4, "or",
                    len(terms), "exact", excl=excl)
    assert w["docid"].tolist() == e["docid"].tolist()
    np.testing.assert_allclose(w["score"], e["score"], rtol=0,
                               atol=1e-12)
