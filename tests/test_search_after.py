"""Deep pagination via after= (the ES search_after analog).

Contract: topk(..., after=(score, docid)) returns results ranked
STRICTLY after the cursor — concatenating pages of size k reproduces
the full ranking exactly (no from+size over-fetch, exact at any
depth), on every scored surface: FTSIndex topk/topk_local (or/and,
wand/exact, org, filter) and CombinedIndex topk/topk_local (incl.
under tombstones)."""
import numpy as np
import pandas as pd
import pytest

from sparkfts import BuildConfig, FTSIndex, build_index
from sparkfts.fixtures import make_transcripts


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    pdf = make_transcripts(35, seed=96)
    root = str(tmp_path_factory.mktemp("sa_idx"))
    build_index(spark, spark.createDataFrame(pdf), root,
                order_cols=["conv_id", "turn_idx"],
                cfg=BuildConfig(num_shards=3, partitions=3))
    return FTSIndex(spark, root)


def _paginate(fn, k, max_pages=None):
    """Concatenate pages of size k until exhausted (or max_pages —
    distributed pages cost a Spark job each, so those tests check a
    bounded prefix; the LOCAL path paginates exhaustively)."""
    pages, cursor = [], None
    while max_pages is None or len(pages) < max_pages:
        page = fn(cursor)
        if page.empty:
            break
        pages.append(page)
        cursor = (float(page["score"].iloc[-1]),
                  int(page["docid"].iloc[-1]))
        if len(page) < k:
            break
    return (pd.concat(pages, ignore_index=True) if pages
            else pd.DataFrame({"docid": pd.Series(dtype="int64"),
                               "score": pd.Series(dtype="float64")}))


@pytest.mark.parametrize("mode,method", [("or", "wand"),
                                         ("or", "exact"),
                                         ("and", "wand")])
def test_pages_reconstruct_full_ranking(idx, mode, method):
    q = "alpha query index"
    full = idx.topk_pandas(q, k=10 ** 6, mode=mode, method="exact")
    got = _paginate(lambda c: idx.topk_pandas(q, k=7, mode=mode,
                                              method=method, after=c),
                    k=7, max_pages=4)
    n = len(got)
    assert got["docid"].tolist() == full["docid"].iloc[:n].tolist()
    np.testing.assert_array_equal(got["score"].to_numpy(),
                                  full["score"].iloc[:n].to_numpy())
    assert n == min(28, len(full))


def test_pages_local_path(idx):
    q = "alpha query"
    full = idx.topk_local(q, k=10 ** 6, mode="or")
    got = _paginate(lambda c: idx.topk_local(q, k=5, mode="or",
                                             after=c), k=5)
    assert got["docid"].tolist() == full["docid"].tolist()
    np.testing.assert_array_equal(got["score"].to_numpy(),
                                  full["score"].to_numpy())


def test_pages_with_filter(idx):
    q = "alpha query index"
    flt = "role = 'user'"
    full = idx.topk_pandas(q, k=10 ** 6, mode="or", method="exact")
    store = idx._docstore.toPandas()
    keep = set(store.loc[store["role"] == "user", "docid"])
    want = full[full["docid"].isin(keep)].reset_index(drop=True)
    got = _paginate(lambda c: idx.topk_pandas(q, k=4, mode="or",
                                              filter=flt, after=c),
                    k=4, max_pages=3)
    n = len(got)
    assert got["docid"].tolist() == want["docid"].iloc[:n].tolist()
    assert n == min(12, len(want))


def test_cursor_mid_tie_is_exact(idx):
    """A cursor placed INSIDE a score tie must resume at the next
    docid of the tie, not skip or repeat it."""
    full = idx.topk_pandas("alpha", k=10 ** 6, mode="or",
                           method="exact")
    ties = full[full.duplicated("score", keep=False)]
    if ties.empty:
        pytest.skip("no score ties in this fixture")
    i = int(ties.index[0])
    cursor = (float(full["score"].iloc[i]), int(full["docid"].iloc[i]))
    nxt = idx.topk_pandas("alpha", k=3, mode="or", after=cursor)
    assert nxt["docid"].tolist() == full["docid"].iloc[i + 1:i + 4] \
        .tolist()


def test_pages_org_scoped(spark, tmp_path_factory):
    pdf = make_transcripts(24, seed=97)
    orgs = sorted(pdf["conv_id"].unique())
    pdf["org"] = pdf["conv_id"].map(lambda c: f"o{orgs.index(c) % 2}")
    root = str(tmp_path_factory.mktemp("sa_routed"))
    build_index(spark, spark.createDataFrame(pdf), root,
                order_cols=["conv_id", "turn_idx"],
                cfg=BuildConfig(num_shards=4, partitions=4,
                                routing_col="org", shards_per_org=2))
    ridx = FTSIndex(spark, root)
    q = "alpha query index"
    full = ridx.topk_pandas(q, k=10 ** 6, mode="or", org="o1")
    got = _paginate(lambda c: ridx.topk_pandas(q, k=5, mode="or",
                                               org="o1", after=c),
                    k=5, max_pages=3)
    n = len(got)
    assert got["docid"].tolist() == full["docid"].iloc[:n].tolist()
    assert n == min(15, len(full))


def test_combined_pages_with_deletes(spark, tmp_path_factory):
    from sparkfts.streaming import CombinedIndex, make_batch_indexer
    cfg = BuildConfig(num_shards=2, partitions=2)
    root = str(tmp_path_factory.mktemp("sa_stream"))
    build_index(spark,
                spark.createDataFrame(make_transcripts(10, seed=98)),
                root, order_cols=["conv_id", "turn_idx"], cfg=cfg)
    make_batch_indexer(root, cfg=cfg)(
        spark.createDataFrame(make_transcripts(4, seed=99)), batch_id=0)
    ci = CombinedIndex(spark, root)
    q = "alpha query"
    full = ci.topk(q, k=10 ** 6, mode="or", method="exact")
    dead = full["docid"].iloc[[1, 4]].astype(int).tolist()
    ci.delete_docs(dead)
    want = (full[~full["docid"].isin(dead)]
            .reset_index(drop=True))
    got = _paginate(lambda c: ci.topk(q, k=4, mode="or", after=c),
                    k=4, max_pages=3)
    n = len(got)
    assert got["docid"].tolist() == want["docid"].iloc[:n].tolist()
    # local path paginates EXHAUSTIVELY (zero jobs)
    gotl = _paginate(lambda c: ci.topk_local(q, k=4, mode="or",
                                             after=c), k=4)
    assert gotl["docid"].tolist() == want["docid"].tolist()


def _decoded_blocks(monkeypatch, fn):
    """(fn(), blocks decoded while it ran): counts through a wrapper
    around codec.decode_postings, whose block_n argument holds one
    entry per block."""
    from sparkfts import codec
    real, n = codec.decode_postings, [0]

    def counting(blob, block_off, block_n, *a, **kw):
        n[0] += len(block_n)
        return real(blob, block_off, block_n, *a, **kw)

    with monkeypatch.context() as m:
        m.setattr(codec, "decode_postings", counting)
        out = fn()
    return out, n[0]


def test_or_wand_after_prunes_blocks(monkeypatch):
    """VERDICT r5 #6: OR-mode cursor pages prune via cursor-aware WAND
    (theta from seed docs PROVEN complete) instead of decoding every
    posting. Synthetic one-term postings with a strong tf spread (the
    60 hot docs share the first block, 79 more blocks are all tf=1):
    the page-2 theta sits far above the flat tail's block upper bounds,
    so the pruned path must decode a small fraction of the exhaustive
    path's blocks while staying rank- and score-identical."""
    from sparkfts import codec
    from sparkfts import query as Q
    n = 128 * 80
    docids = np.arange(n, dtype=np.int64)
    tf = np.ones(n, np.int64)
    tf[:60] = 60 - np.arange(60)          # 60..1, strictly decreasing
    dl = np.full(n, 40, np.int64)
    enc = codec.encode_postings(docids, tf, dl)
    lpdf = pd.DataFrame([{**enc, "term": "t", "shard": 0, "chunk": 0}])
    idf = {"t": 1.0}
    full = Q.score_shard(lpdf, idf, 40.0, 1.2, 0.75, 10 ** 6,
                         "or", 1, "exact")
    k = 5
    cur = (float(full["score"].iloc[k - 1]),
           int(full["docid"].iloc[k - 1]))   # cursor at end of page 1

    e, exact_blocks = _decoded_blocks(monkeypatch, lambda: Q.score_shard(
        lpdf, idf, 40.0, 1.2, 0.75, k, "or", 1, "exact", after=cur))
    w, wand_blocks = _decoded_blocks(monkeypatch, lambda: Q.score_shard(
        lpdf, idf, 40.0, 1.2, 0.75, k, "or", 1, "wand", after=cur))

    assert w["docid"].tolist() == e["docid"].tolist()
    np.testing.assert_allclose(w["score"], e["score"], rtol=0, atol=0)
    assert exact_blocks == 80
    assert wand_blocks <= exact_blocks // 4, \
        f"no pruning: wand={wand_blocks} exact={exact_blocks}"


def test_or_wand_after_multiterm_parity(spark, tmp_path_factory):
    """Multi-term cursor pages through the pruned path stay exact at
    every depth (theta may degrade to 0 when seed completeness fails
    on sparse terms — never wrong, just unpruned)."""
    pdf = make_transcripts(150, seed=97)
    root = str(tmp_path_factory.mktemp("sa_prune"))
    build_index(spark, spark.createDataFrame(pdf),
                root, order_cols=["conv_id", "turn_idx"],
                cfg=BuildConfig(num_shards=1, partitions=2))
    idx = FTSIndex(spark, root)
    ps = idx._postings.toPandas()
    hot2 = ps.groupby("term")["df"].sum().sort_values().index[-2:]
    q2 = " ".join(hot2)
    full2 = idx.topk_pandas(q2, k=10 ** 6, mode="or", method="exact")
    got = _paginate(lambda c: idx.topk_pandas(q2, k=7, mode="or",
                                              method="wand", after=c),
                    k=7, max_pages=5)
    n = len(got)
    assert got["docid"].tolist() == full2["docid"].head(n).tolist()
    np.testing.assert_allclose(got["score"],
                               full2["score"].head(n), rtol=0,
                               atol=1e-9)


def test_or_wand_after_prunes_blocks_multiterm(monkeypatch):
    """r6 second seed round: on a multi-term query, docs decoded under
    one term are usually INCOMPLETE after round 1 (another term's
    undecoded block ranges stab them). The bounded round 2 decodes
    exactly the stabbing blocks, completing the high-partial docs, so
    theta engages and deep pages prune — while staying rank- and
    score-identical to the exhaustive path."""
    from sparkfts import codec
    from sparkfts import query as Q
    n = 128 * 80
    ids_a = np.arange(n, dtype=np.int64)
    tf_a = np.ones(n, np.int64)
    tf_a[:60] = 60 - np.arange(60)
    dl = np.full(n, 40, np.int64)
    enc_a = codec.encode_postings(ids_a, tf_a, dl)
    ids_b = np.arange(0, n, 10, dtype=np.int64)   # sparse: 8 blocks
    tf_b = np.ones(ids_b.shape[0], np.int64)
    tf_b[:6] = 40 - 5 * np.arange(6)              # hot head too
    enc_b = codec.encode_postings(ids_b, tf_b,
                                  np.full(ids_b.shape[0], 40,
                                          np.int64))
    lpdf = pd.DataFrame([
        {**enc_a, "term": "a", "shard": 0, "chunk": 0},
        {**enc_b, "term": "b", "shard": 0, "chunk": 0},
    ])
    # b's weight is small so the flat tail's interval upper bound
    # (ub_a(tf=1) + ub_b(tf=1), b's blocks blanket the docid space)
    # sits BELOW the theta of the head docs — the regime where deep
    # pages can prune at all
    idf = {"a": 1.0, "b": 0.3}
    full = Q.score_shard(lpdf, idf, 40.0, 1.2, 0.75, 10 ** 6,
                         "or", 2, "exact")
    k = 5
    cur = (float(full["score"].iloc[k - 1]),
           int(full["docid"].iloc[k - 1]))

    e, exact_blocks = _decoded_blocks(monkeypatch, lambda: Q.score_shard(
        lpdf, idf, 40.0, 1.2, 0.75, k, "or", 2, "exact", after=cur))
    w, wand_blocks = _decoded_blocks(monkeypatch, lambda: Q.score_shard(
        lpdf, idf, 40.0, 1.2, 0.75, k, "or", 2, "wand", after=cur))

    assert w["docid"].tolist() == e["docid"].tolist()
    np.testing.assert_allclose(w["score"], e["score"], rtol=0, atol=0)
    assert wand_blocks < exact_blocks // 2, \
        f"no multi-term pruning: wand={wand_blocks} exact={exact_blocks}"


def test_cursor_doc_deleted_between_pages(spark, tmp_path_factory):
    """The cursor doc itself gets tombstoned between page 1 and page 2:
    the cursor stays valid (strict-after comparison needs only the
    (score, docid) pair, not the doc's liveness), and page 2 equals the
    survivor ranking after the cursor — no skip, no duplicate."""
    from sparkfts.streaming import CombinedIndex, make_batch_indexer
    cfg = BuildConfig(num_shards=2, partitions=2)
    root = str(tmp_path_factory.mktemp("sa_curdel"))
    build_index(spark,
                spark.createDataFrame(make_transcripts(10, seed=101)),
                root, order_cols=["conv_id", "turn_idx"], cfg=cfg)
    make_batch_indexer(root, cfg=cfg)(
        spark.createDataFrame(make_transcripts(3, seed=102)),
        batch_id=0)
    ci = CombinedIndex(spark, root)
    q = "alpha query"
    full = ci.topk(q, k=10 ** 6, mode="or", method="exact")
    assert len(full) > 8
    p1 = ci.topk_local(q, k=4, mode="or")
    cursor = (float(p1["score"].iloc[-1]), int(p1["docid"].iloc[-1]))
    ci.delete_docs([int(p1["docid"].iloc[-1])])   # kill the cursor doc
    p2l = ci.topk_local(q, k=4, mode="or", after=cursor)
    p2d = ci.topk(q, k=4, mode="or", after=cursor) \
        .reset_index(drop=True)
    want = full.iloc[4:8].reset_index(drop=True)   # scores are stale,
    # so the survivor ranking after the cursor is exactly rows 5..8 of
    # the pre-delete full ranking (the deleted doc was rank 4 == the
    # cursor itself, which strict-after already excludes)
    assert p2l["docid"].tolist() == want["docid"].tolist()
    np.testing.assert_allclose(p2l["score"], want["score"], rtol=0,
                               atol=1e-12)
    assert p2d["docid"].tolist() == p2l["docid"].tolist()
    np.testing.assert_allclose(p2d["score"], p2l["score"], rtol=0,
                               atol=1e-9)
