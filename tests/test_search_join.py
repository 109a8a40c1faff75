"""search_join: batch search as a join (DataFrame of queries in, per-
query top-k DataFrame out, nothing O(#queries) on the driver). Each
query's rows must be rank- AND score-identical to the corresponding
``topk`` call, under every surface dimension: or/and/phrase,
wand/exact, multi-field, org-scoped, absent/empty/duplicate-term
queries."""
import numpy as np
import pandas as pd
import pytest

from sparkfts import BuildConfig, FTSIndex, build_index
from sparkfts.analyzer import TokenizerConfig
from sparkfts.fixtures import make_transcripts


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    pdf = make_transcripts(40, seed=31)
    root = str(tmp_path_factory.mktemp("sj_idx"))
    build_index(spark, spark.createDataFrame(pdf), root,
                order_cols=["conv_id", "turn_idx"],
                cfg=BuildConfig(num_shards=3, partitions=3))
    return FTSIndex(spark, root)


QUERIES = [
    ("q_hot", "alpha query index", "or"),
    ("q_and", "merge window", "and"),
    ("q_one", "shard", "or"),
    ("q_dup", "alpha alpha ALPHA", "or"),      # dup terms collapse
    ("q_absent", "zzzunseenterm", "or"),       # no rows expected
    ("q_and_absent", "alpha zzzunseenterm", "and"),  # AND w/ absent→none
    ("q_empty", "!!! ...", "or"),              # tokenizes to nothing
    ("q_mixed", "batch nightly shard", "and"),
]


def _want(idx, k=7, **kw):
    out = {}
    for qid, text, mode in QUERIES:
        h = idx.topk_pandas(text, k=k, mode=mode, **kw)
        out[qid] = h
    return out


def _got_map(res_pdf):
    return {qid: g.sort_values("rank")[["docid", "score"]]
            .reset_index(drop=True)
            for qid, g in res_pdf.groupby("qid")}


def _assert_same(got, want, label):
    for qid, w in want.items():
        g = got.get(qid)
        if w.empty:
            assert g is None, f"{label}/{qid}: expected no rows"
            continue
        assert g is not None, f"{label}/{qid}: missing"
        assert g["docid"].tolist() == w["docid"].tolist(), \
            f"{label}/{qid}"
        np.testing.assert_allclose(g["score"], w["score"], rtol=0,
                                   atol=1e-9, err_msg=f"{label}/{qid}")


@pytest.mark.parametrize("method", ["wand", "exact"])
def test_search_join_matches_topk(spark, idx, method):
    qdf = spark.createDataFrame(
        [(q, t, m) for q, t, m in QUERIES], "qid string, query string, "
        "mode string")
    res = idx.search_join(qdf, k=7, method=method,
                          mode_col="mode").toPandas()
    # ranks are dense 1..n per qid
    for qid, g in res.groupby("qid"):
        assert sorted(g["rank"]) == list(range(1, len(g) + 1))
    _assert_same(_got_map(res), _want(idx, k=7), method)


def test_search_join_default_mode_and_buckets(spark, idx):
    """mode_col omitted → default_mode; result invariant to bucket
    count (1 bucket == many buckets == per-query topk)."""
    ors = [(q, t) for q, t, m in QUERIES if m == "or"]
    qdf = spark.createDataFrame(ors, "qid string, query string")
    want = {q: idx.topk_pandas(t, k=5, mode="or") for q, t in ors}
    for nb in (1, 7):
        res = idx.search_join(qdf, k=5, default_mode="or",
                              n_buckets=nb).toPandas()
        _assert_same(_got_map(res), want, f"B={nb}")


def test_search_join_multifield(spark, tmp_path_factory):
    pdf = make_transcripts(25, seed=32)
    pdf["lang"] = np.where(np.arange(len(pdf)) % 3 == 0, "de en", "en")
    root = str(tmp_path_factory.mktemp("sj_mf"))
    build_index(spark, spark.createDataFrame(pdf), root,
                order_cols=["conv_id", "turn_idx"],
                cfg=BuildConfig(num_shards=2, partitions=2,
                                fields={"text": TokenizerConfig(),
                                        "lang": TokenizerConfig()}))
    spark_idx = FTSIndex(spark, root)
    qdf = spark.createDataFrame(
        [("a", "alpha query"), ("b", "de")],
        "qid string, query string")
    for fld in ("text", "lang"):
        res = spark_idx.search_join(qdf, k=6, field=fld).toPandas()
        want = {q: spark_idx.topk_pandas(t, k=6, mode="or", field=fld)
                for q, t in [("a", "alpha query"), ("b", "de")]}
        _assert_same(_got_map(res), want, f"field={fld}")


def test_search_join_org_scoped(spark, tmp_path_factory):
    pdf = make_transcripts(30, seed=33)
    orgs = sorted(pdf["conv_id"].unique())
    pdf["org"] = pdf["conv_id"].map(
        lambda c: f"o{orgs.index(c) % 4}")
    root = str(tmp_path_factory.mktemp("sj_routed"))
    build_index(spark, spark.createDataFrame(pdf), root,
                order_cols=["conv_id", "turn_idx"],
                cfg=BuildConfig(num_shards=4, partitions=4,
                                routing_col="org", shards_per_org=2))
    ridx = FTSIndex(spark, root)
    qdf = spark.createDataFrame(
        [("a", "alpha query index", "or"), ("b", "merge window", "and")],
        "qid string, query string, mode string")
    res = ridx.search_join(qdf, k=8, org="o1", mode_col="mode") \
        .toPandas()
    want = {"a": ridx.topk_pandas("alpha query index", k=8, mode="or",
                                  org="o1"),
            "b": ridx.topk_pandas("merge window", k=8, mode="and",
                                  org="o1")}
    _assert_same(_got_map(res), want, "org=o1")
    # unknown tenant → empty frame, correct schema
    gone = ridx.search_join(qdf, k=3, org="no_such_org").toPandas()
    assert gone.empty
    assert list(gone.columns) == ["qid", "rank", "docid", "score"]


def test_search_join_errors(spark, idx):
    qdf = spark.createDataFrame([("a", "alpha", "not_a_mode")],
                                "qid string, query string, mode string")
    with pytest.raises(Exception, match="bad mode"):
        idx.search_join(qdf, mode_col="mode").toPandas()
    with pytest.raises(ValueError, match="or|and"):
        idx.search_join(qdf, default_mode="nope")
    with pytest.raises(ValueError, match="org routing"):
        idx.search_join(qdf, org="o1").toPandas()


def test_search_join_null_and_unicode_queries(spark, idx):
    qdf = spark.createDataFrame(
        [("n", None), ("u", "ünïcode — alpha'); DROP--")],
        "qid string, query string")
    res = idx.search_join(qdf, k=5).toPandas()
    got = _got_map(res)
    assert "n" not in got                      # null → no tokens
    if "u" in got:                             # ASCII analyzer keeps
        w = idx.topk_pandas("ünïcode — alpha'); DROP--", k=5, mode="or")
        assert got["u"]["docid"].tolist() == w["docid"].tolist()


# ------------------------------------------------------------------ #
# CombinedIndex.search_join (base + deltas)                          #
# ------------------------------------------------------------------ #

@pytest.fixture(scope="module")
def combined(spark, tmp_path_factory):
    from sparkfts.streaming import CombinedIndex, make_batch_indexer
    from sparkfts import build_index as _bi
    cfg = BuildConfig(num_shards=2, partitions=2)
    root = str(tmp_path_factory.mktemp("sj_stream"))
    _bi(spark, spark.createDataFrame(make_transcripts(12, seed=61)),
        root, order_cols=["conv_id", "turn_idx"], cfg=cfg)
    idxer = make_batch_indexer(root, cfg=cfg)
    for i, seed in enumerate((62, 63)):
        idxer(spark.createDataFrame(make_transcripts(4, seed=seed)),
              batch_id=i)
    return CombinedIndex(spark, root)


def test_combined_search_join_matches_topk(spark, combined):
    """Streaming batch search: per-query rows rank- and score-identical
    to CombinedIndex.topk (union-global stats across generations)."""
    qdf = spark.createDataFrame(
        [(q, t, m) for q, t, m in QUERIES],
        "qid string, query string, mode string")
    res = combined.search_join(qdf, k=7, mode_col="mode").toPandas()
    got = _got_map(res)
    for qid, text, mode in QUERIES:
        w = combined.topk(text, k=7, mode=mode).reset_index(drop=True)
        if w.empty:
            assert qid not in got, qid
            continue
        g = got.get(qid)
        assert g is not None, qid
        assert g["docid"].tolist() == w["docid"].tolist(), qid
        np.testing.assert_allclose(g["score"], w["score"], rtol=0,
                                   atol=1e-9, err_msg=qid)


def test_combined_search_join_org_scoped(spark, tmp_path_factory):
    """Org-scoped streaming batch search over routed generations with
    per-generation shard geometry: equals CombinedIndex.topk(org=)."""
    from sparkfts.streaming import CombinedIndex, make_batch_indexer
    from sparkfts import build_index as _bi
    rcfg = BuildConfig(num_shards=4, partitions=4, routing_col="org",
                       shards_per_org=2)

    def with_org(pdf):
        return pdf.assign(org=pdf["conv_id"].map(
            lambda c: f"o{sum(map(ord, c)) % 3}"))

    root = str(tmp_path_factory.mktemp("sj_routed_stream"))
    _bi(spark, spark.createDataFrame(with_org(make_transcripts(
        12, seed=71))), root, order_cols=["conv_id", "turn_idx"],
        cfg=rcfg)
    idxer = make_batch_indexer(root, cfg=rcfg)
    idxer(spark.createDataFrame(with_org(make_transcripts(
        5, seed=72))), batch_id=0)
    ci = CombinedIndex(spark, root)
    qdf = spark.createDataFrame(
        [("a", "alpha query index", "or"), ("b", "merge window", "and")],
        "qid string, query string, mode string")
    res = ci.search_join(qdf, k=8, org="o1", mode_col="mode").toPandas()
    got = _got_map(res)
    for qid, text, mode in [("a", "alpha query index", "or"),
                            ("b", "merge window", "and")]:
        w = ci.topk(text, k=8, mode=mode, org="o1") \
            .reset_index(drop=True)
        if w.empty:
            assert qid not in got, qid
            continue
        g = got[qid]
        assert g["docid"].tolist() == w["docid"].tolist(), qid
        np.testing.assert_allclose(g["score"], w["score"], rtol=0,
                                   atol=1e-9, err_msg=qid)
    # unknown tenant → empty, correct schema
    gone = ci.search_join(qdf, k=3, org="zzz_no_org").toPandas()
    assert gone.empty


# ------------------------------------------------------------------ #
# phrase mode (positions-based, parity with phrase_topk)             #
# ------------------------------------------------------------------ #

PHRASES = [
    ("p_hot", "nightly index snapshot", "phrase"),
    ("p_two", "block max wand", "phrase"),
    ("p_one", "shard", "phrase"),                # single-token phrase
    ("p_rep", "the nightly the", "phrase"),      # repeated term in seq
    ("p_absent", "alpha zzzunseenterm", "phrase"),
    ("p_noadj", "snapshot nightly", "phrase"),   # terms present, order no
]


def test_search_join_phrase_matches_phrase_topk(spark, idx):
    """Mixed or/and/phrase batch: phrase rows rank- and score-identical
    to phrase_topk, or/and rows unaffected by sharing the plan."""
    qdf = spark.createDataFrame(
        [(q, t, m) for q, t, m in QUERIES + PHRASES],
        "qid string, query string, mode string")
    res = idx.search_join(qdf, k=7, mode_col="mode").toPandas()
    got = _got_map(res)
    _assert_same({q: got.get(q) for q, _, _ in QUERIES if q in got},
                 _want(idx, k=7), "mixed/or-and")
    for qid, text, _ in PHRASES:
        w = idx.phrase_topk(text, k=7).toPandas().reset_index(drop=True)
        g = got.get(qid)
        if w.empty:
            assert g is None, f"{qid}: expected no rows"
            continue
        assert g is not None, f"{qid}: missing"
        assert g["docid"].tolist() == w["docid"].tolist(), qid
        np.testing.assert_allclose(g["score"], w["score"], rtol=0,
                                   atol=1e-9, err_msg=qid)


def test_search_join_phrase_default_mode(spark, idx):
    """default_mode='phrase' with no mode column."""
    qdf = spark.createDataFrame([("p", "nightly index snapshot")],
                                "qid string, query string")
    res = idx.search_join(qdf, k=5, default_mode="phrase").toPandas()
    w = idx.phrase_topk("nightly index snapshot", k=5).toPandas()
    g = _got_map(res)["p"]
    assert g["docid"].tolist() == w["docid"].tolist()
    np.testing.assert_allclose(g["score"], w["score"], rtol=0, atol=1e-9)


def test_search_join_phrase_org_scoped(spark, tmp_path_factory):
    """Org-scoped phrase in the batch: equals phrase_topk(org=)."""
    pdf = make_transcripts(30, seed=34)
    orgs = sorted(pdf["conv_id"].unique())
    pdf["org"] = pdf["conv_id"].map(lambda c: f"o{orgs.index(c) % 3}")
    root = str(tmp_path_factory.mktemp("sj_routed_ph"))
    build_index(spark, spark.createDataFrame(pdf), root,
                order_cols=["conv_id", "turn_idx"],
                cfg=BuildConfig(num_shards=4, partitions=4,
                                routing_col="org", shards_per_org=2))
    ridx = FTSIndex(spark, root)
    qdf = spark.createDataFrame(
        [("p", "nightly index snapshot", "phrase"),
         ("a", "alpha query index", "or")],
        "qid string, query string, mode string")
    res = ridx.search_join(qdf, k=8, org="o2", mode_col="mode") \
        .toPandas()
    got = _got_map(res)
    w = ridx.phrase_topk("nightly index snapshot", k=8, org="o2") \
        .toPandas().reset_index(drop=True)
    if w.empty:
        assert "p" not in got
    else:
        g = got["p"]
        assert g["docid"].tolist() == w["docid"].tolist()
        np.testing.assert_allclose(g["score"], w["score"], rtol=0,
                                   atol=1e-9)
    wa = ridx.topk_pandas("alpha query index", k=8, mode="or", org="o2")
    if not wa.empty:
        assert got["a"]["docid"].tolist() == wa["docid"].tolist()


def test_combined_search_join_phrase(spark, combined):
    """Phrase mode over base + deltas: equals CombinedIndex.phrase_topk
    (union-global stats, per-generation adjacency)."""
    qdf = spark.createDataFrame(
        [(q, t, m) for q, t, m in PHRASES],
        "qid string, query string, mode string")
    res = combined.search_join(qdf, k=6, mode_col="mode").toPandas()
    got = _got_map(res)
    for qid, text, _ in PHRASES:
        w = combined.phrase_topk(text, k=6).reset_index(drop=True)
        g = got.get(qid)
        if w.empty:
            assert g is None, f"{qid}: expected no rows"
            continue
        assert g is not None, f"{qid}: missing"
        assert g["docid"].tolist() == w["docid"].tolist(), qid
        np.testing.assert_allclose(g["score"], w["score"], rtol=0,
                                   atol=1e-9, err_msg=qid)


# ------------------------------------------------------------------ #
# filter= in-kernel restriction: per-group output is O(k), not        #
# O(matches) (VERDICT r5 #3)                                          #
# ------------------------------------------------------------------ #

def test_filtered_kernel_truncates_per_group(spark, idx):
    """Drive sj_score_group_factory(cand_sets=...) directly with a
    group whose candidate set matches FAR more docs than k: the kernel
    must emit exactly k rows per query (truncation happens INSIDE the
    group), and those k rows must equal the unrestricted ranking
    filtered to the candidates."""
    from sparkfts import codec
    from sparkfts.query import _bm25_idf, sj_score_group_factory

    ps = idx._postings.toPandas()
    term = (ps.groupby("term")["df"].sum().idxmax())  # hottest term
    lpdf = ps[ps["term"] == term].copy()
    shard = int(lpdf["shard"].iloc[0])
    lpdf = lpdf[lpdf["shard"] == shard].assign(seg=0)
    store = idx._docstore.where(f"shard = {shard}").toPandas()
    cand = np.sort(store["docid"].to_numpy(np.int64))  # ALL shard docs
    k = 3
    assert int(lpdf["df"].sum()) > k, "fixture: need matches >> k"
    idfv = float(_bm25_idf(float(idx.N),
                           float(ps[ps["term"] == term]["df"].sum())))
    rpdf = pd.DataFrame({"qid": ["q1"], "mode": ["or"],
                         "term": [term], "bucket": [0],
                         "qpos": [[0]], "idf": [idfv]})
    kern = sj_score_group_factory(
        idx.avgdl, idx.k1, idx.b, k, "wand", None,
        cand_sets={(0, shard): codec.encode_docid_set(cand)})
    out = kern(lpdf, rpdf)
    assert len(out) == k, f"group emitted {len(out)} rows, want k={k}"
    want = idx.topk_pandas(term, k=1000, mode="or")
    want = want[want["docid"].isin(cand)].head(k)
    assert out.sort_values(["score", "docid"],
                           ascending=[False, True])["docid"].tolist() \
        == want["docid"].tolist()


def test_filtered_kernel_skips_group_without_candidates(spark, idx):
    """A group absent from cand_sets (the shard has no docs matching
    the filter) scores nothing — the skip path that lets a selective
    filter prune whole shards."""
    from sparkfts.query import sj_score_group_factory
    ps = idx._postings.toPandas()
    term = ps["term"].iloc[0]
    lpdf = ps[ps["term"] == term].assign(seg=0)
    rpdf = pd.DataFrame({"qid": ["q1"], "mode": ["or"], "term": [term],
                         "bucket": [0], "qpos": [[0]], "idf": [1.0]})
    kern = sj_score_group_factory(idx.avgdl, idx.k1, idx.b, 5,
                                  "wand", None, cand_sets={})
    assert kern(lpdf, rpdf).empty


def test_search_join_after_cols_pages(spark, idx):
    """Per-query pagination cursors (r7): page 2 by cursor equals rows
    k+1..2k of the unrestricted ranking, per query, with NULL cursors
    starting at page 1."""
    k = 5
    p1 = {qid: idx.topk_pandas(text, k=k, mode=mode)
          for qid, text, mode in QUERIES if mode != "phrase"}
    rows = []
    for qid, text, mode in QUERIES:
        h = p1[qid]
        if len(h):
            rows.append((qid, text, mode,
                         float(h["score"].iloc[-1]),
                         int(h["docid"].iloc[-1])))
        else:
            rows.append((qid, text, mode, None, None))
    qdf = spark.createDataFrame(
        rows, "qid string, query string, mode string, "
              "cur_score double, cur_docid long")
    got = _got_map(idx.search_join(
        qdf, k=k, mode_col="mode",
        after_cols=("cur_score", "cur_docid")).toPandas())
    for qid, text, mode in QUERIES:
        h = p1[qid]
        if len(h):
            want = idx.topk_pandas(
                text, k=k, mode=mode,
                after=(float(h["score"].iloc[-1]),
                       int(h["docid"].iloc[-1])))
        else:
            want = h
        g = got.get(qid)
        if want.empty:
            assert g is None, qid
            continue
        assert g["docid"].tolist() == want["docid"].tolist(), qid
        np.testing.assert_allclose(g["score"], want["score"],
                                   rtol=0, atol=0)


def test_search_join_after_rejects_phrase_cursor(spark, idx):
    qdf = spark.createDataFrame(
        [("p1", "alpha query", "phrase", 1.0, 3)],
        "qid string, query string, mode string, "
        "cur_score double, cur_docid long")
    with pytest.raises(Exception, match="phrase"):
        idx.search_join(qdf, k=3, mode_col="mode",
                        after_cols=("cur_score", "cur_docid")).toPandas()


def test_topk_many_after_pages(idx):
    """topk_many(after=): per-qid cursors; absent qids stay page 1."""
    k = 5
    qs = {qid: (text, mode) for qid, text, mode in QUERIES[:4]}
    p1 = idx.topk_many(qs, k=k)
    cursors = {qid: (float(h["score"].iloc[-1]),
                     int(h["docid"].iloc[-1]))
               for qid, h in p1.items() if len(h) == k and qid != "q_one"}
    p2 = idx.topk_many(qs, k=k, after=cursors)
    for qid, (text, mode) in qs.items():
        if qid in cursors:
            want = idx.topk_pandas(text, k=k, mode=mode,
                                   after=cursors[qid])
        else:
            want = idx.topk_pandas(text, k=k, mode=mode)
        assert p2[qid]["docid"].tolist() == want["docid"].tolist(), qid
        np.testing.assert_allclose(p2[qid]["score"], want["score"],
                                   rtol=0, atol=0)


def test_combined_topk_many_after(spark, combined):
    ci = combined
    qs = {"a": ("alpha query index", "or"), "b": ("merge window", "and")}
    p1 = ci.topk_many(qs, k=4)
    cur = {qid: (float(h["score"].iloc[-1]), int(h["docid"].iloc[-1]))
           for qid, h in p1.items() if len(h)}
    p2 = ci.topk_many(qs, k=4, after=cur)
    for qid, (text, mode) in qs.items():
        want = ci.topk(text, k=4, mode=mode,
                       after=cur.get(qid))
        assert p2[qid]["docid"].tolist() == want["docid"].tolist(), qid
