"""Filtered search + facet counts (the ES bool-filter and
terms-aggregation analogs).

Contract under test:
- topk(filter=) equals the UNRESTRICTED ranking filtered to docs
  satisfying the predicate (BM25 stats stay global), for or/and,
  on FTSIndex and CombinedIndex, composed with org on routed builds.
- match_docids(filter=) equals the boolean match intersected with the
  predicate's docid set.
- phrase_topk(filter=) equals the unrestricted phrase ranking filtered
  to the predicate's docids.
- facet_counts equals a pandas recompute over (match ∩ filter), NULL
  facet values uncounted, ordered (count desc, value asc), top k.
"""
import numpy as np
import pandas as pd
import pytest

from sparkfts import BuildConfig, FTSIndex, build_index
from sparkfts.fixtures import make_transcripts


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    pdf = make_transcripts(40, seed=77)
    root = str(tmp_path_factory.mktemp("flt_idx"))
    build_index(spark, spark.createDataFrame(pdf), root,
                order_cols=["conv_id", "turn_idx"],
                cfg=BuildConfig(num_shards=3, partitions=3))
    return FTSIndex(spark, root)


@pytest.fixture(scope="module")
def store(idx):
    return idx._docstore.toPandas()


def _expected_filtered(idx, query, k, mode, keep_ids):
    """Unrestricted full ranking, filtered to keep_ids, head(k)."""
    full = idx.topk_pandas(query, k=10 ** 9, mode=mode, method="exact")
    out = full[full["docid"].isin(keep_ids)].head(k)
    return out.reset_index(drop=True)


FILTERS = [
    ("role = 'user'", lambda s: s["role"] == "user"),
    ("role IN ('tool', 'assistant')",
     lambda s: s["role"].isin(["tool", "assistant"])),
    ("turn_idx >= 10", lambda s: s["turn_idx"] >= 10),
    ("role = 'user' AND turn_idx < 5",
     lambda s: (s["role"] == "user") & (s["turn_idx"] < 5)),
]


@pytest.mark.parametrize("mode", ["or", "and"])
def test_topk_filter_equals_postfiltered_ranking(idx, store, mode):
    for sql, pyf in FILTERS:
        keep = set(store.loc[pyf(store), "docid"])
        got = idx.topk_pandas("alpha query index", k=8, mode=mode,
                              filter=sql)
        want = _expected_filtered(idx, "alpha query index", 8, mode,
                                  keep)
        assert got["docid"].tolist() == want["docid"].tolist(), sql
        np.testing.assert_allclose(got["score"], want["score"],
                                   rtol=0, atol=1e-9, err_msg=sql)


def test_topk_filter_no_match_is_empty(idx):
    out = idx.topk_pandas("alpha", k=5, filter="role = 'nosuchrole'")
    assert out.empty


def test_topk_filter_empty_query_is_empty(idx):
    out = idx.topk_pandas("!!! ...", k=5, filter="role = 'user'")
    assert out.empty


def test_topk_filter_accepts_column(idx, store):
    from pyspark.sql import functions as F
    keep = set(store.loc[store["role"] == "user", "docid"])
    got = idx.topk_pandas("alpha query", k=6,
                          filter=F.col("role") == "user")
    want = _expected_filtered(idx, "alpha query", 6, "or", keep)
    assert got["docid"].tolist() == want["docid"].tolist()


def test_match_docids_filter(idx, store):
    base = idx.match_docids("merge window", mode="and") \
        .toPandas()["docid"]
    keep = set(store.loc[store["role"] == "user", "docid"])
    got = idx.match_docids("merge window", mode="and",
                           filter="role = 'user'").toPandas()["docid"]
    assert got.tolist() == sorted(set(base) & keep)


def test_phrase_topk_filter(idx, store):
    phrase = "nightly index snapshot"
    full = idx.phrase_topk(phrase, k=10 ** 9).toPandas()
    keep = set(store.loc[store["turn_idx"] >= 3, "docid"])
    want = (full[full["docid"].isin(keep)].head(6)
            .reset_index(drop=True))
    got = idx.phrase_topk(phrase, k=6,
                          filter="turn_idx >= 3").toPandas()
    assert got["docid"].tolist() == want["docid"].tolist()
    np.testing.assert_allclose(got["score"], want["score"],
                               rtol=0, atol=1e-9)


def _facet_expected(idx, store, query, by, mode, k, pyf=None):
    matched = set(idx.match_docids(query, mode=mode)
                  .toPandas()["docid"])
    sub = store[store["docid"].isin(matched)]
    if pyf is not None:
        sub = sub[pyf(sub)]
    vals = sub[by].dropna().astype(str)
    vc = vals.value_counts()
    exp = (pd.DataFrame({"value": vc.index, "doc_count": vc.to_numpy()})
           .sort_values(["doc_count", "value"],
                        ascending=[False, True]).head(k)
           .reset_index(drop=True))
    return exp


@pytest.mark.parametrize("mode", ["or", "and"])
def test_facet_counts_match_pandas(idx, store, mode):
    got = idx.facet_counts("alpha query", by="role", k=10,
                           mode=mode).toPandas()
    exp = _facet_expected(idx, store, "alpha query", "role", mode, 10)
    assert got["value"].tolist() == exp["value"].tolist()
    assert got["doc_count"].tolist() == exp["doc_count"].tolist()


def test_facet_counts_with_filter(idx, store):
    got = idx.facet_counts("alpha query", by="role", k=10, mode="or",
                           filter="turn_idx >= 10").toPandas()
    exp = _facet_expected(idx, store, "alpha query", "role", "or", 10,
                          pyf=lambda s: s["turn_idx"] >= 10)
    assert got["value"].tolist() == exp["value"].tolist()
    assert got["doc_count"].tolist() == exp["doc_count"].tolist()


def test_facet_counts_null_values_uncounted(idx, store):
    """tool is NULL on non-tool turns — facet by tool counts only
    docs with a value (ES terms-agg default)."""
    got = idx.facet_counts("alpha", by="tool", k=20,
                           mode="or").toPandas()
    exp = _facet_expected(idx, store, "alpha", "tool", "or", 20)
    assert got["value"].tolist() == exp["value"].tolist()
    assert got["doc_count"].tolist() == exp["doc_count"].tolist()


def test_facet_counts_k_limits(idx):
    got = idx.facet_counts("alpha", by="role", k=2).toPandas()
    assert len(got) <= 2


def test_facet_counts_empty_query(idx):
    assert idx.facet_counts("??", by="role").toPandas().empty


# ------------------------------------------------------------------ #
# routed composition: filter × org                                    #
# ------------------------------------------------------------------ #

@pytest.fixture(scope="module")
def ridx(spark, tmp_path_factory):
    pdf = make_transcripts(30, seed=78)
    orgs = sorted(pdf["conv_id"].unique())
    pdf["org"] = pdf["conv_id"].map(lambda c: f"o{orgs.index(c) % 3}")
    root = str(tmp_path_factory.mktemp("flt_routed"))
    build_index(spark, spark.createDataFrame(pdf), root,
                order_cols=["conv_id", "turn_idx"],
                cfg=BuildConfig(num_shards=4, partitions=4,
                                routing_col="org", shards_per_org=2))
    return FTSIndex(spark, root)


def test_topk_filter_composes_with_org(ridx):
    rstore = ridx._docstore.toPandas()
    keep = set(rstore.loc[(rstore["org"] == "o1")
                          & (rstore["role"] == "user"), "docid"])
    full = ridx.topk_pandas("alpha query index", k=10 ** 9, mode="or",
                            method="exact")
    want = (full[full["docid"].isin(keep)].head(7)
            .reset_index(drop=True))
    got = ridx.topk_pandas("alpha query index", k=7, mode="or",
                           org="o1", filter="role = 'user'")
    assert got["docid"].tolist() == want["docid"].tolist()
    np.testing.assert_allclose(got["score"], want["score"],
                               rtol=0, atol=1e-9)


def test_facet_counts_org_scoped(ridx):
    rstore = ridx._docstore.toPandas()
    matched = set(ridx.match_docids("alpha query", mode="or", org="o2")
                  .toPandas()["docid"])
    sub = rstore[rstore["docid"].isin(matched)]
    vals = sub["role"].dropna().astype(str)
    vc = vals.value_counts()
    exp = (pd.DataFrame({"value": vc.index,
                         "doc_count": vc.to_numpy()})
           .sort_values(["doc_count", "value"],
                        ascending=[False, True]).head(10)
           .reset_index(drop=True))
    got = ridx.facet_counts("alpha query", by="role", k=10, mode="or",
                            org="o2").toPandas()
    assert got["value"].tolist() == exp["value"].tolist()
    assert got["doc_count"].tolist() == exp["doc_count"].tolist()


# ------------------------------------------------------------------ #
# streaming: CombinedIndex filter + facets                            #
# ------------------------------------------------------------------ #

@pytest.fixture(scope="module")
def combined(spark, tmp_path_factory):
    from sparkfts.streaming import CombinedIndex, make_batch_indexer
    cfg = BuildConfig(num_shards=2, partitions=2)
    root = str(tmp_path_factory.mktemp("flt_stream"))
    build_index(spark,
                spark.createDataFrame(make_transcripts(12, seed=79)),
                root, order_cols=["conv_id", "turn_idx"], cfg=cfg)
    idxer = make_batch_indexer(root, cfg=cfg)
    for i, seed in enumerate((80, 81)):
        idxer(spark.createDataFrame(make_transcripts(4, seed=seed)),
              batch_id=i)
    return CombinedIndex(spark, root)


def _combined_store(combined):
    return pd.concat([s._docstore.toPandas() for s in combined.subs],
                     ignore_index=True)


def test_combined_topk_filter(combined):
    cstore = _combined_store(combined)
    keep = set(cstore.loc[cstore["role"] == "user", "docid"])
    full = combined.topk("alpha query index", k=10 ** 9, mode="or",
                         method="exact")
    want = (full[full["docid"].isin(keep)].head(7)
            .reset_index(drop=True))
    got = combined.topk("alpha query index", k=7, mode="or",
                        filter="role = 'user'")
    assert got["docid"].tolist() == want["docid"].tolist()
    np.testing.assert_allclose(got["score"], want["score"],
                               rtol=0, atol=1e-9)


def test_combined_facet_counts(combined):
    cstore = _combined_store(combined)
    matched = set(combined.match_docids("alpha query", mode="or")
                  ["docid"])
    sub = cstore[cstore["docid"].isin(matched)]
    vals = sub["role"].dropna().astype(str)
    vc = vals.value_counts()
    exp = (pd.DataFrame({"value": vc.index,
                         "doc_count": vc.to_numpy()})
           .sort_values(["doc_count", "value"],
                        ascending=[False, True]).head(10)
           .reset_index(drop=True))
    got = combined.facet_counts("alpha query", by="role", k=10,
                                mode="or").toPandas()
    assert got["value"].tolist() == exp["value"].tolist()
    assert got["doc_count"].tolist() == exp["doc_count"].tolist()


# ------------------------------------------------------------------ #
# search_join(filter=): batch restriction                             #
# ------------------------------------------------------------------ #

def test_search_join_filter_matches_single_query(idx, store, spark):
    """Filtered batch rows are rank- and score-identical to the
    corresponding topk(filter=) / phrase_topk(filter=) calls."""
    flt = "role = 'user'"
    qdf = spark.createDataFrame(
        [("a", "alpha query index", "or"),
         ("b", "merge window", "and"),
         ("p", "nightly index snapshot", "phrase"),
         ("none", "zzzunseenterm", "or")],
        "qid string, query string, mode string")
    res = (idx.search_join(qdf, k=6, mode_col="mode", filter=flt)
           .toPandas())
    got = {qid: g.sort_values("rank")[["docid", "score"]]
           .reset_index(drop=True) for qid, g in res.groupby("qid")}
    for qid, text, mode in (("a", "alpha query index", "or"),
                            ("b", "merge window", "and")):
        want = idx.topk_pandas(text, k=6, mode=mode, filter=flt)
        g = got.get(qid)
        if want.empty:
            assert g is None, qid
            continue
        assert g["docid"].tolist() == want["docid"].tolist(), qid
        np.testing.assert_allclose(g["score"], want["score"], rtol=0,
                                   atol=1e-9, err_msg=qid)
    wantp = idx.phrase_topk("nightly index snapshot", k=6,
                            filter=flt).toPandas()
    gp = got.get("p")
    if wantp.empty:
        assert gp is None
    else:
        assert gp["docid"].tolist() == wantp["docid"].tolist()
        np.testing.assert_allclose(gp["score"], wantp["score"],
                                   rtol=0, atol=1e-9)
    assert "none" not in got


def test_combined_search_join_filter(combined, spark):
    flt = "turn_idx >= 2"
    qdf = spark.createDataFrame(
        [("a", "alpha query index", "or"), ("b", "alpha index", "and")],
        "qid string, query string, mode string")
    res = (combined.search_join(qdf, k=5, mode_col="mode", filter=flt)
           .toPandas())
    got = {qid: g.sort_values("rank")[["docid", "score"]]
           .reset_index(drop=True) for qid, g in res.groupby("qid")}
    for qid, text, mode in (("a", "alpha query index", "or"),
                            ("b", "alpha index", "and")):
        want = combined.topk(text, k=5, mode=mode, filter=flt) \
            .reset_index(drop=True)
        g = got.get(qid)
        if want.empty:
            assert g is None, qid
            continue
        assert g["docid"].tolist() == want["docid"].tolist(), qid
        np.testing.assert_allclose(g["score"], want["score"], rtol=0,
                                   atol=1e-9, err_msg=qid)


# ------------------------------------------------------------------ #
# expression facets (date_histogram / range-agg analogs)              #
# ------------------------------------------------------------------ #

def test_facet_counts_expression_bucket(idx, store):
    """by= accepts a SQL expression — integer bucketing (range agg)."""
    got = idx.facet_counts("alpha", by="CAST(FLOOR(turn_idx / 10) AS INT)",
                           k=20, mode="or").toPandas()
    matched = set(idx.match_docids("alpha", mode="or")
                  .toPandas()["docid"])
    sub = store[store["docid"].isin(matched)]
    vals = (sub["turn_idx"] // 10).astype(int).astype(str)
    vc = vals.value_counts()
    exp = (pd.DataFrame({"value": vc.index, "doc_count": vc.to_numpy()})
           .sort_values(["doc_count", "value"],
                        ascending=[False, True]).head(20)
           .reset_index(drop=True))
    assert got["value"].tolist() == exp["value"].tolist()
    assert got["doc_count"].tolist() == exp["doc_count"].tolist()


def test_facet_counts_expression_date_histogram(idx, store):
    """date_trunc expression == the ES date_histogram agg."""
    got = idx.facet_counts(
        "alpha", by="CAST(date_trunc('day', ts) AS DATE)", k=50,
        mode="or").toPandas()
    matched = set(idx.match_docids("alpha", mode="or")
                  .toPandas()["docid"])
    sub = store[store["docid"].isin(matched)]
    vals = pd.to_datetime(sub["ts"]).dt.strftime("%Y-%m-%d")
    vc = vals.value_counts()
    exp = (pd.DataFrame({"value": vc.index, "doc_count": vc.to_numpy()})
           .sort_values(["doc_count", "value"],
                        ascending=[False, True]).head(50)
           .reset_index(drop=True))
    assert got["value"].tolist() == exp["value"].tolist()
    assert got["doc_count"].tolist() == exp["doc_count"].tolist()


# ------------------------------------------------------------------ #
# topk_many(filter=): batched bool-filter restriction (r6)            #
# ------------------------------------------------------------------ #

def test_topk_many_filter_matches_single_query(idx, spark):
    """Batched filtered top-k equals the per-query topk(filter=) calls
    — rank AND score — on the FTSIndex handle."""
    flt = "role = 'user'"
    qs = {"a": ("alpha query index", "or"),
          "b": ("merge window", "and"),
          "none": ("zzzunseenterm", "or")}
    got = idx.topk_many(qs, k=6, filter=flt)
    for qid, (q, mode) in qs.items():
        want = idx.topk_pandas(q, k=6, mode=mode, filter=flt)
        g = got[qid]
        assert g["docid"].tolist() == want["docid"].tolist(), qid
        np.testing.assert_allclose(g["score"], want["score"], rtol=0,
                                   atol=1e-9, err_msg=qid)


def test_combined_topk_many_filter(combined, spark):
    """Streaming twin: batched filtered top-k over base + deltas
    equals per-query CombinedIndex.topk(filter=)."""
    flt = "turn_idx >= 2"
    qs = {"a": ("alpha query index", "or"),
          "b": ("alpha index", "and")}
    got = combined.topk_many(qs, k=5, filter=flt)
    for qid, (q, mode) in qs.items():
        want = combined.topk(q, k=5, mode=mode, filter=flt) \
            .reset_index(drop=True)
        g = got[qid]
        assert g["docid"].tolist() == want["docid"].tolist(), qid
        np.testing.assert_allclose(g["score"], want["score"], rtol=0,
                                   atol=1e-9, err_msg=qid)


def _metrics_expected(idx, store, query, by, metric, mode, k,
                      pyf=None):
    matched = set(idx.match_docids(query, mode=mode)
                  .toPandas()["docid"])
    sub = store[store["docid"].isin(matched)]
    if pyf is not None:
        sub = sub[pyf(sub)]
    sub = sub[sub[by].notna()]
    g = sub.assign(value=sub[by].astype(str)).groupby("value")
    exp = g.agg(doc_count=("docid", "size"),
                metric_count=(metric, "count"),
                min=(metric, "min"), max=(metric, "max"),
                sum=(metric, "sum")).reset_index()
    exp["avg"] = exp["sum"] / exp["metric_count"]
    return (exp.sort_values(["doc_count", "value"],
                            ascending=[False, True]).head(k)
            .reset_index(drop=True))


@pytest.mark.parametrize("mode", ["or", "and"])
def test_facet_metrics_match_pandas(idx, store, mode):
    """facet_metrics (r7, the ES stats agg under a terms bucket):
    per-bucket count/metric_count/min/max/sum/avg equal a pandas
    recompute; avg exact (combined sums, never averaged averages)."""
    got = idx.facet_metrics("alpha query", by="role",
                            metric="turn_idx", k=10,
                            mode=mode).toPandas()
    exp = _metrics_expected(idx, store, "alpha query", "role",
                            "turn_idx", mode, 10)
    assert got["value"].tolist() == exp["value"].tolist()
    for c in ["doc_count", "metric_count"]:
        assert got[c].tolist() == exp[c].tolist()
    for c in ["min", "max", "sum", "avg"]:
        np.testing.assert_allclose(got[c], exp[c], rtol=0, atol=1e-9)


def test_facet_metrics_filter_and_expression(idx, store):
    """filter= composes; metric may be a SQL expression."""
    got = idx.facet_metrics("alpha query", by="role",
                            metric="turn_idx * 2", k=10, mode="or",
                            filter="turn_idx >= 5").toPandas()
    sub = store.assign(m2=store["turn_idx"] * 2)
    exp = _metrics_expected(idx, sub, "alpha query", "role", "m2",
                            "or", 10, pyf=lambda s: s["turn_idx"] >= 5)
    assert got["value"].tolist() == exp["value"].tolist()
    np.testing.assert_allclose(got["sum"], exp["sum"], atol=1e-9)
    np.testing.assert_allclose(got["avg"], exp["avg"], atol=1e-9)


def test_facet_metrics_null_metric_handling(idx, store):
    """A bucket whose docs all lack the metric (tool NULL off tool
    turns) keeps its doc_count but reports NULL stats; buckets with
    partial coverage count only present values."""
    got = idx.facet_metrics("alpha", by="role",
                            metric="LENGTH(tool)", k=20,
                            mode="or").toPandas()
    sub = store.assign(mlen=store["tool"].str.len().astype("float"))
    exp = _metrics_expected(idx, sub, "alpha", "role", "mlen",
                            "or", 20)
    assert got["value"].tolist() == exp["value"].tolist()
    assert got["metric_count"].tolist() == exp["metric_count"].tolist()
    for g_row, e_row in zip(got.itertuples(), exp.itertuples()):
        if e_row.metric_count == 0:
            assert pd.isna(g_row.min) and pd.isna(g_row.avg)
        else:
            assert abs(g_row.sum - e_row.sum) < 1e-9


# ------------------------------------------------------------------ #
# filter docid sets: one-stage plan and per-handle memo               #
# ------------------------------------------------------------------ #

def _jobs_and_stages(spark, group, call):
    """Run ``call`` under a job group → (result, [stages per job])."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        got = call()
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    return got, [len(tracker.getJobInfo(j).stageIds)
                 for j in sorted(tracker.getJobIdsForGroup(group))]


@pytest.mark.parametrize("kind", ["fts", "combined"])
def test_filtered_topk_memo_single_stage(spark, idx, combined, kind):
    """A filtered topk on a fresh handle runs two one-stage jobs (the
    candidate-set scan, then the fan-out) and memoizes the sets; the
    repeat runs only the fan-out, one job with one stage — neither
    plan has an Exchange."""
    from sparkfts.streaming import CombinedIndex
    h = (FTSIndex(spark, idx.root) if kind == "fts"
         else CombinedIndex(spark, combined.base_root))

    def call():
        return h.topk_pandas("alpha query index", k=5,
                             filter="role = 'user'")

    first, stages = _jobs_and_stages(spark, f"flt-cold-{kind}", call)
    assert stages == [1, 1], stages
    c = h.read_counters()
    assert c["filter_sets_computed"] == len(h.subs)
    assert c["filter_sets_cached"] == 0
    again, stages = _jobs_and_stages(spark, f"flt-warm-{kind}", call)
    assert stages == [1], stages
    c = h.read_counters()
    assert c["filter_sets_computed"] == len(h.subs)
    assert c["filter_sets_cached"] == len(h.subs)
    assert len(first) == 5
    pd.testing.assert_frame_equal(first, again)


def test_filter_memo_keys_per_predicate(spark, idx, store):
    """Two string predicates on one handle keep their own sets; a Column
    predicate is never memoized and computes on every call."""
    from pyspark.sql import functions as F
    h = FTSIndex(spark, idx.root)
    q = "alpha query index"
    for _ in range(2):
        for sql, pyf in FILTERS[:2]:
            keep = set(store.loc[pyf(store), "docid"])
            got = h.topk_pandas(q, k=6, filter=sql)
            want = _expected_filtered(idx, q, 6, "or", keep)
            assert got["docid"].tolist() == want["docid"].tolist(), sql
    c = h.read_counters()
    assert (c["filter_sets_computed"], c["filter_sets_cached"]) == (2, 2)
    keep = set(store.loc[store["role"] == "user", "docid"])
    want = _expected_filtered(idx, q, 6, "or", keep)
    for _ in range(2):
        got = h.topk_pandas(q, k=6, filter=F.col("role") == "user")
        assert got["docid"].tolist() == want["docid"].tolist()
    c = h.read_counters()
    assert (c["filter_sets_computed"], c["filter_sets_cached"]) == (4, 2)


def test_filter_memo_honours_later_tombstones(spark, tmp_path):
    """Sets never hold tombstones: a doc deleted after the memo filled
    leaves topk(filter=) and count(filter=) at once."""
    from sparkfts.streaming import CombinedIndex, make_batch_indexer
    cfg = BuildConfig(num_shards=2, partitions=2)
    root = str(tmp_path / "tomb")
    build_index(spark, spark.createDataFrame(make_transcripts(10, seed=91)),
                root, order_cols=["conv_id", "turn_idx"], cfg=cfg)
    make_batch_indexer(root, cfg=cfg)(
        spark.createDataFrame(make_transcripts(4, seed=92)), batch_id=0)
    ci = CombinedIndex(spark, root)
    q, flt = "alpha query index", "role = 'user'"
    before = ci.topk(q, k=5, filter=flt)
    n_before = ci.count(q, mode="or", filter=flt)
    assert len(before) == 5
    gone = int(before["docid"].iloc[0])
    assert ci.delete_docs([gone]) == 1
    cached = ci.read_counters()["filter_sets_cached"]
    after = ci.topk(q, k=5, filter=flt)
    assert gone not in set(after["docid"])
    assert after["docid"].tolist()[:4] == before["docid"].tolist()[1:]
    assert ci.count(q, mode="or", filter=flt) == n_before - 1
    c = ci.read_counters()
    assert c["filter_sets_computed"] == len(ci.subs)
    assert c["filter_sets_cached"] == cached + 2 * len(ci.subs)


# ------------------------------------------------------------------ #
# bucket aggregations and search_join(filter=): no grouped-map plans  #
# ------------------------------------------------------------------ #

STORE_PLANS = {
    "facet_counts": lambda h: h.facet_counts("alpha query", by="role",
                                             mode="or"),
    "sorted_search": lambda h: h.sorted_search("alpha query",
                                               by="turn_idx", mode="or"),
    "facet_top_hits": lambda h: h.facet_top_hits("alpha query",
                                                 by="role", mode="or"),
}


@pytest.mark.parametrize("kind", ["fts", "combined"])
@pytest.mark.parametrize("surface", sorted(STORE_PLANS))
def test_store_plan_is_map_in_arrow(idx, combined, kind, surface):
    """Bucket aggregations read postings inside one mapInArrow stage
    over the docstore slice: no cogroup of postings with docstore."""
    h = idx if kind == "fts" else combined
    sdf = STORE_PLANS[surface](h)
    assert sdf.count() > 0
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan, plan
    assert "FlatMapCoGroupsInPandas" not in plan, plan


def test_search_join_filter_uses_memo(spark, idx):
    """search_join(filter=) takes its candidate sets from the handle's
    filter memo, the sets topk(filter=) uses: a repeat is served from
    it, and no grouped-map encoder sits in the plan."""
    h = FTSIndex(spark, idx.root)
    qdf = spark.createDataFrame([("a", "alpha query index")],
                                "qid string, query string")
    flt = "role = 'user'"
    first = h.search_join(qdf, k=5, filter=flt).toPandas()
    sdf = h.search_join(qdf, k=5, filter=flt)
    c = h.read_counters()
    assert (c["filter_sets_computed"], c["filter_sets_cached"]) == (1, 1)
    pd.testing.assert_frame_equal(sdf.toPandas(), first)
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan, plan
    want = h.topk_pandas("alpha query index", k=5, filter=flt)
    assert first.sort_values("rank")["docid"].tolist() == \
        want["docid"].tolist()
