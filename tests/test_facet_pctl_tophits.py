"""facet_percentiles / facet_top_hits — the ES percentiles agg and
top_hits-under-terms-bucket analogs.

Contract under test:
- facet_percentiles exact == numpy linear-interpolation percentile per
  bucket over the boolean match set (the quantile_cont definition);
  missing (NULL) metrics skipped; global '_all' bucket when by=None;
  the approx (Greenwald-Khanna sketch) path converges to exact at
  high accuracy.
- facet_top_hits: each bucket's hits == topk(filter=<bucket>) — the
  ES contract that _score is the query's global-stats score and
  buckets only group hits; doc_count == bucket match count.
- CombinedIndex twins equal the union recompute and exclude
  tombstones in-kernel.
"""
import glob
import os

import numpy as np
import pandas as pd
import pytest

from sparkfts import BuildConfig, FTSIndex, build_index
from sparkfts.analyzer import tokenize_text
from sparkfts.fixtures import make_transcripts

SEED = 56
Q = "alpha query"


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    pdf = make_transcripts(30, seed=SEED)
    root = str(tmp_path_factory.mktemp("pt"))
    build_index(spark, spark.createDataFrame(pdf), root,
                order_cols=["conv_id", "turn_idx"],
                cfg=BuildConfig(num_shards=3, partitions=3))
    idx = FTSIndex(spark, root)
    return idx, idx._docstore.toPandas()


def _match_set(idx, store, query, mode):
    terms = set(tokenize_text(query, idx.tokenizer))
    toks = store["text"].map(
        lambda t: set(tokenize_text(t, idx.tokenizer)))
    if mode == "and":
        m = toks.map(lambda s: terms <= s)
    else:
        m = toks.map(lambda s: bool(s & terms))
    return store[m]


@pytest.mark.parametrize("mode", ["and", "or"])
def test_percentiles_global_matches_numpy(built, mode):
    idx, store = built
    ps = (25.0, 50.0, 75.0, 99.0)
    got = idx.facet_percentiles(Q, metric="turn_idx", percentiles=ps,
                                mode=mode).toPandas()
    vals = _match_set(idx, store, Q, mode)["turn_idx"] \
        .astype(float).to_numpy()
    assert got["value"].unique().tolist() == ["_all"]
    assert (got["doc_count"] == len(vals)).all()
    assert got["p"].tolist() == list(ps)
    want = np.percentile(vals, ps)            # linear interpolation
    np.testing.assert_allclose(got["pctl"].to_numpy(), want)


def test_percentiles_by_bucket_and_filter(built):
    idx, store = built
    got = idx.facet_percentiles(
        Q, metric="turn_idx", percentiles=(50.0,), by="role",
        filter="turn_idx >= 1", k=10).toPandas()
    hit = _match_set(idx, store, Q, "and")
    hit = hit[hit["turn_idx"] >= 1]
    want = (hit.groupby("role")["turn_idx"]
            .agg(doc_count="size",
                 med=lambda s: np.percentile(s.astype(float), 50.0))
            .reset_index()
            .sort_values(["doc_count", "role"],
                         ascending=[False, True]))
    assert got["value"].tolist() == want["role"].tolist()
    assert got["doc_count"].tolist() == want["doc_count"].tolist()
    np.testing.assert_allclose(got["pctl"].to_numpy(),
                               want["med"].to_numpy())


def test_percentiles_approx_converges(built):
    idx, store = built
    exact = idx.facet_percentiles(Q, metric="turn_idx",
                                  percentiles=(50.0,)).toPandas()
    approx = idx.facet_percentiles(Q, metric="turn_idx",
                                   percentiles=(50.0,), exact=False,
                                   accuracy=100000).toPandas()
    # GK sketch returns an actual data value within 1/accuracy rank
    # error of the true quantile — at this accuracy on this corpus it
    # must be within one step of exact
    vals = np.sort(_match_set(idx, store, Q, "and")["turn_idx"]
                   .astype(float).to_numpy())
    lo = np.searchsorted(vals, exact["pctl"].iloc[0]) - 2
    hi = np.searchsorted(vals, exact["pctl"].iloc[0]) + 2
    window = vals[max(lo, 0):hi]
    assert approx["pctl"].iloc[0] in window


def test_percentiles_validation_and_empty(built):
    idx, _ = built
    with pytest.raises(ValueError):
        idx.facet_percentiles(Q, metric="turn_idx",
                              percentiles=(150.0,))
    assert idx.facet_percentiles("!!!", metric="turn_idx").count() == 0


@pytest.mark.parametrize("mode", ["and", "or"])
def test_top_hits_equals_filtered_topk(built, mode):
    idx, store = built
    got = idx.facet_top_hits(Q, by="role", k_buckets=5, k_hits=3,
                             mode=mode).toPandas()
    hit = _match_set(idx, store, Q, mode)
    cnts = (hit[hit["role"].notna()].groupby("role").size()
            .sort_values(ascending=False))
    assert set(got["value"]) == set(cnts.index)
    for v, g in got.groupby("value"):
        assert (g["doc_count"] == cnts[v]).all()
        want = idx.topk(Q, k=3, mode=mode, method="exact",
                        filter=f"role = '{v}'").toPandas()
        g = g.sort_values("rank")
        assert g["docid"].tolist() == want["docid"].tolist(), v
        np.testing.assert_allclose(g["score"].to_numpy(),
                                   want["score"].to_numpy())


def test_top_hits_bucket_cap_and_expression(built):
    idx, store = built
    got = idx.facet_top_hits(Q, by="CAST(turn_idx / 3 AS INT)",
                             k_buckets=2, k_hits=2).toPandas()
    hit = _match_set(idx, store, Q, "and")
    cnts = (hit.assign(b=(hit["turn_idx"] // 3).astype(int)
                       .astype(str))
            .groupby("b").size().reset_index(name="n")
            .sort_values(["n", "b"], ascending=[False, True]))
    top2 = cnts.head(2)["b"].tolist()
    assert got["value"].unique().tolist() == top2
    assert (got.groupby("value").size() <= 2).all()


def test_combined_twins_and_tombstones(spark, tmp_path_factory):
    from sparkfts.streaming import CombinedIndex, make_batch_indexer
    cfg = BuildConfig(num_shards=2, partitions=2)
    base = make_transcripts(14, seed=SEED)
    delta = make_transcripts(6, seed=SEED + 1)
    root = str(tmp_path_factory.mktemp("pt_comb"))
    build_index(spark, spark.createDataFrame(base), root,
                order_cols=["conv_id", "turn_idx"], cfg=cfg)
    indexer = make_batch_indexer(root, cfg=cfg,
                                 order_cols=["conv_id", "turn_idx"])
    indexer(spark.createDataFrame(delta), batch_id=0)
    ci = CombinedIndex(spark, root)
    store = (pd.concat([s._docstore.toPandas() for s in ci.subs])
             .sort_values("docid").reset_index(drop=True))
    try:
        hit = _match_set(ci.subs[0], store, Q, "and")
        got = ci.facet_percentiles(Q, metric="turn_idx",
                                   percentiles=(50.0,)).toPandas()
        np.testing.assert_allclose(
            got["pctl"].iloc[0],
            np.percentile(hit["turn_idx"].astype(float), 50.0))
        th = ci.facet_top_hits(Q, by="role", k_buckets=3,
                               k_hits=2).toPandas()
        cnts = hit.groupby("role").size()
        for v, g in th.groupby("value"):
            assert (g["doc_count"] == cnts[v]).all()
            want = ci.topk(Q, k=2, mode="and", method="exact",
                           filter=f"role = '{v}'")
            assert g.sort_values("rank")["docid"].tolist() == \
                want["docid"].tolist(), v
        # tombstones leave both aggs in-kernel
        victims = [int(d) for d in th["docid"].head(2)]
        ci.delete_docs(victims)
        surv = hit[~hit["docid"].isin(victims)]
        got2 = ci.facet_percentiles(Q, metric="turn_idx",
                                    percentiles=(50.0,)).toPandas()
        assert got2["doc_count"].iloc[0] == len(surv)
        np.testing.assert_allclose(
            got2["pctl"].iloc[0],
            np.percentile(surv["turn_idx"].astype(float), 50.0))
        th2 = ci.facet_top_hits(Q, by="role", k_buckets=3,
                                k_hits=2).toPandas()
        assert not set(victims) & set(th2["docid"])
        surv_cnts = surv.groupby("role").size()
        for v, n in th2.groupby("value")["doc_count"].first().items():
            assert n == surv_cnts[v], v
    finally:
        from sparkfts.streaming import _tombstone_dir
        for f in glob.glob(os.path.join(_tombstone_dir(ci.base_root),
                                        "*")):
            os.remove(f)


def test_store_plan_partials_batch_size_invariant(spark, tmp_path):
    """The bucket-aggregation kernels see each (segment, shard) group
    whole: on a base + delta + tombstone CombinedIndex every surface
    returns the same frame when the docstore batches hold 7 rows and
    every docstore file is its own split (a shard's docstore spread
    over several tasks) as at the defaults, and the facet count
    partials number at most one per (group, value)."""
    from pyspark.sql import functions as F
    from sparkfts.query import _bool_match, facet_count_group
    from sparkfts.streaming import CombinedIndex, make_batch_indexer
    cfg = BuildConfig(num_shards=2, partitions=2)
    root = str(tmp_path / "bs")
    build_index(spark, spark.createDataFrame(
                    make_transcripts(14, seed=SEED)),
                root, order_cols=["conv_id", "turn_idx"], cfg=cfg)
    make_batch_indexer(root, cfg=cfg, order_cols=["conv_id", "turn_idx"])(
        spark.createDataFrame(make_transcripts(6, seed=SEED + 1)),
        batch_id=0)
    # a shard's docstore is several files, each its own split below
    files = glob.glob(os.path.join(root, "docstore", "shard=*", "*.parquet"))
    assert len(files) > cfg.num_shards
    ci = CombinedIndex(spark, root)
    ci.delete_docs([int(d) for d in ci.topk(Q, k=3, mode="or")["docid"]])
    calls = {
        "facet_counts": lambda: ci.facet_counts(
            Q, by="role", mode="or").toPandas(),
        "facet_metrics": lambda: ci.facet_metrics(
            Q, by="role", metric="turn_idx", mode="or").toPandas(),
        "facet_percentiles": lambda: ci.facet_percentiles(
            Q, metric="turn_idx", by="role", mode="or",
            exact=True).toPandas(),
        "facet_top_hits": lambda: ci.facet_top_hits(
            Q, by="role", k_hits=4, mode="or").toPandas(),
        "sorted_search": lambda: ci.sorted_search(
            Q, by="turn_idx", k=25, mode="or").toPandas(),
        "facet_cardinality": lambda: ci.facet_cardinality(
            Q, by="turn_idx", mode="or", exact=True),
    }
    want = {name: call() for name, call in calls.items()}
    small = {"spark.sql.execution.arrow.maxRecordsPerBatch": "7",
             "spark.sql.files.maxPartitionBytes": "1k"}
    old = {key: spark.conf.get(key) for key in small}
    for key, v in small.items():
        spark.conf.set(key, v)
    try:
        got = {name: call() for name, call in calls.items()}
        terms = ci._terms(Q)
        part = ci._store_plan(
            terms, None, None, [F.col("role").alias("value")],
            _bool_match("or", len(terms), ci._excl()),
            facet_count_group, "value string, cnt long").toPandas()
    finally:
        for key, v in old.items():
            spark.conf.set(key, v)
    assert part.groupby("value").size().max() <= len(ci._listed())
    assert (part.groupby("value")["cnt"].sum().sort_index().tolist()
            == want["facet_counts"].set_index("value")["doc_count"]
            .sort_index().tolist())
    assert len(want["facet_top_hits"]) > 0
    assert want["facet_cardinality"] > 1
    for name in calls:
        if name == "facet_cardinality":
            assert got[name] == want[name]
        else:
            pd.testing.assert_frame_equal(got[name], want[name],
                                          obj=name)
