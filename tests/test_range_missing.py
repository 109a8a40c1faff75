"""Range + missing aggregations (ES range agg / missing agg).

Contract under test (public ES DSL):
- facet_range: explicit (from, to) buckets, from-INCLUSIVE /
  to-EXCLUSIVE, None = open end; one row per requested bucket in the
  caller's order, empty buckets at 0; overlapping buckets each count
  the doc; NULL metrics count nowhere.
- facet_missing: matched docs whose field is NULL.
- One facet pass each (composite-key encoding for overlap);
  CombinedIndex twins are union-global and honor tombstones.
"""
import numpy as np
import pandas as pd
import pytest

from sparkfts import BuildConfig, FTSIndex, build_index
from sparkfts.analyzer import tokenize_text
from sparkfts.fixtures import make_transcripts

SEED = 7817


@pytest.fixture(scope="module")
def corpus():
    return make_transcripts(25, seed=SEED)


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory, corpus):
    root = str(tmp_path_factory.mktemp("rng_idx"))
    build_index(spark, spark.createDataFrame(corpus), root,
                order_cols=["conv_id", "turn_idx"],
                cfg=BuildConfig(num_shards=2, partitions=2))
    return FTSIndex(spark, root)


@pytest.fixture(scope="module")
def store(idx):
    return idx._docstore.toPandas()


def _matching(idx, store, query, mode="and"):
    terms = set(tokenize_text(query, idx.tokenizer))
    toks = store["text"].map(
        lambda t: set(tokenize_text(t, idx.tokenizer)))
    m = (toks.map(lambda s: terms <= s) if mode == "and"
         else toks.map(lambda s: bool(s & terms)))
    return store[m.values]


RANGES = [(None, 5), (5, 15), (10, 30), (30, None)]   # overlapping


def _expected(vals, ranges):
    vals = pd.Series(vals).dropna().astype(float)
    rows = []
    for fr, to in ranges:
        key = (("*" if fr is None else f"{float(fr):g}") + "-"
               + ("*" if to is None else f"{float(to):g}"))
        m = pd.Series(True, index=vals.index)
        if fr is not None:
            m &= vals >= fr
        if to is not None:
            m &= vals < to
        rows.append((key, int(m.sum())))
    return rows


def test_range_matches_recount_with_overlap(idx, store):
    q = "alpha bravo"
    m = _matching(idx, store, q, "and")
    want = _expected(m["turn_idx"], RANGES)
    got = idx.facet_range(q, on="turn_idx", ranges=RANGES,
                          mode="and").toPandas()
    assert list(map(tuple, got.itertuples(index=False))) == want
    # overlap sanity: ranges (5,15) and (10,30) double-count 10-14
    tot = sum(c for _, c in want)
    assert tot >= len(m)


def test_range_empty_open_null_and_errors(idx, store):
    q = "alpha"
    m = _matching(idx, store, q, "or")
    # empty bucket present at 0 in caller's order
    ranges = [(1000, None), (None, 1000)]
    got = idx.facet_range(q, on="turn_idx", ranges=ranges,
                          mode="or").toPandas()
    assert got["key"].tolist() == ["1000-*", "*-1000"]
    assert got["doc_count"].tolist() == [0, len(m)]
    # NULLs count nowhere
    got2 = idx.facet_range(q, on="nullif(turn_idx, 0)",
                           ranges=[(None, None if False else 10 ** 9)],
                           mode="or").toPandas()
    assert got2["doc_count"].iloc[0] == int((m["turn_idx"] != 0).sum())
    with pytest.raises(ValueError, match="from or to"):
        idx.facet_range(q, on="turn_idx", ranges=[(None, None)])
    with pytest.raises(ValueError, match="duplicate"):
        idx.facet_range(q, on="turn_idx", ranges=[(0, 5), (0, 5)])


def test_missing_matches_recount(idx, store):
    q = "alpha"
    m = _matching(idx, store, q, "or")
    want = int(m["tool"].isna().sum())
    assert idx.facet_missing(q, by="tool", mode="or") == want
    assert idx.facet_missing(q, by="turn_idx", mode="or") == 0
    flt = int(m.loc[m["role"] == "user", "tool"].isna().sum())
    assert idx.facet_missing(q, by="tool", mode="or",
                             filter="role = 'user'") == flt


@pytest.mark.slow
def test_combined_range_missing_with_tombstones(spark,
                                                tmp_path_factory):
    import glob as _glob
    import os as _os
    from sparkfts.streaming import (CombinedIndex, make_batch_indexer,
                                    _tombstone_dir)
    cfg = BuildConfig(num_shards=2, partitions=2)
    root = str(tmp_path_factory.mktemp("rng_comb"))
    build_index(spark,
                spark.createDataFrame(make_transcripts(10, seed=SEED)),
                root, order_cols=["conv_id", "turn_idx"], cfg=cfg)
    indexer = make_batch_indexer(root, cfg=cfg,
                                 order_cols=["conv_id", "turn_idx"])
    indexer(spark.createDataFrame(make_transcripts(4, seed=SEED + 1)),
            batch_id=0)
    ci = CombinedIndex(spark, root)
    try:
        store = pd.concat([s._docstore.toPandas() for s in ci.subs],
                          ignore_index=True)
        toks = store["text"].map(
            lambda t: set(tokenize_text(t, ci.tokenizer)))
        m = store[toks.map(lambda s: "alpha" in s).values]
        victims = m["docid"].head(3).astype(int).tolist()
        ci.delete_docs(victims)
        m = m[~m["docid"].isin(victims)]
        want = _expected(m["turn_idx"], RANGES)
        got = ci.facet_range("alpha", on="turn_idx", ranges=RANGES,
                             mode="or").toPandas()
        assert list(map(tuple, got.itertuples(index=False))) == want
        assert ci.facet_missing("alpha", by="tool", mode="or") == \
            int(m["tool"].isna().sum())
    finally:
        for f in _glob.glob(_os.path.join(_tombstone_dir(ci.base_root),
                                          "*")):
            _os.remove(f)


@pytest.mark.slow
def test_cli_range_and_missing(idx, capsys, monkeypatch, spark):
    import json
    from sparkfts.cli import main
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    rc = main(["--master", "local[2]", "agg", "--index", idx.root,
               "--q", "alpha", "--what", "range", "--metric",
               "turn_idx", "--ranges", "*:5,5:15,15:*",
               "--mode", "or"])
    out = capsys.readouterr().out.strip().splitlines()
    rows = [json.loads(l) for l in out if l.startswith("{")]
    want = idx.facet_range("alpha", on="turn_idx",
                           ranges=[(None, 5), (5, 15), (15, None)],
                           mode="or").collect()
    assert rc == 0
    assert [(r["key"], r["doc_count"]) for r in rows] == \
        [(r["key"], r["doc_count"]) for r in want]
    rc = main(["--master", "local[2]", "agg", "--index", idx.root,
               "--q", "alpha", "--what", "missing", "--metric",
               "tool", "--mode", "or"])
    out = capsys.readouterr().out.strip().splitlines()
    row = json.loads([l for l in out if l.startswith("{")][0])
    assert rc == 0
    assert row["missing"] == idx.facet_missing("alpha", by="tool",
                                               mode="or")
    import pytest as _pt
    with _pt.raises(SystemExit):
        main(["--master", "local[2]", "agg", "--index", idx.root,
              "--q", "alpha", "--what", "range", "--metric",
              "turn_idx"])


FILTERS = {"users": "role = 'user'",
           "late": "turn_idx >= 10",
           "none": "turn_idx < 0"}


def test_filters_agg_matches_recount(idx, store):
    """ES filters agg: named overlapping predicate buckets, caller's
    order, empty buckets at 0."""
    q = "alpha"
    m = _matching(idx, store, q, "or")
    want = [("users", int((m["role"] == "user").sum())),
            ("late", int((m["turn_idx"] >= 10).sum())),
            ("none", 0)]
    got = idx.facet_filters(q, FILTERS, mode="or").toPandas()
    assert list(map(tuple, got.itertuples(index=False))) == want
    # overlap: a user doc with turn_idx >= 10 counts in both
    both = int(((m["role"] == "user") & (m["turn_idx"] >= 10)).sum())
    assert both > 0                 # fixture sanity
    # composes with filter= (conjunction)
    got2 = idx.facet_filters(q, {"users": "role = 'user'"},
                             mode="or",
                             filter="turn_idx >= 10").toPandas()
    assert got2["doc_count"].iloc[0] == both
    with pytest.raises(ValueError, match="at least one"):
        idx.facet_filters(q, {})
    with pytest.raises(ValueError, match="must not contain"):
        idx.facet_filters(q, {"a|b": "role = 'user'"})


def test_filters_agg_quotes_in_bucket_names(idx):
    """Bucket names holding a quote or a backslash come back verbatim,
    in the caller's order, each counting what count(query, filter=pred)
    counts."""
    q = "alpha"
    buckets = {"o'brien": "role = 'user'", "a\\b": "turn_idx >= 10"}
    got = idx.facet_filters(q, buckets, mode="or").toPandas()
    want = [(k, idx.count(q, mode="or", filter=pred))
            for k, pred in buckets.items()]
    assert list(map(tuple, got.itertuples(index=False))) == want
    assert all(n > 0 for _, n in want)      # fixture sanity


@pytest.mark.slow
def test_combined_filters_agg(spark, tmp_path_factory):
    from sparkfts.streaming import CombinedIndex, make_batch_indexer
    cfg = BuildConfig(num_shards=2, partitions=2)
    root = str(tmp_path_factory.mktemp("flt_comb"))
    build_index(spark,
                spark.createDataFrame(make_transcripts(10, seed=SEED)),
                root, order_cols=["conv_id", "turn_idx"], cfg=cfg)
    indexer = make_batch_indexer(root, cfg=cfg,
                                 order_cols=["conv_id", "turn_idx"])
    indexer(spark.createDataFrame(make_transcripts(4, seed=SEED + 1)),
            batch_id=0)
    ci = CombinedIndex(spark, root)
    store = pd.concat([s._docstore.toPandas() for s in ci.subs],
                      ignore_index=True)
    toks = store["text"].map(
        lambda t: set(tokenize_text(t, ci.tokenizer)))
    m = store[toks.map(lambda s: "alpha" in s).values]
    want = [("users", int((m["role"] == "user").sum())),
            ("late", int((m["turn_idx"] >= 10).sum())),
            ("none", 0)]
    got = ci.facet_filters("alpha", FILTERS, mode="or").toPandas()
    assert list(map(tuple, got.itertuples(index=False))) == want
