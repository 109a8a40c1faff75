"""Highlighting / snippets (the ES plain-highlighter analog).

Contract under test:
- token_spans reproduces tokenize_text token-for-token, with char
  offsets into the ORIGINAL text (case preserved in fragments);
- best_window maximizes (distinct query terms, matches, earliest);
- fragments wrap exactly the matched tokens in pre/post tags;
- FTSIndex.highlight / CombinedIndex.highlight return hits in rank
  order with fragments, local and distributed paths identical,
  composing with field/org/filter; zero Spark jobs on the local path.
"""
import numpy as np
import pandas as pd
import pytest

from sparkfts import BuildConfig, FTSIndex, build_index
from sparkfts.analyzer import DEFAULT, TokenizerConfig, tokenize_text
from sparkfts.fixtures import make_transcripts
from sparkfts.highlight import best_window, make_fragment, token_spans


# ------------------------------------------------------------------ #
# pure functions                                                      #
# ------------------------------------------------------------------ #

@pytest.mark.parametrize("text", [
    "Hello, World! Batch-window 42 merge.",
    "  leading and trailing  ",
    "",
    "UPPER lower MiXeD 123abc",
    "a " + "x" * 70 + " b",          # >max_len token dropped
])
def test_token_spans_match_analyzer(text):
    spans = token_spans(text, DEFAULT)
    assert [t for t, _, _ in spans] == tokenize_text(text, DEFAULT)
    for t, s, e in spans:
        assert text[s:e].lower() == t


def test_token_spans_null():
    assert token_spans(None, DEFAULT) == []


def test_best_window_prefers_both_terms():
    text = "alpha filler filler filler beta " + "pad " * 20 + "alpha"
    spans = token_spans(text, DEFAULT)
    lo, hi, inside = best_window(spans, {"alpha", "beta"}, window=6)
    toks = {spans[i][0] for i in inside}
    assert toks == {"alpha", "beta"}
    assert lo == 0                      # both-terms window beats the
    assert len(inside) == 2             # lone trailing alpha


def test_fragment_tags_and_case():
    text = "The Batch ran; the WINDOW closed."
    spans = token_spans(text, DEFAULT)
    lo, hi, inside = best_window(spans, {"batch", "window"}, window=12)
    frag = make_fragment(text, spans, lo, hi, inside, "<em>", "</em>")
    assert "<em>Batch</em>" in frag      # original case preserved
    assert "<em>WINDOW</em>" in frag
    assert frag.count("<em>") == 2


def test_fragment_empty_when_no_match():
    spans = token_spans("nothing here", DEFAULT)
    lo, hi, inside = best_window(spans, {"zzz"}, window=5)
    assert make_fragment("nothing here", spans, lo, hi, inside,
                         "<em>", "</em>") == ""


# ------------------------------------------------------------------ #
# index surfaces                                                      #
# ------------------------------------------------------------------ #

@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    pdf = make_transcripts(30, seed=88)
    root = str(tmp_path_factory.mktemp("hl_idx"))
    build_index(spark, spark.createDataFrame(pdf), root,
                order_cols=["conv_id", "turn_idx"],
                cfg=BuildConfig(num_shards=2, partitions=2))
    return FTSIndex(spark, root)


def test_highlight_matches_topk_order(idx):
    hits = idx.topk_pandas("alpha query index", k=6, mode="or")
    hl = idx.highlight("alpha query index", k=6, mode="or")
    assert hl["docid"].tolist() == hits["docid"].tolist()
    np.testing.assert_allclose(hl["score"], hits["score"], rtol=0,
                               atol=1e-12)
    assert (hl["n_matches"] >= 1).all()
    docs = idx.fetch_docs_local(hl["docid"].tolist())
    text_by = dict(zip(docs["docid"], docs["text"]))
    qterms = {"alpha", "query", "index"}
    for _, row in hl.iterrows():
        # every tagged token is a query term
        import re
        tagged = re.findall(r"<em>(.*?)</em>", row["fragment"])
        assert tagged, row["fragment"]
        assert {t.lower() for t in tagged} <= qterms
        # fragment text (tags stripped) appears verbatim in the doc
        plain = row["fragment"].replace("<em>", "").replace("</em>", "")
        assert plain in text_by[row["docid"]]


def test_highlight_local_equals_distributed(idx):
    a = idx.highlight("merge window", k=5, mode="and")
    b = idx.highlight("merge window", k=5, mode="and", local=True)
    pd.testing.assert_frame_equal(a, b)


def test_highlight_local_zero_jobs(idx, spark):
    idx.highlight("alpha", k=3, local=True)        # warm caches
    sc = spark.sparkContext
    sc.setJobGroup("hl-zero", "hl-zero")
    idx.highlight("alpha query", k=3, local=True)
    jobs = sc.statusTracker().getJobIdsForGroup("hl-zero")
    sc.setJobGroup(None, None)
    assert len(jobs) == 0


def test_highlight_with_filter(idx):
    hl = idx.highlight("alpha query", k=5, filter="role = 'user'")
    want = idx.topk_pandas("alpha query", k=5, filter="role = 'user'")
    assert hl["docid"].tolist() == want["docid"].tolist()


@pytest.mark.parametrize("mode", ["or", "phrase"])
def test_highlight_local_rejects_filter(idx, spark, mode):
    """local=True never runs a Spark job, so filter= (a docstore scan)
    is refused on every mode — the phrase leg included."""
    sc = spark.sparkContext
    sc.setJobGroup("hl-local-filter", "hl-local-filter")
    with pytest.raises(ValueError, match="local"):
        idx.highlight("alpha query", k=3, mode=mode, local=True,
                      filter="role = 'user'")
    jobs = sc.statusTracker().getJobIdsForGroup("hl-local-filter")
    sc.setJobGroup(None, None)
    assert len(jobs) == 0


def test_highlight_empty_query(idx):
    out = idx.highlight("...", k=5)
    assert out.empty
    assert "fragment" in out.columns


def test_highlight_custom_tags_and_window(idx):
    hl = idx.highlight("alpha", k=3, window=4, pre_tag="[", post_tag="]")
    for f in hl["fragment"]:
        assert "[" in f and "]" in f
        assert "<em>" not in f


def test_combined_highlight(spark, tmp_path_factory):
    from sparkfts.streaming import CombinedIndex, make_batch_indexer
    cfg = BuildConfig(num_shards=2, partitions=2)
    root = str(tmp_path_factory.mktemp("hl_stream"))
    build_index(spark,
                spark.createDataFrame(make_transcripts(10, seed=89)),
                root, order_cols=["conv_id", "turn_idx"], cfg=cfg)
    make_batch_indexer(root, cfg=cfg)(
        spark.createDataFrame(make_transcripts(4, seed=90)), batch_id=0)
    ci = CombinedIndex(spark, root)
    hits = ci.topk("alpha query", k=5, mode="or")
    hl = ci.highlight("alpha query", k=5, mode="or")
    assert hl["docid"].tolist() == hits["docid"].tolist()
    assert (hl["n_matches"] >= 1).all()
    # deleted docs disappear from highlighted results too
    dead = int(hits["docid"].iloc[0])
    ci.delete_docs([dead])
    hl2 = ci.highlight("alpha query", k=5, mode="or")
    assert dead not in set(hl2["docid"])


# ------------------------------------------------------------------ #
# explain (ES _explain analog)                                        #
# ------------------------------------------------------------------ #

def test_explain_reproduces_topk_score_bitwise(idx):
    hits = idx.topk_pandas("alpha query index", k=5, mode="or")
    for _, h in hits.iterrows():
        ex = idx.explain("alpha query index", int(h["docid"]))
        acc = 0.0
        for w in ex["weight"]:
            acc = acc + w
        assert acc == h["score"], int(h["docid"])   # bit-identical
        assert ex["term"].tolist() == sorted(ex["term"])
        assert (ex["tf"] >= 1).all()


def test_explain_absent_and_unknown(idx):
    assert idx.explain("zzzunseenterm", 0).empty
    assert idx.explain("alpha", 10 ** 9).empty
    assert idx.explain("...", 0).empty


def test_combined_explain(spark, tmp_path_factory):
    from sparkfts.streaming import CombinedIndex, make_batch_indexer
    cfg = BuildConfig(num_shards=2, partitions=2)
    root = str(tmp_path_factory.mktemp("ex_stream"))
    build_index(spark,
                spark.createDataFrame(make_transcripts(10, seed=91)),
                root, order_cols=["conv_id", "turn_idx"], cfg=cfg)
    make_batch_indexer(root, cfg=cfg)(
        spark.createDataFrame(make_transcripts(4, seed=92)), batch_id=0)
    ci = CombinedIndex(spark, root)
    hits = ci.topk_local("alpha query", k=5, mode="or")
    d0 = int(hits["docid"].iloc[0])
    ex = ci.explain("alpha query", d0)
    acc = 0.0
    for w in ex["weight"]:
        acc = acc + w
    assert acc == hits["score"].iloc[0]
    # deleted doc explains to empty
    ci.delete_docs([d0])
    assert ci.explain("alpha query", d0).empty


def test_highlight_phrase_mode(idx):
    """mode='phrase' (r6): ranking equals phrase_topk, fragments tag
    the phrase's terms, local == distributed."""
    q = None
    store = idx._docstore.select("text").toPandas()
    # find a 2-token phrase that actually occurs
    for t in store["text"]:
        toks = tokenize_text(t or "", idx.tokenizer)
        if len(toks) >= 2:
            q = f"{toks[0]} {toks[1]}"
            break
    assert q is not None
    want = idx.phrase_topk_local(q, k=5)
    got = idx.highlight(q, k=5, mode="phrase", local=True)
    if want.empty:
        assert got.empty
        return
    assert got["docid"].tolist() == want["docid"].tolist()
    np.testing.assert_allclose(got["score"], want["score"], rtol=0,
                               atol=1e-12)
    for f in got["fragment"]:
        assert "<em>" in f
    dist = idx.highlight(q, k=5, mode="phrase", local=False)
    assert dist["docid"].tolist() == got["docid"].tolist()
    assert dist["fragment"].tolist() == got["fragment"].tolist()
