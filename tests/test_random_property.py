"""Randomized end-to-end property check (SURVEY §5 #2, strengthened):
on seeded-random corpora — random vocab, Zipf-ish repetition, empty and
punctuation-only docs — EVERY query surface (wand / exact, or / and,
distributed / local) must be rank-identical to the brute-force BM25
oracle for random queries that mix present, absent, and duplicate
terms. One build per seed; many queries amortize it."""
import numpy as np
import pandas as pd
import pytest

from sparkfts import BuildConfig, FTSIndex, build_index
from sparkfts.classic import classic_topk
from sparkfts.oracle import BM25Oracle

VOCAB = ([f"w{i}" for i in range(25)]
         + ["the", "and", "alpha", "beta", "gamma"])


def _random_corpus(rng, n_docs):
    rows = []
    for i in range(n_docs):
        roll = rng.random()
        if roll < 0.05:
            text = ""                      # empty doc
        elif roll < 0.10:
            text = "!!! ... ???"           # punctuation-only
        else:
            n = int(rng.integers(1, 40))
            # Zipf-ish: low vocab ids drawn more often
            ids = (rng.zipf(1.3, size=n) - 1) % len(VOCAB)
            text = " ".join(VOCAB[j] for j in ids)
        rows.append((f"c{i // 3:04d}", i % 3, "user", text, None, None))
    import pandas as pd
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role",
                                       "text", "tool", "ts"])


def _random_queries(rng, n_q):
    out = []
    for _ in range(n_q):
        n = int(rng.integers(1, 5))
        terms = list(rng.choice(VOCAB + ["zzznothere"], size=n))
        if rng.random() < 0.3 and terms:
            terms.append(terms[0])         # duplicate query term
        out.append(" ".join(terms))
    return out


@pytest.mark.parametrize("seed", [11, 37, 59])
def test_all_surfaces_match_oracle_on_random_corpus(
        spark, tmp_path_factory, seed):
    rng = np.random.default_rng(seed)
    pdf = _random_corpus(rng, n_docs=45)
    root = str(tmp_path_factory.mktemp(f"prop_{seed}"))
    build_index(spark, spark.createDataFrame(pdf), root,
                order_cols=["conv_id", "turn_idx"],
                cfg=BuildConfig(num_shards=3, partitions=3))
    idx = FTSIndex(spark, root)
    srt = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    oracle = BM25Oracle(np.arange(len(srt), dtype=np.int64), srt["text"])
    assert idx.N == oracle.N and idx.avgdl == pytest.approx(oracle.avgdl)

    queries = {f"q{i}_{mode}": (q, mode)
               for i, q in enumerate(_random_queries(rng, 12))
               for mode in ("or", "and")}
    # distributed surfaces via the batched path: 2 Spark jobs total
    # (and topk_many itself gets oracle coverage for free)
    got_w = idx.topk_many(queries, k=7, method="wand")
    got_e = idx.topk_many(queries, k=7, method="exact")
    for qid, (q, mode) in queries.items():
        want = oracle.topk(q, k=7, mode=mode)
        got_l = idx.topk_local(q, k=7, mode=mode)
        for name, got in [("wand", got_w[qid]), ("exact", got_e[qid]),
                          ("local", got_l)]:
            assert got["docid"].tolist() == want["docid"].tolist(), \
                (seed, q, mode, name)
            assert got["score"].to_numpy() == pytest.approx(
                want["score"].to_numpy(), abs=1e-9), (seed, q, mode, name)


# -- differential: one query layer over one or several segments -------

def _routed_corpus(rng, n_docs, first_conv=0):
    pdf = _random_corpus(rng, n_docs)
    pdf["conv_id"] = [f"c{first_conv + i // 3:04d}" for i in range(n_docs)]
    pdf["org"] = [f"o{(first_conv + i // 3) % 3}" for i in range(n_docs)]
    return pdf


def _shapes(rng):
    """(name, topk keyword set) query shapes; must_not / after /
    min_should_match / org / filter each alone and mixed."""
    q = _random_queries(rng, 6)
    return [
        ("or", dict(query=q[0], mode="or")),
        ("and", dict(query=q[1], mode="and")),
        ("must_not", dict(query=q[2], mode="or", must_not="w0")),
        ("msm", dict(query="w1 w2 w3 alpha", mode="or",
                     min_should_match=2)),
        ("org", dict(query=q[3], mode="or", org="o1")),
        ("org_and", dict(query="w0 w1", mode="and", org="o2")),
        ("mixed", dict(query=q[4] + " w0 w2", mode="or", org="o0",
                       must_not="beta", min_should_match=1)),
    ]


ROUTED = dict(routing_col="org", shards_per_org=2)
FILTER = "turn_idx <> 1"


@pytest.mark.parametrize("seed", [5, 23])
def test_segment_list_differential(spark, tmp_path_factory, seed):
    """A CombinedIndex with zero deltas gives IDENTICAL rows to the
    FTSIndex over the same root on the local, fan-out and filter
    (cogroup) paths; with two deltas it equals a monolithic rebuild of
    the union of its rows at 1e-9 (compared by (conv_id, turn_idx):
    docids are generation-local)."""
    from sparkfts.streaming import CombinedIndex, make_batch_indexer
    rng = np.random.default_rng(seed)
    order = ["conv_id", "turn_idx"]
    base = _routed_corpus(rng, 48)
    root = str(tmp_path_factory.mktemp(f"seglist_{seed}"))
    build_index(spark, spark.createDataFrame(base), root, order_cols=order,
                cfg=BuildConfig(num_shards=4, partitions=2, **ROUTED))
    idx, ci = FTSIndex(spark, root), CombinedIndex(spark, root)
    assert len(ci.subs) == 1 and ci.avgdl == idx.avgdl
    shapes = _shapes(rng)
    for name, kw in shapes:
        pages = [("local", lambda i, kw: i.topk_local(k=6, **kw)),
                 ("fan-out", lambda i, kw: i.topk_pandas(k=6, **kw)),
                 ("filter", lambda i, kw: i.topk_pandas(k=6, filter=FILTER,
                                                        **kw))]
        for path, call in pages:
            want = call(idx, kw)
            pd.testing.assert_frame_equal(call(ci, kw), want,
                                          check_exact=True)
            if len(want) > 2:     # the next page after a cursor
                cur = dict(kw, after=(want["score"].iloc[2],
                                      want["docid"].iloc[2]))
                pd.testing.assert_frame_equal(call(ci, cur),
                                              call(idx, cur),
                                              check_exact=True)
    pd.testing.assert_frame_equal(
        ci.topk(shapes[0][1]["query"], k=6, filter=FILTER),
        idx.topk(shapes[0][1]["query"], k=6, filter=FILTER).toPandas(),
        check_exact=True)

    # two delta generations vs one index over all rows
    deltas = [_routed_corpus(rng, 15, first_conv=100 + 50 * j)
              for j in range(2)]
    idxer = make_batch_indexer(root, order_cols=order, cfg=BuildConfig(
        num_shards=2, partitions=2, **ROUTED))
    for j, d in enumerate(deltas):
        idxer(spark.createDataFrame(d), batch_id=j)
    ci = CombinedIndex(spark, root)
    assert len(ci.subs) == 3
    mroot = str(tmp_path_factory.mktemp(f"seglist_mono_{seed}"))
    build_index(spark, spark.createDataFrame(pd.concat([base] + deltas)),
                mroot, order_cols=order,
                cfg=BuildConfig(num_shards=4, partitions=2, **ROUTED))
    mono = FTSIndex(spark, mroot)

    def keyed(index, hits):
        if hits.empty:
            return {}
        docs = index.fetch_docs_local(hits["docid"].tolist())
        key = dict(zip(docs["docid"], zip(docs["conv_id"],
                                          docs["turn_idx"])))
        return {key[d]: s for d, s in zip(hits["docid"], hits["score"])}

    everything = 10 ** 6           # whole rankings: ties cannot cut
    for name, kw in shapes:
        for filt in (None, FILTER):
            want = keyed(mono, mono.topk_pandas(k=everything,
                                                filter=filt, **kw))
            got = {"local": ci.topk_local(k=everything, **kw),
                   "dist": ci.topk(k=everything, filter=filt, **kw)}
            if filt is not None:
                got.pop("local")
            for path, hits in got.items():
                g = keyed(ci, hits)
                assert g.keys() == want.keys(), (seed, name, path, filt)
                assert np.allclose([g[x] for x in want],
                                   list(want.values()), rtol=0,
                                   atol=1e-9), (seed, name, path, filt)
        full = ci.topk_local(k=everything, **kw)
        if len(full) > 3:          # a cursor page continues the ranking
            page = ci.topk(k=2, after=(full["score"].iloc[1],
                                       full["docid"].iloc[1]), **kw)
            pd.testing.assert_frame_equal(
                page, full.iloc[2:4].reset_index(drop=True))


@pytest.fixture(scope="module")
def seg_ci(spark, tmp_path_factory):
    """A CombinedIndex over a base and one delta generation."""
    from sparkfts.streaming import CombinedIndex, make_batch_indexer
    rng = np.random.default_rng(3)
    root = str(tmp_path_factory.mktemp("seglist_stage"))
    build_index(spark, spark.createDataFrame(_random_corpus(rng, 30)),
                root, order_cols=["conv_id", "turn_idx"],
                cfg=BuildConfig(num_shards=3, partitions=2))
    make_batch_indexer(root, cfg=BuildConfig(num_shards=2, partitions=2))(
        spark.createDataFrame(_random_corpus(rng, 9).assign(
            conv_id=lambda d: "d" + d["conv_id"])), batch_id=0)
    return CombinedIndex(spark, root)


@pytest.fixture(scope="module")
def seg_ci_mf(spark, tmp_path_factory):
    """A multi-field CombinedIndex (text + meta) over a base and one
    delta generation."""
    from sparkfts import TokenizerConfig
    from sparkfts.streaming import CombinedIndex, make_batch_indexer
    rng = np.random.default_rng(4)
    cfg = BuildConfig(num_shards=2, partitions=2,
                      fields={"text": TokenizerConfig(),
                              "meta": TokenizerConfig()})

    def corpus(n, tag):
        pdf = _random_corpus(rng, n)
        return pdf.assign(conv_id=tag + pdf["conv_id"],
                          meta=[VOCAB[i % len(VOCAB)] for i in range(n)])

    root = str(tmp_path_factory.mktemp("seglist_stage_mf"))
    build_index(spark, spark.createDataFrame(corpus(20, "b")), root,
                order_cols=["conv_id", "turn_idx"], cfg=cfg)
    make_batch_indexer(root, cfg=cfg)(
        spark.createDataFrame(corpus(8, "d")), batch_id=0)
    return CombinedIndex(spark, root)


SINGLE_STAGE = {
    "topk": ("seg_ci", lambda ci: ci.topk("w0 w1 alpha", k=5)),
    "phrase_topk": ("seg_ci", lambda ci: ci.phrase_topk("w0 w0", k=5)),
    "phrase_prefix_topk": ("seg_ci",
                           lambda ci: ci.phrase_prefix_topk("w0 w", k=5)),
    "classic_topk": ("seg_ci",
                     lambda ci: classic_topk(ci, "w0 w1 alpha", k=5)),
    "multi_match": ("seg_ci_mf", lambda ci: ci.multi_match(
        "w0 w1 alpha", fields={"text": 1.0, "meta": 2.0}, k=5)),
    "match_docids": ("seg_ci",
                     lambda ci: ci._match_sdf("w0 w1", mode="or")),
}


@pytest.mark.parametrize("surface", sorted(SINGLE_STAGE))
def test_combined_topk_single_stage(spark, request, surface):
    """Every dictionary-scored CombinedIndex surface without filter/org
    runs as ONE job with ONE stage — a mapInArrow fan-out over
    (generation, shard) tasks, no Exchange. match_docids' ascending
    sort adds one Exchange, so its plan is checked instead: the
    fan-out, no grouped-map pandas UDF."""
    fixture, call = SINGLE_STAGE[surface]
    ci = request.getfixturevalue(fixture)
    if surface == "match_docids":
        sdf = call(ci)
        plan = sdf._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan, plan
        assert "FlatMapGroupsInPandas" not in plan, plan
        assert sdf.count() > 0
        return
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"ci-stage-{surface}"
    sc.setJobGroup(group, surface)
    try:
        got = call(ci)
    finally:
        sc.setJobGroup(None, None)
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == 1, jobs
    assert len(tracker.getJobInfo(jobs[0]).stageIds) == 1
    assert len(got) == 5
