"""End-to-end: build index over the deterministic transcripts fixture,
query it, and require rank-identical top-k vs the brute-force oracle
(SURVEY.md §5 plan #2 — the replacement for "restore into ES and compare").
"""
import numpy as np
import pandas as pd
import pytest

from sparkfts import BuildConfig, FTSIndex, build_index
from sparkfts.fixtures import make_transcripts
from sparkfts.oracle import BM25Oracle

SEED = 42
N_CONVS = 40


@pytest.fixture(scope="module")
def corpus():
    pdf = make_transcripts(N_CONVS, seed=SEED)
    # oracle docids = rank under (conv_id, turn_idx) — same rule as engine
    pdf = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    return pdf


@pytest.fixture(scope="module")
def oracle(corpus):
    return BM25Oracle(np.arange(len(corpus), dtype=np.int64), corpus["text"])


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx"))
    sdf = spark.createDataFrame(make_transcripts(N_CONVS, seed=SEED))
    summary = build_index(spark, sdf, root,
                          order_cols=["conv_id", "turn_idx"],
                          cfg=BuildConfig(num_shards=4, partitions=8))
    assert summary["n_docs"] == len(corpus)
    return FTSIndex(spark, root)


def reference_queries(oracle):
    """FIXTURES.md §2: hot/mid/rare single terms, AND queries, one absent."""
    df = oracle.df.sort_values(ascending=False)
    hot = df.index[0]
    mid = df.index[len(df) // 2]
    rare = df.index[-1]
    return [
        (hot, "or"), (mid, "or"), (rare, "or"),
        ("definitely_absent_term_xyz", "or"),
        (f"{hot} {mid}", "or"), (f"{hot} {rare}", "or"),
        (f"{hot} {mid}", "and"), (f"{hot} {rare}", "and"),
        ("rebuild nightly index", "and"),     # shared-phrase terms
        ("checkpoint resume committed", "and"),
        (f"{hot} {hot}", "or"),               # duplicate query term
    ]


@pytest.mark.parametrize("method", ["exact", "wand"])
def test_topk_rank_identical_to_oracle(index, oracle, method):
    for q, mode in reference_queries(oracle):
        got = index.topk_pandas(q, k=10, mode=mode, method=method)
        want = oracle.topk(q, k=10, mode=mode)
        assert got["docid"].tolist() == want["docid"].tolist(), (q, mode)
        assert got["score"].to_numpy() == pytest.approx(
            want["score"].to_numpy(), abs=1e-9), (q, mode)


@pytest.mark.parametrize("method", ["exact", "wand"])
def test_topk_local_rank_identical_to_oracle(index, oracle, method):
    """The no-Spark-job query path must agree with the oracle too."""
    for q, mode in reference_queries(oracle):
        got = index.topk_local(q, k=10, mode=mode, method=method)
        want = oracle.topk(q, k=10, mode=mode)
        assert got["docid"].tolist() == want["docid"].tolist(), (q, mode)
        assert got["score"].to_numpy() == pytest.approx(
            want["score"].to_numpy(), abs=1e-9), (q, mode)


@pytest.mark.parametrize("k", [1, 3, 25])
def test_wand_equals_exact_at_various_k(index, oracle, k):
    df = oracle.df.sort_values(ascending=False)
    for q in [df.index[0], f"{df.index[0]} {df.index[3]} {df.index[-2]}"]:
        e = index.topk_pandas(q, k=k, method="exact")
        w = index.topk_pandas(q, k=k, method="wand")
        assert e["docid"].tolist() == w["docid"].tolist()
        assert w["score"].to_numpy() == pytest.approx(e["score"].to_numpy())


def test_match_docids_and(index, oracle):
    q = f"{oracle.df.index[0]} {oracle.df.sort_values().index[-1]}"
    got = [r["docid"] for r in index.match_docids(q, "and").collect()]
    terms = sorted(set(q.split()))
    sets = [set(oracle.tf[oracle.tf.term == t].docid) for t in terms]
    want = sorted(set.intersection(*sets)) if sets else []
    assert got == want


def test_docstore_roundtrip_invariant(index, spark, corpus):
    """input_hint invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering."""
    store = (spark.read.parquet(index.root + "/docstore")
             .select("docid", "conv_id", "turn_idx", "text")
             .sort("docid").toPandas())
    assert len(store) == len(corpus)
    assert store["docid"].tolist() == list(range(len(corpus)))
    assert store["text"].tolist() == corpus["text"].tolist()
    assert store["conv_id"].tolist() == corpus["conv_id"].tolist()
    assert store["turn_idx"].tolist() == corpus["turn_idx"].tolist()


def test_search_returns_text(index):
    hits = index.search("rebuild nightly index", k=5, mode="and").collect()
    assert len(hits) > 0
    for r in hits:
        assert "rebuild" in r["text"].lower()


def test_jvm_tokenizer_matches_pandas(spark, corpus):
    """The codegen tokenizer and the pandas tokenizer must be identical
    (the index build uses whichever applies; query-side always pandas)."""
    from pyspark.sql import functions as F
    from sparkfts.analyzer import DEFAULT, jvm_tokens, tokenize_series
    sdf = spark.createDataFrame(corpus[["text"]])
    got = (sdf.select(jvm_tokens(F.col("text"), DEFAULT).alias("t"))
           .toPandas()["t"].map(list).tolist())
    want = tokenize_series(corpus["text"].reset_index(drop=True),
                           DEFAULT).tolist()
    assert got == want


def test_grouped_docid_fast_path_matches_general(spark, corpus):
    """assign_docids_grouped (broadcast prefix-sum) must produce exactly
    the ranks the general range-sort path produces."""
    from sparkfts.build import assign_docids, assign_docids_grouped
    sdf = spark.createDataFrame(make_transcripts(N_CONVS, seed=SEED))
    fast = assign_docids_grouped(sdf, "conv_id", "turn_idx")
    assert fast is not None
    a = (fast.select("conv_id", "turn_idx", "docid").toPandas()
         .sort_values("docid").reset_index(drop=True))
    b = (assign_docids(sdf, ["conv_id", "turn_idx"], partitions=4)
         .select("conv_id", "turn_idx", "docid").toPandas()
         .sort_values("docid").reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)
    # non-dense turn_idx → fast path declines
    holey = spark.createDataFrame(
        [("c1", 0), ("c1", 2)], "conv_id string, turn_idx int")
    assert assign_docids_grouped(holey, "conv_id", "turn_idx") is None


def test_docid_assignment_parallelism_independent(spark, corpus):
    """docids must equal global rank regardless of partition count."""
    from sparkfts.build import assign_docids
    sdf = spark.createDataFrame(make_transcripts(N_CONVS, seed=SEED))
    a = (assign_docids(sdf, ["conv_id", "turn_idx"], partitions=2)
         .select("conv_id", "turn_idx", "docid").toPandas()
         .sort_values("docid").reset_index(drop=True))
    b = (assign_docids(sdf, ["conv_id", "turn_idx"], partitions=7)
         .select("conv_id", "turn_idx", "docid").toPandas()
         .sort_values("docid").reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)
    assert a["docid"].tolist() == list(range(len(corpus)))
    exp = corpus[["conv_id", "turn_idx"]].reset_index(drop=True)
    pd.testing.assert_frame_equal(
        a[["conv_id", "turn_idx"]].astype({"turn_idx": "int32"}), exp)


@pytest.mark.parametrize("k", [1, 5, 50])
def test_and_block_pruned_equals_exact(index, oracle, k):
    """VERDICT r01 wrong #5: AND mode now intersects block ranges against
    the rarest term's docids before decoding (wand path) — results must
    stay bit-identical to exhaustive decoding for hot+rare, hot+hot and
    3-term combinations."""
    df = oracle.df.sort_values(ascending=False)
    hot, hot2, rare = df.index[0], df.index[1], df.index[-2]
    for q in [f"{hot} {rare}", f"{hot} {hot2}", f"{hot} {hot2} {rare}"]:
        e = index.topk_pandas(q, k=k, mode="and", method="exact")
        w = index.topk_pandas(q, k=k, mode="and", method="wand")
        assert e["docid"].tolist() == w["docid"].tolist(), q
        assert w["score"].to_numpy() == pytest.approx(
            e["score"].to_numpy(), abs=0), q  # bit-identical summation


def test_topk_many_matches_individual_topk(index, oracle):
    """Batched multi-query execution (one Spark job) must be
    rank-identical per query to the per-query path."""
    qs = {f"q{i}": qm for i, qm in enumerate(reference_queries(oracle))}
    got = index.topk_many(qs, k=10)
    for qid, (q, mode) in qs.items():
        want = index.topk_pandas(q, k=10, mode=mode)
        assert got[qid]["docid"].tolist() == want["docid"].tolist(), (q, mode)
        assert got[qid]["score"].to_numpy() == pytest.approx(
            want["score"].to_numpy(), abs=0)


@pytest.mark.parametrize("k", [0, -1])
def test_k_below_one_rejected_on_driver(index, k):
    """A top-k size below 1 raises before any scoring: a negative k
    would slice [:k] and keep all but the last rows of each group."""
    with pytest.raises(ValueError, match="k must be >= 1"):
        index.topk_local("the", k=k)
    with pytest.raises(ValueError, match="k must be >= 1"):
        index.topk_pandas("the", k=k)
    with pytest.raises(ValueError, match="k must be >= 1"):
        index.topk_many({"a": ("the", "or")}, k=k)


def test_local_fetch_and_search_no_spark_job(spark, index, oracle):
    """fetch_docs_local/search_local must match the distributed path and
    launch zero Spark jobs."""
    ids = [0, 3, 17]
    sc = spark.sparkContext
    sc.setJobGroup("local-fetch", "local fetch")
    got = index.fetch_docs_local(ids)
    q = oracle.df.index[1]
    sr = index.search_local(q, k=5)
    jobs = sc.statusTracker().getJobIdsForGroup("local-fetch")
    sc.setJobGroup(None, None)
    assert len(jobs) == 0
    want = (index.fetch_docs(ids).toPandas()
            .sort_values("docid").reset_index(drop=True))
    cols = [c for c in want.columns if c != "shard"]
    assert got[cols].astype(str).equals(want[cols].astype(str))
    dist = index.search(q, k=5).toPandas()
    assert sr["docid"].tolist() == dist["docid"].tolist()
    assert "text" in sr.columns and len(sr) == len(dist)


def test_min_should_match(spark, tmp_path_factory):
    """minimum_should_match (r6, the ES DSL analog): OR-mode results
    restricted to docs matching >= m distinct query terms; scores
    unchanged (same BM25 sums). m=1 == or; m=n_terms == and. Exact on
    wand AND exact methods, distributed AND local paths, and under a
    deep-pagination cursor."""
    import numpy as np
    from sparkfts import BuildConfig, FTSIndex, build_index
    from sparkfts.fixtures import make_transcripts
    pdf = make_transcripts(25, seed=103)
    root = str(tmp_path_factory.mktemp("msm_idx"))
    build_index(spark, spark.createDataFrame(pdf), root,
                order_cols=["conv_id", "turn_idx"],
                cfg=BuildConfig(num_shards=2, partitions=2))
    idx = FTSIndex(spark, root)
    q = "alpha query index"
    full = idx.topk_pandas(q, k=10 ** 6, mode="or", method="exact")
    # brute reference: per-doc matched-term counts from the postings
    ps = idx._postings.toPandas()
    from sparkfts import codec as C
    terms = sorted(set(q.split()))
    counts = {}
    for t in terms:
        rows = ps[ps["term"] == t]
        for r in rows.itertuples():
            d, _, _ = C.decode_postings(r.blob, np.asarray(r.block_off),
                                        np.asarray(r.block_n))
            for x in d:
                counts[int(x)] = counts.get(int(x), 0) + 1
    for m in (1, 2, 3):
        want = full[full["docid"].map(
            lambda d: counts.get(int(d), 0) >= m)].reset_index(drop=True)
        for method in ("wand", "exact"):
            got = idx.topk_pandas(q, k=10 ** 6, mode="or",
                                  method=method, min_should_match=m)
            assert got["docid"].tolist() == want["docid"].tolist(), \
                (m, method)
            np.testing.assert_allclose(got["score"], want["score"],
                                       rtol=0, atol=1e-12)
        loc = idx.topk_local(q, k=10 ** 6, mode="or",
                             min_should_match=m)
        assert loc["docid"].tolist() == want["docid"].tolist(), m
    # m == n_terms equals AND
    want_and = idx.topk_pandas(q, k=20, mode="and")
    got_and = idx.topk_pandas(q, k=20, mode="or",
                              min_should_match=len(terms))
    assert got_and["docid"].tolist() == want_and["docid"].tolist()
    np.testing.assert_allclose(got_and["score"], want_and["score"],
                               rtol=0, atol=1e-12)
    # composes with the cursor (page 2 under msm=2)
    m2 = idx.topk_pandas(q, k=10 ** 6, mode="or", min_should_match=2)
    if len(m2) > 6:
        cur = (float(m2["score"].iloc[3]), int(m2["docid"].iloc[3]))
        p2 = idx.topk_pandas(q, k=3, mode="or", min_should_match=2,
                             after=cur)
        assert p2["docid"].tolist() == m2["docid"].iloc[4:7].tolist()
    # validation
    import pytest as _pt
    with _pt.raises(ValueError, match="min_should_match"):
        idx.topk_pandas(q, k=5, mode="and", min_should_match=2)


def test_min_should_match_batch_surfaces(spark, tmp_path_factory):
    """min_should_match on the batch surfaces: topk_many and
    search_join results equal the per-query topk(min_should_match=m)
    calls (phrase/and rows in a mixed batch are unaffected)."""
    import numpy as np
    from sparkfts import BuildConfig, FTSIndex, build_index
    from sparkfts.fixtures import make_transcripts
    pdf = make_transcripts(20, seed=104)
    root = str(tmp_path_factory.mktemp("msm_batch"))
    build_index(spark, spark.createDataFrame(pdf), root,
                order_cols=["conv_id", "turn_idx"],
                cfg=BuildConfig(num_shards=2, partitions=2))
    idx = FTSIndex(spark, root)
    qs = {"a": ("alpha query index", "or"),
          "b": ("merge window shard", "or"),
          "c": ("alpha index", "and")}
    got = idx.topk_many(qs, k=6, min_should_match=2)
    for qid, (q, mode) in qs.items():
        want = idx.topk_pandas(
            q, k=6, mode=mode,
            min_should_match=2 if mode == "or" else None)
        assert got[qid]["docid"].tolist() == want["docid"].tolist(), qid
        np.testing.assert_allclose(got[qid]["score"], want["score"],
                                   rtol=0, atol=1e-9, err_msg=qid)
    qdf = spark.createDataFrame(
        [(qid, q, m) for qid, (q, m) in qs.items()],
        "qid string, query string, mode string")
    res = (idx.search_join(qdf, k=6, mode_col="mode",
                           min_should_match=2).toPandas())
    sj = {qid: g.sort_values("rank")[["docid", "score"]]
          .reset_index(drop=True) for qid, g in res.groupby("qid")}
    for qid, (q, mode) in qs.items():
        want = idx.topk_pandas(
            q, k=6, mode=mode,
            min_should_match=2 if mode == "or" else None)
        g = sj.get(qid)
        if want.empty:
            assert g is None, qid
            continue
        assert g["docid"].tolist() == want["docid"].tolist(), qid
        np.testing.assert_allclose(g["score"], want["score"], rtol=0,
                                   atol=1e-9, err_msg=qid)


def test_conv_sizes_local_matches_spark_agg(spark, tmp_path):
    """The driver-side conv-sizes fast path (bare parquet scan →
    pyarrow group-by) must yield exactly the docids the Spark
    aggregation path yields, and must decline (→ Spark path) for
    non-bare plans, missing columns, and nulls."""
    from pyspark.sql import functions as F
    from sparkfts.build import (_bare_scan_local_files,
                                assign_docids_grouped)
    from sparkfts.fixtures import write_transcripts_parquet
    src = str(tmp_path / "t.parquet")
    write_transcripts_parquet(src, 30, seed=SEED)
    bare = spark.read.parquet(src)
    # detection: bare scan yes; filtered/projected/in-memory no
    assert _bare_scan_local_files(bare)
    assert _bare_scan_local_files(bare.select("conv_id", "turn_idx",
                                              "text")) is None
    assert _bare_scan_local_files(
        bare.where(F.col("turn_idx") >= 0)) is None
    mem = spark.createDataFrame(bare.toPandas())
    assert _bare_scan_local_files(mem) is None
    # docids from the local-sizes path == docids from the Spark-agg
    # path (the same rows via a non-bare plan)
    fast = assign_docids_grouped(bare, "conv_id", "turn_idx")
    slow = assign_docids_grouped(mem, "conv_id", "turn_idx")
    assert fast is not None and slow is not None
    assert fast._sparkfts_n_docs == slow._sparkfts_n_docs
    a = (fast.select("conv_id", "turn_idx", "docid").toPandas()
         .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    b = (slow.select("conv_id", "turn_idx", "docid").toPandas()
         .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)
    # null conv/turn values → local derivation declines, grouped path
    # still behaves exactly as before (falls to Spark agg)
    from sparkfts.build import _conv_sizes_local
    import pyarrow as pa
    import pyarrow.parquet as pq
    nsrc = str(tmp_path / "nulls.parquet")
    pq.write_table(pa.table({"conv_id": ["a", None], "turn_idx": [0, 0],
                             "text": ["x", "y"]}), nsrc)
    assert _conv_sizes_local([nsrc], "conv_id", "turn_idx") is None
    # missing column → declines
    assert _conv_sizes_local([nsrc], "conv_id", "nope") is None
    # footer row-count gate → declines without reading data
    assert _conv_sizes_local([src], "conv_id", "turn_idx",
                             max_rows=5) is None


def test_conv_sizes_local_byte_gate(spark, tmp_path, monkeypatch):
    """The footer byte gate declines like the row gate, and the build's
    docids then come from the Spark aggregation unchanged."""
    from sparkfts import build
    from sparkfts.fixtures import write_transcripts_parquet
    src = str(tmp_path / "t.parquet")
    write_transcripts_parquet(src, 30, seed=SEED)
    assert build._conv_sizes_local([src], "conv_id", "turn_idx") \
        is not None
    bare = spark.read.parquet(src)
    slow = build.assign_docids_grouped(
        spark.createDataFrame(bare.toPandas()), "conv_id", "turn_idx")
    monkeypatch.setattr(build, "_CONV_SIZES_MAX_BYTES", 16)
    assert build._conv_sizes_local([src], "conv_id", "turn_idx") is None
    got = build.assign_docids_grouped(bare, "conv_id", "turn_idx")
    assert got._sparkfts_direct is None

    def docids(df):
        return (df.select("conv_id", "turn_idx", "docid").toPandas()
                .sort_values(["conv_id", "turn_idx"])
                .reset_index(drop=True))

    pd.testing.assert_frame_equal(docids(got), docids(slow))


def test_direct_feed_needs_physical_text_column(spark, tmp_path,
                                                monkeypatch):
    """A text column the reader schema names but an input file does not
    hold (that file's rows read it as NULL) declines the direct feed,
    which reads the files' own columns; the build finishes like the
    exchange plan."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq
    from pyspark.sql import types as T
    from sparkfts import build
    from sparkfts.fixtures import write_transcripts_parquet
    src = str(tmp_path / "t.parquet")
    write_transcripts_parquet(src, 20, seed=SEED)
    t = pq.read_table(src)
    half = len(t) // 2
    files = [str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")]
    pq.write_table(t.slice(0, half).append_column(
        "body", t.column("text").slice(0, half)), files[0])
    pq.write_table(t.slice(half), files[1])          # no body column
    schema = spark.read.parquet(src).schema.add(
        T.StructField("body", T.StringType()))
    bare = spark.read.schema(schema).parquet(*files)
    meta = build.assign_docids_grouped(bare, "conv_id", "turn_idx")
    assert meta._sparkfts_direct is not None      # order proof holds
    assert "text" in meta._sparkfts_direct["columns"]
    assert "body" not in meta._sparkfts_direct["columns"]

    def no_direct(*a, **kw):
        raise AssertionError("direct feed engaged")

    monkeypatch.setattr(build, "_direct_postings_df", no_direct)
    cfg = BuildConfig(num_shards=4, partitions=2)
    r1, r2 = str(tmp_path / "i1"), str(tmp_path / "i2")
    s1 = build_index(spark, bare, r1, text_col="body",
                     order_cols=["conv_id", "turn_idx"], cfg=cfg)
    s2 = build_index(spark, spark.createDataFrame(bare.toPandas(),
                                                  schema=schema),
                     r2, text_col="body",
                     order_cols=["conv_id", "turn_idx"], cfg=cfg)
    assert s1["n_docs"] == s2["n_docs"] == len(t)

    def postings(root):
        p = (ds.dataset(root + "/postings", format="parquet",
                        partitioning="hive").to_table().to_pandas()
             .drop(columns=["enc_us"]))
        for c in ("block_first", "block_last", "block_off", "block_n",
                  "block_max_tf", "block_min_dl"):
            p[c] = p[c].map(tuple)
        return p.sort_values(["shard", "term", "chunk"],
                             ignore_index=True)

    pd.testing.assert_frame_equal(postings(r1), postings(r2))
    a = FTSIndex(spark, r1).topk_pandas("alpha query", k=5, mode="or")
    assert len(a)
    pd.testing.assert_frame_equal(
        a, FTSIndex(spark, r2).topk_pandas("alpha query", k=5, mode="or"))


def test_direct_postings_feed_matches_exchange_plan(spark, tmp_path):
    """The no-shuffle shard-span postings feed (engaged when the bare
    scan's rows are proven to be in grouped-docid order) must produce
    an index identical to the exchange plan's — postings bytes, the
    in-task docstore's rows and Spark schema, query rows — and must
    NOT engage when the file order breaks the proof."""
    import pyarrow.parquet as pq
    from sparkfts import BuildConfig, build_index
    from sparkfts.build import assign_docids_grouped
    from sparkfts.fixtures import write_transcripts_parquet
    src = str(tmp_path / "t.parquet")
    write_transcripts_parquet(src, 60, seed=3)
    bare = spark.read.parquet(src)
    # proof holds for the generator's (conv, turn)-ordered file
    g = assign_docids_grouped(bare, "conv_id", "turn_idx")
    assert g._sparkfts_direct is not None
    # a shuffled copy of the same rows fails the order proof
    shuf = (pq.read_table(src).to_pandas()
            .sample(frac=1.0, random_state=5).reset_index(drop=True))
    src2 = str(tmp_path / "shuf.parquet")
    shuf_tbl = __import__("pyarrow").Table.from_pandas(
        shuf, preserve_index=False)
    pq.write_table(shuf_tbl, src2)
    g2 = assign_docids_grouped(spark.read.parquet(src2),
                               "conv_id", "turn_idx")
    assert g2._sparkfts_direct is None
    # direct vs exchange: identical postings, docstore and query rows
    cfg = BuildConfig(num_shards=8, partitions=4)
    r1, r2 = str(tmp_path / "i1"), str(tmp_path / "i2")
    s1 = build_index(spark, bare, r1, order_cols=["conv_id", "turn_idx"],
                     cfg=cfg)
    mem = spark.createDataFrame(bare.toPandas(), schema=bare.schema)
    s2 = build_index(spark, mem, r2, order_cols=["conv_id", "turn_idx"],
                     cfg=cfg)   # non-bare plan
    assert s1["plan"] == {"feed": "direct", "docstore": "in_task",
                          "declined": None}
    assert s2["plan"] == {"feed": "exchange", "docstore": "spark",
                          "declined": "exchange feed"}
    assert_same_docstore(spark, r1, r2)

    pd.testing.assert_frame_equal(_postings(r1), _postings(r2))
    from sparkfts import FTSIndex
    a = FTSIndex(spark, r1).topk_pandas("batch window", k=8, mode="or")
    b = FTSIndex(spark, r2).topk_pandas("batch window", k=8, mode="or")
    pd.testing.assert_frame_equal(a, b)


def docstore_files(root):
    """The visible parquet files under each docstore shard directory."""
    import os
    d = os.path.join(root, "docstore")
    return {sd: sorted(f for f in os.listdir(os.path.join(d, sd))
                       if not f.startswith(("_", ".")))
            for sd in os.listdir(d) if sd.startswith("shard=")}


def assert_same_docstore(spark, r1, r2):
    """Same rows, each file in docid order, and the same Spark schema in
    both roots' docstores."""
    import os

    import pyarrow.dataset as ds
    import pyarrow.parquet as pq
    tabs = []
    for root in (r1, r2):
        tabs.append(ds.dataset(root + "/docstore", format="parquet",
                               partitioning="hive").to_table()
                    .sort_by("docid"))
        for sd, names in docstore_files(root).items():
            for f in names:
                ids = pq.read_table(os.path.join(root, "docstore", sd, f),
                                    columns=["docid"]).column(0)
                assert (np.diff(ids.to_numpy()) > 0).all()
    assert tabs[0].num_rows and tabs[0].equals(tabs[1])
    d1 = spark.read.parquet(r1 + "/docstore")
    d2 = spark.read.parquet(r2 + "/docstore")
    assert d1.schema == d2.schema
    assert d1.exceptAll(d2).count() == 0 == d2.exceptAll(d1).count()


def _postings(root):
    import pyarrow.dataset as ds
    t = (ds.dataset(root + "/postings", format="parquet",
                    partitioning="hive").to_table().to_pandas()
         .drop(columns=["enc_us"]))
    for c in ("block_first", "block_last", "block_off", "block_n",
              "block_max_tf", "block_min_dl"):
        t[c] = t[c].map(tuple)
    return t.sort_values(["shard", "term", "chunk"], ignore_index=True)


def _jobs_of(spark, fn):
    """(fn's result, number of Spark jobs submitted while it ran, from
    any driver thread)."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    n0 = dag.numTotalJobs()
    out = fn()
    return out, dag.numTotalJobs() - n0


def test_docstore_gate_declines_unsafe_type(spark, tmp_path):
    """A store column whose Arrow type is outside the safe set (here a
    decimal) keeps the direct postings feed but sends the docstore to
    the Spark job, records the reason, and builds the same index; with
    every column safe, the build runs one Spark job (no docstore job,
    no broadcast of the conv offsets it joins).
    A tz-aware timestamp declines the same way."""
    import decimal

    import pyarrow as pa
    import pyarrow.parquet as pq
    from sparkfts import build
    from sparkfts.fixtures import write_transcripts_parquet
    src = str(tmp_path / "t.parquet")
    write_transcripts_parquet(src, 30, seed=3)
    t = pq.read_table(src)
    src2 = str(tmp_path / "dec.parquet")
    pq.write_table(t.append_column("amt", pa.array(
        [decimal.Decimal(i) / 100 for i in range(len(t))],
        pa.decimal128(10, 2))), src2)
    cfg = BuildConfig(num_shards=4, partitions=2)
    order = ["conv_id", "turn_idx"]
    bare = spark.read.parquet(src2)
    r1, r2, r3 = (str(tmp_path / n) for n in ("i1", "i2", "i3"))
    s1, jobs_spark = _jobs_of(spark, lambda: build_index(
        spark, bare, r1, order_cols=order, cfg=cfg))
    assert s1["plan"]["feed"] == "direct"
    assert s1["plan"]["docstore"] == "spark"
    assert "'amt'" in s1["plan"]["declined"]
    s2 = build_index(spark, spark.createDataFrame(bare.toPandas(),
                                                  schema=bare.schema),
                     r2, order_cols=order, cfg=cfg)
    assert s2["plan"]["feed"] == "exchange"
    assert_same_docstore(spark, r1, r2)
    pd.testing.assert_frame_equal(_postings(r1), _postings(r2))
    # the same corpus without the decimal: the one postings write job
    plain = spark.read.parquet(src)
    s3, jobs_in_task = _jobs_of(spark, lambda: build_index(
        spark, plain, r3, order_cols=order, cfg=cfg))
    assert s3["plan"]["docstore"] == "in_task"
    assert jobs_in_task == 1 < jobs_spark   # the postings write only
    pd.testing.assert_frame_equal(_postings(r3), _postings(r1))
    # a tz-aware timestamp column is outside the safe set too
    src3 = str(tmp_path / "tz.parquet")
    pq.write_table(t.set_column(
        t.schema.get_field_index("ts"), "ts",
        t.column("ts").cast(pa.timestamp("us", tz="UTC"))), src3)
    tz = spark.read.parquet(src3)
    g = build.assign_docids_grouped(tz, "conv_id", "turn_idx")
    ok, why = build._docstore_in_task_gate(
        tz, tz.columns, g._sparkfts_direct, True, 1, "snappy")
    assert not ok and "'ts'" in why


def test_docstore_safe_types_round_trip(spark, tmp_path, monkeypatch):
    """Each Arrow type of the in-task docstore's safe set reads back in
    Spark as the type the set maps it to, and the in-task docstore
    equals the Spark docstore job's output on the same input: rows,
    order within each shard and Spark schema."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import types as T
    from sparkfts import build
    from sparkfts.fixtures import write_transcripts_parquet
    src = str(tmp_path / "t.parquet")
    write_transcripts_parquet(src, 20, seed=4)
    t = pq.read_table(src)
    n = len(t)
    vals = pa.array(np.arange(n, dtype=np.int32) % 7)
    nulls = pa.array(np.arange(n) % 11 == 0)
    safe = build._docstore_safe_types()
    for i, at in enumerate(safe):
        v = (vals.cast(pa.string()) if pa.types.is_binary(at)
             else vals.cast(pa.int64()) if pa.types.is_timestamp(at)
             else vals).cast(at)
        t = t.append_column(f"c{i}", pc.if_else(nulls, None, v))
    src2 = str(tmp_path / "typed.parquet")
    pq.write_table(t, src2)
    bare = spark.read.parquet(src2)
    for i, st in enumerate(safe.values()):
        assert bare.schema[f"c{i}"].dataType == st
    assert isinstance(bare.schema["ts"].dataType, T.TimestampNTZType)
    cfg = BuildConfig(num_shards=4, partitions=2)
    r1, r2 = str(tmp_path / "i1"), str(tmp_path / "i2")
    s1 = build_index(spark, bare, r1, order_cols=["conv_id", "turn_idx"],
                     cfg=cfg)
    assert s1["plan"]["docstore"] == "in_task"
    monkeypatch.setattr(build, "_docstore_in_task_gate",
                        lambda *a: (False, "forced"))
    s2 = build_index(spark, bare, r2, order_cols=["conv_id", "turn_idx"],
                     cfg=cfg)
    assert s2["plan"] == {"feed": "direct", "docstore": "spark",
                          "declined": "forced"}
    assert_same_docstore(spark, r1, r2)
    assert all(len(v) == 1 for v in docstore_files(r1).values())


def test_direct_docstore_resume_one_file_per_shard(spark, tmp_path):
    """Resume on the direct feed: the driver clears only the todo
    shards' docstore directories (a stale uncommitted file included),
    each shard directory ends with exactly one visible file, and the
    rows equal a clean build's."""
    import os
    import shutil

    from sparkfts.fixtures import write_transcripts_parquet
    src = str(tmp_path / "t.parquet")
    write_transcripts_parquet(src, 30, seed=6)
    cfg = BuildConfig(num_shards=4, partitions=2)
    order = ["conv_id", "turn_idx"]
    r, clean = str(tmp_path / "r"), str(tmp_path / "clean")
    s = build_index(spark, spark.read.parquet(src), r, order_cols=order,
                    cfg=cfg, _only_shards=[0, 2])
    assert s["plan"]["docstore"] == "in_task"
    files = docstore_files(r)
    assert sorted(files) == ["shard=0", "shard=2"]
    # a killed build's uncommitted shard-1 file
    os.makedirs(os.path.join(r, "docstore", "shard=1"))
    shutil.copy(os.path.join(r, "docstore", "shard=0", files["shard=0"][0]),
                os.path.join(r, "docstore", "shard=1", "part-stale.parquet"))
    s = build_index(spark, spark.read.parquet(src), r, order_cols=order,
                    cfg=cfg, resume=True)
    assert s["built_shards"] == [1, 3]
    assert s["plan"]["docstore"] == "in_task"
    files = docstore_files(r)
    assert sorted(files) == [f"shard={i}" for i in range(4)]
    assert all(len(v) == 1 for v in files.values())
    build_index(spark, spark.read.parquet(src), clean, order_cols=order,
                cfg=cfg)
    assert_same_docstore(spark, r, clean)


def test_direct_reader_rerun_keeps_one_file(tmp_path):
    """A retried or speculative attempt re-runs the reader for its
    shards: the shard's docstore directory still holds one file, named
    as before, with the span's rows (no Spark needed)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from sparkfts.build import _conv_sizes_local, _direct_reader
    from sparkfts.fixtures import write_transcripts_parquet
    src = str(tmp_path / "t.parquet")
    write_transcripts_parquet(src, 20, seed=SEED)
    _, direct = _conv_sizes_local([src], "conv_id", "turn_idx")
    cols = pq.read_schema(src).names
    d = str(tmp_path / "docstore")
    store = {"dir": d, "cols": cols, "name": "part-00000-b.parquet",
             "codec": "snappy",
             "schema": pa.schema([("docid", pa.int64())]
                                 + [(c, direct["types"][c]) for c in cols])}
    n = direct["n"]
    dps = -(-n // 2)
    reader = _direct_reader(direct, "text", [0, 1], dps, 100,
                            BuildConfig(num_shards=2), store)
    ranks = pa.RecordBatch.from_arrays([pa.array([1], pa.int64())],
                                       names=["id"])
    for _ in range(2):
        assert {rb.column("shard")[0].as_py()
                for rb in reader(iter([ranks]))} == {1}
        assert os.listdir(d) == ["shard=1"]
        assert os.listdir(os.path.join(d, "shard=1")) == [store["name"]]
    got = pq.read_table(os.path.join(d, "shard=1", store["name"]))
    assert got.column("docid").to_pylist() == list(range(100 + dps,
                                                          100 + n))
    assert got.drop(["docid"]).equals(pq.read_table(src).slice(dps))


def test_enc_us_times_one_shard():
    """Each shard's enc_us times that shard alone: a one-doc shard read
    after a large one in the same kernel call takes less (a timer
    started once per call would carry the first shard's time on)."""
    import pyarrow as pa
    from sparkfts.build import _make_shard_kernel
    texts = make_transcripts(300, seed=SEED)["text"]
    n = len(texts)

    def batch(shard, ids, txt):
        return pa.RecordBatch.from_arrays(
            [pa.array(np.full(len(ids), shard, np.int32)),
             pa.array(np.asarray(ids, np.int64)),
             pa.array(list(txt), pa.string())],
            names=["shard", "docid", "text"])

    enc: dict[int, list] = {}
    for rb in _make_shard_kernel(BuildConfig())(iter(
            [batch(0, range(n), texts), batch(1, [n], ["alpha query"])])):
        for sh, us in zip(rb.column("shard").to_pylist(),
                          rb.column("enc_us").to_pylist()):
            enc.setdefault(sh, []).append(us)
    assert sorted(enc) == [0, 1]
    assert max(enc[1]) < min(enc[0])


def test_direct_feed_multi_file_input(spark, tmp_path):
    """Multi-file inputs: the order proof and the shard-span readers
    must work across file boundaries (file offsets from the footers),
    and a directory whose inputFiles order breaks the proof must fall
    back — correct either way."""
    import pyarrow.parquet as pq
    from sparkfts import BuildConfig, FTSIndex, build_index
    from sparkfts.build import _conv_sizes_local, assign_docids_grouped
    from sparkfts.fixtures import write_transcripts_parquet
    one = str(tmp_path / "one.parquet")
    write_transcripts_parquet(one, 50, seed=9)
    t = pq.read_table(one)
    import os
    d = str(tmp_path / "dir.parquet")
    os.makedirs(d)
    half = len(t) // 2
    pq.write_table(t.slice(0, half), d + "/part-000.parquet")
    pq.write_table(t.slice(half), d + "/part-001.parquet")
    # proof holds for the correctly-ordered explicit file list
    r = _conv_sizes_local([d + "/part-000.parquet",
                           d + "/part-001.parquet"],
                          "conv_id", "turn_idx")
    assert r is not None and r[1] is not None
    assert r[1]["file_rows"] == [half, len(t) - half]
    # reversed order breaks the proof (sizes still exact)
    r2 = _conv_sizes_local([d + "/part-001.parquet",
                            d + "/part-000.parquet"],
                           "conv_id", "turn_idx")
    assert r2 is not None and r2[1] is None
    # end-to-end: build from the directory (whatever order inputFiles
    # yields — direct when the proof holds, exchange otherwise) must
    # match the single-file build exactly
    cfg = BuildConfig(num_shards=8, partitions=4)
    rdir, rone = str(tmp_path / "idir"), str(tmp_path / "ione")
    build_index(spark, spark.read.parquet(d), rdir,
                order_cols=["conv_id", "turn_idx"], cfg=cfg)
    build_index(spark, spark.read.parquet(one), rone,
                order_cols=["conv_id", "turn_idx"], cfg=cfg)
    a = FTSIndex(spark, rdir).topk_pandas("batch window", k=8, mode="or")
    b = FTSIndex(spark, rone).topk_pandas("batch window", k=8, mode="or")
    pd.testing.assert_frame_equal(a, b)


def test_fan_out_fails_closed_on_unreadable_shard(spark, tmp_path):
    """The fan-out schedules the shards the handle listed; a listed
    shard its task cannot read fails the query instead of silently
    dropping that shard's hits."""
    import os
    root = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(make_transcripts(12, seed=5)),
                root, order_cols=["conv_id", "turn_idx"],
                cfg=BuildConfig(num_shards=3, partitions=3))
    idx = FTSIndex(spark, root)
    q = "alpha query index"
    want = idx.topk(q, k=1000).toPandas()
    shards = set((want["docid"] // idx.docs_per_shard).tolist())
    assert len(shards) > 1, "fixture: hits must span shards"
    gone = os.path.join(root, "postings", f"shard={min(shards)}")
    moved = str(tmp_path / "moved")
    os.rename(gone, moved)
    try:
        with pytest.raises(Exception, match=f"shard={min(shards)}"):
            idx.topk_pandas(q, k=1000)
    finally:
        os.rename(moved, gone)
    pd.testing.assert_frame_equal(idx.topk_pandas(q, k=1000), want)


def test_store_plan_fails_closed_on_unreadable_shard(spark, tmp_path):
    """The bucket-aggregation stage reads each listed shard's postings
    in-task; a listed shard it cannot read fails facet_counts, naming
    the shard, instead of dropping that shard's docs from the counts."""
    import os
    root = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(make_transcripts(12, seed=5)),
                root, order_cols=["conv_id", "turn_idx"],
                cfg=BuildConfig(num_shards=3, partitions=3))
    idx = FTSIndex(spark, root)
    q = "alpha query index"
    want = idx.facet_counts(q, by="role", mode="or").toPandas()
    hits = idx.topk(q, k=1000).toPandas()
    shard = int(hits["docid"].min() // idx.docs_per_shard)
    gone = os.path.join(root, "postings", f"shard={shard}")
    moved = str(tmp_path / "moved")
    os.rename(gone, moved)
    try:
        with pytest.raises(Exception, match=f"shard={shard}"):
            idx.facet_counts(q, by="role", mode="or").toPandas()
    finally:
        os.rename(moved, gone)
    pd.testing.assert_frame_equal(
        idx.facet_counts(q, by="role", mode="or").toPandas(), want)
