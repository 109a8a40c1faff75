"""Rotation watch + rotation-following serving handle (the reference's
ZK node cache on the rotation alias,
ElasticsearchIndexRotationManagerZookeeper.java:120-139: long-lived
readers observe an alias swap WITHOUT re-opening the registry).
AliasWatch = the cache (stat-token probe, poll-once-per-swap);
ServingIndex = the reader (delegates the full local/distributed query
surface to the alias's current index, re-resolving on swap)."""
import pytest

from sparkfts import (BuildConfig, FTSIndex, IndexVersion,
                      RotationRegistry, ServingIndex, build_index)
from sparkfts.fixtures import make_transcripts

CFG = BuildConfig(num_shards=2, partitions=2)


def _version(root, build_id):
    return IndexVersion(alias="conversations", root=root,
                        index_date="2026-01-10",
                        registered_at="2026-01-11T01:00:00+00:00",
                        num_shards=2, build_id=build_id)


@pytest.fixture(scope="module")
def two_generations(spark, tmp_path_factory):
    """Two built index roots over DIFFERENT corpora, so following the
    swap is observable in query results."""
    roots = []
    for seed in (11, 12):
        pdf = make_transcripts(12, seed=seed)
        root = str(tmp_path_factory.mktemp(f"gen{seed}"))
        build_index(spark, spark.createDataFrame(pdf), root,
                    order_cols=["conv_id", "turn_idx"], cfg=CFG)
        roots.append(root)
    return roots


def test_alias_watch_token_semantics(tmp_path):
    reg = RotationRegistry(str(tmp_path))
    w = reg.watch("conversations")
    assert w.value() is None and not w.changed()
    # registering alone is invisible to the watch (alias didn't move)
    v1 = reg.register(_version("/idx/a", "b1"))
    assert not w.changed() and w.poll() is None
    reg.swap("conversations", v1)
    assert w.changed()
    got = w.poll()
    assert got is not None and got["root"] == "/idx/a"
    # poll reports each swap exactly once
    assert w.poll() is None and not w.changed()
    assert w.value()["root"] == "/idx/a"
    v2 = reg.register(_version("/idx/b", "b2"))
    reg.swap("conversations", v2)
    assert w.poll()["root"] == "/idx/b"
    assert w.poll() is None


def test_alias_watch_keeps_last_value_on_deleted_pointer(tmp_path):
    import os
    reg = RotationRegistry(str(tmp_path))
    v1 = reg.register(_version("/idx/a", "b1"))
    reg.swap("conversations", v1)
    w = reg.watch("conversations")
    os.remove(reg._apath("conversations"))
    # node-cache semantics: last value stays cached, poll yields nothing
    assert w.poll() is None
    assert w.value()["root"] == "/idx/a"


def test_serving_index_follows_swap(spark, two_generations, tmp_path):
    root_a, root_b = two_generations
    reg = RotationRegistry(str(tmp_path))
    va = reg.register(_version(root_a, "ba"))
    reg.swap("conversations", va)
    srv = ServingIndex(spark, reg, "conversations")
    assert srv.current_root == root_a

    want_a = FTSIndex(spark, root_a).topk_local("alpha query index",
                                                k=8)
    got = srv.topk_local("alpha query index", k=8)
    assert got["docid"].tolist() == want_a["docid"].tolist()
    assert got["score"].tolist() == pytest.approx(
        want_a["score"].tolist(), abs=1e-12)

    # nightly pipeline swaps in generation B; SAME handle object now
    # serves B without being re-created (node-cache behavior)
    vb = reg.register(_version(root_b, "bb"))
    reg.swap("conversations", vb)
    want_b = FTSIndex(spark, root_b).topk_local("alpha query index",
                                                k=8)
    got = srv.topk_local("alpha query index", k=8)
    assert srv.current_root == root_b
    assert got["docid"].tolist() == want_b["docid"].tolist()
    # rollback works too (old versions stay registered + COMPLETE)
    reg.swap("conversations", va)
    assert srv.topk_local("alpha query index", k=8)["docid"].tolist() \
        == want_a["docid"].tolist()


def test_serving_local_path_stays_zero_jobs(spark, two_generations,
                                            tmp_path):
    """The per-call stat probe must not cost a Spark job: the serving
    twin surfaces stay zero-job through the facade."""
    root_a, _ = two_generations
    reg = RotationRegistry(str(tmp_path))
    reg.swap("conversations", reg.register(_version(root_a, "ba")))
    srv = ServingIndex(spark, reg, "conversations")
    srv.topk_local("alpha", k=3)  # warm the handle outside the group
    sc = spark.sparkContext
    sc.setJobGroup("srv-zero", "srv-zero")
    srv.topk_local("alpha query", k=5)
    srv.search_local("alpha", k=3)
    srv.match_docids_local("alpha index", mode="and")
    srv.phrase_topk_local("alpha query", k=3)
    jobs = sc.statusTracker().getJobIdsForGroup("srv-zero")
    sc.setJobGroup(None, None)
    assert len(jobs) == 0


def test_serving_forwards_r5_surfaces(spark, two_generations,
                                      tmp_path):
    """facet_counts / search_join / filter= reach the underlying
    handle through the facade."""
    root_a, _ = two_generations
    reg = RotationRegistry(str(tmp_path))
    reg.swap("conversations", reg.register(_version(root_a, "bc")))
    srv = ServingIndex(spark, reg, "conversations")
    fc = srv.facet_counts("alpha query", by="role", k=5,
                          mode="or").toPandas()
    assert list(fc.columns) == ["value", "doc_count"]
    got = srv.topk("alpha query", k=3, filter="role = 'user'") \
        .toPandas()
    want = srv.handle().topk_pandas("alpha query", k=3,
                                    filter="role = 'user'")
    assert got["docid"].tolist() == want["docid"].tolist()
    qdf = spark.createDataFrame([("a", "alpha query")],
                                "qid string, query string")
    sj = srv.search_join(qdf, k=3).toPandas()
    assert set(sj.columns) == {"qid", "rank", "docid", "score"}


def test_serving_index_errors(spark, tmp_path):
    reg = RotationRegistry(str(tmp_path))
    srv = ServingIndex(spark, reg, "conversations")
    with pytest.raises(ValueError, match="no current version"):
        srv.topk_local("alpha")
    with pytest.raises(AttributeError, match="ServingIndex"):
        srv.topk_locl  # noqa: B018 — typo'd surface must not resolve


def test_serving_forwards_r7_surfaces(spark, two_generations, tmp_path):
    """pattern_topk[_local] / expand_terms / facet_metrics reach the
    underlying handle through the facade."""
    root_a, _ = two_generations
    reg = RotationRegistry(str(tmp_path))
    reg.swap("conversations", reg.register(_version(root_a, "r7")))
    srv = ServingIndex(spark, reg, "conversations")
    exp = srv.expand_terms("re", "prefix")
    assert exp == srv.handle().expand_terms("re", "prefix")
    got = srv.pattern_topk_local("re", "prefix", k=3)
    want = srv.handle().pattern_topk_local("re", "prefix", k=3)
    assert got["docid"].tolist() == want["docid"].tolist()
    fm = srv.facet_metrics("alpha query", by="role",
                           metric="turn_idx", k=5, mode="or").toPandas()
    assert list(fm.columns) == ["value", "doc_count", "metric_count",
                                "min", "max", "sum", "avg"]


def test_serving_reaches_every_public_method(spark, two_generations,
                                             tmp_path):
    """The forwarded set is derived from FTSIndex itself: every public
    FTSIndex method resolves to the current handle's bound method, and
    read_counters sums what the handle read."""
    root_a, _ = two_generations
    reg = RotationRegistry(str(tmp_path))
    reg.swap("conversations", reg.register(_version(root_a, "fw")))
    srv = ServingIndex(spark, reg, "conversations")
    handle = srv.handle()
    public = [n for n in dir(FTSIndex)
              if not n.startswith("_") and callable(getattr(FTSIndex, n))]
    assert {"topk_local", "read_counters", "facet_top_hits"} <= set(public)
    for name in public:
        got = getattr(srv, name)
        assert got.__self__ is handle and got.__func__ is getattr(
            FTSIndex, name), name
    srv.fetch_docs_local([0, 1])
    assert srv.read_counters() == handle.read_counters()
    assert srv.read_counters()["row_groups_read"] >= 1
