"""Tenant/org routing: spread invariants mirroring the reference's
ElasticsearchRoutingStrategyV1Test.java:55-139 (orgs spread over exactly
shards_per_org shards; stability; three-engine hash agreement), plus the
end-to-end routed build + org-scoped pruned search."""
import duckdb
import pytest
from pyspark.sql import functions as F

from sparkfts import routing


def test_possible_shards_spread_invariants():
    """Reference invariants: exactly k distinct shards per org, stable
    across calls, contained in [0, num_shards), contiguous group."""
    for org in [f"org{i}" for i in range(200)]:
        ps = routing.possible_shards(org, 32, 4)
        assert len(set(ps)) == 4
        assert ps == sorted(ps)
        assert all(0 <= s < 32 for s in ps)
        assert ps[0] % 4 == 0 and ps[-1] - ps[0] == 3
        assert ps == routing.possible_shards(org, 32, 4)


def test_orgs_spread_across_groups():
    """Many orgs must not collapse into few groups (hash quality)."""
    groups = {routing.possible_shards(f"org{i}", 32, 4)[0] // 4
              for i in range(500)}
    assert len(groups) == 8          # all 8 groups hit


def test_doc_shard_within_org_group():
    for i in range(100):
        org = f"org{i % 7}"
        s = routing.doc_shard(org, f"doc{i}", 16, 2)
        assert s in routing.possible_shards(org, 16, 2)
    # docs of one org use BOTH member shards (spread inside group)
    members = {routing.doc_shard("org1", f"doc{i}", 16, 2)
               for i in range(200)}
    assert len(members) == 2


def test_num_shards_must_divide():
    with pytest.raises(ValueError):
        routing.possible_shards("o", 10, 3)


def test_hash_three_engine_agreement(spark):
    """Python, Spark built-ins, and DuckDB SQL compute the same H and
    the same shard for identical inputs."""
    rows = [(f"org{i % 5}", f"key{i}") for i in range(50)]
    sdf = spark.createDataFrame(rows, "org string, key string")
    got = (sdf.select(
        "org", "key",
        routing.hash_col(F.col("org")).alias("h"),
        routing.shard_col(F.col("org"), F.col("key"), 16, 2)
        .alias("shard")).collect())
    con = duckdb.connect()
    for r in got:
        assert r["h"] == routing.org_hash(r["org"])
        assert r["shard"] == routing.doc_shard(r["org"], r["key"], 16, 2)
        sql = (f"SELECT {routing.sql_shard('?', '?', 16, 2)}")
        duck = con.execute(
            f"SELECT {routing.sql_shard(repr(r['org']), repr(r['key']), 16, 2)}"
        ).fetchone()[0]
        assert duck == r["shard"]


def test_routed_build_and_org_scoped_search(spark, tmp_path_factory):
    """End-to-end: routed build over a corpus with an org column; an
    org-scoped query (a) reads ONLY the org's k shards (plan-level
    partition pruning) and (b) returns exactly the global-stats BM25
    ranking restricted to that org's docs."""
    import numpy as np
    import pandas as pd
    from sparkfts import BuildConfig, FTSIndex, build_index
    from sparkfts.fixtures import make_transcripts
    from sparkfts.oracle import BM25Oracle

    pdf = make_transcripts(40, seed=9)
    orgs = [f"org{i % 5}" for i in range(len(pdf))]
    pdf = pdf.assign(org=orgs)
    sdf = spark.createDataFrame(pdf)
    root = str(tmp_path_factory.mktemp("routed"))
    cfg = BuildConfig(num_shards=8, partitions=4, routing_col="org",
                      shards_per_org=2)
    s = build_index(spark, sdf, root, order_cols=["conv_id", "turn_idx"],
                    cfg=cfg)
    assert s["n_docs"] == len(pdf)

    idx = FTSIndex(spark, root)
    assert idx.routing_col == "org"
    ps = idx.possible_shards("org3")
    assert len(ps) == 2

    # (a) every org3 doc lives in its possible shards
    ds = spark.read.parquet(root + "/docstore")
    bad = ds.where((F.col("org") == "org3")
                   & ~F.col("shard").isin(ps)).count()
    assert bad == 0
    # shard pruning is structural: shard = docid // dps recovers shards
    st_rows = ds.where(F.col("org") == "org3").select("docid").collect()
    dps = idx.docs_per_shard
    assert {int(r["docid"]) // dps for r in st_rows} <= set(ps)

    # (b) org-scoped BM25 == oracle over org3's docs with GLOBAL stats
    sub = ds.toPandas().sort_values("docid")
    oracle = BM25Oracle(sub["docid"].to_numpy(np.int64),
                        sub["text"].reset_index(drop=True))
    keep = set(sub[sub["org"] == "org3"]["docid"])
    q = "alpha index query"
    got = idx.topk_pandas(q, k=10, mode="or", org="org3")
    want = oracle.topk(q, k=10, mode="or")
    # restrict oracle to org3 docs, re-take top 10
    wa = want  # oracle scored all docs; recompute with filter:
    wa = oracle.topk(q, k=len(sub), mode="or")
    wa = wa[wa["docid"].isin(keep)].head(10).reset_index(drop=True)
    assert got["docid"].tolist() == wa["docid"].tolist()
    assert got["score"].to_numpy() == pytest.approx(
        wa["score"].to_numpy(), abs=1e-9)

    # AND mode too
    got = idx.topk_pandas("shard merge", k=10, mode="and", org="org3")
    wa = oracle.topk("shard merge", k=len(sub), mode="and")
    wa = wa[wa["docid"].isin(keep)].head(10).reset_index(drop=True)
    assert got["docid"].tolist() == wa["docid"].tolist()

    # (c) the pruned plan only touches the org's partitions
    rows = idx._posting_rows(["alpha"]).where(F.col("shard").isin(ps))
    plan = rows._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_org_ranges_contiguous_and_equal_to_set_path(
        spark, tmp_path_factory):
    """r3 scale fix: routed builds mint org-contiguous docids per shard
    and persist (shard, org) → [lo, hi] intervals, so org-scoped scoring
    carries two ints instead of the tenant's docid set. Contiguity must
    hold exactly (interval size == tenant's docs in shard), and the
    range fast path must be rank-identical to the legacy docid-set path."""
    import pandas as pd
    from pyspark.sql import functions as F
    from sparkfts import BuildConfig, FTSIndex, build_index
    from sparkfts.fixtures import make_transcripts
    pdf = make_transcripts(30, seed=13).assign(
        org=lambda d: d["conv_id"].map(lambda c: f"o{sum(map(ord, c)) % 4}"))
    root = str(tmp_path_factory.mktemp("orgrange"))
    build_index(spark, spark.createDataFrame(pdf), root,
                order_cols=["conv_id", "turn_idx"],
                cfg=BuildConfig(num_shards=8, partitions=4,
                                routing_col="org", shards_per_org=2))
    idx = FTSIndex(spark, root)
    # contiguity: interval size == member count, intervals disjoint
    store = idx._docstore.select("shard", "org", "docid").toPandas()
    for (s, o), grp in store.groupby(["shard", "org"]):
        ranges = idx._org_ranges(o)
        lo, hi = ranges[int(s)]
        assert hi - lo + 1 == len(grp), (s, o)
        assert set(grp["docid"]) == set(range(lo, hi + 1)), (s, o)
    for org in sorted(store["org"].unique()):
        got = idx.topk_pandas("alpha index query", k=10, org=org)
        # force the legacy docid-set path and compare
        saved = idx._org_ranges
        idx._org_ranges = lambda o: None
        sc = spark.sparkContext
        sc.setJobGroup(f"legacy-{org}", org)
        try:
            legacy = idx.topk_pandas("alpha index query", k=10, org=org)
            # the docid sets come from a driver-side read: the fan-out
            # is the only job, and no plan cogroups them in
            plan = (idx._match_sdf("alpha index query", mode="or", org=org)
                    ._jdf.queryExecution().executedPlan().toString())
        finally:
            sc.setJobGroup(None, None)
            idx._org_ranges = saved
        jobs = sc.statusTracker().getJobIdsForGroup(f"legacy-{org}")
        assert len(jobs) == 1, jobs
        assert "MapInArrow" in plan, plan
        assert "FlatMapCoGroupsInPandas" not in plan, plan
        assert got["docid"].tolist() == legacy["docid"].tolist(), org
        assert got["score"].to_numpy() == pytest.approx(
            legacy["score"].to_numpy(), abs=0), org   # bit-identical
        loc = idx.topk_local("alpha index query", k=10, org=org)
        assert loc["docid"].tolist() == got["docid"].tolist()
    assert idx._org_ranges("no-such-org") == {}
    assert idx.topk_pandas("alpha", k=5, org="no-such-org").empty


def test_org_ranges_guard_refuses_non_contiguous_layout(
        spark, tmp_path_factory):
    """Code-review r3b #1: resuming over a routed root whose docstore
    has tenants INTERLEAVED within shards (pre-contiguity layout) must
    NOT write org_ranges — intervals would span other tenants' docids,
    a cross-tenant leak. The build warns, removes any stale table, and
    queries fall back to the exact docid-set path."""
    import os
    import shutil
    import warnings
    from sparkfts import BuildConfig, FTSIndex, build_index
    from sparkfts.fixtures import make_transcripts
    pdf = make_transcripts(12, seed=19).assign(
        org=lambda d: d["conv_id"].map(lambda c: f"o{sum(map(ord, c)) % 2}"))
    sdf = spark.createDataFrame(pdf)
    root = str(tmp_path_factory.mktemp("legacy_layout"))
    cfg = BuildConfig(num_shards=4, partitions=4, routing_col="org",
                      shards_per_org=2)
    build_index(spark, sdf, root, order_cols=["conv_id", "turn_idx"],
                cfg=cfg)
    # simulate the pre-contiguity layout: permute org labels across rows
    # so (shard, org) docids interleave
    store = FTSIndex(spark, root)._docstore.toPandas()
    store["org"] = store["org"].sample(frac=1, random_state=3).to_numpy()
    (spark.createDataFrame(store)
     .write.mode("overwrite").partitionBy("shard")
     .parquet(os.path.join(root, "docstore")))
    shutil.rmtree(os.path.join(root, "org_ranges"))
    with pytest.warns(RuntimeWarning, match="non-contiguous"):
        build_index(spark, sdf, root, order_cols=["conv_id", "turn_idx"],
                    cfg=cfg, resume=True)
    idx = FTSIndex(spark, root)
    assert idx._org_ranges("o0") is None        # table refused
    idx.topk_pandas("alpha", k=5, org="o0")     # docid-set path, no crash
