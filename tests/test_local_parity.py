"""Every *_local twin against its distributed surface.

A local twin runs the same prepared query kernel as the distributed
surface, over driver-side groups instead of fan-out tasks, so it must
return the same docids with bit-identical scores while running zero
Spark jobs. Checked on a base + delta + tombstones CombinedIndex and,
with org=, on an org-routed FTSIndex, both with its org_ranges
intervals and on the legacy layout without them (per-shard docid
sets instead).
"""
import numpy as np
import pytest

from sparkfts import BuildConfig, FTSIndex, build_index
from sparkfts.analyzer import TokenizerConfig
from sparkfts.fixtures import make_transcripts
from test_api_matrix import _zero_jobs

ORDER = ["conv_id", "turn_idx"]

# (id, local method, distributed method, args, kwargs, takes org=)
CASES = [
    ("topk_or", "topk_local", "topk_pandas",
     ("nightly index alpha query",), dict(k=12, mode="or"), True),
    ("topk_and", "topk_local", "topk_pandas",
     ("nightly index",), dict(k=12, mode="and"), True),
    ("topk_must_not", "topk_local", "topk_pandas",
     ("alpha query index",), dict(k=12, must_not="nightly"), True),
    ("phrase_slop0", "phrase_topk_local", "phrase_topk",
     ("nightly index",), dict(k=12, slop=0), True),
    ("phrase_slop1", "phrase_topk_local", "phrase_topk",
     ("rebuild nightly",), dict(k=12, slop=1), True),
    ("phrase_prefix", "phrase_prefix_topk_local", "phrase_prefix_topk",
     ("nightly in",), dict(k=12), False),
    ("multi_match_best", "multi_match_local", "multi_match",
     ("alpha assistant index",),
     dict(k=12, fields={"text": 1.0, "meta": 2.0}, tie_breaker=0.3),
     False),
    ("multi_match_most", "multi_match_local", "multi_match",
     ("alpha assistant index",),
     dict(k=12, fields={"text": 1.0, "meta": 2.0},
          qtype="most_fields"), False),
    ("match_and", "match_docids_local", "match_docids",
     ("nightly index",), dict(mode="and"), True),
    ("match_or", "match_docids_local", "match_docids",
     ("alpha query",), dict(mode="or"), True),
    ("pattern_scoring", "pattern_topk_local", "pattern_topk",
     ("in",), dict(kind="prefix", k=12), True),
    ("pattern_constant", "pattern_topk_local", "pattern_topk",
     ("in",), dict(kind="prefix", k=500, rewrite="constant_score"),
     True),
]
IDS = [c[0] for c in CASES]


def _corpus(n, seed):
    pdf = make_transcripts(n, seed=seed)
    return pdf.assign(meta=pdf["role"] + " " + pdf["tool"].fillna(""),
                      org=[f"o{i % 3}" for i in range(len(pdf))])


@pytest.fixture(scope="module")
def combined(spark, tmp_path_factory):
    """Multi-field base + one delta generation, with tombstones on
    matching docs of both segments."""
    from sparkfts.streaming import CombinedIndex, make_batch_indexer
    cfg = BuildConfig(num_shards=3, partitions=4,
                      fields={"text": TokenizerConfig(),
                              "meta": TokenizerConfig()})
    pdf = _corpus(36, seed=31)
    n = len(pdf) * 2 // 3
    root = str(tmp_path_factory.mktemp("parity_ci"))
    build_index(spark, spark.createDataFrame(pdf.iloc[:n]), root,
                order_cols=ORDER, cfg=cfg)
    make_batch_indexer(root, cfg=cfg, order_cols=ORDER)(
        spark.createDataFrame(pdf.iloc[n:]), batch_id=0)
    ci = CombinedIndex(spark, root)
    hits = ci.match_docids_local("nightly index alpha query in", "or",
                                 field="text")["docid"].to_numpy()
    ci.delete_docs(hits[::5].tolist())
    tomb = ci.deleted_docids()
    base_end = ci.subs[0].docid_offset + ci.subs[0].docid_span
    assert (tomb < base_end).any() and (tomb >= base_end).any()
    return ci


@pytest.fixture(scope="module")
def routed(spark, tmp_path_factory):
    """An org-routed FTSIndex, and a second handle on the same root
    whose org_ranges table reads as absent (the legacy layout)."""
    root = str(tmp_path_factory.mktemp("parity_routed"))
    build_index(spark, spark.createDataFrame(_corpus(36, seed=32)), root,
                order_cols=ORDER,
                cfg=BuildConfig(num_shards=4, partitions=4,
                                routing_col="org", shards_per_org=2))
    legacy = FTSIndex(spark, root)
    legacy._org_ranges = lambda org: None
    return FTSIndex(spark, root), legacy


def _pd(df):
    return (df.toPandas() if hasattr(df, "toPandas") else df
            ).reset_index(drop=True)


def _check(spark, idx, case, **extra):
    cid, local, dist, args, kw, _ = case
    kw = {**kw, **extra}
    want = _pd(getattr(idx, dist)(*args, **kw))
    got = _zero_jobs(spark, f"parity-{cid}-{id(idx)}",
                     lambda: getattr(idx, local)(*args, **kw))
    assert got["docid"].tolist() == want["docid"].tolist(), (cid, extra)
    if "score" in want.columns:
        np.testing.assert_array_equal(got["score"].to_numpy(),
                                      want["score"].to_numpy())
    return got


@pytest.mark.parametrize("case", CASES, ids=IDS)
def test_combined_local_twin_parity(spark, combined, case):
    extra = {} if case[1] == "multi_match_local" else {"field": "text"}
    got = _check(spark, combined, case, **extra)
    assert len(got), case[0]
    assert not np.isin(got["docid"], combined.deleted_docids()).any()


@pytest.mark.parametrize("case", [c for c in CASES if c[5]],
                         ids=[c[0] for c in CASES if c[5]])
def test_routed_local_twin_parity(spark, routed, case):
    idx, legacy = routed
    assert len(_check(spark, idx, case)), case[0]
    for org in ("o0", "o2"):
        _check(spark, idx, case, org=org)
    for org in ("o1", "nope"):
        _check(spark, legacy, case, org=org)


def test_unrouted_org_rejected_by_both_twins(combined):
    """org= on an unrouted index raises on both twins, even when the
    query analyzes to nothing."""
    for surface in ("topk_pandas", "topk_local", "phrase_topk",
                    "phrase_topk_local", "match_docids",
                    "match_docids_local"):
        with pytest.raises(ValueError, match="routing"):
            getattr(combined, surface)("...", field="text", org="o1")


def test_unrouted_org_rejected_by_topk_many(combined):
    """topk_many(org=) on an unrouted index raises like topk, also when
    the whole batch analyzes to no terms."""
    for batch in ({"a": ("...", "or")},
                  {"a": ("...", "or"), "b": ("alpha query", "and")}):
        with pytest.raises(ValueError, match="routing"):
            combined.topk_many(batch, field="text", org="o1")
