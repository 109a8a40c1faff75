"""Driver-local row-group reader of FTSIndex: fetch_docs_local's
contract against the pyarrow dataset scan it replaced, the read
counters (footer pruning, cache hits), and one handle shared by
several threads."""
import glob
import os
import random
import shutil
import sys
import threading

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

from sparkfts import BuildConfig, FTSIndex, build_index
from sparkfts.fixtures import make_transcripts

ORDER = ["conv_id", "turn_idx"]


@pytest.fixture(scope="module")
def plain(spark, tmp_path_factory):
    """Two shards of ~1.2k docs each, so a 512-row rewrite of one
    docstore file gives it several row groups."""
    root = str(tmp_path_factory.mktemp("rg_plain"))
    build_index(spark, spark.createDataFrame(make_transcripts(120, seed=5)),
                root, order_cols=ORDER,
                cfg=BuildConfig(num_shards=2, partitions=2))
    return root


@pytest.fixture(scope="module")
def routed(spark, tmp_path_factory):
    """Routed build: org-contiguous docids, sparse id space."""
    pdf = make_transcripts(40, seed=9)
    pdf = pdf.assign(org=[f"org{i % 5}" for i in range(len(pdf))])
    root = str(tmp_path_factory.mktemp("rg_routed"))
    build_index(spark, spark.createDataFrame(pdf), root, order_cols=ORDER,
                cfg=BuildConfig(num_shards=8, partitions=4,
                                routing_col="org", shards_per_org=2))
    return root


def scan_fetch(idx: FTSIndex, docids) -> pd.DataFrame:
    """The dataset scan fetch_docs_local used to run: shard partition
    pruning plus docid pushdown, sorted by docid."""
    ids = sorted(int(d) for d in docids)
    if not ids:
        return pd.DataFrame()
    shards = sorted({(d - idx.docid_offset) // idx.docs_per_shard
                     for d in ids})
    flt = ds.field("shard").isin(shards) & ds.field("docid").isin(ids)
    dset = ds.dataset(os.path.join(idx.root, "docstore"),
                      format="parquet", partitioning="hive")
    return (dset.to_table(filter=flt).to_pandas()
            .sort_values("docid").reset_index(drop=True))


def stored_docids(root: str) -> np.ndarray:
    return np.sort(pq.read_table(os.path.join(root, "docstore"),
                                 columns=["docid"])
                   .column("docid").to_numpy())


def check_fetch(idx: FTSIndex, docids) -> pd.DataFrame:
    got = idx.fetch_docs_local(docids)
    pd.testing.assert_frame_equal(got, scan_fetch(idx, docids))
    if len(got):
        assert got["shard"].dtype == np.int32   # the hive partition column
    return got


def test_fetch_contract_plain(spark, plain):
    idx = FTSIndex(spark, plain)
    live = stored_docids(plain)
    rng = np.random.default_rng(1)
    pick = rng.choice(live, 12, replace=False).tolist()
    # duplicates come back once
    got = check_fetch(idx, pick + pick[:4])
    assert sorted(got["docid"]) == sorted(pick)
    # absent and out-of-range ids, alone and mixed with live ones
    check_fetch(idx, [-1, int(live.max()) + 1, 10 ** 12])
    check_fetch(idx, [-7, pick[0], int(live.max()) + 3])
    # ids spanning every shard, first and last docid included
    span = [int(live[0]), int(live[-1])] + [
        int(live[i]) for i in np.linspace(0, live.size - 1, 9).astype(int)]
    got = check_fetch(idx, span)
    assert set(got["shard"]) == set(range(idx.num_shards))
    assert check_fetch(idx, []).empty


def test_fetch_contract_missing_shard_file(spark, plain, tmp_path):
    """A shard with no docstore file: its ids return nothing, the rest
    of the fetch is unaffected."""
    root = str(tmp_path / "copy")
    shutil.copytree(plain, root)
    shutil.rmtree(os.path.join(root, "docstore", "shard=1"))
    idx = FTSIndex(spark, root)
    ids = [0, 1, idx.docs_per_shard, idx.docs_per_shard + 5]
    got = check_fetch(idx, ids)
    assert sorted(got["docid"]) == [0, 1]


def test_fetch_contract_routed(spark, routed):
    idx = FTSIndex(spark, routed)
    live = stored_docids(routed)
    gaps = np.setdiff1d(np.arange(live.min(), live.max()), live)
    assert gaps.size   # the routed id space is sparse
    ids = live[::7].tolist() + gaps[::11][:10].tolist()
    got = check_fetch(idx, ids)
    assert set(got["docid"]) == set(live[::7].tolist())


def test_read_counters_cache_and_pruning(spark, plain, tmp_path):
    idx = FTSIndex(spark, plain)
    ids = stored_docids(plain)[[3, 40, -2]].tolist()
    idx.fetch_docs_local(ids)
    first = idx.read_counters()
    assert first["row_groups_read"] >= 1 and first["bytes_read"] > 0
    idx.fetch_docs_local(ids)
    again = idx.read_counters()
    assert again["row_groups_read"] == first["row_groups_read"]
    assert again["bytes_read"] == first["bytes_read"]
    assert (again["row_groups_cached"] - first["row_groups_cached"]
            == first["row_groups_read"])

    # several row groups per docstore file: a one-docid fetch reads
    # exactly the row group its footer min/max points at
    root = str(tmp_path / "rg512")
    shutil.copytree(plain, root)
    n_rg = 0
    for f in glob.glob(os.path.join(root, "docstore", "*", "*.parquet")):
        pq.write_table(pq.read_table(f), f, row_group_size=512)
        crc = os.path.join(os.path.dirname(f),
                           f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):   # Hadoop's checksum of the old bytes
            os.remove(crc)
        n_rg += pq.ParquetFile(f).num_row_groups
    assert n_rg > len(os.listdir(os.path.join(root, "docstore")))
    small = FTSIndex(spark, root)
    got = small.fetch_docs_local([600])
    c = small.read_counters()
    assert got["docid"].tolist() == [600]
    assert c["row_groups_read"] == 1 and c["row_groups_cached"] == 0
    assert c["row_groups_pruned"] == n_rg - 1
    pd.testing.assert_frame_equal(got, scan_fetch(small, [600]))


def _threads_match_serial(open_handle, terms, call):
    """8 threads × 50 seeded ``call(handle, query, mode)`` on one shared
    handle with a 3-term LRU (constant eviction churn); every result
    equals a serial run on a fresh handle."""
    def calls(seed: int):
        rng = random.Random(seed)
        out = []
        for _ in range(50):
            q = " ".join(rng.sample(terms, rng.randint(1, 3)))
            out.append((q, rng.choice(["or", "and"])))
        return out

    plans = {s: calls(s) for s in range(8)}

    def run(idx, plan):
        res = []
        for q, mode in plan:
            hits = call(idx, q, mode)
            res.append((hits, idx.fetch_docs_local(hits["docid"].tolist())))
        return res

    def cold():
        idx = open_handle()
        for s in idx.subs:
            s.TERM_CACHE_CAP = 3
        return idx

    serial = cold()
    want = {s: run(serial, p) for s, p in plans.items()}
    shared = cold()
    got, errors = {}, []

    def worker(s):
        try:
            got[s] = run(shared, plans[s])
        except Exception as e:   # surfaced below with the thread's seed
            errors.append((s, e))

    threads = [threading.Thread(target=worker, args=(s,)) for s in plans]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)   # interleave the threads finely
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    for s in plans:
        for (gh, gd), (wh, wd) in zip(got[s], want[s]):
            pd.testing.assert_frame_equal(gh, wh)
            pd.testing.assert_frame_equal(gd, wd)
    return shared


def _terms(root):
    return pq.read_table(os.path.join(root, "term_stats"),
                         columns=["term"]).column("term").to_pylist()


def test_concurrent_calls_match_serial(spark, plain, routed,
                                       tmp_path_factory):
    """One handle shared by 8 threads equals a serial run: a plain
    FTSIndex, a CombinedIndex (base + one delta + tombstones, whose
    tombstone memo is read by every call), and org-routed topk_local
    (whose per-org range memo is read by every call)."""
    shared = _threads_match_serial(
        lambda: FTSIndex(spark, plain), _terms(plain),
        lambda idx, q, mode: idx.topk_local(q, k=10, mode=mode))
    assert len(shared._term_cache) <= 3 and len(shared._dec_cache) <= 3

    from sparkfts.streaming import CombinedIndex, make_batch_indexer
    root = str(tmp_path_factory.mktemp("rg_combined"))
    build_index(spark, spark.createDataFrame(make_transcripts(30, seed=6)),
                root, order_cols=ORDER,
                cfg=BuildConfig(num_shards=2, partitions=2))
    make_batch_indexer(root, cfg=BuildConfig(num_shards=2, partitions=2))(
        spark.createDataFrame(make_transcripts(10, seed=8)), batch_id=0)
    ci = CombinedIndex(spark, root)
    assert len(ci.subs) == 2
    ci.delete_docs([1, 5, ci.subs[1].docid_offset + 2])
    _threads_match_serial(
        lambda: CombinedIndex(spark, root), _terms(root),
        lambda idx, q, mode: idx.topk_local(q, k=10, mode=mode))

    orgs = [f"org{i}" for i in range(5)]
    _threads_match_serial(
        lambda: FTSIndex(spark, routed), _terms(routed),
        lambda idx, q, mode: idx.topk_local(
            q, k=10, mode=mode, org=orgs[len(q) % len(orgs)]))
