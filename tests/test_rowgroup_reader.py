"""Driver-local row-group reader of FTSIndex: fetch_docs_local's
contract against the pyarrow dataset scan it replaced, the read
counters (footer pruning, cache hits, topk_local's score-floor
selection), and one handle shared by several threads."""
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
from sparkfts.streaming import CombinedIndex

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


def test_fetch_docid_order_past_ten_shards(spark, tmp_path):
    """Twelve shards: hive path order puts shard=10 and shard=11
    before shard=2, so the docstore row groups arrive out of docid
    order; the fetch still returns docid order."""
    root = str(tmp_path / "s12")
    build_index(spark, spark.createDataFrame(make_transcripts(24, seed=7)),
                root, order_cols=ORDER,
                cfg=BuildConfig(num_shards=12, partitions=2))
    idx = FTSIndex(spark, root)
    los = [g.lo for g in idx._catalog("docstore").groups]
    assert los != sorted(los)
    got = check_fetch(idx, stored_docids(root)[::3].tolist())
    assert got["docid"].is_monotonic_increasing
    assert got["shard"].nunique() == 12


def test_fetch_unstored_docid_keeps_docstore_schema(spark, plain):
    """A docid past the last stored one routes to the segment but
    matches no row: zero rows, the docstore's columns and dtypes."""
    idx = FTSIndex(spark, plain)
    got = idx.fetch_docs_local([idx.N + 5])
    want = (ds.dataset(os.path.join(plain, "docstore"), format="parquet",
                       partitioning="hive")
            .schema.empty_table().to_pandas())
    assert len(got) == 0 and len(want.columns) > 1
    pd.testing.assert_frame_equal(got, want)


def test_topk_local_floor_counters(spark, plain, tmp_path):
    """topk_local counts its selection per segment: a plain OR query
    answers from the score floor's candidates; once tombstones remove
    every ranked doc but three, the floor's candidates no longer fill
    k and the selection falls back to the full scan — same answer as
    the exhaustive ranking with the deletes dropped."""
    root = str(tmp_path / "del")
    shutil.copytree(plain, root)
    ci = CombinedIndex(spark, root)
    q = "index query"

    def delta(call):
        before = ci.read_counters()
        got = call()
        after = ci.read_counters()
        return got, tuple(after[c] - before[c] for c in
                          ("topk_floor_used", "topk_floor_fallback"))

    full = ci.topk_pandas(q, k=10 ** 6, method="exact")
    assert len(full) > 20
    got, n = delta(lambda: ci.topk_local(q, k=10))
    assert n == (1, 0)
    pd.testing.assert_frame_equal(got, full.head(10))
    ci.delete_docs(full["docid"].iloc[:-3].tolist())
    got, n = delta(lambda: ci.topk_local(q, k=10))
    assert n == (0, 1)
    pd.testing.assert_frame_equal(got,
                                  full.tail(3).reset_index(drop=True))
    pd.testing.assert_frame_equal(
        got, ci.topk_pandas(q, k=10, method="exact"))


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


def _decoded_matches_frame_decode(idx, absent=("zzqabsent", "qqnothere")):
    """Every term of each segment of ``idx`` plus two absent ones: the
    one-call Arrow decode behind _decoded_terms equals the pandas
    per-term decode, array- and dtype-exact, whatever the mix of terms
    a load carries and whatever order its rows arrive in."""
    from sparkfts.query import _decode_rows, _decode_term_rows

    def check(got, want, t):
        for g, w in zip(got, want):
            assert g.dtype == w.dtype == np.int64, t
            np.testing.assert_array_equal(g, w, err_msg=t)

    for s in idx.subs:
        terms = _terms(s.root) + list(absent)
        want = {t: _decode_term_rows(s._read_term_rows([t]))
                for t in terms}
        assert all(a.size == 0 for t in absent for a in want[t])
        rng = random.Random(len(terms))
        loads = [terms] + [rng.sample(terms, rng.randint(1, 6))
                           for _ in range(20)]
        for load in loads:
            s._dec_cache.clear()
            s._dec_cache_sz.clear()
            got = s._decoded_terms(load)
            for t in load:
                check(got[t], want[t], t)
        # rows shuffled: chunk ids repeat across shards, so only the
        # (term, shard, chunk) sort restores the docid order
        prng = np.random.default_rng(len(terms))
        parts = []
        for e, r, ti in s._term_rows(terms)[::-1]:
            p = prng.permutation(r.size)
            parts.append((e.views, r[p], ti[p]))
        for t, got in zip(terms, _decode_rows(parts, len(terms))):
            check(got, want[t], t)


def test_decoded_terms_bit_exact(spark, plain, tmp_path, tmp_path_factory):
    """_decoded_terms against _decode_term_rows(_read_term_rows([t])):
    on the default layout, on a copy whose postings are rewritten in
    512-row row groups (one term's rows span row groups), and on each
    segment of a base + delta CombinedIndex."""
    _decoded_matches_frame_decode(FTSIndex(spark, plain))

    root = str(tmp_path / "post512")
    shutil.copytree(plain, root)
    n_rg, n_files = 0, 0
    for f in glob.glob(os.path.join(root, "postings", "*", "*.parquet")):
        pq.write_table(pq.read_table(f), f, row_group_size=512)
        crc = os.path.join(os.path.dirname(f),
                           f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        n_rg += pq.ParquetFile(f).num_row_groups
        n_files += 1
    assert n_rg > n_files
    _decoded_matches_frame_decode(FTSIndex(spark, root))

    from sparkfts.streaming import CombinedIndex, make_batch_indexer
    croot = str(tmp_path_factory.mktemp("rg_dec_combined"))
    build_index(spark, spark.createDataFrame(make_transcripts(30, seed=4)),
                croot, order_cols=ORDER,
                cfg=BuildConfig(num_shards=2, partitions=2))
    make_batch_indexer(croot, cfg=BuildConfig(num_shards=2, partitions=2))(
        spark.createDataFrame(make_transcripts(10, seed=7)), batch_id=0)
    ci = CombinedIndex(spark, croot)
    assert len(ci.subs) == 2
    _decoded_matches_frame_decode(ci)


def test_decode_counters_one_codec_call(spark, plain, monkeypatch):
    """A cold 3-term topk_local decodes its terms in one codec call and
    counts them: terms_decoded 3, postings_decoded the terms' summed
    df. Repeating the query decodes nothing."""
    from sparkfts import codec
    ts = pq.read_table(os.path.join(plain, "term_stats"),
                       columns=["term", "df"]).to_pandas()
    pick = ts.sort_values(["df", "term"], ascending=[False, True]) \
        .iloc[[3, 20, 60]]
    idx = FTSIndex(spark, plain)
    calls = []
    real = codec.decode_postings

    def counting(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(codec, "decode_postings", counting)
    idx.topk_local(" ".join(pick["term"]), k=10)
    c = idx.read_counters()
    assert len(calls) == 1
    assert c["terms_decoded"] == 3
    assert c["postings_decoded"] == int(pick["df"].sum())
    idx.topk_local(" ".join(pick["term"]), k=10)
    again = idx.read_counters()
    assert len(calls) == 1
    assert again["terms_decoded"] == 3
    assert again["postings_decoded"] == c["postings_decoded"]


def test_th_collision_keeps_terms_apart(spark, plain, tmp_path,
                                        monkeypatch):
    """Two terms whose dictionary rows share one th (a term_hash
    collision): on a copy of the index whose postings give term b the th
    of term a, re-sorted and rewritten, _decoded_terms, _local_term_rows
    and topk_local return each term's own rows and results, equal to the
    original index."""
    import pyarrow as pa
    from sparkfts import codec
    ts = pq.read_table(os.path.join(plain, "term_stats"),
                       columns=["term", "df"]).to_pandas()
    a, b = ts.sort_values(["df", "term"], ascending=[False, True]) \
        ["term"].iloc[[5, 6]].tolist()
    queries = [(q, m) for q in (a, b, f"{a} {b}") for m in ("or", "and")]

    def rows(idx, terms):
        return (idx._local_term_rows(terms).drop(columns="th")
                .sort_values(["term", "shard", "chunk"])
                .reset_index(drop=True))

    orig = FTSIndex(spark, plain)
    want_dec = orig._decoded_terms([a, b])
    want_rows = rows(orig, [a, b])
    want_top = [orig.topk_local(q, k=10, mode=m) for q, m in queries]

    root = str(tmp_path / "collide")
    shutil.copytree(plain, root)
    ha = codec.term_hash(a)
    for f in glob.glob(os.path.join(root, "postings", "*", "*.parquet")):
        t = pq.read_table(f)
        th = np.where(t.column("term").to_numpy(zero_copy_only=False) == b,
                      ha, t.column("th").to_numpy())
        t = t.set_column(t.schema.get_field_index("th"), "th",
                         pa.array(th, pa.int64())).sort_by("th")
        pq.write_table(t, f)
        crc = os.path.join(os.path.dirname(f),
                           f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    real = codec.term_hash
    monkeypatch.setattr(codec, "term_hash",
                        lambda t: ha if t == b else real(t))
    idx = FTSIndex(spark, root)
    # the collision is real: one th locates both terms' rows
    located = idx._rg_take("postings", np.array([ha]))
    assert sum(t.num_rows for t in located) == len(want_rows)
    for load in ([b], [a, b]):
        idx._dec_cache.clear()
        idx._dec_cache_sz.clear()
        got = idx._decoded_terms(load)
        for t in load:
            for g, w in zip(got[t], want_dec[t]):
                assert g.dtype == w.dtype
                np.testing.assert_array_equal(g, w, err_msg=t)
    pd.testing.assert_frame_equal(rows(idx, [a, b]), want_rows)
    for (q, m), want in zip(queries, want_top):
        pd.testing.assert_frame_equal(idx.topk_local(q, k=10, mode=m), want)
