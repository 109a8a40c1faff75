"""Codec unit tests (FIXTURES.md §4): seeded numpy arrays, no Spark."""
import numpy as np
import pytest

from sparkfts import codec


@pytest.mark.parametrize("n", [0, 1, 127, 128, 129, 10_000])
def test_varint_roundtrip(n):
    rng = np.random.default_rng(42 + n)
    vals = rng.integers(0, 1 << 28, size=n, dtype=np.uint64)
    buf = codec.varint_encode(vals)
    out, end = codec.varint_decode(buf, n)
    assert end == len(buf)
    np.testing.assert_array_equal(out, vals)


def test_varint_edge_values():
    vals = np.array([0, 1, 127, 128, 129, 16383, 16384,
                     (1 << 28) - 1, 1 << 28, (1 << 63) - 1,
                     np.uint64((1 << 64) - 1)], dtype=np.uint64)
    out, _ = codec.varint_decode(codec.varint_encode(vals), len(vals))
    np.testing.assert_array_equal(out, vals)


def test_varint_sequential_sections():
    a = np.arange(10, dtype=np.uint64)
    b = np.arange(100, 400, 3, dtype=np.uint64)
    buf = codec.varint_encode(a) + codec.varint_encode(b)
    out_a, off = codec.varint_decode(buf, len(a))
    out_b, end = codec.varint_decode(buf, len(b), off)
    np.testing.assert_array_equal(out_a, a)
    np.testing.assert_array_equal(out_b, b)
    assert end == len(buf)


@pytest.mark.parametrize("n", [1, 127, 128, 129, 1000, 10_000])
def test_postings_roundtrip(n):
    rng = np.random.default_rng(7 * n + 1)
    gaps = rng.integers(1, 1 << 20, size=n)
    docids = np.cumsum(gaps).astype(np.int64)
    tfs = rng.integers(1, 255, size=n).astype(np.int64)
    dls = rng.integers(1, 500, size=n).astype(np.int64)
    enc = codec.encode_postings(docids, tfs, dls)
    assert enc["df"] == n
    assert enc["cf"] == tfs.sum()
    d, t, l = codec.decode_postings(enc["blob"], enc["block_off"],
                                    enc["block_n"])
    np.testing.assert_array_equal(d, docids)
    np.testing.assert_array_equal(t, tfs)
    np.testing.assert_array_equal(l, dls)


def test_blockmax_metadata_invariants():
    rng = np.random.default_rng(99)
    n = 1000
    docids = np.cumsum(rng.integers(1, 50, size=n)).astype(np.int64)
    tfs = rng.integers(1, 20, size=n).astype(np.int64)
    dls = rng.integers(5, 100, size=n).astype(np.int64)
    enc = codec.encode_postings(docids, tfs, dls)
    nblocks = len(enc["block_n"])
    assert nblocks == -(-n // codec.BLOCK)
    assert enc["block_n"].sum() == n
    for i in range(nblocks):
        lo, hi = i * codec.BLOCK, min((i + 1) * codec.BLOCK, n)
        assert enc["block_first"][i] == docids[lo]
        assert enc["block_last"][i] == docids[hi - 1]
        assert enc["block_max_tf"][i] == tfs[lo:hi].max()
        assert enc["block_min_dl"][i] == dls[lo:hi].min()
        # query-time bound partial(max_tf, min_dl, avgdl) dominates every
        # true partial in the block, for an arbitrary avgdl
        for avgdl in (5.0, 40.0, 400.0):
            ub = codec.bm25_partial(
                np.array([enc["block_max_tf"][i]]),
                np.array([enc["block_min_dl"][i]]), avgdl)[0]
            assert (codec.bm25_partial(tfs[lo:hi], dls[lo:hi], avgdl)
                    <= ub + 1e-15).all()
        d, t, l = codec.decode_block(enc["blob"], int(enc["block_off"][i]),
                                     int(enc["block_n"][i]))
        np.testing.assert_array_equal(d, docids[lo:hi])


def test_single_posting_and_empty_block_list():
    enc = codec.encode_postings(np.array([5]), np.array([3]),
                                np.array([17]))
    d, t, l = codec.decode_postings(enc["blob"], enc["block_off"],
                                    enc["block_n"])
    assert d.tolist() == [5] and t.tolist() == [3] and l.tolist() == [17]
    d, t, l = codec.decode_postings(b"", np.empty(0), np.empty(0))
    assert d.size == 0


def test_batch_encoder_byte_identical_to_per_segment():
    """encode_postings_batch must produce byte-identical blobs and
    metadata to per-segment encode_postings across ragged shapes."""
    import numpy as np
    from sparkfts import codec
    rng = np.random.default_rng(11)
    # build a synthetic shard: 37 segments of ragged sizes incl. 1 and
    # multi-block (> 128) ones
    seg_sizes = [1, 2, 128, 129, 300, 5] + list(rng.integers(1, 40, 31))
    d_all, tf_all, dl_all, pos_all, starts = [], [], [], [], []
    acc = 0
    for sz in seg_sizes:
        starts.append(acc)
        docids = np.cumsum(rng.integers(1, 50, sz)).astype(np.int64)
        tfs = rng.integers(1, 6, sz).astype(np.int64)
        dls = rng.integers(1, 900, sz).astype(np.int64)
        pos = []
        for t in tfs:
            pos.append(np.cumsum(rng.integers(1, 9, t)).astype(np.int64))
        d_all.append(docids); tf_all.append(tfs); dl_all.append(dls)
        pos_all.append(np.concatenate(pos))
        acc += sz
    d = np.concatenate(d_all); tf = np.concatenate(tf_all)
    dl = np.concatenate(dl_all); pos = np.concatenate(pos_all)
    pb = np.concatenate(([0], np.cumsum(tf)))
    segs = codec.encode_postings_batch(d, tf, dl, pos, pb,
                                       np.asarray(starts))
    assert len(segs) == len(seg_sizes)
    off = 0
    for (sz, got) in zip(seg_sizes, segs):
        sl = slice(off, off + sz)
        psl = slice(int(pb[off]), int(pb[off + sz]))
        want = codec.encode_postings(d[sl], tf[sl], dl[sl],
                                     positions=pos[psl])
        assert got["blob"] == want["blob"]
        assert got["df"] == want["df"] and got["cf"] == want["cf"]
        for key in ("block_first", "block_last", "block_off", "block_n",
                    "block_max_tf", "block_min_dl"):
            assert np.array_equal(np.asarray(got[key]),
                                  np.asarray(want[key])), key
        # and the decoded postings round-trip
        dd, tt, ll, pp = codec.decode_postings(
            got["blob"], np.asarray(got["block_off"]),
            np.asarray(got["block_n"]), with_positions=True)
        assert np.array_equal(dd, d[sl]) and np.array_equal(tt, tf[sl])
        assert np.array_equal(pp, pos[psl])
        off += sz


def test_docid_set_roundtrip():
    """encode_docid_set/decode_docid_set: sorted-unique round trip,
    dedup + sort on encode, empty-set handling."""
    import numpy as np
    from sparkfts import codec
    rng = np.random.default_rng(7)
    for n in (0, 1, 5, 1000):
        d = rng.integers(0, 10**12, size=n)
        got = codec.decode_docid_set(codec.encode_docid_set(d))
        np.testing.assert_array_equal(got, np.unique(d.astype(np.int64)))
    assert codec.decode_docid_set(b"").size == 0
    assert codec.decode_docid_set(None).size == 0


def test_varint_writer_uint32_matches_uint64():
    """The uint32-native writer path must produce byte-identical LEB128
    output and lengths for any values that fit uint32 (the encoder
    feeds it uint32 whenever max(docid, dl) < 2^32)."""
    from sparkfts.codec import _varint_encode_with_lengths
    rng = np.random.default_rng(7)
    for n in (0, 1, 5, 10_000):
        v = rng.integers(0, 2**32, size=n, dtype=np.uint64)
        # salt with boundary values
        if n >= 5:
            v[:5] = [0, 127, 128, 2**21 - 1, 2**32 - 1]
        b64, l64 = _varint_encode_with_lengths(v)
        b32, l32 = _varint_encode_with_lengths(v.astype(np.uint32))
        assert b64 == b32
        assert np.array_equal(l64, l32)
    # values beyond uint32 keep the uint64 path working
    big = np.array([2**32, 2**63 - 1, 3], dtype=np.uint64)
    b, ln = _varint_encode_with_lengths(big)
    from sparkfts.codec import varint_decode
    dec, _ = varint_decode(b, count=3)
    assert dec.tolist() == big.tolist()


def test_batch_encoder_position_beyond_uint32_roundtrips():
    """A position >= 2^32 with small docids and dls must take the uint64
    path and decode back exactly, not be truncated to 32 bits."""
    pos = np.array([7, 2**32 + 9], dtype=np.int64)
    seg = codec.encode_postings_batch(
        np.array([5]), np.array([2]), np.array([3]), pos,
        np.array([0, 2]), np.array([0]))[0]
    d, t, l, p = codec.decode_block(seg["blob"], int(seg["block_off"][0]),
                                    1, with_positions=True)
    assert d.tolist() == [5] and t.tolist() == [2] and l.tolist() == [3]
    assert p.tolist() == pos.tolist()
