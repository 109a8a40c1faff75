"""Lucene classic TF/IDF similarity (ES 1.x default scoring) — the
opt-in twin to BM25 on the same index artifacts. Oracle: an
independent pure-python brute force over the raw docstore texts,
including a SCALAR struct-based reimplementation of the SmallFloat
byte315 norm round trip (cross-checking the module's vectorized
one)."""
import math
import struct
from collections import Counter

import numpy as np
import pytest

from sparkfts import BuildConfig, FTSIndex, build_index
from sparkfts.analyzer import tokenize_text
from sparkfts.classic import (byte315_to_float, classic_topk,
                              classic_topk_local, float_to_byte315)
from sparkfts.fixtures import make_transcripts


def _b315_scalar(f: float) -> int:
    bits = struct.unpack("<i", struct.pack("<f", np.float32(f)))[0]
    fzero = (63 - 15) << 3
    small = bits >> (24 - 3)
    if small <= fzero:
        return 0 if bits <= 0 else 1
    if small >= fzero + 0x100:
        return 255
    return (small - fzero) & 0xFF


def _b315_decode_scalar(b: int) -> float:
    if b == 0:
        return 0.0
    bits = (b << (24 - 3)) + ((63 - 15) << 24)
    return struct.unpack("<f", struct.pack("<i",
                                           np.int32(bits)))[0]


def test_byte315_known_values_and_scalar_parity():
    """floatToByte315(1.0) == 124 and decodes back to exactly 1.0 (the
    published Lucene norm byte for dl=1); vectorized == scalar over a
    dense sweep; decode table is monotonic."""
    assert int(float_to_byte315(np.array([1.0]))[0]) == 124
    assert float(byte315_to_float(np.array([124]))[0]) == 1.0
    xs = np.concatenate([np.linspace(0, 2, 4001),
                         10.0 ** np.linspace(-9, 9, 200)])
    vec = float_to_byte315(xs)
    for x, v in zip(xs, vec):
        assert int(v) == _b315_scalar(float(x)), x
    dec = byte315_to_float(np.arange(256))
    assert (np.diff(dec) > 0).all()
    for b in range(256):
        assert float(dec[b]) == _b315_decode_scalar(b)


@pytest.fixture(scope="module")
def cidx(spark, tmp_path_factory):
    pdf = make_transcripts(30, seed=77)
    root = str(tmp_path_factory.mktemp("classic_idx"))
    build_index(spark, spark.createDataFrame(pdf), root,
                order_cols=["conv_id", "turn_idx"],
                cfg=BuildConfig(num_shards=3, partitions=3))
    return FTSIndex(spark, root)


def _brute(idx, query, mode, k=10**6):
    """Independent classic scorer over raw texts."""
    store = idx._docstore.select("docid", "text").toPandas()
    toks = {int(r["docid"]): tokenize_text(r["text"] or "",
                                           idx.tokenizer)
            for _, r in store.iterrows()}
    qterms = sorted(set(tokenize_text(query, idx.tokenizer)))
    if not qterms:
        return []
    N = len(toks)
    df = Counter()
    for tl in toks.values():
        for t in set(tl):
            df[t] += 1
    idf = {t: 1.0 + math.log(N / (df[t] + 1)) for t in qterms}
    qn = 1.0 / math.sqrt(sum(w * w for w in idf.values()))
    out = []
    for d, tl in toks.items():
        c = Counter(tl)
        matched = [t for t in qterms if c[t] > 0]
        if not matched or (mode == "and"
                           and len(matched) < len(qterms)):
            continue
        norm = _b315_decode_scalar(
            _b315_scalar(1.0 / math.sqrt(max(len(tl), 1))))
        s = sum(math.sqrt(c[t]) * idf[t] ** 2 * norm
                for t in sorted(matched))
        s *= (len(matched) / len(qterms)) * qn
        out.append((d, s))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


@pytest.mark.parametrize("query,mode", [
    ("alpha query index", "or"),
    ("merge window", "and"),
    ("shard", "or"),
    ("alpha zzzunseen", "or"),
    ("alpha zzzunseen", "and"),
    ("!!!", "or"),
])
def test_classic_matches_brute_oracle(cidx, query, mode):
    want = _brute(cidx, query, mode, k=12)
    got = classic_topk_local(cidx, query, k=12, mode=mode)
    assert got["docid"].tolist() == [d for d, _ in want]
    np.testing.assert_allclose(got["score"],
                               [s for _, s in want],
                               rtol=1e-12, atol=1e-12)
    dist = classic_topk(cidx, query, k=12, mode=mode)
    assert dist["docid"].tolist() == got["docid"].tolist()
    np.testing.assert_allclose(dist["score"], got["score"],
                               rtol=0, atol=0)


def test_classic_differs_from_bm25_but_same_artifacts(cidx):
    """Same index files serve both similarities; the rankings are
    genuinely different scoring models (sanity that the toggle does
    something) while the matched DOC SET is identical."""
    q = "alpha query index"
    cl = classic_topk_local(cidx, q, k=10**6, mode="or")
    bm = cidx.topk_local(q, k=10**6, mode="or")
    assert set(cl["docid"]) == set(bm["docid"])
    assert not np.allclose(np.sort(cl["score"]), np.sort(bm["score"]))


def test_classic_combined_union_equals_monolith(spark,
                                                tmp_path_factory):
    """CombinedIndex classic scoring: union-global df/N over base +
    delta equals a monolithic rebuild of the same corpus (modulo docid
    identity, compared via (conv_id, turn_idx)); tombstoned docs
    vanish with stale-stats scores intact."""
    from sparkfts.streaming import CombinedIndex, make_batch_indexer
    pdf_a = make_transcripts(10, seed=78)
    pdf_b = make_transcripts(4, seed=79)
    cfg = BuildConfig(num_shards=2, partitions=2)
    root = str(tmp_path_factory.mktemp("classic_stream"))
    build_index(spark, spark.createDataFrame(pdf_a), root,
                order_cols=["conv_id", "turn_idx"], cfg=cfg)
    make_batch_indexer(root, cfg=cfg)(
        spark.createDataFrame(pdf_b), batch_id=0)
    ci = CombinedIndex(spark, root)
    mono_root = str(tmp_path_factory.mktemp("classic_mono"))
    import pandas as pd
    build_index(spark,
                spark.createDataFrame(pd.concat([pdf_a, pdf_b],
                                                ignore_index=True)),
                mono_root, order_cols=["conv_id", "turn_idx"], cfg=cfg)
    from sparkfts import FTSIndex
    mono = FTSIndex(spark, mono_root)

    def keyed(ix, hits):
        if hits.empty:
            return []
        docs = ix.fetch_docs_local(hits["docid"].tolist())
        m = hits.merge(docs[["docid", "conv_id", "turn_idx"]],
                       on="docid")
        return sorted((round(s, 9), c, int(t)) for s, c, t in
                      zip(m["score"], m["conv_id"], m["turn_idx"]))

    checked = 0
    for q, mode in [("alpha query index", "or"), ("alpha index", "and"),
                    ("shard", "or")]:
        a = classic_topk_local(ci, q, k=8, mode=mode)
        b = classic_topk_local(mono, q, k=8, mode=mode)
        assert keyed(ci, a) == keyed(mono, b), (q, mode)
        checked += 0 if a.empty else 1
    assert checked >= 2, "fixture too sparse to exercise the union"

    # delete the top hit: it vanishes, survivors keep stale scores
    top = classic_topk_local(ci, "alpha query index", k=3)
    if not top.empty:
        before = classic_topk_local(ci, "alpha query index", k=10**6)
        dead = int(top["docid"].iloc[0])
        ci.delete_docs([dead])
        after = classic_topk_local(ci, "alpha query index", k=10**6)
        want = before[before["docid"] != dead].reset_index(drop=True)
        assert after["docid"].tolist() == want["docid"].tolist()
        np.testing.assert_allclose(after["score"], want["score"],
                                   rtol=0, atol=0)


def test_classic_topk_on_segments_equals_local(spark, tmp_path_factory):
    """Distributed classic scoring runs over the segment list: on a
    CombinedIndex (base + one delta + one tombstone) classic_topk equals
    classic_topk_local on docids and on scores bit for bit, and the
    tombstoned doc never comes back."""
    from sparkfts.streaming import CombinedIndex, make_batch_indexer
    cfg = BuildConfig(num_shards=2, partitions=2)
    root = str(tmp_path_factory.mktemp("classic_segments"))
    build_index(spark, spark.createDataFrame(make_transcripts(10, seed=81)),
                root, order_cols=["conv_id", "turn_idx"], cfg=cfg)
    make_batch_indexer(root, cfg=cfg)(
        spark.createDataFrame(make_transcripts(4, seed=82)), batch_id=0)
    ci = CombinedIndex(spark, root)
    assert len(ci.subs) == 2
    q = "alpha query index"
    dead = int(classic_topk_local(ci, q, k=1)["docid"].iloc[0])
    ci.delete_docs([dead])
    for query, mode in [(q, "or"), ("alpha index", "and"),
                        ("shard", "or")]:
        want = classic_topk_local(ci, query, k=10 ** 6, mode=mode)
        got = classic_topk(ci, query, k=10 ** 6, mode=mode)
        assert got["docid"].tolist() == want["docid"].tolist(), query
        np.testing.assert_allclose(got["score"], want["score"],
                                   rtol=0, atol=0)
        assert dead not in set(got["docid"])
    assert len(classic_topk(ci, q, k=10 ** 6)) > 0
