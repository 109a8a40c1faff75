"""Tests of the benchmark itself: its input generators at tiny size,
checked against the brute-force ``sparkfts.oracle.BM25Oracle``, and
the helpers its metrics rest on.

    python -m pytest perfbench -q
"""
from __future__ import annotations

import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, layers, workloads  # noqa: E402
from perfbench.run import make_spark, stop_spark  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402
from sparkfts.fixtures import vocabulary  # noqa: E402
from sparkfts.oracle import BM25Oracle  # noqa: E402

TINY_CONVS = 12


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("spark"))
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    s = make_spark(work)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    stop_spark(s)


def docstore(root: str) -> pd.DataFrame:
    return (ds.dataset(os.path.join(root, "docstore"), format="parquet",
                       partitioning="hive")
            .to_table(columns=["docid", "text"]).to_pandas())


def oracle_topk(oracle: BM25Oracle, q: str, mode: str,
                drop=()) -> pd.DataFrame:
    """Oracle top-k with ``drop`` docids removed before the cut (deleted
    docs leave the ranking but keep their share of the statistics)."""
    full = oracle.topk(q, k=10 ** 9, mode=mode)
    full = full[~full["docid"].isin(list(drop))]
    return full.head(inputs.K).reset_index(drop=True)


def test_query_stream_is_seeded_and_zipfian():
    a = inputs.query_stream(5, 3000)
    assert a == inputs.query_stream(5, 3000)
    assert a != inputs.query_stream(6, 3000)
    vocab = set(vocabulary())
    lens = [len(q.split()) for q, _ in a]
    assert set(lens) == {1, 2, 3}
    assert all(t in vocab for q, _ in a for t in q.split())
    or_share = sum(m == "or" for _, m in a) / len(a)
    assert 0.65 < or_share < 0.75
    head = sum(t == "alpha" for q, _ in a for t in q.split())
    tail = sum(t == vocabulary()[-1] for q, _ in a for t in q.split())
    assert head > 20 * max(1, tail)


def test_tombstone_sample_distinct_and_live():
    rng = np.random.default_rng(0)
    live = np.arange(100, 200)
    ids = inputs.tombstone_sample(rng, live, 30)
    assert ids.size == 30 and np.unique(ids).size == 30
    assert np.isin(ids, live).all()


def test_lru_reuse_frac_counts_stack_distance():
    assert layers.lru_reuse_frac(["a", "b", "a", "b"], cap=2) == 0.5
    assert layers.lru_reuse_frac(["a", "b", "c", "a"], cap=2) == 0.0
    assert layers.lru_reuse_frac(["a", "a", "a"], cap=1) == 2 / 3


def test_tracer_self_time_subtracts_children():
    tr = Tracer("t")
    tr.enabled = True
    with tr.span("bench.outer"):
        with tr.span("query.inner"):
            sum(range(100_000))
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"]
    whole = outer["end"] - outer["start"]
    (self_outer,) = tr.self_times("bench.outer")
    assert self_outer == pytest.approx(
        whole - (inner["end"] - inner["start"]))
    tr.enabled = False
    with tr.span("query.untraced"):
        pass
    assert "query.untraced" not in tr.names()


def test_nightly_and_serve_paths_match_oracle(spark, tmp_path):
    run = workloads.Run(spark, str(tmp_path), seed=3, seconds=0,
                        trace=False)
    src = str(tmp_path / "corpus.parquet")
    rows = inputs.write_corpus(src, TINY_CONVS, 3)
    root, _ = run.build(src, 4, rows)
    idx = run.open_index(root)
    store = docstore(root)
    oracle = BM25Oracle(store["docid"].to_numpy(), store["text"])
    stream = inputs.query_stream(3, 40)
    for q, mode in stream:
        got = run.search(idx, q, mode)
        assert workloads.same_ranking(got, oracle_topk(oracle, q, mode)), q
    for q, mode in stream[:3]:
        run.dist_topk(idx, q, mode)
        run.dist_filtered(idx, q, mode)
    run.topk_many(idx, stream[3:9])
    assert run.attempted == 1 + 6 + 1 and run.failed == 0


def test_delta_loop_matches_oracle(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(workloads, "DELTA_CONVS", 3)
    monkeypatch.setattr(workloads, "DELETES_PER_STEP", 6)
    run = workloads.Run(spark, str(tmp_path), seed=4, seconds=0,
                        trace=False)
    src = str(tmp_path / "corpus.parquet")
    rows = inputs.write_corpus(src, TINY_CONVS, 4)
    root, _ = run.build(src, 4, rows)
    loop = workloads.DeltaLoop(run, root, rows,
                               workloads.CombinedIndex(spark, root))
    stream = iter(inputs.query_stream(4, 200))
    for i in range(2):
        loop.step(i, [next(stream) for _ in range(10)])
    assert len(loop.ci.subs) == 3 and loop.deleted.size == 12
    store = pd.concat([docstore(s.root) for s in loop.ci.subs])
    oracle = BM25Oracle(store["docid"].to_numpy(), store["text"])
    for q, mode in [next(stream) for _ in range(30)]:
        got = loop.ci.topk_local(q, k=inputs.K, mode=mode)
        want = oracle_topk(oracle, q, mode, drop=loop.deleted)
        assert workloads.same_ranking(got, want), q
    loop.compact()
    assert run.failed == 0


def test_run_refuses_a_checkout_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"),
                    tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve_zipf",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0 and p.stdout == ""
