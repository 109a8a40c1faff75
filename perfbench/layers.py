"""Per-layer metrics of a traced run.

They come from three places, none inside ``sparkfts/``:

* spans the benchmark recorded around its calls into each layer;
* outputs the program already writes: the ``phases`` dict
  ``build_index`` and ``compact`` return, and the manifest, postings and
  term_stats parquet of the built index, with their on-disk sizes;
* standalone timings of public functions (``tokenize_arrow``,
  ``tokenize_text``, ``codec.decode_postings``, a no-op Spark job).

Every per-layer metric is reported by every workload. ``probe`` makes
the calls a workload does not make itself (for example ``topk_many`` on
serve_zipf, the delta leg on nightly_build) so that each metric is a
measurement; the workload a metric is meant to explain is named in
``perfbench/README.md``.
"""
from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from sparkfts import CombinedIndex
from sparkfts.analyzer import tokenize_arrow, tokenize_text
from sparkfts.codec import decode_postings

from . import inputs
from .workloads import (TIMED_SLOTS, DeltaLoop, Run, dir_bytes, slot_values)

LAYERS = ("analyzer", "build", "codec", "storage", "query", "streaming",
          "spark")
LRU_CAP = 256          # FTSIndex's per-handle term cache entries
STANDALONE_QUERIES = 1_000
REPEATS = 3


def probe(run: Run, root: str, src: str, idx) -> None:
    """Traced: the layer calls the workload did not make, then the
    standalone timings."""
    run.traced(True)
    names = run.tracer.names()
    stream = iter(inputs.query_stream(run.seed + 1, 10_000))
    if "query.open" not in names:
        idx = run.open_index(root)
    if "query.topk_pandas" not in names:
        for _ in range(2):
            run.dist_topk(idx, *next(stream))
    if "query.topk_filtered" not in names:
        run.dist_filtered(idx, *next(stream))
    if "query.topk_many" not in names:
        run.topk_many(idx, [next(stream) for _ in range(8)])
    if "query.fetch_docs_local" not in names:
        for _ in range(20):
            with run.op("search"):
                run.search(idx, *next(stream))
    if "streaming.batch_index" not in names:
        loop = DeltaLoop(run, root, idx.N, CombinedIndex(run.spark, root))
        loop.step(0, [next(stream) for _ in range(5)])
        loop.compact()
    with run.span("bench.standalone"):
        _standalone(run, root, src)
    run.traced(False)


def _standalone(run: Run, root: str, src: str) -> None:
    texts = pq.read_table(src, columns=["text"]).column("text")
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        with run.span("analyzer.tokenize_arrow"):
            flat, _ = tokenize_arrow(texts)
        run.record("tokens_per_s", len(flat) / (time.perf_counter() - t0))
    queries = [q for q, _ in
               inputs.query_stream(run.seed, STANDALONE_QUERIES)]
    for q in queries:
        t0 = time.perf_counter()
        with run.span("analyzer.tokenize_text"):
            tokenize_text(q)
        run.record("query_tokenize_us", (time.perf_counter() - t0) * 1e6)
    terms = sorted({t for q in queries for t in tokenize_text(q)})
    with run.span("storage.read_postings"):
        rows = (ds.dataset(os.path.join(root, "postings"), format="parquet",
                           partitioning="hive")
                .to_table(filter=ds.field("term").isin(terms),
                          columns=["blob", "block_off", "block_n", "df"])
                .to_pylist())
    rows = [(r["blob"], np.asarray(r["block_off"], dtype=np.int64),
             np.asarray(r["block_n"], dtype=np.int64)) for r in rows]
    n_post = sum(int(n.sum()) for _, _, n in rows)
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        with run.span("codec.decode_postings"):
            for blob, off, n in rows:
                decode_postings(blob, off, n)
        run.record("decode_postings_per_s",
                   n_post / (time.perf_counter() - t0))
    sc = run.spark.sparkContext
    for _ in range(5):
        t0 = time.perf_counter()
        with run.span("spark.noop_job"):
            sc.parallelize(range(sc.defaultParallelism),
                           sc.defaultParallelism).count()
        run.record("job_floor_ms", (time.perf_counter() - t0) * 1e3)


def lru_reuse_frac(terms: list[str], cap: int = LRU_CAP) -> float:
    """Share of term references whose LRU stack distance is below
    ``cap``: the references a ``cap``-entry LRU could serve."""
    stack: list[str] = []           # most recent last
    reused = 0
    for t in terms:
        if t in stack:
            i = stack.index(t)
            reused += len(stack) - 1 - i < cap
            del stack[i]
        stack.append(t)
    return reused / max(1, len(terms))


def _outputs(run: Run, root: str) -> dict:
    with run.span("storage.read_outputs"):
        max_enc = (ds.dataset(os.path.join(root, "manifest"),
                              format="parquet")
                   .to_table(columns=["max_enc_us"]).column(0)
                   .to_numpy().astype(np.float64))
        # the kernel stamps each encode call's wall on every row it
        # emitted, so a call's time is one distinct (shard, enc_us) pair
        enc = (ds.dataset(os.path.join(root, "postings"), format="parquet",
                          partitioning="hive")
               .to_table(columns=["shard", "enc_us"]).to_pandas()
               .drop_duplicates())
        ts = (ds.dataset(os.path.join(root, "term_stats"), format="parquet")
              .to_table(columns=["term", "df"]))
    df = dict(zip(ts.column("term").to_pylist(),
                  ts.column("df").to_numpy().tolist()))
    return {"max_enc": max_enc, "enc_us": enc["enc_us"].to_numpy(),
            "df": df}


def layer_metrics(run: Run, workload: str,
                  root: str) -> dict[str, tuple[float, str]]:
    out_ = _outputs(run, root)
    tr = run.tracer
    med = statistics.median

    def span_ms(name: str, q: float = 50) -> float:
        return float(np.percentile(tr.self_times(name), q)) * 1e3

    def sample(key: str) -> float:
        return med(run.values(key, None))

    phase = {p: med(ph[p] for ph in run.phases)
             for p in ("assign_docids", "write_data", "term_stats",
                       "manifest")}
    dfm = out_["df"]
    posted = [sum(dfm.get(t, 0) for t in set(tokenize_text(q)))
              for q, _ in run.queries]
    returned = sum(n for _, n in run.queries)
    terms = [t for q, _ in run.queries for t in sorted(set(tokenize_text(q)))]
    m = {
        "build.assign_docids_s": (phase["assign_docids"], "s"),
        "build.write_data_s": (phase["write_data"], "s"),
        "build.term_stats_s": (phase["term_stats"], "s"),
        "build.manifest_s": (phase["manifest"], "s"),
        "streaming.compact_write_data_s": (sample("compact_write_data_s"),
                                           "s"),
        "build.shard_enc_skew": (
            float(out_["max_enc"].max() / out_["max_enc"].mean()), "ratio"),
        "codec.encode_busy_s": (float(out_["enc_us"].sum()) / 1e6, "s"),
        "analyzer.tokens_per_s": (sample("tokens_per_s"), "1/s"),
        "build.postings_bytes": (dir_bytes(os.path.join(root, "postings")),
                                 "bytes"),
        "build.docstore_bytes": (dir_bytes(os.path.join(root, "docstore")),
                                 "bytes"),
        "build.n_terms": (len(dfm), "count"),
        "build.n_postings": (int(sum(dfm.values())), "count"),
        "spark.job_floor_ms": (sample("job_floor_ms"), "ms"),
        "query.dist_topk_ms": (span_ms("query.topk_pandas"), "ms"),
        "query.engine_local_ms": (med(run.values("engine_local_ms", True)),
                                  "ms"),
        "query.dist_filtered_ms": (span_ms("query.topk_filtered"), "ms"),
        "query.topk_many_ms": (span_ms("query.topk_many"), "ms"),
        "query.topk_local_p50_ms": (span_ms("query.topk_local"), "ms"),
        "query.topk_local_p99_ms": (span_ms("query.topk_local", 99), "ms"),
        "query.fetch_docs_local_p50_ms": (span_ms("query.fetch_docs_local"),
                                          "ms"),
        "query.fetch_docs_local_p99_ms": (
            span_ms("query.fetch_docs_local", 99), "ms"),
        "analyzer.query_tokenize_us": (sample("query_tokenize_us"), "us"),
        "query.postings_per_query": (float(np.mean(posted)), "count"),
        "query.hits_per_posting": (returned / max(1, sum(posted)), "ratio"),
        "query.lru_reuse_frac": (lru_reuse_frac(terms), "ratio"),
        "codec.decode_postings_per_s": (sample("decode_postings_per_s"),
                                        "1/s"),
        "query.open_ms": (span_ms("query.open"), "ms"),
        "streaming.combined_open_ms": (span_ms("streaming.combined_open"),
                                       "ms"),
        "streaming.combined_topk_local_ms": (
            span_ms("streaming.combined_topk_local"), "ms"),
        "streaming.delta_build_s": (span_ms("streaming.batch_index") / 1e3,
                                    "s"),
        "streaming.delete_docs_ms": (span_ms("streaming.delete_docs"), "ms"),
        "streaming.generations": (max(run.values("generations", None)),
                                  "count"),
    }
    m["query.engine_frac"] = (m["query.engine_local_ms"][0]
                              / m["query.dist_topk_ms"][0], "ratio")
    self_s = tr.layer_self_s()
    for layer in LAYERS:
        m[f"{layer}.self_s"] = (self_s.get(layer, 0.0), "s")
    # tracing overhead: traced vs untraced halves of the same run
    plain = slot_values(run, workload, traced=False)
    traced = slot_values(run, workload, traced=True)
    for slot in TIMED_SLOTS:
        m[f"trace_overhead.{slot}"] = (
            100.0 * (traced[slot][0] - plain[slot][0]) / plain[slot][0], "%")
    return m
