"""The benchmark's three workloads, driven through sparkfts's public API.

One single-threaded closed-loop client (this process) issues every call:
the next operation starts only after the previous one returned.

* ``nightly_build`` — the offline rebuild plus batch export: build the
  index (32 shards), then the batch consumers' distributed calls on the
  fresh index (``topk_pandas``, ``topk_pandas(filter=...)``,
  ``topk_many``). Each timed cycle rebuilds the corpus once more, so the
  build rate is a median over several warm builds.
* ``serve_zipf`` — the always-on serving path: one long-lived
  ``FTSIndex``, ``topk_local`` then ``fetch_docs_local`` of its hits, on
  a Zipfian query stream whose term working set (~2,000 terms) is larger
  than the handle's 256-term LRU.
* ``delta_ingest`` — writes beside reads: micro-batches through
  ``make_batch_indexer``, tombstones through ``CombinedIndex.delete_docs``,
  a reopened ``CombinedIndex`` answering fresh ``topk_local`` queries,
  and a final ``compact``.

Every workload sets up (generate input, build, open) three times and
reports the median, so the first set-up's JVM and Python-worker warm-up
does not decide ``setup_s``. Outputs are checked as the run goes; a
raised exception or a wrong result marks that operation failed.
"""
from __future__ import annotations

import os
import resource
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

import numpy as np
import pandas as pd

from sparkfts import (BuildConfig, CombinedIndex, FTSIndex, build_index,
                      compact, make_batch_indexer)

from . import inputs
from .spans import Tracer

BASE_CONVS = 1_000          # ~21k docs (fixture conversations hold 1-40 turns)
NIGHTLY_SHARDS = 32
SERVE_SHARDS = 4            # keeps a request near 17 ms, so the closed
# loop reaches MIN_REQUESTS within the run budget
SETUPS = 3
ORDER = ["conv_id", "turn_idx"]
FILTER = "role = 'user'"

MIN_CYCLES = 3              # nightly_build: rounds (rebuild + batch calls) at least
DIST_PER_CYCLE = 3
FILTERED_PER_CYCLE = 2
BATCH_QUERIES = 8
WARMUP_REQUESTS = 100       # serve_zipf: fills most of the 256-term LRU
MIN_REQUESTS = 1_000        # so that 10 requests lie beyond p99
CHECK_SAMPLE = 2            # serve_zipf: stream queries re-run distributed
MIN_STEPS = 4               # delta_ingest: micro-batches per run at least
DELTA_CONVS = 50            # ~1k docs per micro-batch
DELETES_PER_STEP = 25
QUERIES_PER_STEP = 25        # so that 10 fresh queries lie beyond p90


def _ms(t0: float) -> float:
    return (time.perf_counter() - t0) * 1e3


def _pct(xs: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=np.float64), q))


def same_ranking(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Rank-identical: same docids in the same order, scores within 1e-9."""
    return (len(a) == len(b)
            and np.array_equal(a["docid"].to_numpy(np.int64),
                               b["docid"].to_numpy(np.int64))
            and np.allclose(a["score"].to_numpy(np.float64),
                            b["score"].to_numpy(np.float64),
                            rtol=0.0, atol=1e-9))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


class Run:
    """State of one benchmark run: Spark session, scratch directory,
    tracer, samples and the count of attempted and failed operations.

    Samples carry the tracer state they were taken under. An untraced
    run has only untraced samples; a traced run alternates, so the two
    halves give the tracing overhead on the same inputs."""

    def __init__(self, spark, work: str, seed: int, seconds: float,
                 trace: bool):
        self.spark, self.work = spark, work
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.tracer = Tracer(f"{seed}-{os.getpid()}")
        self.samples: dict[str, list[tuple[bool, float]]] = \
            defaultdict(list)
        self.phases: list[dict] = []     # build_index phases, warm builds
        self.queries: list[tuple[str, int]] = []   # (text, rows returned)
        self.index_bytes_per_input_byte = float("nan")
        self.attempted = self.failed = 0
        self._bad = False
        self._dirs = 0
        self._builds = 0
        self.t0 = time.perf_counter()

    # -- bookkeeping ---------------------------------------------------
    def span(self, name: str):
        return self.tracer.span(name)

    def traced(self, on: bool) -> None:
        """Switch tracing for the next iteration (traced runs only)."""
        self.tracer.enabled = self.trace and on

    def record(self, key: str, value: float) -> None:
        self.samples[key].append((self.tracer.enabled, float(value)))

    def values(self, key: str, traced: bool | None = False) -> list[float]:
        """Samples of ``key`` taken untraced, traced, or (None) either way."""
        return [v for t, v in self.samples[key]
                if traced is None or t == traced]

    @contextmanager
    def op(self, what: str):
        """One attempted operation; it fails if it raises or if an
        ``expect`` inside it does not hold."""
        self.attempted += 1
        self._bad = False
        try:
            yield
        except Exception:   # noqa: BLE001 — counted, reported, run goes on
            traceback.print_exc(file=sys.stderr)
            self._bad = True
        if self._bad:
            self.failed += 1
            print(f"perfbench: {what} failed", file=sys.stderr)

    def expect(self, ok: bool, what: str) -> None:
        if not ok:
            self._bad = True
            print(f"perfbench: wrong output: {what}", file=sys.stderr)

    def mark(self, what: str) -> None:
        """Progress line on stderr: where a run's wall time goes."""
        print(f"perfbench: {what} at {time.perf_counter() - self.t0:.1f} s",
              file=sys.stderr)

    def fresh_dir(self, tag: str) -> str:
        self._dirs += 1
        return os.path.join(self.work, f"{tag}-{self._dirs}")

    def until(self, minimum: int):
        """Iteration numbers until ``seconds`` have passed and at least
        ``minimum`` iterations ran; traced runs trace every other one."""
        self.mark("timed loop starts")
        t_end = time.perf_counter() + self.seconds
        i = 0
        while i < minimum or time.perf_counter() < t_end:
            self.traced(i % 2 == 0)
            yield i
            i += 1
        self.traced(False)
        self.mark(f"timed loop ends after {i} iterations")

    def ab(self, fn) -> None:
        """Run a one-off step untraced; in a traced run, once more traced."""
        for on in ((False, True) if self.trace else (False,)):
            self.traced(on)
            fn()
        self.traced(False)

    # -- layer calls -----------------------------------------------------
    def build(self, src: str, shards: int, rows: int) -> tuple[str, float]:
        """build_index into a fresh directory; returns (root, wall s)."""
        root = self.fresh_dir("idx")
        with self.op("build_index"):
            t0 = time.perf_counter()
            with self.span("build.build_index"):
                s = build_index(self.spark, self.spark.read.parquet(src),
                                root, order_cols=ORDER,
                                cfg=BuildConfig(num_shards=shards))
            wall = time.perf_counter() - t0
            self.mark(f"build {self._builds + 1}: {wall:.2f} s")
            self.expect(s["n_docs"] == rows,
                        f"build n_docs {s['n_docs']} != {rows} input rows")
            self._builds += 1
            if self._builds > 1:        # the first build pays JVM warm-up
                self.phases.append(s["phases"])
                self.record("build_docs_per_s", rows / wall)
            return root, wall
        return root, float("nan")

    def open_index(self, root: str) -> FTSIndex:
        t0 = time.perf_counter()
        with self.span("query.open"):
            idx = FTSIndex(self.spark, root)
        self.record("open_ms", _ms(t0))
        return idx

    def topk_local(self, idx, q: str, mode: str) -> pd.DataFrame:
        with self.span("query.topk_local"):
            return idx.topk_local(q, k=inputs.K, mode=mode)

    def fetch_docs_local(self, idx, docids) -> pd.DataFrame:
        with self.span("query.fetch_docs_local"):
            return idx.fetch_docs_local(docids)

    def dist_topk(self, idx, q: str, mode: str) -> None:
        """Distributed topk_pandas, checked against topk_local."""
        with self.op("topk_pandas"):
            t0 = time.perf_counter()
            with self.span("query.topk_pandas"):
                got = idx.topk_pandas(q, k=inputs.K, mode=mode)
            self.record("dist_topk_ms", _ms(t0))
            t0 = time.perf_counter()
            ref = self.topk_local(idx, q, mode)
            self.record("engine_local_ms", _ms(t0))
            self.expect(same_ranking(got, ref), f"topk_pandas {q!r}")
            self.queries.append((q, len(got)))

    def dist_filtered(self, idx, q: str, mode: str) -> None:
        """Distributed topk with a bool filter; every hit fetched must
        satisfy the predicate."""
        with self.op("topk filter"):
            t0 = time.perf_counter()
            with self.span("query.topk_filtered"):
                got = idx.topk_pandas(q, k=inputs.K, mode=mode,
                                      filter=FILTER)
            self.record("dist_filtered_ms", _ms(t0))
            docs = (self.fetch_docs_local(idx, got["docid"].tolist())
                    if len(got) else pd.DataFrame({"docid": [], "role": []}))
            self.expect(len(docs) == len(got)
                        and bool((docs["role"] == "user").all()),
                        f"filtered topk {q!r} returned non-matching docs")
            self.queries.append((q, len(got)))

    def topk_many(self, idx, batch: list[tuple[str, str]]) -> None:
        """topk_many over a batch, each result checked against topk_local."""
        qs = {f"q{j}": qm for j, qm in enumerate(batch)}
        with self.op("topk_many"):
            t0 = time.perf_counter()
            with self.span("query.topk_many"):
                got = idx.topk_many(qs, k=inputs.K)
            wall_ms = _ms(t0)
            self.record("topk_many_ms", wall_ms)
            self.record("batch_queries_per_s", len(qs) / (wall_ms / 1e3))
            for qid, (q, mode) in qs.items():
                self.expect(same_ranking(got[qid],
                                         self.topk_local(idx, q, mode)),
                            f"topk_many {q!r}")

    def search(self, idx, q: str, mode: str) -> pd.DataFrame:
        """What search_local does: topk_local, then fetch its hits."""
        hits = self.topk_local(idx, q, mode)
        if len(hits):
            docs = self.fetch_docs_local(idx, hits["docid"].tolist())
            self.expect(
                np.array_equal(np.sort(docs["docid"].to_numpy(np.int64)),
                               np.sort(hits["docid"].to_numpy(np.int64))),
                f"fetch_docs_local for {q!r}")
        return hits

    # -- set-up ----------------------------------------------------------
    def setup(self, shards: int, opener):
        """Generate the corpus, build and open it, SETUPS times; the last
        index stays for the workload. In a traced run only the last
        set-up is traced, against the second as its untraced twin."""
        for i in range(SETUPS):
            self.traced(i == SETUPS - 1)
            t0 = time.perf_counter()
            src = os.path.join(self.work, "corpus.parquet")
            rows = inputs.write_corpus(src, BASE_CONVS, self.seed)
            root, _ = self.build(src, shards, rows)
            handle = opener(root)
            self.record("setup_s", time.perf_counter() - t0)
            self.mark(f"set-up {i + 1}")
        self.traced(False)
        self.index_bytes_per_input_byte = \
            dir_bytes(root) / os.path.getsize(src)
        return handle, root, rows, src


class DeltaLoop:
    """The delta leg on one base index: append, tombstone, reopen, query,
    and at the end compact. Keeps what the checks need: the rows the
    index should hold and every docid tombstoned so far."""

    def __init__(self, run: Run, root: str, rows: int, ci: CombinedIndex):
        self.run, self.root, self.ci = run, root, ci
        self.rows = rows
        self.indexer = make_batch_indexer(root)
        self.rng = np.random.default_rng([run.seed, 11])
        self.deleted = np.empty(0, dtype=np.int64)

    def step(self, i: int, queries) -> None:
        run, spark = self.run, self.run.spark
        bpath = os.path.join(run.work, f"batch-{i}.parquet")
        n_b = inputs.write_delta_batch(bpath, DELTA_CONVS, run.seed, i)
        with run.op("micro-batch"):
            t0 = time.perf_counter()
            with run.span("streaming.batch_index"):
                self.indexer(spark.read.parquet(bpath), i)
            run.record("delta_build_s", time.perf_counter() - t0)
            run.record("delta_docs", n_b)
            self.rows += n_b
        live = np.setdiff1d(np.concatenate(
            [np.arange(s.docid_offset, s.docid_offset + s.N)
             for s in self.ci.subs]), self.deleted)
        ids = inputs.tombstone_sample(self.rng, live, DELETES_PER_STEP)
        with run.op("delete_docs"):
            t0 = time.perf_counter()
            with run.span("streaming.delete_docs"):
                n_del = self.ci.delete_docs(ids.tolist())
            run.record("delete_docs_ms", _ms(t0))
            run.expect(n_del == ids.size, "delete_docs count")
            self.deleted = np.union1d(self.deleted, ids)
        with run.op("CombinedIndex open"):
            t0 = time.perf_counter()
            with run.span("streaming.combined_open"):
                self.ci = CombinedIndex(spark, self.root)
            run.record("combined_open_ms", _ms(t0))
            run.expect(self.ci.N == self.rows,
                       f"CombinedIndex N {self.ci.N} != {self.rows}")
        for q, mode in queries:
            with run.op("combined topk_local"):
                t0 = time.perf_counter()
                with run.span("streaming.combined_topk_local"):
                    hits = self.ci.topk_local(q, k=inputs.K, mode=mode)
                run.record("fresh_ms", _ms(t0))
                run.expect(not np.isin(hits["docid"].to_numpy(np.int64),
                                       self.deleted).any(),
                           f"tombstoned docid in results of {q!r}")
                run.queries.append((q, len(hits)))

    def compact(self) -> None:
        run = self.run
        run.record("generations", len(self.ci.subs))
        with run.op("compact"):
            t0 = time.perf_counter()
            with run.span("streaming.compact"):
                s = compact(run.spark, self.root, run.fresh_dir("compact"),
                            cfg=BuildConfig(num_shards=SERVE_SHARDS))
            run.record("compact_s", time.perf_counter() - t0)
            run.record("compact_write_data_s", s["phases"]["write_data"])
            want = self.rows - self.deleted.size
            run.expect(s["n_docs"] == want,
                       f"compacted n_docs {s['n_docs']} != {want}")


# -------------------------------------------------------------- workloads
# Each returns (index root, corpus parquet, an FTSIndex on the root) for
# the traced run's standalone layer measurements.

def nightly_build(run: Run):
    idx, root, rows, src = run.setup(NIGHTLY_SHARDS, run.open_index)
    stream = iter(inputs.query_stream(run.seed, 100_000))
    # the first call of each distributed plan pays its JIT and Python
    # worker warm-up; make those calls before timing
    run.dist_topk(idx, *next(stream))
    run.dist_filtered(idx, *next(stream))
    run.topk_many(idx, [next(stream) for _ in range(BATCH_QUERIES)])
    for key in ("dist_topk_ms", "engine_local_ms", "dist_filtered_ms",
                "topk_many_ms", "batch_queries_per_s"):
        run.samples.pop(key)
    for _ in run.until(MIN_CYCLES):
        with run.span("bench.cycle"):
            run.build(src, NIGHTLY_SHARDS, rows)
            for _ in range(DIST_PER_CYCLE):
                run.dist_topk(idx, *next(stream))
            for _ in range(FILTERED_PER_CYCLE):
                run.dist_filtered(idx, *next(stream))
            run.topk_many(idx, [next(stream) for _ in range(BATCH_QUERIES)])
    return root, src, idx


def serve_zipf(run: Run):
    idx, root, _, src = run.setup(SERVE_SHARDS, run.open_index)
    stream = inputs.query_stream(run.seed, 100_000)
    for q, mode in stream[:WARMUP_REQUESTS]:
        run.search(idx, q, mode)
    served, results = [], []
    for i in run.until(MIN_REQUESTS):
        q, mode = stream[WARMUP_REQUESTS + i]
        with run.op("search"):
            t0 = time.perf_counter()
            with run.span("bench.request"):
                hits = run.search(idx, q, mode)
            run.record("serve_ms", _ms(t0))
            served.append((q, mode))
            results.append(hits)
            run.queries.append((q, len(hits)))
    # a seeded sample of the served stream, re-run through the
    # distributed path, must give the rankings served
    rng = np.random.default_rng([run.seed, 3])
    for j in rng.choice(len(results), size=CHECK_SAMPLE, replace=False):
        q, mode = served[j]
        with run.op("topk_pandas re-run"):
            got = idx.topk_pandas(q, k=inputs.K, mode=mode)
            run.expect(same_ranking(got, results[j]),
                       f"topk_pandas re-run of {q!r}")
    return root, src, idx


def delta_ingest(run: Run):
    ci, root, rows, src = run.setup(
        SERVE_SHARDS, lambda r: CombinedIndex(run.spark, r))
    loop = DeltaLoop(run, root, rows, ci)
    stream = iter(inputs.query_stream(run.seed, 100_000))
    for i in run.until(MIN_STEPS):
        with run.span("bench.step"):
            loop.step(i, [next(stream) for _ in range(QUERIES_PER_STEP)])
    run.ab(loop.compact)
    return root, src, FTSIndex(run.spark, root)


WORKLOADS = {"nightly_build": nightly_build, "serve_zipf": serve_zipf,
             "delta_ingest": delta_ingest}


def named_metrics(run: Run, workload: str,
                  traced: bool = False) -> dict[str, tuple[float, str]]:
    """The workload's end-to-end metrics under their own names, from the
    samples taken untraced (or, for the overhead, traced)."""
    v = lambda k: run.values(k, traced)   # noqa: E731
    med = lambda k: statistics.median(v(k))   # noqa: E731
    setups = v("setup_s")
    # a traced run has one set-up per side; the untraced side's first
    # set-up is the cold one, so its last is the twin of the traced one
    out = {"setup_s": (statistics.median(setups) if not run.trace
                       else setups[-1], "s")}
    if workload == "nightly_build":
        out.update({
            "build_docs_per_s": (med("build_docs_per_s"), "1/s"),
            "dist_topk_p50_ms": (med("dist_topk_ms"), "ms"),
            "dist_filtered_p50_ms": (med("dist_filtered_ms"), "ms"),
            "batch_queries_per_s": (med("batch_queries_per_s"), "1/s"),
            "topk_many_batch_s": (med("topk_many_ms") / 1e3, "s"),
        })
    elif workload == "serve_zipf":
        lat = v("serve_ms")
        out.update({
            "serve_qps": (len(lat) / (sum(lat) / 1e3), "1/s"),
            "serve_p50_ms": (_pct(lat, 50), "ms"),
            "serve_p90_ms": (_pct(lat, 90), "ms"),
            "serve_p99_ms": (_pct(lat, 99), "ms"),
        })
    else:
        out.update({
            "ingest_docs_per_s": (sum(v("delta_docs"))
                                  / sum(v("delta_build_s")), "1/s"),
            "fresh_query_p50_ms": (_pct(v("fresh_ms"), 50), "ms"),
            "fresh_query_p90_ms": (_pct(v("fresh_ms"), 90), "ms"),
            "compact_s": (med("compact_s"), "s"),
        })
    return out


# The end-to-end metrics BENCHMARK.json lists are the same for every
# workload, so each workload fills each slot from its own named metric.
# The batch calls (topk_many, compact) and serve_zipf's p99 are printed
# but not bounded: between runs on a shared VM they spread wider than
# the largest bound allowed (one to three batch calls per run; p99 moves
# with every burst of CPU steal).
SLOTS = {
    "nightly_build": {"throughput_per_s": "build_docs_per_s",
                      "latency_p50_ms": "dist_topk_p50_ms",
                      "latency_tail_ms": "dist_filtered_p50_ms"},
    "serve_zipf": {"throughput_per_s": "serve_qps",
                   "latency_p50_ms": "serve_p50_ms",
                   "latency_tail_ms": "serve_p90_ms"},
    "delta_ingest": {"throughput_per_s": "ingest_docs_per_s",
                     "latency_p50_ms": "fresh_query_p50_ms",
                     "latency_tail_ms": "fresh_query_p90_ms"},
}
TIMED_SLOTS = ("setup_s", "throughput_per_s", "latency_p50_ms",
               "latency_tail_ms")


def slot_values(run: Run, workload: str,
                traced: bool = False) -> dict[str, tuple[float, str]]:
    named = named_metrics(run, workload, traced)
    out = {"setup_s": named["setup_s"]}
    for slot, name in SLOTS[workload].items():
        out[slot] = named[name]
    return out


def end_to_end(run: Run, workload: str):
    """(generic slot metrics for the result line, named metrics to print)."""
    named = named_metrics(run, workload)
    named["index_bytes_per_input_byte"] = (
        run.index_bytes_per_input_byte, "ratio")
    named["driver_rss_mb"] = (peak_rss_mb(), "MB")
    named["failed_frac"] = (run.failed / max(1, run.attempted), "ratio")
    slots = slot_values(run, workload)
    slots["index_bytes_per_input_byte"] = \
        named["index_bytes_per_input_byte"]
    slots["driver_rss_mb"] = named["driver_rss_mb"]
    return slots, named


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
