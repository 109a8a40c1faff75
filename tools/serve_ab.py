"""Interleaved serving A/B of two source trees on one index.

    python tools/serve_ab.py A_TREE B_TREE --seed N

Builds one serve_zipf-sized index (perfbench's corpus for ``--seed``,
perfbench's shard count) with tree A's sparkfts, then opens it in two
worker processes, one importing sparkfts from each tree, and feeds both
the seeded perfbench query stream in alternating blocks of BLOCK
requests, REQUESTS timed per side: block i runs on A then B when i is
even, B then A when it is odd, so a slow spell of a shared machine
falls on both sides alike. A request is what serve_zipf times:
``topk_local``, then ``fetch_docs_local`` of its hits. After
perfbench's warm-up requests (untimed, on both sides), it prints each
side's QPS (requests ÷ summed request time), p50 and p90, and how many
blocks each side won, and each side's ``read_counters()`` delta over
the timed requests (which selection ``topk_local`` ran, how many terms
and postings it decoded), so an A/B shows which path served. It exits
1 if any ranking or fetch differs between the sides (perfbench's
``same_ranking``, and the same fetched docids).

The corpus, the query stream, the serve_zipf constants and the Spark
session (perfbench's ``make_spark``, so the build and the serving run
under serve_zipf's settings) come from this checkout's ``perfbench``;
only ``sparkfts`` comes from the trees. Every file goes under a
temporary directory removed at exit. Nothing under ``perfbench/`` or in
BENCHMARK.json is read for its bounds or changed.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REQUESTS = 2000     # timed requests per side
BLOCK = 50          # requests per alternating block
# read_counters() keys printed as timed deltas; a tree without one
# prints "-"
COUNTERS = ("topk_floor_used", "topk_floor_fallback", "terms_decoded",
            "postings_decoded")


def _spark(work: str):
    """(session, stop) from this checkout's perfbench.run, imported
    before sparkfts so that sparkfts still resolves from the tree on
    PYTHONPATH (perfbench.run imports no sparkfts)."""
    sys.path.insert(0, ROOT)
    try:
        from perfbench import run
    finally:
        sys.path.remove(ROOT)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    spark = run.make_spark(work)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, lambda: run.stop_spark(spark)


def build_worker(src: str, root: str, work: str, shards: int,
                 order: list[str]) -> None:
    """Build the index from the corpus with the sparkfts on PYTHONPATH."""
    spark, stop = _spark(work)
    from sparkfts import BuildConfig, build_index
    try:
        build_index(spark, spark.read.parquet(src), root, order_cols=order,
                    cfg=BuildConfig(num_shards=shards))
    finally:
        stop()


def serve_worker(root: str, work: str, k: int) -> None:
    """Open ``root`` and answer blocks of requests read from stdin, one
    JSON list of [query, mode] per line, with one JSON line per block:
    each request's wall ms, its (docids, scores, fetched docids), and
    the handle's read counters after the block."""
    proto, sys.stdout = sys.stdout, sys.stderr   # stdout carries replies
    spark, stop = _spark(work)
    from sparkfts import FTSIndex
    try:
        idx = FTSIndex(spark, root)
        print("ready", file=proto, flush=True)
        for line in sys.stdin:
            ms, res = [], []
            for q, mode in json.loads(line):
                t0 = time.perf_counter()
                hits = idx.topk_local(q, k=k, mode=mode)
                ids = hits["docid"].tolist()
                docs = idx.fetch_docs_local(ids) if ids else None
                ms.append((time.perf_counter() - t0) * 1e3)
                res.append((ids, hits["score"].tolist(),
                            [] if docs is None
                            else sorted(docs["docid"].tolist())))
            print(json.dumps({"ms": ms, "res": res,
                              "counters": idx.read_counters()}),
                  file=proto, flush=True)
    finally:
        stop()


def _launch(tree: str, args: list[str], log: str, **kw):
    env = dict(os.environ, PYTHONPATH=os.path.abspath(tree))
    with open(log, "w") as err:
        return subprocess.Popen(
            [sys.executable, os.path.abspath(__file__)] + args, env=env,
            stderr=err, text=True, **kw)


def _tail(log: str) -> str:
    with open(log) as f:
        return "".join(f.readlines()[-20:])


class Side:
    """One serving worker: sends a block, returns its reply."""

    def __init__(self, name: str, tree: str, root: str, work: str, k: int):
        self.name, self.log = name, os.path.join(work, f"{name}.log")
        wdir = os.path.join(work, name)
        self.proc = _launch(tree, ["--serve", root, wdir, str(k)], self.log,
                            stdin=subprocess.PIPE, stdout=subprocess.PIPE)
        self.ms: list[float] = []
        # read_counters() after the warm-up and after the last block
        self.warm: dict = {}
        self.last: dict = {}
        self._read()

    def _read(self) -> str:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"worker {self.name} exited:\n"
                               + _tail(self.log))
        return line

    def run(self, block: list[tuple[str, str]]) -> dict:
        self.proc.stdin.write(json.dumps(block) + "\n")
        self.proc.stdin.flush()
        return json.loads(self._read())

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=120)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


def main(argv=None) -> int:
    if argv is None:
        argv = sys.argv[1:]
    if argv and argv[0] == "--build":
        src, root, work, shards, order = argv[1:]
        build_worker(src, root, work, int(shards), order.split(","))
        return 0
    if argv and argv[0] == "--serve":
        root, work, k = argv[1:]
        serve_worker(root, work, int(k))
        return 0
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("a_tree")
    ap.add_argument("b_tree")
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args(argv)
    for tree in (args.a_tree, args.b_tree):
        if not os.path.isfile(os.path.join(tree, "sparkfts", "__init__.py")):
            ap.error(f"{tree} has no sparkfts package")
    sys.path.insert(0, ROOT)
    import numpy as np
    import pandas as pd
    from perfbench import inputs, workloads

    def same(a, b) -> bool:
        (ida, sa, fa), (idb, sb, fb) = a, b
        return fa == fb and workloads.same_ranking(
            pd.DataFrame({"docid": ida, "score": sa}),
            pd.DataFrame({"docid": idb, "score": sb}))

    work = tempfile.mkdtemp(prefix="serve_ab-")
    sides: list[Side] = []
    try:
        src = os.path.join(work, "corpus.parquet")
        root = os.path.join(work, "idx")
        inputs.write_corpus(src, workloads.BASE_CONVS, args.seed)
        log = os.path.join(work, "build.log")
        build = _launch(args.a_tree,
                        ["--build", src, root, os.path.join(work, "build"),
                         str(workloads.SERVE_SHARDS),
                         ",".join(workloads.ORDER)], log)
        if build.wait() != 0:
            print("build failed:\n" + _tail(log), file=sys.stderr)
            return 1
        sides = [Side(n, t, root, work, inputs.K)
                 for n, t in (("A", args.a_tree), ("B", args.b_tree))]
        warm = workloads.WARMUP_REQUESTS
        stream = inputs.query_stream(args.seed, warm + REQUESTS)
        for s in sides:
            s.warm = s.run(stream[:warm])["counters"]
        diffs, wins = [], {"A": 0, "B": 0}
        for i, lo in enumerate(range(warm, len(stream), BLOCK)):
            block = stream[lo:lo + BLOCK]
            got = {s.name: s.run(block)
                   for s in (sides if i % 2 == 0 else sides[::-1])}
            for s in sides:
                s.ms.extend(got[s.name]["ms"])
                s.last = got[s.name]["counters"]
            ta, tb = (sum(got[n]["ms"]) for n in ("A", "B"))
            if ta != tb:
                wins["A" if ta < tb else "B"] += 1
            diffs += [q for q, ra, rb in zip(block, got["A"]["res"],
                                             got["B"]["res"])
                      if not same(ra, rb)]
    finally:
        for s in sides:
            s.close()
        shutil.rmtree(work, ignore_errors=True)

    print(f"seed {args.seed}: {REQUESTS} timed requests per side "
          f"in blocks of {BLOCK}, after {warm} warm-up requests")
    print("| side | tree | QPS | p50 ms | p90 ms | blocks won |")
    print("|---|---|---|---|---|---|")
    qps = {}
    for s, tree in zip(sides, (args.a_tree, args.b_tree)):
        ms = np.asarray(s.ms)
        qps[s.name] = ms.size / ms.sum() * 1e3
        print(f"| {s.name} | {tree} | {qps[s.name]:.1f} | "
              f"{np.percentile(ms, 50):.2f} | {np.percentile(ms, 90):.2f} | "
              f"{wins[s.name]} |")
    print(f"B/A QPS: {qps['B'] / qps['A'] - 1:+.1%}")
    print("\nread_counters() delta over the timed requests:")
    print("| side | " + " | ".join(COUNTERS) + " |")
    print("|---|" + "---|" * len(COUNTERS))
    for s in sides:
        print(f"| {s.name} | " + " | ".join(
            str(s.last[c] - s.warm[c]) if c in s.last else "-"
            for c in COUNTERS) + " |")
    if diffs:
        print(f"FAIL: {len(diffs)} requests ranked differently, first: "
              f"{diffs[0]!r}")
        return 1
    print("rankings identical on every request")
    return 0


if __name__ == "__main__":
    sys.exit(main())
