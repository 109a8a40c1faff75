"""Index build pipeline: transcripts DataFrame → on-disk inverted index.

PySpark-native replacement for the reference's MapReduce→embedded-ES→
snapshot pipeline (ExampleIndexingJob.java:23-76, BaseESReducer.java:81-190).
Doc-partitioned shard design, mirroring the reference's
one-reducer-builds-one-shard model (README.md:29-33) but from scratch:

  1. Stable global docID assignment under (conv_id, turn_idx) ordering —
     range repartition + sortWithinPartitions + driver prefix-sum of
     per-partition counts (deterministic and independent of parallelism:
     the docID of a row is its global rank regardless of where partition
     boundaries fall, which is what makes local[8] ≡ local[32] output).
     No monotonically_increasing_id (partition-layout-dependent), no
     global single-partition window.
  2. shard = docid // ceil(N / num_shards): contiguous, perfectly
     balanced doc ranges. This doubles as the skew strategy — a hot term's
     postings are split across ALL shards by construction (the analog of
     the reference's numShardsPerOrg spread,
     ElasticsearchRoutingStrategyV1.java:16-23), so no term-level salting
     stage is needed; per-shard posting length is bounded by
     docs_per_shard.
  3. Doc store written as a pure relational pass (no tokenization: doc
     lengths live inside the posting streams, Lucene-norms style, and
     avgdl falls out of the dictionary as sum(cf)/N).
  4. ONE shuffle at doc granularity — exact-placement hash repartition
     (placement.repartition_exact) of (shard, docid, text) rows: the
     contiguous balanced layout rangepartitioning would pick, WITHOUT
     its sampling job (which re-executes the whole child plan — scan +
     docid join — a second time; plain hash placement is binomial) + a
     cheap int sort on shard.
  5. Arrow shard kernel (mapInArrow, _make_shard_kernel): pyarrow re2
     tokenization (~15x java regex), dictionary-encode + np.lexsort
     inversion, run-length tf, delta+varint block encode with
     (max_tf, min_dl) block-max metadata (codec.py). Terms whose
     per-shard posting exceeds max_chunk_postings are emitted as multiple
     chunk rows (docid-range-ordered, so query-side concat by chunk id
     restores global order without a merge).
  6. Write everything as parquet partitioned by shard (Iceberg-style
     layout; partition pruning at query time = the analog of the
     reference's getPossibleRoutingHashes shard pruning,
     ElasticsearchRoutingStrategyV1.java:137-148). The per-shard manifest
     rows (lineage + timings + counts) replace the reference's merged
     manifests + job counters (IndexingPostProcessor.java:33-48,
     BaseESReducer.java:29-31); placeholder rows for empty shards mirror
     IndexingPostProcessor.placeMissingShards (:80-108).

Checkpoint-resume at shard granularity: a manifest row marks a shard
committed; resume anti-joins expected-vs-committed and rebuilds only the
gap (the pipeline is pure-functional until the write, so re-running a
shard is idempotent — unlike the reference, which must disable
speculative execution, ExampleIndexingJob.java:59).
"""
from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from . import codec
from .analyzer import DEFAULT, TokenizerConfig, tokenize_series

# Parquet page codec of the postings table. Measured both ways: the
# apparent deltas of `uncompressed` (±20%+) did not replicate across
# windows — co-tenant bandwidth bursts dominate any codec effect, and
# snappy over the ~78 MB sf0.1 dictionary costs only ~0.2 core-s (blobs
# are already varint-coded; snappy earns its keep mostly on the
# block-metadata columns).
POSTINGS_CODEC = "snappy"

POSTING_SCHEMA = T.StructType([
    T.StructField("shard", T.IntegerType(), False),
    T.StructField("term", T.StringType(), False),
    T.StructField("th", T.LongType(), False),   # xxhash64(term): rows are
    # hash-sorted within shard files, so query-time pushdown filters on
    # this sorted int64 (row-group min/max pruning) instead of the
    # hash-ordered term string
    T.StructField("chunk", T.IntegerType(), False),
    T.StructField("df", T.LongType(), False),
    T.StructField("cf", T.LongType(), False),
    T.StructField("blob", T.BinaryType(), False),
    T.StructField("block_first", T.ArrayType(T.LongType()), False),
    T.StructField("block_last", T.ArrayType(T.LongType()), False),
    T.StructField("block_off", T.ArrayType(T.LongType()), False),
    T.StructField("block_n", T.ArrayType(T.IntegerType()), False),
    T.StructField("block_max_tf", T.ArrayType(T.LongType()), False),
    T.StructField("block_min_dl", T.ArrayType(T.LongType()), False),
    T.StructField("nbytes", T.LongType(), False),
    T.StructField("enc_us", T.LongType(), False),
])


@dataclass(frozen=True)
class BuildConfig:
    num_shards: int = 8
    partitions: int | None = None          # shuffle width; None → session default
    max_chunk_postings: int = 1 << 18      # flush giant per-shard terms in chunks
    block: int = codec.BLOCK
    k1: float = codec.K1
    b: float = codec.B
    tokenizer: TokenizerConfig = field(default_factory=lambda: DEFAULT)
    # grouped-docid fast path collects one row per conversation to the
    # driver; above this many conversations it falls back to the fully
    # distributed rank path (assign_docids, O(P) driver state)
    grouped_max_convs: int = 2_000_000
    # tenant/org routing (ElasticsearchRoutingStrategyV1 analog): when
    # routing_col is set, each org's documents land on exactly
    # shards_per_org of the num_shards shards and org-scoped queries
    # prune to those shards (sparkfts.routing). num_shards must be a
    # multiple of shards_per_org.
    routing_col: str | None = None
    shards_per_org: int = 2
    # multi-field indexing (the reference's per-index template hook with
    # per-field analyzers, BaseESReducer.java:107-132): map of
    # column name → TokenizerConfig. Terms are stored field-prefixed
    # ("col:token"; tokens are [a-z0-9]+ so ':' is unambiguous), each
    # field keeps its own doc lengths and avgdl, and queries are
    # field-scoped. None → classic single unprefixed text_col.
    fields: dict[str, TokenizerConfig] | None = None


def assign_docids(df: DataFrame, order_cols: list[str],
                  partitions: int | None = None) -> DataFrame:
    """Add a stable dense int64 ``docid`` = global rank under order_cols.

    Scales: range shuffle + per-partition local rank + a driver-side
    prefix sum over per-partition counts (num_partitions integers — O(P),
    not O(N), on the driver).
    """
    p = partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    srt = (df.repartitionByRange(int(p), *order_cols)
             .sortWithinPartitions(*order_cols)
             .withColumn("_pid", F.spark_partition_id()))
    srt.persist()
    counts = {r["_pid"]: r["cnt"] for r in
              srt.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    total = sum(counts.values())
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    out_schema = T.StructType(
        [f for f in df.schema.fields]
        + [T.StructField("docid", T.LongType(), False)])

    def add_ids(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["_pid"].iloc[0])
            base = offsets.get(pid, 0) + local
            pdf = pdf.drop(columns=["_pid"])
            pdf["docid"] = np.arange(base, base + len(pdf), dtype=np.int64)
            local += len(pdf)
            yield pdf

    out = srt.mapInPandas(add_ids, schema=out_schema)
    # dense rank ⇒ n_docs and max docid are already known on the driver
    out._sparkfts_n_docs = total          # type: ignore[attr-defined]
    out._sparkfts_cached_parent = srt     # type: ignore[attr-defined]
    return out


def _bare_scan_local_files(df: DataFrame) -> list[str] | None:
    """File paths when ``df`` is a BARE parquet scan of local files —
    optimizedPlan is a leaf LogicalRelation over a HadoopFsRelation
    with file: URIs, i.e. no Filter/Project/join can have changed the
    rows a driver-side read of those files would see. Returns None for
    anything else (callers keep the distributed path)."""
    try:
        p = df._jdf.queryExecution().optimizedPlan()
        if (p.getClass().getSimpleName() != "LogicalRelation"
                or p.children().size() != 0
                or (p.relation().getClass().getSimpleName()
                    != "HadoopFsRelation")):
            return None
        files = df.inputFiles()
    except Exception:   # noqa: BLE001 — introspection is best-effort
        return None
    out = []
    for f in files:
        if not f.startswith("file:"):
            return None
        from urllib.parse import unquote, urlparse
        out.append(unquote(urlparse(f).path))
    return out or None


# Byte gate of the driver-side conv-sizes read: the footers'
# uncompressed bytes of the conv and turn columns, i.e. what the
# Python driver (outside the JVM heap) materializes. 48 B a row is a
# 36-char UUID conv key with its 4-byte offset plus an int64 turn, so
# the gate admits any such table under _conv_sizes_local's 20M-row
# gate, and wider keys decline before any data is read.
_CONV_SIZES_MAX_BYTES = 20_000_000 * 48


def _conv_sizes_local(files: list[str], conv_col: str, turn_col: str,
                      max_rows: int = 20_000_000
                      ) -> tuple[pd.DataFrame, dict | None] | None:
    """Driver-side twin of the grouped-path conv-sizes aggregation:
    one multithreaded pyarrow read of (conv, turn) + a hash group-by —
    the same (conv, n=count(*), lo=min, hi=max) rows the Spark job
    computes, without burning a Spark job + full scan on a
    conversation-count-scale table (the r2 "tiny tables don't get
    Spark jobs" rule applied to docid assignment; at sf0.1 this was
    ~0.3 s of the 16-core build and ~2.9 s of the pinned 1-CPU wall).
    Row count (``max_rows``) and the conv and turn columns'
    uncompressed bytes (_CONV_SIZES_MAX_BYTES) are checked against the
    parquet
    FOOTERS before any data is read; anything unexpected
    (missing/partition-only columns, nulls, oversize) returns None and
    the Spark aggregation runs unchanged.

    Returns (sizes, direct) — ``direct`` is non-None iff the files'
    rows are PROVEN to already be in (conv-sorted, turn) order, i.e.
    the grouped docid of row r equals r for every row (checked
    exactly, vectorized, against the same data the sizes came from).
    When that holds the postings kernel can read its own shard row
    spans straight from the files — docid = row index — and the
    build's doc-granularity shuffle is pure overhead; ``direct``
    carries the file/row-group layout the readers need and the
    column names every file physically holds (``columns``)."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
        total = nbytes = 0
        file_rows: list[int] = []
        rg_rows: list[list[int]] = []
        physical: set[str] | None = None
        for f in files:
            md = pq.ParquetFile(f)
            names = set(md.schema_arrow.names)
            if conv_col not in names or turn_col not in names:
                return None
            physical = names if physical is None else physical & names
            m = md.metadata
            file_rows.append(m.num_rows)
            rg_rows.append([m.row_group(i).num_rows
                            for i in range(m.num_row_groups)])
            total += m.num_rows
            for i in range(m.num_row_groups):
                rg = m.row_group(i)
                nbytes += sum(
                    rg.column(j).total_uncompressed_size
                    for j in range(rg.num_columns)
                    if rg.column(j).path_in_schema in (conv_col, turn_col))
            if total > max_rows or nbytes > _CONV_SIZES_MAX_BYTES:
                return None
        tabs = [pq.read_table(f, columns=[conv_col, turn_col])
                for f in files]
        t = pa.concat_tables(tabs) if len(tabs) > 1 else tabs[0]
        if (t.column(conv_col).null_count
                or t.column(turn_col).null_count):
            return None   # Spark's null-group semantics, unreplicated
        g = (t.group_by(conv_col)
             .aggregate([([], "count_all"),
                         (turn_col, "min"), (turn_col, "max")]))
        out = g.select([conv_col, "count_all",
                        f"{turn_col}_min", f"{turn_col}_max"]).to_pandas()
        out.columns = [conv_col, "n", "lo", "hi"]
        direct = None
        try:
            srt = out.sort_values(conv_col, kind="stable",
                                  ignore_index=True)
            offs = np.concatenate(
                ([0], np.cumsum(srt["n"].to_numpy(np.int64))[:-1]))
            de = t.column(conv_col).combine_chunks().dictionary_encode()
            codes = de.indices.to_numpy(zero_copy_only=False)
            pos = pd.Index(srt[conv_col]).get_indexer(
                de.dictionary.to_pandas())
            turns = t.column(turn_col).to_numpy(
                zero_copy_only=False).astype(np.int64)
            if (pos >= 0).all():
                docid_file = offs[pos][codes] + turns
                if np.array_equal(docid_file,
                                  np.arange(total, dtype=np.int64)):
                    direct = {"files": list(files),
                              "file_rows": file_rows,
                              "rg_rows": rg_rows, "n": int(total),
                              "columns": sorted(physical)}
        except Exception:   # noqa: BLE001 — order proof is optional
            direct = None
        return out, direct
    except Exception:   # noqa: BLE001 — any surprise → Spark path
        return None


def assign_docids_grouped(df: DataFrame, conv_col: str, turn_col: str,
                          max_convs: int = 2_000_000) -> DataFrame | None:
    """Fast path for the canonical transcripts ordering
    (conv_id, turn_idx) when turn_idx is a dense permutation 0..len-1 per
    conversation: docid = conv_offset + turn_idx, with conv offsets from
    a prefix sum over per-conversation sizes (one map-side-combined
    groupBy of conv-level rows + a broadcast join — no range shuffle of
    full rows, no sampling pass, no Python). Returns None when the
    precondition fails (caller falls back to the general rank path).

    Safety rails:
    - the driver-side collect is bounded by ``max_convs`` via LIMIT
      max_convs+1 — the conv table never materializes unbounded on the
      driver, so a 10^9-conversation corpus degrades gracefully to the
      distributed rank path instead of killing the driver;
    - min/max/count alone admit non-permutations like [0,2,2,3], which
      would mint duplicate docids. An exact countDistinct precheck costs
      a 2x expand of the sizes aggregation (measured +2s at sf0.1), so
      distinctness is instead enforced for FREE inside the shard kernel:
      docids arrive shard-sorted there, and a duplicate raises a loud
      build error (no silent corruption) naming this precondition.
    """
    spark = df.sparkSession
    # Driver-side fast path when df is a bare local parquet scan: same
    # (conv, n, lo, hi) values from a pyarrow read + hash group-by, no
    # Spark job (serial-floor win on every build). Falls through to the
    # identical Spark aggregation otherwise.
    sizes, direct = None, None
    files = _bare_scan_local_files(df)
    if files is not None:
        loc = _conv_sizes_local(files, conv_col, turn_col)
        if loc is not None:
            sizes, direct = loc
    if sizes is None:
        agg = (df.groupBy(conv_col)
               .agg(F.count("*").alias("n"),
                    F.min(turn_col).alias("lo"),
                    F.max(turn_col).alias("hi")))
        # Arrow-path toPandas + vectorized checks/prefix-sum: collect()
        # of Row objects plus a Python loop costs ~1s of pure serial
        # floor at 10^4+ convs
        sizes = agg.limit(max_convs + 1).toPandas()
    if len(sizes) > max_convs:
        return None
    if ((sizes["lo"] != 0) | (sizes["hi"] != sizes["n"] - 1)).any():
        return None
    sizes = sizes.sort_values(conv_col, kind="stable",
                              ignore_index=True)
    n = sizes["n"].to_numpy(dtype=np.int64)
    offs = np.concatenate(([0], np.cumsum(n)[:-1]))
    acc = int(n.sum())
    # Arrow-backed createDataFrame: the row-by-row Python→JVM conversion
    # of a plain-list createDataFrame costs ~0.5-1s per ACTION at 10^4+
    # convs (the lineage is re-evaluated by every downstream job) — pure
    # serial floor
    odf = spark.createDataFrame(
        pd.DataFrame({conv_col: sizes[conv_col], "_off": offs}))
    out = (df.join(F.broadcast(odf), conv_col)
             .withColumn("docid",
                         F.col("_off") + F.col(turn_col).cast("long"))
             .drop("_off"))
    out._sparkfts_n_docs = acc            # type: ignore[attr-defined]
    out._sparkfts_cached_parent = None    # type: ignore[attr-defined]
    out._sparkfts_direct = direct         # type: ignore[attr-defined]
    return out


def _make_tokenize_udf(cfg: TokenizerConfig):
    @F.pandas_udf(T.ArrayType(T.StringType()))
    def tok(texts: pd.Series) -> pd.Series:
        return tokenize_series(texts, cfg)
    return tok


def posting_pa_fields() -> list[tuple]:
    """The pyarrow twin of POSTING_SCHEMA — single source of truth for
    every kernel that emits posting rows (build + compact_merge)."""
    import pyarrow as pa
    return [
        ("shard", pa.int32()), ("term", pa.string()), ("th", pa.int64()),
        ("chunk", pa.int32()), ("df", pa.int64()), ("cf", pa.int64()),
        ("blob", pa.binary()),
        ("block_first", pa.list_(pa.int64())),
        ("block_last", pa.list_(pa.int64())),
        ("block_off", pa.list_(pa.int64())),
        ("block_n", pa.list_(pa.int32())),
        ("block_max_tf", pa.list_(pa.int64())),
        ("block_min_dl", pa.list_(pa.int64())),
        ("nbytes", pa.int64()), ("enc_us", pa.int64()),
    ]


def _make_shard_kernel(cfg: BuildConfig,
                       spec_by_shard: dict[int, list] | None = None):
    """Per-shard inverted-index kernel for mapInArrow over doc rows
    (shard, docid, text) sorted by shard within each partition — the
    from-scratch analog of the reference's reducer-boots-embedded-ES step
    (BaseESReducer.java:135-166), entirely Arrow/numpy:

      tokenize  pyarrow re2 split (~15x java.util.regex)
      invert    dictionary-encode terms → int codes; np.lexsort by
                (code, docid); run-length collapse → (term, docid, tf)
      encode    codec.encode_postings per term (delta+varint blocks with
                (max_tf, min_dl) block-max metadata), chunked at
                max_chunk_postings per dictionary row

    Memory is O(one shard's tokens) — the same sizing contract as the
    reference's one-shard-per-reducer design (README.md:29-33): pick
    num_shards so a shard's token arrays (~16 bytes/token) fit an
    executor. Partitions may hold several shards (range-partitioned);
    shards are processed one at a time as the sorted stream crosses
    shard boundaries.
    """
    import pyarrow as pa

    block, max_chunk = cfg.block, cfg.max_chunk_postings
    tokenizer = cfg.tokenizer
    out_fields = posting_pa_fields()
    out_schema = pa.schema(out_fields)

    # (field name in input batch, term prefix, tokenizer) per field;
    # single-field default: column "text", no prefix. With
    # ``spec_by_shard`` (build_many over heterogeneous configs) the
    # spec is resolved PER SHARD as the sorted stream crosses shard
    # boundaries — one kernel instance serves plain, multi-field and
    # routed indices in the same shuffle.
    if cfg.fields:
        default_spec = [(name, f"{name}:", tok)
                        for name, tok in cfg.fields.items()]
    else:
        default_spec = [("text", "", tokenizer)]

    def _spec_for(sh: int) -> list:
        return spec_by_shard[sh] if spec_by_shard is not None \
            else default_spec

    def kernel(batches):
        from .analyzer import tokenize_arrow

        # pre-import the query lane in this (reused) worker: the first
        # shard-local query task otherwise pays the sparkfts.query +
        # pyarrow.dataset import (~1-2 s) at query time; a build —
        # including the bench warmup build — runs first in every
        # serving session, so the cost lands here, amortized across
        # the worker pool instead of inside the first query's wall
        try:
            import pyarrow.dataset  # noqa: F401
            from . import query  # noqa: F401
        except Exception:   # noqa: BLE001 — warmup only, never fatal
            pass
        t0 = time.perf_counter()
        cur: int | None = None
        cur_spec: list = default_spec
        acc_ids: list[np.ndarray] = []
        acc_txt: dict[str, list] = {}

        def invert_field(shard, docids, texts, prefix, ftok):
            """One field's dictionary rows for one shard, emitted as a
            single Arrow RecordBatch built columnar (blob = one
            zero-copy binary array over the shard's contiguous byte
            buffer; block metadata = ListArrays from flat arrays +
            offsets) — no per-term Python emit loop."""
            flat, counts = tokenize_arrow(texts, ftok)
            if len(flat) == 0:
                return None
            de = flat.dictionary_encode()
            # token-scale arrays stay at the narrowest width that holds
            # the values (codes are int32 from arrow; docids/lengths/
            # positions fit int32 at any per-shard size the memory
            # contract admits) — the lexsort and the [order] gathers
            # below are bandwidth-bound, so halving the element width
            # is a direct ~15% cut of the invert step. Values are
            # upcast at the collapse boundary, so everything emitted is
            # bit-identical to the int64 path (pinned by the postings
            # byte-equality check in tests).
            codes = de.indices.to_numpy(zero_copy_only=False)
            vocab = de.dictionary.to_pylist()
            small_ids = len(docids) and int(docids.max()) < 2**31
            dk = docids.astype(np.int32) if small_ids else docids
            row_idx = np.repeat(
                np.arange(len(docids),
                          dtype=np.int32 if small_ids else np.int64),
                counts)
            d_rep = dk[row_idx]
            l_rep = counts.astype(np.int32)[row_idx]
            # in-doc token offset (over kept tokens) — the positions index
            doc_starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
            pos = (np.arange(len(row_idx), dtype=np.int64)
                   - np.repeat(doc_starts, counts)).astype(np.int32)
            order = np.lexsort((d_rep, codes))
            c_s, d_s, l_s = codes[order], d_rep[order], l_rep[order]
            p_s = pos[order]   # ascending within each (term, doc) run
            # collapse equal (code, docid) runs → tf
            change = (c_s[1:] != c_s[:-1]) | (d_s[1:] != d_s[:-1])
            idx = np.concatenate(([0], np.flatnonzero(change) + 1))
            tf = np.diff(np.append(idx, len(c_s))).astype(np.int64)
            # collapse boundary: posting-scale arrays go back to int64
            # so the codec sees exactly the values/dtypes it always saw
            c_u = c_s[idx]
            d_u = d_s[idx].astype(np.int64)
            l_u = l_s[idx].astype(np.int64)
            p_s = p_s.astype(np.int64)
            pb = np.concatenate(([0], np.cumsum(tf)))  # posting→pos slice
            # segment starts = term boundaries + max_chunk splits, then
            # ONE vectorized batch encode for the whole field (the
            # per-term encode_postings loop cost ~5 Python varint calls
            # per block and dominated the kernel)
            tchange = np.flatnonzero(c_u[1:] != c_u[:-1])
            tstarts = np.concatenate(([0], tchange + 1))
            term_lens = np.diff(np.append(tstarts, len(c_u)))
            rloc = (np.arange(len(c_u), dtype=np.int64)
                    - np.repeat(tstarts, term_lens))
            seg_starts = np.flatnonzero(rloc % max_chunk == 0)
            chunk_ids = (rloc // max_chunk)[seg_starts]
            seg_codes = c_u[seg_starts]
            cols = codec.encode_postings_batch_cols(
                d_u, tf, l_u, p_s, pb, seg_starts, block=block)
            nseg = cols["nseg"]
            terms = [prefix + vocab[c] for c in seg_codes]
            byte0, byte1 = cols["seg_byte0"], cols["seg_byte1"]
            # blob column: consecutive segments slice CONTIGUOUS byte
            # ranges of one buffer, so the whole column is (offsets,
            # shared data buffer) — zero bytes copied
            boffs = np.append(byte0, byte1[-1]).astype(np.int32)
            blob_arr = pa.Array.from_buffers(
                pa.binary(), nseg,
                [None, pa.py_buffer(boffs.tobytes()),
                 pa.py_buffer(cols["buf"])])
            loffs = pa.array(
                np.append(cols["seg_blk0"],
                          cols["seg_blk1"][-1]).astype(np.int32))

            def lst(flat_arr, typ):
                return pa.ListArray.from_arrays(
                    loffs, pa.array(flat_arr, type=typ))

            nblk_per_seg = cols["seg_blk1"] - cols["seg_blk0"]
            off_flat = (cols["blk_byte_start"]
                        - np.repeat(byte0, nblk_per_seg))
            enc_us = int((time.perf_counter() - t0) * 1e6)
            arrs = [
                pa.array(np.full(nseg, shard, dtype=np.int32)),
                pa.array(terms, type=pa.string()),
                pa.array(np.fromiter((codec.term_hash(t)
                                      for t in terms),
                                     dtype=np.int64, count=nseg)),
                pa.array(chunk_ids.astype(np.int32)),
                pa.array(cols["df"].astype(np.int64)),
                pa.array(cols["cf"].astype(np.int64)),
                blob_arr,
                lst(cols["block_first"], pa.int64()),
                lst(cols["block_last"], pa.int64()),
                lst(off_flat, pa.int64()),
                lst(cols["block_n"], pa.int32()),
                lst(cols["block_max_tf"], pa.int64()),
                lst(cols["block_min_dl"], pa.int64()),
                pa.array((byte1 - byte0).astype(np.int64)),
                pa.array(np.full(nseg, enc_us, dtype=np.int64)),
            ]
            return pa.RecordBatch.from_arrays(arrs, schema=out_schema)

        def process_shard():
            if not acc_ids:
                return []
            shard = int(cur)
            docids = np.concatenate(acc_ids)
            # docid uniqueness guard (cost ≪ the token lexsort below):
            # duplicate docids would silently merge (term, docid) runs
            # and break the strictly-increasing-docid codec invariant —
            # e.g. a grouped fast-path build over per-conv turn_idx that
            # is dense by min/max/count but NOT a permutation ([0,2,2,3])
            if np.unique(docids).size != docids.size:
                raise ValueError(
                    f"duplicate docids in shard {shard}: docid assignment "
                    "must be unique (is turn_idx a per-conversation "
                    "permutation of 0..len-1?)")
            out = []
            for fname, prefix, ftok in cur_spec:
                texts = pa.concat_arrays(
                    [a.combine_chunks()
                     if isinstance(a, pa.ChunkedArray) else a
                     for a in acc_txt[fname]])
                rb = invert_field(shard, docids, texts, prefix, ftok)
                if rb is not None:
                    out.append(rb)
            acc_ids.clear()
            acc_txt.clear()
            return out

        for rb in batches:
            if rb.num_rows == 0:
                continue
            shard = rb.column("shard").to_numpy(zero_copy_only=False)
            docid = rb.column("docid").to_numpy(zero_copy_only=False)
            bounds = np.concatenate(
                ([0], np.flatnonzero(shard[1:] != shard[:-1]) + 1,
                 [len(shard)]))
            for i in range(len(bounds) - 1):
                s, e = int(bounds[i]), int(bounds[i + 1])
                if cur is not None and shard[s] != cur:
                    yield from process_shard()
                if cur != int(shard[s]):
                    cur = int(shard[s])
                    cur_spec = _spec_for(cur)
                acc_ids.append(docid[s:e].astype(np.int64))
                for fname, _, _ in cur_spec:
                    acc_txt.setdefault(fname, []).append(
                        rb.column(fname).slice(s, e - s))
        yield from process_shard()

    return kernel


def _direct_postings_df(spark: SparkSession, direct: dict,
                        text_col: str, todo_sorted: list[int],
                        docs_per_shard: int, docid_offset: int,
                        cfg: BuildConfig, p: int) -> DataFrame:
    """Postings job as a one-stage shard-span fan-out over the input
    files: spark.range over shard RANKS (contiguous rank chunks ==
    repartition_exact's balanced contiguous grouping) → each task
    reconstructs (shard, docid, text) for its shards by reading only
    the row groups covering [shard*dps, (shard+1)*dps) — valid because
    the caller proved docid == file row index — and streams them
    through the UNCHANGED shard kernel. Output rows are identical to
    the exchange plan's (same per-shard row sets in docid order; the
    kernel sorts internally either way)."""
    import pyarrow as pa

    files = direct["files"]
    rg_rows = direct["rg_rows"]
    n = direct["n"]
    file_starts = np.concatenate(
        ([0], np.cumsum(direct["file_rows"]))).astype(np.int64)
    kernel = _make_shard_kernel(cfg)
    dps = int(docs_per_shard)
    off = int(docid_offset)

    def reader(batches):
        import pyarrow.compute as _pc
        import pyarrow.parquet as _pq

        open_files: dict[int, object] = {}

        def rows_for(lo: int, hi: int):
            """Concatenated text array for global rows [lo, hi)."""
            parts = []
            for j in range(len(files)):
                f0, f1 = int(file_starts[j]), int(file_starts[j + 1])
                a, b = max(lo, f0), min(hi, f1)
                if a >= b:
                    continue
                pf = open_files.get(j)
                if pf is None:
                    pf = open_files[j] = _pq.ParquetFile(files[j])
                # row groups overlapping local rows [a-f0, b-f0)
                bounds = np.concatenate(
                    ([0], np.cumsum(rg_rows[j]))).astype(np.int64)
                g0 = int(np.searchsorted(bounds, a - f0,
                                         side="right") - 1)
                g1 = int(np.searchsorted(bounds, b - f0, side="left"))
                t = pf.read_row_groups(list(range(g0, g1)),
                                       columns=[text_col])
                col = t.column(0).slice(int(a - f0 - bounds[g0]),
                                        int(b - a))
                parts.append(col.combine_chunks()
                             if isinstance(col, pa.ChunkedArray)
                             else col)
            if not parts:
                return pa.array([], type=pa.string())
            out = (pa.concat_arrays(parts) if len(parts) > 1
                   else parts[0])
            out = _pc.fill_null(out, "")
            if out.type != pa.string():
                out = out.cast(pa.string())
            return out

        def gen():
            for rb in batches:
                for r in rb.column("id").to_pylist():
                    s = todo_sorted[int(r)]
                    lo, hi = s * dps, min((s + 1) * dps, n)
                    if lo >= hi:
                        continue
                    texts = rows_for(lo, hi)
                    for c0 in range(0, hi - lo, 65536):
                        c1 = min(c0 + 65536, hi - lo)
                        yield pa.RecordBatch.from_arrays(
                            [pa.array(np.full(c1 - c0, s,
                                              dtype=np.int32)),
                             pa.array(np.arange(lo + c0 + off,
                                                lo + c1 + off,
                                                dtype=np.int64)),
                             texts.slice(c0, c1 - c0)],
                            # the single-field kernel spec reads the
                            # field as "text" (the exchange plan
                            # aliases text_col the same way)
                            names=["shard", "docid", "text"])

        try:
            yield from kernel(gen())
        finally:
            for pf in open_files.values():
                pf.close()

    return (spark.range(0, len(todo_sorted),
                        numPartitions=max(1, min(p, len(todo_sorted))))
            .mapInArrow(reader, schema=POSTING_SCHEMA))


def _write_org_ranges(spark: SparkSession, out_dir: str,
                      routing_col: str, num_shards: int) -> None:
    """Tenant docid intervals, derived from the ON-DISK docstore so a
    resumed build converges (narrow column-pruned scan): one row per
    (shard, org) — the O(1)-memory candidate representation org-scoped
    queries use instead of materializing the tenant's docid set.
    Sorted by org for row-group pruning on point reads.

    CONTIGUITY GUARD: intervals are only valid when every tenant's
    docids are gap-free per shard (cnt == hi-lo+1). A resume over a
    routed root built BEFORE contiguous minting would otherwise persist
    intervals spanning OTHER tenants' docids — a silent cross-tenant
    leak on every org-scoped query. On violation the table is not
    written (and any stale one is removed): queries fall back to the
    exact docid-set path."""
    from . import storage
    grouped = (spark.read.parquet(storage.path(out_dir, "docstore"))
               .select("shard",
                       F.col(routing_col).alias("org"), "docid")
               .groupBy("shard", "org")
               .agg(F.min("docid").alias("lo"),
                    F.max("docid").alias("hi"),
                    F.count("*").alias("cnt"))
               .persist())
    bad = grouped.where(
        F.col("cnt") != F.col("hi") - F.col("lo") + 1).count()
    if bad == 0:
        (grouped.drop("cnt")
         .repartition(max(1, num_shards // 8))
         .sortWithinPartitions("org")
         .write.mode("overwrite")
         .parquet(storage.path(out_dir, "org_ranges")))
    else:
        import shutil as _shutil
        import warnings as _warnings
        _shutil.rmtree(storage.path(out_dir, "org_ranges"),
                       ignore_errors=True)
        _warnings.warn(
            f"org_ranges skipped: {bad} (shard, org) groups are "
            "non-contiguous (legacy routed layout?) — org queries "
            "will use the docid-set path", RuntimeWarning)
    grouped.unpersist()


_DICT_LOCAL_MAX_ROWS = 5_000_000


def _dict_rows_count(out_dir: str) -> int | None:
    """Row count of the on-disk dictionary from parquet FOOTERS only
    (no data read), or None when the root is non-local or the count
    exceeds the driver-side-aggregate gate."""
    from . import storage
    p = storage.path(out_dir, "postings")
    if not os.path.isdir(p):
        return None
    try:
        import pyarrow.dataset as ds
        n = ds.dataset(p, format="parquet",
                       partitioning="hive").count_rows()
    except Exception:   # noqa: BLE001 — any surprise → Spark path
        return None
    return int(n) if n <= _DICT_LOCAL_MAX_ROWS else None


def _derive_term_stats_local(out_dir: str, num_shards: int,
                             with_fields: bool):
    """Driver-side derivation of term_stats + per-shard manifest
    aggregates from the on-disk dictionary metadata columns (blobs
    never read): one column-pruned pyarrow scan + pandas groupbys,
    writing the term-sorted term_stats parquet directly. Exact integer
    sums — value-identical to the Spark aggregation path."""
    import shutil as _shutil

    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from . import storage
    src = storage.path(out_dir, "postings")
    t = ds.dataset(src, format="parquet", partitioning="hive").to_table(
        columns=["shard", "term", "df", "cf", "nbytes", "enc_us"])
    pdf = t.to_pandas()
    ts = (pdf.groupby("term", as_index=False, sort=True)
          .agg(df=("df", "sum"), cf=("cf", "sum")))
    dst = storage.path(out_dir, "term_stats")
    if os.path.isdir(dst):
        _shutil.rmtree(dst)
    os.makedirs(dst, exist_ok=True)
    pq.write_table(
        pa.table({"term": pa.array(ts["term"], type=pa.string()),
                  "df": pa.array(ts["df"].to_numpy(np.int64)),
                  "cf": pa.array(ts["cf"].to_numpy(np.int64))}),
        os.path.join(dst, "part-00000.parquet"))
    shard_rows: dict[int, dict] = {}
    if len(pdf):
        ag = (pdf.groupby("shard")
              .agg(n_terms=("term", "nunique"),
                   n_postings=("df", "sum"),
                   cf=("cf", "sum"),
                   bytes=("nbytes", "sum"),
                   max_enc_us=("enc_us", "max")))
        for s, r in ag.iterrows():
            shard_rows[int(s)] = {
                "n_terms": int(r["n_terms"]),
                "n_postings": int(r["n_postings"]),
                "cf": int(r["cf"]), "bytes": int(r["bytes"]),
                "max_enc_us": int(r["max_enc_us"])}
    fcf: dict[str, int] = {}
    if with_fields and len(pdf):
        flds = pdf["term"].str.split(":", n=1).str[0]
        fcf = {str(k): int(v)
               for k, v in pdf.groupby(flds)["cf"].sum().items()}
    return shard_rows, fcf


def build_index(spark: SparkSession, df: DataFrame, out_dir: str,
                text_col: str = "text",
                docid_col: str | None = None,
                order_cols: list[str] | None = None,
                cfg: BuildConfig = BuildConfig(),
                resume: bool = False,
                docid_offset: int = 0,
                field_doc_counts: dict[str, int] | None = None,
                _only_shards: list[int] | None = None) -> dict:
    """Build (or resume) the full index under ``out_dir``.

    Either ``docid_col`` (pre-existing unique int64 ids) or ``order_cols``
    (stable ordering for rank-based assignment, e.g.
    ["conv_id", "turn_idx"]) must be given. Returns a summary dict.

    ``field_doc_counts`` (multi-field builds; the type→field doc-type
    mapping): per-field document counts — how many docs the field is
    RESPONSIBLE for, which only the caller can know (a field empty
    because the doc belongs to another type is indistinguishable from
    genuinely empty text once pivoted; doctype.type_doc_counts computes
    them). When given, the stats json stores per-field
    {avgdl: field tokens / n_f, n: n_f} instead of the legacy
    index-global-N form, and field-scoped queries score with the
    field's OWN N and avgdl — BM25-identical to a dedicated per-type
    index (the type→index mapping).
    ``_only_shards`` is a test hook simulating a partial (killed) build.

    Job structure (the serial floor between parallel stages is what caps
    N-vs-4N scaling efficiency, so the count matters): (1) conv-sizes agg
    for docid assignment, (2) docstore write — a narrow scan+broadcast-
    join pass, no exchange, (3) postings write — the ONE doc-granularity
    range shuffle + Arrow kernel, (4) global term_stats write, (5)
    per-shard manifest aggregate (collected from a cached narrow
    projection shared with 4). Stats + manifest parquet are written
    driver-side (pyarrow, atomic rename) — tiny tables don't get Spark
    jobs.

    Crash-safe resume: docstore/postings use dynamic partition overwrite,
    so re-running a shard REPLACES its partition directory instead of
    appending — a build killed mid-write leaves uncommitted shard dirs
    that the resume rewrites rather than duplicates; a shard is visible
    to readers iff its manifest row says committed.
    """
    from . import storage
    build_id = storage.new_build_id(out_dir)
    t_start = time.perf_counter()
    phases: dict[str, float] = {}
    _t = [t_start]

    def mark(name: str) -> None:
        now = time.perf_counter()
        phases[name] = round(now - _t[0], 3)
        _t[0] = now

    committed: set[int] = set()
    if resume:
        committed = storage.committed_shards(spark, out_dir)
    direct_meta = None   # set by the grouped bare-scan path below

    if cfg.routing_col is not None:
        # Tenant/org routing (ElasticsearchRoutingStrategyV1 analog):
        # shard comes from the routing hash (org picks a group of
        # shards_per_org shards, the doc key picks the member), and
        # docids are minted as shard*docs_per_shard + rank-in-shard so
        # the docid→shard arithmetic used by the doc-store fetch keeps
        # working (and org queries prune via routing.possible_shards).
        from . import routing as _routing
        if docid_col is not None:
            key_col = F.col(docid_col)
            rank_cols = [docid_col]
        else:
            assert order_cols, "need docid_col or order_cols"
            key_col = F.concat_ws(
                "\x1f", *[F.col(c).cast("string") for c in order_cols])
            rank_cols = list(order_cols)
        dfr = df.withColumn(
            "shard", _routing.shard_col(F.col(cfg.routing_col), key_col,
                                        cfg.num_shards,
                                        cfg.shards_per_org))
        counts = {int(r["shard"]): int(r["n"]) for r in
                  dfr.groupBy("shard").agg(F.count("*").alias("n"))
                     .collect()}
        n_docs = sum(counts.values())
        docs_per_shard = max(counts.values(), default=1)
        # global rank under (shard, ORG, order) → within-shard rank by
        # subtracting the shard's cumulative offset (num_shards entries
        # on the driver — O(shards), not O(rows)). Ranking by the org
        # INSIDE the shard makes every tenant a CONTIGUOUS docid range
        # per shard, so org-scoped queries carry a 2-int interval
        # instead of the tenant's docid set (the org_ranges table).
        base = assign_docids(dfr, ["shard", cfg.routing_col] + rank_cols,
                             cfg.partitions)
        cached_parent = base._sparkfts_cached_parent
        offs, acc = [], 0
        for s in sorted(counts):
            offs.append((s, acc))
            acc += counts[s]
        offdf = spark.createDataFrame(
            pd.DataFrame(offs, columns=["shard", "_soff"]))
        # delta/streaming routed builds live in an id space above the
        # base: docid = offset + shard*dps + rank-in-shard, so the
        # docid→shard arithmetic stays (docid - offset) // dps
        doc = (base.join(F.broadcast(offdf), "shard")
               .withColumn("docid",
                           F.lit(int(docid_offset))
                           + F.col("shard").cast("long")
                           * F.lit(int(docs_per_shard))
                           + F.col("docid") - F.col("_soff"))
               .drop("_soff"))
    else:
        if docid_col is not None:
            assert docid_offset == 0, \
                "docid_offset only applies to rank ids"
            base = df.withColumn("docid", F.col(docid_col).cast("long"))
            agg0 = base.agg(F.count("*").alias("n"),
                            F.max("docid").alias("mx")).collect()[0]
            n_docs, max_id = int(agg0["n"]), agg0["mx"]
            cached_parent = None
        else:
            assert order_cols, "need docid_col or order_cols"
            base = None
            if (len(order_cols) == 2
                    and isinstance(df.schema[order_cols[0]].dataType,
                                   T.StringType)
                    and isinstance(df.schema[order_cols[1]].dataType,
                                   (T.IntegerType, T.LongType,
                                    T.ShortType))):
                base = assign_docids_grouped(
                    df, order_cols[0], order_cols[1],
                    max_convs=cfg.grouped_max_convs)
            if base is None:
                base = assign_docids(df, order_cols, cfg.partitions)
            n_docs = base._sparkfts_n_docs      # dense rank: no extra job
            max_id = n_docs - 1
            cached_parent = base._sparkfts_cached_parent
            direct_meta = getattr(base, "_sparkfts_direct", None)
            if docid_offset:
                # delta/streaming indexes live in an id space above the
                # base
                base = base.withColumn(
                    "docid", F.col("docid") + F.lit(docid_offset))

        if n_docs == 0:
            docs_per_shard = 1
        else:
            docs_per_shard = max(1, -(-(max_id + 1) // cfg.num_shards))
        doc = base.withColumn(
            "shard", ((F.col("docid") - F.lit(docid_offset))
                      / F.lit(docs_per_shard)).cast("int"))

    mark("assign_docids")

    todo = [s for s in range(cfg.num_shards) if s not in committed]
    if _only_shards is not None:
        todo = [s for s in todo if s in _only_shards]
    todo_set = set(todo)

    N = n_docs

    if todo:
        # Two independent write jobs over `doc`, submitted CONCURRENTLY
        # (Spark schedules jobs from separate driver threads; tasks
        # interleave on free slots):
        #   docstore — the reference's _source / fetch path
        #     (BaseESReducer keeps JSON in ES; ours is the input row
        #     keyed by docid, sorted so parquet row-group min/max stats
        #     prune point lookups). Written straight from the INPUT
        #     partitioning — no exchange. (A shuffle+cache variant that
        #     fed both writes from one exchange was measured 2x SLOWER
        #     at sf0.1: full-width rows through the shuffle + columnar
        #     cache encode cost more than this extra narrow scan, and
        #     Spark SQL cannot reuse shuffle files across actions.)
        #   postings — the ONE shuffle, at DOC granularity: the exchange
        #     moves N rows of (shard, docid, text), never exploded
        #     tokens; all token work happens inside the Arrow shard
        #     kernel. repartitionByRange (not hash): num_shards -> P
        #     partitions lands exactly num_shards/P contiguous shards
        #     per partition, where hash placement is binomial and the
        #     slowest task gets ~1.5-2x the mean.
        # Overlapping them hides each job's fixed serial costs (parquet
        # commit, directory listing, range-sampling job, broadcast
        # build) under the other's compute — those fixed costs are what
        # cap N-vs-4N scaling efficiency at small corpus sizes.
        # dynamic partition overwrite only when there is existing
        # committed data to protect — its staging+move commit costs
        # ~1-2s of fixed time per write that a fresh build shouldn't
        # pay; static overwrite of a fresh/uncommitted tree is equally
        # crash-safe (rebuild starts from scratch either way).
        import threading
        pmode = "dynamic" if committed else "static"
        sub = doc.where(F.col("shard").isin(todo))
        # routed builds mint internal docids, so the user's original id
        # column stays in the doc store for mapping back
        store_cols = [c for c in df.columns
                      if c != docid_col or cfg.routing_col is not None]
        errs: list[BaseException] = []

        def _write_docstore() -> None:
            try:
                (sub.select("shard", "docid", *store_cols)
                    .sortWithinPartitions("docid")
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", pmode)
                    .partitionBy("shard")
                    .parquet(storage.path(out_dir, "docstore")))
            except BaseException as e:   # surfaced after join()
                errs.append(e)

        import os as _os
        overlap = _os.environ.get("SPARKFTS_NO_OVERLAP") != "1"
        th = threading.Thread(target=_write_docstore, name="docstore")
        th.start()
        if not overlap:
            th.join()   # sequential (diagnostics / constrained memory)
        p = cfg.partitions or int(
            spark.conf.get("spark.sql.shuffle.partitions"))
        if cfg.fields:
            fsel = [F.coalesce(F.col(c).cast("string"), F.lit(""))
                    .alias(c) for c in cfg.fields]
        else:
            fsel = [F.coalesce(F.col(text_col).cast("string"), F.lit(""))
                    .alias("text")]
        # Direct shard-span feed (r8): when the grouped bare-scan path
        # PROVED docid == file row index (see _conv_sizes_local), each
        # kernel task pyarrow-reads exactly its own shards' row spans
        # (row-group pruned) from the input files — same rows, same
        # kernel, but the scan → broadcast-join → doc-granularity
        # exchange that existed only to re-group rows the file already
        # groups is gone (guide §2 "remove shuffles outright"). Tasks
        # read only their own spans, so there is no read amplification
        # at any scale; the DataFrame plan below stays for every input
        # the proof does not cover.
        use_direct = (direct_meta is not None
                      and cfg.fields is None
                      and text_col in direct_meta["columns"]
                      and isinstance(df.schema[text_col].dataType,
                                     T.StringType))
        if use_direct:
            # fan-out width: the direct feed has no exchange, so its
            # width is a pure task-count choice — follow the session's
            # available parallelism when that exceeds the configured
            # exchange width (scale-adaptive: derived from the cluster,
            # not a local constant; pinned low-core runs are unchanged
            # because defaultParallelism <= partitions there). More
            # tasks also means FEWER shards per task, i.e. a smaller
            # per-task memory footprint than the exchange plan's.
            dp = spark.sparkContext.defaultParallelism
            width = max(1, min(len(todo), max(p, dp)))
            enc_out = _direct_postings_df(
                spark, direct_meta, text_col, sorted(todo_set),
                int(docs_per_shard), int(docid_offset), cfg, width)
        else:
            from .placement import repartition_exact
            enc_in = (repartition_exact(
                          sub.select("shard", "docid", *fsel),
                          todo, min(p, max(1, len(todo))))
                      .sortWithinPartitions("shard"))
            enc_out = enc_in.mapInArrow(_make_shard_kernel(cfg),
                                        schema=POSTING_SCHEMA)
        (enc_out.write.mode("overwrite")
                .option("partitionOverwriteMode", pmode)
                .option("compression", POSTINGS_CODEC)
                .partitionBy("shard")
                .parquet(storage.path(out_dir, "postings")))
        th.join()
        if errs:
            raise errs[0]
    if cfg.routing_col is not None:
        _write_org_ranges(spark, out_dir, cfg.routing_col,
                          cfg.num_shards)
    if cached_parent is not None:
        cached_parent.unpersist()
    mark("write_data")

    # Derived artifacts are always recomputed from the on-disk shards so a
    # resumed build converges to the same state as a clean one (column-
    # pruned read: dictionary metadata only, never the blobs).
    dict_rows_small = _dict_rows_count(out_dir)
    if dict_rows_small is not None:
        # Small-dictionary fast path (r8): the whole metadata
        # projection fits the driver trivially (bounded by
        # shards x per-shard vocab, checked against the parquet
        # footers BEFORE reading), so the term_stats merge and the
        # per-shard manifest aggregate run as ONE column-pruned
        # pyarrow read + pandas groupbys — no Spark jobs, no persist.
        # The r2 rule "tiny tables don't get Spark jobs" applied to
        # the derived aggregates; at real dictionary scale (the
        # footer count exceeds the gate) the distributed path below
        # runs unchanged. Same values by construction (exact integer
        # sums either way).
        shard_rows, frows_pd = _derive_term_stats_local(
            out_dir, cfg.num_shards, with_fields=bool(cfg.fields))
        frows = ([{"fld": f, "cf": c}
                  for f, c in frows_pd.items()]
                 if cfg.fields else [])
    else:
        # term-sorted dictionary for row-group pruning on reads;
        # repartition by an explicit count + local sort instead of a
        # global .sort(), which would add a RangePartitioner sampling
        # job (pure serial floor). Vocabulary grows ~log(corpus), so a
        # small fixed file count holds at scale (Heaps' law: ~10^7
        # terms at 10^12 tokens → a few files). The narrow projection
        # is cached so the dictionary merge and the per-shard manifest
        # aggregate share one scan.
        narrow = (spark.read.parquet(storage.path(out_dir, "postings"))
                  .select("shard", "term", "df", "cf", "nbytes",
                          "enc_us")
                  .persist())
        ts_parts = max(1, cfg.num_shards // 8)
        (narrow.groupBy("term")
               .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
               .repartition(ts_parts, "term")
               .sortWithinPartitions("term")
               .write.mode("overwrite")
               .parquet(storage.path(out_dir, "term_stats")))
        shard_rows = {int(r["shard"]): r for r in
                      (narrow.groupBy("shard")
                             .agg(F.countDistinct("term")
                                  .alias("n_terms"),
                                  F.sum("df").alias("n_postings"),
                                  F.sum("cf").alias("cf"),
                                  F.sum("nbytes").alias("bytes"),
                                  F.max("enc_us").alias("max_enc_us"))
                             .collect())}
        frows = (narrow
                 .withColumn("fld", F.split("term", ":").getItem(0))
                 .groupBy("fld").agg(F.sum("cf").alias("cf"))
                 .collect()) if cfg.fields else []
        narrow.unpersist()
    import json as _json
    fields_json = ""
    if cfg.fields:
        # per-field avgdl: field = prefix before ':' (tokens are
        # [a-z0-9]+ so the separator is unambiguous)
        if field_doc_counts is not None:
            if set(field_doc_counts) != set(cfg.fields):
                raise ValueError(
                    "field_doc_counts keys must match cfg.fields "
                    f"exactly: {sorted(field_doc_counts)} vs "
                    f"{sorted(cfg.fields)}")
            fcf = {r["fld"]: float(r["cf"]) for r in frows}
            fields_json = _json.dumps(
                {fld: {"avgdl": (fcf.get(fld, 0.0) / nf if nf
                                 else 0.0),
                       "n": int(nf)}
                 for fld, nf in field_doc_counts.items()})
        else:
            fields_json = _json.dumps(
                {r["fld"]: (float(r["cf"]) / N if N else 0.0)
                 for r in frows})
    # avgdl = total tokens / N == sum(cf)/N -- no separate doc-length
    # pass anywhere in the build
    tot_cf = sum(int(r["cf"]) for r in shard_rows.values())
    avgdl = (float(tot_cf) / N) if N else 0.0
    mark("term_stats")

    routing_json = (_json.dumps({"col": cfg.routing_col,
                                 "k": cfg.shards_per_org})
                    if cfg.routing_col else "")
    # docid_span = extent of this index's id space above docid_offset:
    # dense n for rank ids, sparse num_shards*dps for routed builds
    # (per-shard id blocks), max_id+1 for caller-provided ids. Readers
    # (CombinedIndex) use it for disjointness checks and docid routing.
    if N == 0:
        docid_span = 0
    elif cfg.routing_col is not None:
        docid_span = int(cfg.num_shards) * int(docs_per_shard)
    elif docid_col is not None:
        docid_span = int(max_id) + 1
    else:
        docid_span = int(N)
    storage.append_stats_row(out_dir, {
        "n": N, "avgdl": avgdl, "num_shards": cfg.num_shards,
        "docs_per_shard": int(docs_per_shard), "k1": float(cfg.k1),
        "b": float(cfg.b), "block": int(cfg.block),
        "docid_offset": int(docid_offset), "build_id": build_id,
        "docid_span": int(docid_span),
        "fields": fields_json, "routing": routing_json})

    # Manifest: one committed row per shard built this run, including
    # empty-shard placeholders (IndexingPostProcessor.java:80-108 analog).
    if todo:
        wall_us = int((time.perf_counter() - t_start) * 1e6)
        man_rows = []
        for s in sorted(todo_set):
            r = shard_rows.get(s)
            man_rows.append({
                "shard": int(s),
                "n_terms": int(r["n_terms"]) if r else 0,
                "n_postings": int(r["n_postings"]) if r else 0,
                "bytes": int(r["bytes"]) if r else 0,
                "max_enc_us": int(r["max_enc_us"]) if r else 0,
                "status": "committed", "build_id": build_id,
                "build_wall_us": wall_us, "corpus_docs": N})
        storage.append_manifest_rows(out_dir, man_rows, build_id)

    mark("manifest")
    return {"n_docs": N, "avgdl": avgdl, "num_shards": cfg.num_shards,
            "docs_per_shard": docs_per_shard, "built_shards": sorted(todo_set),
            "docid_span": docid_span,
            "build_id": build_id, "phases": phases,
            "wall_sec": time.perf_counter() - t_start}


def build_many(spark: SparkSession, df: DataFrame, out_base: str,
               configs: dict[str, BuildConfig],
               index_col: str = "index", text_col: str = "text",
               order_cols: list[str] | None = None,
               resume: bool = False,
               _only_gshards: list[int] | None = None) -> dict:
    """Build MANY indices in ONE job set — the reference builds every
    index of a nightly job in one MapReduce pass with per-index shard
    counts (ShardConfig.java:50-56 applied at BaseESReducer.java:101-104;
    the shuffle key is indexName|routingHash, BaseESMapper.java:13-14).
    Rows are routed to the index named by ``df[index_col]``; each index
    root lands at <out_base>/<name> in the standard layout and is
    rank-identical to a solo build_index over its rows.

    The Spark JOB COUNT IS FIXED regardless of len(configs): per-index
    shards are packed into one global shard-id space (gshard = per-index
    base + local shard, bases = prefix sums of num_shards), so ONE docid
    job, ONE docstore write, ONE postings shuffle + Arrow kernel and ONE
    dictionary aggregation serve every index; the per-index separation
    happens via partitionBy(index, shard) staging dirs that the driver
    MOVES (atomic rename, metadata-only) into the per-index roots.
    Stats + manifests are driver-side pyarrow writes (no jobs).

    Per-index knobs: num_shards / k1 / b / tokenizer / fields /
    routing_col+shards_per_org (the full ShardConfig analog). A ROUTED
    index gets its shard from the tenant hash and org-contiguous docids
    (identical to solo build_index; org_ranges included); a MULTI-FIELD
    index gets field-prefixed terms and per-field avgdl. One shared
    Arrow kernel serves the whole shuffle — the per-shard field spec is
    resolved by gshard, and the shuffled batches carry the UNION of the
    configs' text columns, with columns not used by a row's index
    nulled to '' so they add no shuffle bytes. Codec geometry
    (block, max_chunk_postings) must agree across indices.

    ``resume=True`` completes a killed nightly at (index, shard)
    granularity like solo build_index: docid assignment is recomputed
    over the full input (deterministic — same ids), only shards
    WITHOUT a committed manifest row are rebuilt and merged into the
    existing roots, and each touched index's derived artifacts
    (term_stats / stats / org_ranges) are recomputed from its ON-DISK
    shards so the result converges to the clean-build state
    (IndexingPostProcessor.java:33-48's manifest repair).
    ``_only_gshards`` is the kill-simulation test hook (the build_many
    analog of build_index's _only_shards). Returns {index_name:
    summary}.
    """
    import os as _os
    import uuid
    from . import routing as _routing
    from . import storage
    assert configs, "configs must name at least one index"
    names = sorted(configs)
    cfg0 = configs[names[0]]
    for nm in names:
        c = configs[nm]
        assert (c.block, c.max_chunk_postings) \
            == (cfg0.block, cfg0.max_chunk_postings), \
            "build_many: codec geometry must agree across indices"
        if c.routing_col is not None:
            _routing.n_groups(c.num_shards, c.shards_per_org)  # validates
    order_cols = order_cols or ["conv_id", "turn_idx"]
    t_start = time.perf_counter()

    # per-row routing shard/org for routed indices (0/'' elsewhere) so
    # ONE global rank under (index, shard, org, order) mints every
    # index's docids: dense rank-ids for plain indices, org-contiguous
    # per-shard blocks for routed ones — identical to the solo builds
    rshard = F.lit(0)
    rorg = F.lit("")
    key_col = F.concat_ws(
        "\x1f", *[F.col(c).cast("string") for c in order_cols])
    for nm in names:
        c = configs[nm]
        if c.routing_col is None:
            continue
        rshard = F.when(
            F.col(index_col) == nm,
            _routing.shard_col(F.col(c.routing_col), key_col,
                               c.num_shards, c.shards_per_org)
        ).otherwise(rshard)
        rorg = F.when(F.col(index_col) == nm,
                      F.col(c.routing_col).cast("string")
                      ).otherwise(rorg)
    df2 = (df.withColumn("_rshard", rshard.cast("int"))
             .withColumn("_rorg", rorg))

    base = assign_docids(df2, [index_col, "_rshard", "_rorg"]
                         + order_cols, cfg0.partitions)
    cached_parent = base._sparkfts_cached_parent
    # ONE aggregate serves the unknown-index check, per-index totals
    # AND the routed per-shard counts/offsets
    crows = (base.groupBy(index_col, "_rshard")
             .agg(F.count("*").alias("n")).collect())
    shard_cnt: dict[str, dict[int, int]] = {}
    for r in crows:
        shard_cnt.setdefault(r[index_col], {})[int(r["_rshard"])] = \
            int(r["n"])
    unknown = sorted(set(shard_cnt) - set(names))
    assert not unknown, f"rows reference unconfigured indices: {unknown}"

    meta, gmap_rows, soff_rows, ioff, gbase = {}, [], [], 0, 0
    for nm in names:
        c = configs[nm]
        sc = shard_cnt.get(nm, {})
        n_i = sum(sc.values())
        ns_i = c.num_shards
        if c.routing_col is not None:
            dps_i = max(sc.values(), default=1)
            acc = 0
            for s in sorted(sc):
                soff_rows.append((nm, s, acc))
                acc += sc[s]
        else:
            dps_i = max(1, -(-n_i // ns_i))
        meta[nm] = {"n": n_i, "off": ioff, "dps": dps_i, "gbase": gbase,
                    "num_shards": ns_i,
                    "routed": c.routing_col is not None}
        for s in range(ns_i):
            gmap_rows.append((gbase + s, nm, s))
        ioff += n_i
        gbase += ns_i
    mdf = spark.createDataFrame(
        pd.DataFrame([(nm, m["off"], m["dps"], m["gbase"],
                       1 if m["routed"] else 0)
                      for nm, m in meta.items()],
                     columns=[index_col, "_ioff", "_dps", "_gbase",
                              "_routed"]))
    doc = (base.join(F.broadcast(mdf), index_col)
           .withColumn("_rk", F.col("docid") - F.col("_ioff")))
    if soff_rows:
        soffdf = spark.createDataFrame(
            pd.DataFrame(soff_rows,
                         columns=[index_col, "_rshard", "_soff"]))
        doc = doc.join(F.broadcast(soffdf), [index_col, "_rshard"],
                       "left")
    else:
        doc = doc.withColumn("_soff", F.lit(0).cast("long"))
    doc = (doc
           .withColumn("docid",
                       F.when(F.col("_routed") == 1,
                              F.col("_rshard").cast("long")
                              * F.col("_dps")
                              + F.col("_rk")
                              - F.coalesce(F.col("_soff"),
                                           F.lit(0).cast("long")))
                       .otherwise(F.col("_rk")))
           .withColumn("shard",
                       F.when(F.col("_routed") == 1, F.col("_rshard"))
                       .otherwise((F.col("_rk") / F.col("_dps"))
                                  .cast("int")))
           .withColumn("gshard",
                       (F.col("_gbase") + F.col("shard")).cast("int"))
           .drop("_ioff", "_dps", "_gbase", "_routed", "_rk", "_soff",
                 "_rshard", "_rorg"))

    # (index, shard) resume ledger — identical semantics to solo
    # build_index: a shard is done iff a manifest row commits it
    all_g = set(range(gbase))
    committed_g: set[int] = set()
    if resume:
        for nm in names:
            root = _os.path.join(out_base, nm)
            for s in storage.committed_shards(spark, root):
                committed_g.add(meta[nm]["gbase"] + int(s))
    todo_g = sorted(all_g - committed_g)
    if _only_gshards is not None:
        only = set(_only_gshards)
        todo_g = [g for g in todo_g if g in only]
    partial = resume or (_only_gshards is not None)
    todo_set = set(todo_g)
    g2nm = {g: nm for g, nm, _ in gmap_rows}
    built_local: dict[str, list[int]] = {nm: [] for nm in names}
    for g, nm, s in gmap_rows:
        if g in todo_set:
            built_local[nm].append(s)
    touched = [nm for nm in names if built_local[nm]] if partial \
        else list(names)
    if todo_set != all_g:
        doc = doc.where(F.col("gshard").isin(todo_g))

    # union of the configs' text columns; a column is '' for rows whose
    # index doesn't tokenize it (no shuffle bytes), and the kernel's
    # per-gshard spec reads only its own index's columns
    ucols: dict[str, list[tuple[str, str]]] = {}
    spec_by_shard: dict[int, list] = {}
    for nm in names:
        c = configs[nm]
        if c.fields:
            spec = [(fn, f"{fn}:", tok) for fn, tok in c.fields.items()]
            for fn in c.fields:
                ucols.setdefault(fn, []).append((nm, fn))
        else:
            spec = [("text", "", c.tokenizer)]
            ucols.setdefault("text", []).append((nm, text_col))
        for s in range(c.num_shards):
            spec_by_shard[meta[nm]["gbase"] + s] = spec
    fsel = []
    for ucol in sorted(ucols):
        expr = F.lit("")
        for nm, src in ucols[ucol]:
            expr = F.when(F.col(index_col) == nm,
                          F.coalesce(F.col(src).cast("string"),
                                     F.lit(""))).otherwise(expr)
        fsel.append(expr.alias(ucol))

    staging = _os.path.join(out_base, f"_staging-{uuid.uuid4().hex[:8]}")
    import shutil
    # staging must never outlive the call: success moves its
    # contents away; any failure (or a retry after one) must not
    # leak multi-GB partial writes under out_base
    try:
        store_cols = [c for c in df.columns if c != index_col]

        import threading
        errs: list[BaseException] = []

        def _write_docstore() -> None:
            try:
                (doc.select(index_col, "shard", "docid", *store_cols)
                    .sortWithinPartitions("docid")
                    .write.mode("overwrite").partitionBy(index_col, "shard")
                    .parquet(_os.path.join(staging, "docstore")))
            except BaseException as e:
                errs.append(e)

        enc_out = None
        if todo_g:
            th = threading.Thread(target=_write_docstore,
                                  name="docstore-many")
            th.start()
            p = cfg0.partitions or int(
                spark.conf.get("spark.sql.shuffle.partitions"))
            from .placement import repartition_exact
            enc_in = (repartition_exact(
                          doc.select(F.col("gshard").alias("shard"),
                                     "docid", *fsel),
                          todo_g, min(p, max(1, len(todo_g))))
                      .sortWithinPartitions("shard"))
            enc_out = enc_in.mapInArrow(
                _make_shard_kernel(cfg0, spec_by_shard=spec_by_shard),
                schema=POSTING_SCHEMA)
            gmap = spark.createDataFrame(
                pd.DataFrame(gmap_rows,
                             columns=["gshard", index_col, "_shard"]))
            (enc_out.withColumnRenamed("shard", "gshard")
                    .join(F.broadcast(gmap), "gshard")
                    .withColumnRenamed("_shard", "shard").drop("gshard")
                    .write.mode("overwrite").partitionBy(index_col, "shard")
                    .option("compression", POSTINGS_CODEC)
                    .parquet(_os.path.join(staging, "postings")))
            th.join()
            if errs:
                raise errs[0]
        if cached_parent is not None:
            cached_parent.unpersist()

        narrow = None
        shard_rows: dict[str, dict[int, dict]] = {nm: {} for nm in names}
        if not partial and todo_g:
            # one shared dictionary scan serves every index's
            # term_stats + manifest aggregates
            narrow = (spark.read
                      .parquet(_os.path.join(staging, "postings"))
                      .select(index_col, "shard", "term", "df", "cf",
                              "nbytes", "enc_us")
                      .persist())
            ts_parts = max(
                1, max(c.num_shards for c in configs.values()) // 8)
            (narrow.groupBy(index_col, "term")
                   .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
                   .repartition(ts_parts, "term")
                   .sortWithinPartitions(index_col, "term")
                   .write.mode("overwrite").partitionBy(index_col)
                   .parquet(_os.path.join(staging, "term_stats")))
            srows = (narrow.groupBy(index_col, "shard")
                     .agg(F.countDistinct("term").alias("n_terms"),
                          F.sum("df").alias("n_postings"),
                          F.sum("cf").alias("cf"),
                          F.sum("nbytes").alias("bytes"),
                          F.max("enc_us").alias("max_enc_us"))
                     .collect())
            for r in srows:
                shard_rows[r[index_col]][int(r["shard"])] = r
            frows = (narrow
                     .where(F.col("term").contains(":"))
                     .withColumn("fld", F.split("term", ":").getItem(0))
                     .groupBy(index_col, "fld")
                     .agg(F.sum("cf").alias("cf")).collect()) \
                if any(configs[nm].fields for nm in names) else []
            field_cf: dict[str, dict[str, int]] = {}
            for r in frows:
                field_cf.setdefault(r[index_col], {})[r["fld"]] = \
                    int(r["cf"])
            narrow.unpersist()

        summaries = {}
        wall_us = int((time.perf_counter() - t_start) * 1e6)
        empty_schemas = {
            "docstore": T.StructType(
                [T.StructField("shard", T.IntegerType()),
                 T.StructField("docid", T.LongType())]
                + [f for f in df.schema.fields
                   if f.name in store_cols]),
            "postings": POSTING_SCHEMA,
            "term_stats": T.StructType([
                T.StructField("term", T.StringType()),
                T.StructField("df", T.LongType()),
                T.StructField("cf", T.LongType())]),
        }

        def _move_shards(part: str, nm: str) -> bool:
            """Merge staged shard dirs into the root at SHARD
            granularity (resume never clobbers committed shards);
            returns True if anything moved."""
            src = _os.path.join(staging, part, f"{index_col}={nm}")
            dst = storage.path(_os.path.join(out_base, nm), part)
            if not _os.path.isdir(src):
                return False
            if not partial and _os.path.isdir(dst):
                shutil.rmtree(dst)     # fresh rebuild = overwrite
            _os.makedirs(dst, exist_ok=True)
            for sd in _os.listdir(src):
                if not sd.startswith("shard="):
                    continue
                d = _os.path.join(dst, sd)
                if _os.path.isdir(d):
                    shutil.rmtree(d)   # uncommitted partial shard
                _os.replace(_os.path.join(src, sd), d)
            return True

        for nm in (touched if partial else names):
            root = _os.path.join(out_base, nm)
            _os.makedirs(root, exist_ok=True)
            m = meta[nm]
            c = configs[nm]
            for part in ("docstore", "postings"):
                _move_shards(part, nm)
            if not partial:
                src = _os.path.join(staging, "term_stats",
                                    f"{index_col}={nm}")
                dst = storage.path(root, "term_stats")
                if _os.path.isdir(src):
                    if _os.path.isdir(dst):
                        shutil.rmtree(dst)
                    _os.replace(src, dst)
            # any part still missing gets a schema-bearing empty parquet
            # so the root stays readable — PER PART, not gated on a
            # single any-moved flag: an index whose docs all tokenize to
            # zero terms has docstore rows but NO posting rows, and must
            # still get postings/term_stats dirs (the reference likewise
            # materializes EMPTY indices, IndexingPostProcessor.java:
            # 86-94). Also covers resumed roots missing a part.
            for part in ("docstore", "postings", "term_stats"):
                if not _os.path.isdir(storage.path(root, part)):
                    spark.createDataFrame(
                        [], empty_schemas[part]).write.mode(
                        "overwrite").parquet(storage.path(root, part))
            if c.routing_col is not None:
                _write_org_ranges(spark, root, c.routing_col,
                                  c.num_shards)

            if partial:
                # derived artifacts from the ON-DISK shards so the
                # resumed root converges to the clean-build state
                # (same contract as solo build_index's resume)
                rn = (spark.read
                      .parquet(storage.path(root, "postings"))
                      .select("shard", "term", "df", "cf", "nbytes",
                              "enc_us").persist())
                ts_parts = max(1, c.num_shards // 8)
                (rn.groupBy("term")
                   .agg(F.sum("df").alias("df"),
                        F.sum("cf").alias("cf"))
                   .repartition(ts_parts, "term")
                   .sortWithinPartitions("term")
                   .write.mode("overwrite")
                   .parquet(storage.path(root, "term_stats")))
                for r in (rn.groupBy("shard")
                          .agg(F.countDistinct("term").alias("n_terms"),
                               F.sum("df").alias("n_postings"),
                               F.sum("cf").alias("cf"),
                               F.sum("nbytes").alias("bytes"),
                               F.max("enc_us").alias("max_enc_us"))
                          .collect()):
                    shard_rows[nm][int(r["shard"])] = r
                fcf = {}
                if c.fields:
                    fcf = {r["fld"]: int(r["cf"]) for r in
                           (rn.withColumn(
                               "fld", F.split("term", ":").getItem(0))
                            .groupBy("fld")
                            .agg(F.sum("cf").alias("cf")).collect())}
                rn.unpersist()
            else:
                fcf = field_cf.get(nm, {}) if c.fields else {}

            import json as _json
            build_id = storage.new_build_id(root)
            tot_cf = sum(int(r["cf"]) for r in shard_rows[nm].values())
            avgdl = (float(tot_cf) / m["n"]) if m["n"] else 0.0
            fields_json = (_json.dumps(
                {fl: (float(cf) / m["n"] if m["n"] else 0.0)
                 for fl, cf in fcf.items()}) if c.fields else "")
            routing_json = (_json.dumps({"col": c.routing_col,
                                         "k": c.shards_per_org})
                            if c.routing_col else "")
            if m["n"] == 0:
                span = 0
            elif c.routing_col is not None:
                span = int(c.num_shards) * int(m["dps"])
            else:
                span = int(m["n"])
            storage.append_stats_row(root, {
                "n": m["n"], "avgdl": avgdl, "num_shards": c.num_shards,
                "docs_per_shard": int(m["dps"]), "k1": float(c.k1),
                "b": float(c.b), "block": int(c.block),
                "docid_offset": 0, "build_id": build_id,
                "docid_span": int(span),
                "fields": fields_json, "routing": routing_json})
            man_shards = built_local[nm] if partial \
                else range(c.num_shards)
            man_rows = []
            for s in man_shards:
                r = shard_rows[nm].get(s)
                man_rows.append({
                    "shard": int(s),
                    "n_terms": int(r["n_terms"]) if r else 0,
                    "n_postings": int(r["n_postings"]) if r else 0,
                    "bytes": int(r["bytes"]) if r else 0,
                    "max_enc_us": int(r["max_enc_us"]) if r else 0,
                    "status": "committed", "build_id": build_id,
                    "build_wall_us": wall_us, "corpus_docs": m["n"]})
            if man_rows:
                storage.append_manifest_rows(root, man_rows, build_id)
            summaries[nm] = {"n_docs": m["n"], "avgdl": avgdl,
                             "num_shards": c.num_shards,
                             "docs_per_shard": m["dps"],
                             "docid_span": int(span),
                             "built_shards": sorted(man_shards),
                             "build_id": build_id}
        return summaries
    finally:
        shutil.rmtree(staging, ignore_errors=True)
