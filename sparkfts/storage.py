"""On-disk index layout + manifest/commit helpers.

Layout under one index root (parquet directories). The stats, manifest
and query-side reads use ``os`` and pyarrow directly, so a root is a
driver-local or shared-mount path that every executor sees at the same
name — not a Hadoop URI (s3a://, hdfs://, file://):

  <root>/docstore/shard=K/    docid + the input columns, sorted by docid
  <root>/postings/shard=K/    dictionary + compressed posting rows
  <root>/term_stats/          global (term, df, cf) — idf source
  <root>/stats/               single row: N, avgdl, shard geometry, k1/b
  <root>/manifest/            per-shard committed rows (lineage + metrics)

The manifest is the resume ledger (the reference's merged+deduped
manifest files, IndexingPostProcessor.java:33-69, re-expressed as a
table): a shard is committed iff a manifest row says so.
"""
from __future__ import annotations

import os
import uuid


def path(root: str, part: str) -> str:
    return os.path.join(root, part)


def _write_table_atomic(tbl, dirpath: str, name: str) -> None:
    """Driver-side parquet append: write hidden tmp, atomic rename.
    Spark/pyarrow readers ignore '_'/'.'-prefixed files, so a crash
    mid-write never exposes a partial file. Used for the tiny metadata
    tables (stats/manifest) — writing them through a Spark job costs a
    fixed ~0.3-0.5s of driver/job latency each, which is pure serial
    floor in the N-vs-4N scaling criterion."""
    import pyarrow.parquet as pq
    os.makedirs(dirpath, exist_ok=True)
    tmp = os.path.join(dirpath, f"_tmp-{name}")
    pq.write_table(tbl, tmp)
    os.replace(tmp, os.path.join(dirpath, name))


def append_stats_row(root: str, row: dict) -> None:
    """Append a stats row with a monotone ``seq``; readers take max(seq).
    Append-only + atomic rename ⇒ no torn-read window on rebuild."""
    import pyarrow as pa
    prev = read_stats(root, missing_ok=True)
    row = {**row, "seq": (int(prev.get("seq") or 0) + 1 if prev else 0)}
    tbl = pa.Table.from_pylist([row], schema=pa.schema([
        ("n", pa.int64()), ("avgdl", pa.float64()),
        ("num_shards", pa.int32()), ("docs_per_shard", pa.int64()),
        ("k1", pa.float64()), ("b", pa.float64()), ("block", pa.int32()),
        ("docid_offset", pa.int64()), ("build_id", pa.string()),
        ("docid_span", pa.int64()),
        ("fields", pa.string()), ("routing", pa.string()),
        ("seq", pa.int64()),
    ]))
    _write_table_atomic(tbl, path(root, "stats"),
                        f"part-{row['seq']:08d}-{row['build_id']}.parquet")


def read_stats(root: str, missing_ok: bool = False) -> dict | None:
    """Latest stats row (max seq; legacy single-row tables lack seq) —
    pure driver-side pyarrow read, no Spark job. Files are read one by
    one so schema evolution across builds never breaks the read."""
    import pyarrow.parquet as pq
    p = path(root, "stats")
    rows: list[dict] = []
    if os.path.isdir(p):
        for fn in sorted(os.listdir(p)):
            if fn.endswith(".parquet") and not fn.startswith(("_", ".")):
                rows.extend(pq.read_table(os.path.join(p, fn)).to_pylist())
    if not rows:
        if missing_ok:
            return None
        raise FileNotFoundError(p)
    return max(rows, key=lambda r: r.get("seq") or 0)


def _footer_max_docid(root: str) -> int | None:
    """Max docid across the docstore from parquet ROW-GROUP statistics
    only — footer reads, no data pages. Driver-side, one-time."""
    import pyarrow.dataset as ds
    p = path(root, "docstore")
    if not os.path.isdir(p):
        return None
    mx = None
    for frag in ds.dataset(p, format="parquet",
                           partitioning="hive").get_fragments():
        md = frag.metadata
        for gi in range(md.num_row_groups):
            rg = md.row_group(gi)
            for ci in range(rg.num_columns):
                col = rg.column(ci)
                if col.path_in_schema == "docid" and col.statistics:
                    v = col.statistics.max
                    mx = v if mx is None else max(mx, v)
    return int(mx) if mx is not None else None


def effective_docid_span(root: str, st: dict) -> int:
    """Id-space extent above ``docid_offset``. Current stats rows carry
    ``docid_span``; LEGACY rows (pre-span) must NOT fall back to n — a
    routed or caller-docid index has sparse ids up to
    num_shards*docs_per_shard-1 (or max docid), and understating the
    span would let a later streaming-delta reservation overlap the
    base's real docids while the CombinedIndex disjointness check,
    using the same understated span, silently passes. Derivation:
    routing geometry (present in every legacy row) bounds routed
    builds; a parquet-footer max-docid scan covers caller-docid
    builds exactly."""
    span = st.get("docid_span")
    if span is not None:
        return int(span)
    off = int(st.get("docid_offset") or 0)
    cand = [int(st["n"])]
    if st.get("routing"):
        cand.append(int(st["num_shards"]) * int(st["docs_per_shard"]))
    mx = _footer_max_docid(root)
    if mx is not None:
        cand.append(int(mx) - off + 1)
    return max(cand)


def append_manifest_rows(root: str, rows: list[dict], build_id: str) -> None:
    import pyarrow as pa
    tbl = pa.Table.from_pylist(rows, schema=pa.schema([
        ("shard", pa.int32()), ("n_terms", pa.int64()),
        ("n_postings", pa.int64()), ("bytes", pa.int64()),
        ("max_enc_us", pa.int64()), ("status", pa.string()),
        ("build_id", pa.string()), ("build_wall_us", pa.int64()),
        ("corpus_docs", pa.int64()),
    ]))
    _write_table_atomic(tbl, path(root, "manifest"),
                        f"part-{build_id}.parquet")


def new_build_id(root: str) -> str:
    return uuid.uuid5(uuid.NAMESPACE_URL,
                      f"sparkfts://{os.path.abspath(root)}/{os.getpid()}"
                      f"/{uuid.uuid4()}").hex[:12]


def manifest_exists(root: str) -> bool:
    p = path(root, "manifest")
    return os.path.isdir(p) and any(
        f.endswith(".parquet") and not f.startswith(("_", "."))
        for f in os.listdir(p))


def committed_shards(spark, root: str) -> set[int]:
    """Shards with a committed manifest row. Driver-side pyarrow read
    (the manifest is tiny); ``spark`` kept for API compatibility."""
    del spark
    if not manifest_exists(root):
        return set()
    import pyarrow.dataset as ds
    rows = (ds.dataset(path(root, "manifest"), format="parquet")
            .to_table(columns=["shard", "status"]).to_pylist())
    return {int(r["shard"]) for r in rows if r["status"] == "committed"}
