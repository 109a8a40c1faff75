"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The engine under test is ``sparkfts`` (SURVEY.md §2): a from-scratch
PySpark inverted-index builder + BM25 query engine. Gate queries run the
REAL pipeline — tokenize → postings (delta+varint+block-max) → shard
parquet → BM25 top-k — over the ``documents`` table (doc_id as docid),
and the DuckDB oracles recompute the same semantics in ANSI SQL.
"""
from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

TOKEN_SPLIT = "[^a-z0-9]+"   # analyzer contract shared with the SQL oracle
K1, B = 1.2, 0.75

# Fixed reference terms over the documents vocabulary (hot/mid), chosen
# deterministically; "zzzunseen" is absent from the corpus.
T_HOT, T_MID, T_MID2, T_RARE = "batch", "window", "customer", "vector"
FETCH_IDS = [0, 7, 42, 123, 499]

def _routing_sql_hash(expr: str) -> str:
    from sparkfts.routing import sql_hash
    return sql_hash(expr)


_INDEX_CACHE: dict[str, object] = {}
_FORMAT_VERSION = "v10"  # bump when the on-disk index format changes

ORG_SHARDS, ORG_K = 8, 2      # routed-gate geometry
ORG = "src7"                  # fixed tenant for the org-scoped gate


def _cached_index(spark: SparkSession, sf_dir: str, tag: str, builder):
    from sparkfts import FTSIndex
    from sparkfts.storage import manifest_exists
    key = f"{os.path.abspath(sf_dir)}#{tag}"
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    root = os.path.join(
        "/tmp/sparkfts_gate", _FORMAT_VERSION,
        os.path.abspath(sf_dir).strip("/").replace("/", "_") + "_" + tag)
    if not manifest_exists(root):
        docs = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet"))
        builder(docs, root)
    idx = FTSIndex(spark, root)
    _INDEX_CACHE[key] = idx
    return idx


def _index_for(spark: SparkSession, sf_dir: str):
    """Build (once per sf_dir) the full index over documents."""
    from sparkfts import BuildConfig, build_index

    def b(docs, root):
        build_index(spark, docs, root, text_col="text",
                    docid_col="doc_id", cfg=BuildConfig(num_shards=4))
    return _cached_index(spark, sf_dir, "main", b)


def _routed_index_for(spark: SparkSession, sf_dir: str):
    """Org-routed index: source = tenant, 2 of 8 shards per org."""
    from sparkfts import BuildConfig, build_index

    def b(docs, root):
        build_index(spark, docs, root, text_col="text",
                    docid_col="doc_id",
                    cfg=BuildConfig(num_shards=ORG_SHARDS,
                                    routing_col="source",
                                    shards_per_org=ORG_K))
    return _cached_index(spark, sf_dir, "routed", b)


def _mf_index_for(spark: SparkSession, sf_dir: str):
    """Multi-field index: text + lang, per-field stats."""
    from sparkfts import BuildConfig, build_index
    from sparkfts.analyzer import TokenizerConfig

    def b(docs, root):
        build_index(spark, docs, root, docid_col="doc_id",
                    cfg=BuildConfig(num_shards=4,
                                    fields={"text": TokenizerConfig(),
                                            "lang": TokenizerConfig()}))
    return _cached_index(spark, sf_dir, "mf", b)


def _gate_root(sf_dir: str, tag: str) -> str:
    return os.path.join(
        "/tmp/sparkfts_gate", _FORMAT_VERSION,
        os.path.abspath(sf_dir).strip("/").replace("/", "_") + "_" + tag)


MANY_SHARDS = {"even": 3, "odd": 5}   # per-index shard counts (ShardConfig)


def _many_index_for(spark: SparkSession, sf_dir: str):
    """TWO indices built by ONE build_many call (per-index shard counts);
    returns the 'even' index handle."""
    from sparkfts import BuildConfig, FTSIndex, build_many
    from sparkfts.storage import manifest_exists
    key = f"{os.path.abspath(sf_dir)}#many"
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    base = _gate_root(sf_dir, "many")
    if not all(manifest_exists(os.path.join(base, nm))
               for nm in MANY_SHARDS):
        docs = _docs(spark, sf_dir).withColumn(
            "idx", F.when(F.col("doc_id") % 2 == 0,
                          F.lit("even")).otherwise(F.lit("odd")))
        build_many(spark, docs, base,
                   {nm: BuildConfig(num_shards=ns, partitions=4)
                    for nm, ns in MANY_SHARDS.items()},
                   index_col="idx", order_cols=["doc_id"])
    idx = FTSIndex(spark, os.path.join(base, "even"))
    _INDEX_CACHE[key] = idx
    return idx


def _routed_delta_ci(spark: SparkSession, sf_dir: str):
    """Org-routed base (doc_id < 250) + one routed streaming delta
    (doc_id >= 250) — the round-3 routed-streaming composition."""
    from sparkfts import BuildConfig, build_index
    from sparkfts.storage import manifest_exists
    from sparkfts.streaming import (CombinedIndex, make_batch_indexer,
                                    read_delta_log)
    key = f"{os.path.abspath(sf_dir)}#routeddelta"
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    root = _gate_root(sf_dir, "routeddelta")
    rcfg = BuildConfig(num_shards=ORG_SHARDS, routing_col="source",
                       shards_per_org=ORG_K, partitions=4)
    docs = _docs(spark, sf_dir)
    if not manifest_exists(root):
        build_index(spark, docs.where("doc_id < 250"), root,
                    text_col="text", order_cols=["doc_id"], cfg=rcfg)
    if not read_delta_log(root):
        make_batch_indexer(root, text_col="text", order_cols=["doc_id"],
                           cfg=rcfg)(docs.where("doc_id >= 250"),
                                     batch_id=0)
    ci = CombinedIndex(spark, root)
    _INDEX_CACHE[key] = ci
    return ci


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _ranked(idx, spark, query, mode, method="wand", k=10) -> DataFrame:
    pdf = idx.topk_pandas(query, k=k, mode=mode, method=method)
    pdf = pdf.reset_index(drop=True)
    pdf["rank"] = pdf.index + 1
    pdf["score_r"] = pdf["score"].round(4)
    return spark.createDataFrame(
        pdf[["rank", "docid", "score_r"]],
        schema="rank long, docid long, score_r double")


# --------------------------------------------------------------------
# queries(): each runs the real sparkfts pipeline
# --------------------------------------------------------------------

def q_tokenize_doclen(spark, sf_dir):
    """B1/B5: analyzer UDF + doc length stats."""
    from sparkfts.build import _make_tokenize_udf
    from sparkfts.analyzer import DEFAULT
    tok = _make_tokenize_udf(DEFAULT)
    return (_docs(spark, sf_dir)
            .select(F.col("doc_id").alias("docid"),
                    F.size(tok(F.col("text"))).cast("long").alias("dl"))
            .sort("docid"))


def q_collection_stats(spark, sf_dir):
    """B5: N + avgdl from the built index's stats table (latest seq row)."""
    from sparkfts import storage
    idx = _index_for(spark, sf_dir)
    st = storage.read_stats(idx.root)
    return spark.createDataFrame(
        [(int(st["n"]), round(float(st["avgdl"]), 6))],
        schema="n_docs long, avgdl_r double")


def q_term_stats(spark, sf_dir):
    """B2/B3: global df/cf for reference terms from the merged dictionary."""
    idx = _index_for(spark, sf_dir)
    return (spark.read.parquet(idx.root + "/term_stats")
            .where(F.col("term").isin([T_HOT, T_MID, T_MID2, T_RARE]))
            .select("term", "df", "cf").sort("term"))


def q_postings_decode(spark, sf_dir):
    """B2/B4: decoded (term, docid, tf) postings for one term — proves the
    delta+varint+block pipeline round-trips through shard parquet."""
    import pandas as pd
    from sparkfts.query import _decode_term_rows
    idx = _index_for(spark, sf_dir)

    def per_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        outs = []
        for t in sorted(pdf["term"].unique()):
            d, tf, _ = _decode_term_rows(pdf[pdf["term"] == t])
            outs.append(pd.DataFrame({"term": t, "docid": d, "tf": tf}))
        return (pd.concat(outs) if outs
                else pd.DataFrame({"term": [], "docid": [], "tf": []}))

    rows = (spark.read.parquet(idx.root + "/postings")
            .where(F.col("term").isin([T_MID, T_RARE])))
    return (rows.groupBy("shard")
            .applyInPandas(per_shard, schema="term string, docid long, tf long")
            .sort("term", "docid"))


def q_phrase_match(spark, sf_dir):
    """B7+: positions-based phrase matching (Lucene .prx analog).
    r7 legs exercise the ES match_phrase ``slop``: a two-term sloppy
    phrase matches iff positions a (slot 0) and b (slot 1) exist with
    |a − b + 1| ≤ slop — exact is slop=0, the transposed order needs
    slop ≥ 2. The oracle re-derives membership from token positions
    in pure SQL (EXISTS self-join on the position relation)."""
    import pandas as _pd
    idx = _index_for(spark, sf_dir)
    parts = []
    for leg, s in [("exact", 0), ("slop1", 1), ("slop2", 2)]:
        pdf = (idx.phrase_topk(f"{T_HOT} {T_MID}", k=100000, slop=s)
               .select("docid").toPandas()
               .sort_values("docid").reset_index(drop=True))
        pdf["leg"] = leg
        parts.append(pdf[["leg", "docid"]])
    return spark.createDataFrame(
        _pd.concat(parts, ignore_index=True),
        schema="leg string, docid long")


PP_QUERY = f"{T_HOT} s"   # fixed 'batch' + prefix 's' (6 completions)


def q_phrase_top10(spark, sf_dir):
    """Phrase match + BM25 ranking of the phrase's terms; the pprefix
    leg (r7) is match_phrase_prefix — fixed tokens + a trailing
    dictionary-expanded prefix slot (Lucene MultiPhraseQuery shape),
    scored by BM25 over the distinct participating terms."""
    import pandas as _pd
    idx = _index_for(spark, sf_dir)
    parts = []
    for leg, pdf in [
            ("phrase",
             idx.phrase_topk(f"{T_MID2} query", k=10).toPandas()),
            ("pprefix",
             idx.phrase_prefix_topk(PP_QUERY, k=10).toPandas())]:
        pdf = (pdf.sort_values(["score", "docid"],
                               ascending=[False, True])
               .reset_index(drop=True))
        pdf["leg"] = leg
        pdf["rank"] = pdf.index + 1
        pdf["score_r"] = pdf["score"].round(4)
        parts.append(pdf[["leg", "rank", "docid", "score_r"]])
    return spark.createDataFrame(
        _pd.concat(parts, ignore_index=True),
        schema="leg string, rank long, docid long, score_r double")


def q_intersection(spark, sf_dir):
    """B7 + r7 filter-context surfaces in one gate: the posting-list
    AND intersection (no scoring), plus the ES sort-clause analog
    (sorted_search: per-shard PARTIAL top-k by a docstore column,
    global order/limit over shards*k rows), the _count analog, and
    the cardinality-agg analog (exact leg; the HLL approx path is
    pytest-bounded)."""
    import pandas as _pd
    idx = _index_for(spark, sf_dir)
    q = f"{T_MID} {T_MID2}"
    parts = []
    m = (idx.match_docids(q, "and").toPandas()
         .sort_values("docid").reset_index(drop=True))
    parts.append(_pd.DataFrame(
        {"leg": "and_docids", "rank": m.index + 1,
         "docid": m["docid"], "v_r": 0.0}))
    srt = (idx.sorted_search(q, by="n_chars", k=10).toPandas()
           .reset_index(drop=True))
    parts.append(_pd.DataFrame(
        {"leg": "sort_nchars", "rank": srt.index + 1,
         "docid": srt["docid"], "v_r": srt["sort_val"].round(4)}))
    parts.append(_pd.DataFrame(
        {"leg": ["count"], "rank": [1], "docid": [0],
         "v_r": [float(idx.count(q, "and"))]}))
    parts.append(_pd.DataFrame(
        {"leg": ["card_lang"], "rank": [1], "docid": [0],
         "v_r": [float(idx.facet_cardinality(q, by="lang"))]}))
    return spark.createDataFrame(
        _pd.concat(parts, ignore_index=True),
        schema="leg string, rank long, docid long, v_r double")


def q_docstore_fetch(spark, sf_dir):
    """B9: shard-pruned doc-store point fetch."""
    idx = _index_for(spark, sf_dir)
    return (idx.fetch_docs(FETCH_IDS)
            .select("docid", "text", "lang").sort("docid"))


def q_docid_assignment(spark, sf_dir):
    """A3-analog: stable rank-based docid assignment (order by lang, doc_id),
    parallelism-independent by construction."""
    from sparkfts.build import assign_docids
    docs = _docs(spark, sf_dir).select(
        "doc_id", "lang").withColumnRenamed("doc_id", "src_id")
    out = assign_docids(docs, ["lang", "src_id"], partitions=8)
    return out.select(F.col("src_id"), F.col("docid").alias("rank_id")).sort("src_id")


def q_shard_routing(spark, sf_dir):
    """A4/A5-analog: balanced doc-range sharding; per-shard doc counts."""
    idx = _index_for(spark, sf_dir)
    return (spark.read.parquet(idx.root + "/docstore")
            .groupBy(F.col("shard").cast("int").alias("shard"))
            .agg(F.count("*").alias("n_docs"),
                 F.min("docid").alias("min_docid"),
                 F.max("docid").alias("max_docid"))
            .sort("shard"))


def q_manifest_lineage(spark, sf_dir):
    """A14/A16-analog: per-shard manifest with posting counts."""
    idx = _index_for(spark, sf_dir)
    return (spark.read.parquet(idx.root + "/manifest")
            .select("shard", "n_terms", "n_postings", "status")
            .sort("shard"))


def q_org_scoped_search(spark, sf_dir):
    """A4/A5 + B8: tenant-routed index; org-scoped BM25 top-10 with
    query-side shard pruning to the org's 2-of-8 shards (the
    getPossibleRoutingHashes analog). Global BM25 stats; results mapped
    back to the user's doc_id and re-ranked (score desc, doc_id asc)."""
    idx = _routed_index_for(spark, sf_dir)
    hits = idx.topk(f"{T_HOT} {T_MID} {T_RARE}", k=10, mode="or",
                    org=ORG).toPandas()
    ps = idx.possible_shards(ORG)
    ids = (idx._docstore
           .where(F.col("shard").isin(ps))
           .where(F.col("source") == ORG)
           .select("docid", "doc_id").toPandas())
    out = hits.merge(ids, on="docid")
    out = out.sort_values(["score", "doc_id"],
                          ascending=[False, True]).reset_index(drop=True)
    out["rank"] = out.index + 1
    out["score_r"] = out["score"].round(4)
    return spark.createDataFrame(out[["rank", "doc_id", "score_r"]],
                                 schema="rank long, doc_id long, "
                                        "score_r double")


def q_org_possible_shards(spark, sf_dir):
    """Routing spread table: every tenant's pruning set (org, shard)."""
    idx = _routed_index_for(spark, sf_dir)
    orgs = sorted(r["source"] for r in
                  _docs(spark, sf_dir).select("source").distinct()
                  .collect())
    rows = [(o, s) for o in orgs for s in idx.possible_shards(o)]
    return spark.createDataFrame(rows, "org string, shard int")


MM_QUERY = f"en {T_HOT} {T_MID}"      # hits lang AND text
MM_BOOSTS = {"text": 1.0, "lang": 2.0}
MM_TB = 0.3


def q_mf_bm25(spark, sf_dir):
    """Multi-field index (B12), both fields in ONE gate (r5: the two
    per-field gates merged to stay inside the driver's 50-query
    window): the 'text' leg must reproduce the classic single-field
    ranking exactly; the 'lang' leg exercises per-field df/avgdl
    isolation."""
    idx = _mf_index_for(spark, sf_dir)
    parts = []
    for fld, qtext in [("lang", "en de"),
                       ("text", f"{T_HOT} {T_MID} {T_RARE}")]:
        pdf = idx.topk_pandas(qtext, k=10, mode="or", field=fld)
        pdf["fld"] = fld
        pdf["rank"] = pdf.index + 1
        pdf["score_r"] = pdf["score"].round(4)
        parts.append(pdf[["fld", "rank", "docid", "score_r"]])
    # multi_match legs (r7): the SAME query scored against both fields
    # at once, each under its own stats, combined per doc — dis_max
    # with tie_breaker (mm_best) and boosted sum (mm_most). One Spark
    # job each: both fields' postings ride the one field-prefixed
    # dictionary scan.
    for leg, qt, tb in [("mm_best", "best_fields", MM_TB),
                        ("mm_most", "most_fields", 0.0)]:
        pdf = (idx.multi_match(MM_QUERY, fields=MM_BOOSTS, k=10,
                               qtype=qt, tie_breaker=tb).toPandas())
        pdf["fld"] = leg
        pdf["rank"] = pdf.index + 1
        pdf["score_r"] = pdf["score"].round(4)
        parts.append(pdf[["fld", "rank", "docid", "score_r"]])
    import pandas as _pd
    return spark.createDataFrame(
        _pd.concat(parts, ignore_index=True),
        schema="fld string, rank long, docid long, score_r double")


SJ_QUERIES = [
    ("hot_or", f"{T_HOT} {T_MID} {T_RARE}", "or"),
    ("mid_and", f"{T_MID} {T_MID2}", "and"),
    ("single", T_MID, "or"),
    ("rare_or", f"{T_RARE} {T_MID2}", "or"),
    ("hot_phrase", f"{T_HOT} {T_MID}", "phrase"),
]


MLT_DOC, MLT_TERMS = 17, 8     # more_like_this leg: source doc + cap

BM25_VARIANTS = [
    ("and", f"{T_MID} {T_MID2}", "and", "wand"),
    ("exact", f"{T_HOT} {T_MID} {T_RARE}", "or", "exact"),
    ("or_multi", f"{T_HOT} {T_MID} {T_RARE}", "or", "wand"),
    ("single", T_MID, "or", "wand"),
]


def q_bm25_modes(spark, sf_dir):
    """Consolidates the four r1 BM25 gates (single / or_multi / and /
    exact-method) into ONE driver slot — every constituent ranking is
    still value-checked, labeled by a variant column. The ``after_p2``
    leg (r6) value-checks search_after deep pagination: page 2 at k=10
    via the cursor from page 1's last row must equal rows 11-20 of the
    oracle's top-20 — the real pagination protocol, not an offset."""
    import pandas as _pd
    idx = _index_for(spark, sf_dir)
    parts = []
    for variant, qtext, mode, method in BM25_VARIANTS:
        pdf = idx.topk_pandas(qtext, k=10, mode=mode, method=method)
        pdf["variant"] = variant
        pdf["rank"] = pdf.index + 1
        pdf["score_r"] = pdf["score"].round(4)
        parts.append(pdf[["variant", "rank", "docid", "score_r"]])
    # page-2-by-cursor leg over the or_multi query
    _, qtext, mode, method = BM25_VARIANTS[2]
    p1 = idx.topk_pandas(qtext, k=10, mode=mode, method=method)
    cursor = (float(p1["score"].iloc[-1]), int(p1["docid"].iloc[-1]))
    p2 = idx.topk_pandas(qtext, k=10, mode=mode, method=method,
                         after=cursor)
    p2["variant"] = "after_p2"
    p2["rank"] = p2.index + 1
    p2["score_r"] = p2["score"].round(4)
    parts.append(p2[["variant", "rank", "docid", "score_r"]])
    # minimum_should_match leg (r6): the or_multi query restricted to
    # docs matching >= 2 of its distinct terms — the ES DSL's middle
    # ground between or (1) and and (all); pure HAVING in the oracle
    pm = idx.topk_pandas(qtext, k=10, mode=mode, method=method,
                         min_should_match=2)
    pm["variant"] = "msm2"
    pm["rank"] = pm.index + 1
    pm["score_r"] = pm["score"].round(4)
    parts.append(pm[["variant", "rank", "docid", "score_r"]])
    # bool must+should legs (r7, the Lucene BooleanQuery MUST/SHOULD
    # contract): results match ALL must terms, scores sum over every
    # matched term (must and should alike, stats global); the msm leg
    # additionally floors the SHOULD match count at 2 (ES
    # minimum_should_match-with-must). Pure semi-join + HAVING in the
    # oracle.
    pb = idx.topk_pandas(f"{T_MID} {T_RARE}", k=10, mode="or",
                         must=T_HOT)
    pb["variant"] = "bool_must"
    pb["rank"] = pb.index + 1
    pb["score_r"] = pb["score"].round(4)
    parts.append(pb[["variant", "rank", "docid", "score_r"]])
    pbm = idx.topk_pandas(f"{T_MID} {T_RARE}", k=10, mode="or",
                          must=T_HOT, min_should_match=2)
    pbm["variant"] = "bool_must_msm2"
    pbm["rank"] = pbm.index + 1
    pbm["score_r"] = pbm["score"].round(4)
    parts.append(pbm[["variant", "rank", "docid", "score_r"]])
    # more_like_this leg (r7, ES MLT): doc MLT_DOC's most interesting
    # terms (tf·idf, df floor 2, top MLT_TERMS) scored as an OR with
    # the source doc excluded; the oracle re-derives the SELECTION
    # (same ranking over tok/dfreq) and the scoring independently.
    pmlt = idx.more_like_this(MLT_DOC, k=10,
                              max_query_terms=MLT_TERMS,
                              min_doc_freq=2)
    pmlt["variant"] = "mlt"
    pmlt["rank"] = pmlt.index + 1
    pmlt["score_r"] = pmlt["score"].round(4)
    parts.append(pmlt[["variant", "rank", "docid", "score_r"]])
    # query-time boost leg (r7, Lucene TermQuery boost / ES "term"^2):
    # the or_multi ranking with T_MID's clause weight doubled — each
    # contribution scales linearly, a CASE multiplier in the oracle.
    pq = idx.topk_pandas(qtext, k=10, mode=mode, method=method,
                         boosts={T_MID: 2.0})
    pq["variant"] = "boosted"
    pq["rank"] = pq.index + 1
    pq["score_r"] = pq["score"].round(4)
    parts.append(pq[["variant", "rank", "docid", "score_r"]])
    return spark.createDataFrame(
        _pd.concat(parts, ignore_index=True),
        schema="variant string, rank long, docid long, score_r double")


FLT_LEGS = [
    ("en_or", f"{T_HOT} {T_MID} {T_RARE}", "or", "lang = 'en'"),
    ("long_and", f"{T_MID} {T_MID2}", "and", "n_chars >= 300"),
]

# bool.must_not legs (r7): (leg, query, mode, must_not, filter|None).
# Negation is pure exclusion — survivor scores equal the unrestricted
# ranking's; the negated terms' postings fold into the same in-kernel
# exclusion set tombstones use.
MN_LEGS = [
    ("mustnot_or", f"{T_MID} {T_RARE}", "or", T_HOT, None),
    ("mustnot_flt", f"{T_HOT} {T_MID}", "or", T_MID2, "lang = 'en'"),
]


def q_filtered_search(spark, sf_dir):
    """Filtered BM25 (r5, the ES bool-filter analog): a SQL predicate
    over docstore columns restricts results while BM25 stats stay
    global. The predicate + (shard, docid) projection push down to the
    docstore parquet scan; one scan job collects the matching (shard,
    docid) pairs, the driver encodes each shard's docid set, and each
    shard's fan-out task scores against its set."""
    import pandas as _pd
    idx = _index_for(spark, sf_dir)
    parts = []
    for leg, qtext, mode, flt in FLT_LEGS:
        pdf = idx.topk_pandas(qtext, k=10, mode=mode, filter=flt)
        pdf["leg"] = leg
        pdf["rank"] = pdf.index + 1
        pdf["score_r"] = pdf["score"].round(4)
        parts.append(pdf[["leg", "rank", "docid", "score_r"]])
    for leg, qtext, mode, neg, flt in MN_LEGS:
        pdf = idx.topk_pandas(qtext, k=10, mode=mode, must_not=neg,
                              filter=flt)
        pdf["leg"] = leg
        pdf["rank"] = pdf.index + 1
        pdf["score_r"] = pdf["score"].round(4)
        parts.append(pdf[["leg", "rank", "docid", "score_r"]])
    # explain legs (r6): per-term BM25 weight breakdown of the en_or
    # leg's top-3 filtered hits — the ES _explain analog, value-checked
    # against the oracle's per-(doc, term) partials. One output row per
    # present term, leg 'explain_<term>'; the oracle re-derives each
    # weight independently, so sum-equals-score holds on both sides by
    # construction.
    leg0, qtext0, mode0, flt0 = FLT_LEGS[0]
    top3 = idx.topk_pandas(qtext0, k=3, mode=mode0, filter=flt0)
    for r, (docid, _s) in enumerate(zip(top3["docid"], top3["score"]),
                                    start=1):
        ex = idx.explain(qtext0, int(docid))
        ex = ex.assign(leg="explain_" + ex["term"].str.slice(0, 64),
                       rank=r, docid=int(docid),
                       score_r=ex["weight"].round(4))
        parts.append(ex[["leg", "rank", "docid", "score_r"]])
    return spark.createDataFrame(
        _pd.concat(parts, ignore_index=True),
        schema="leg string, rank long, docid long, score_r double")


PFX = "s"            # prefix → scan slow small sort spark stream
WC_PAT = "s*a*"      # wildcard → scan small spark stream
FZ_Q, FZ_D = "part", 2   # fuzzy → fast part sort spark
RX_PAT = "s[ck]an|slo."  # regexp → scan slow (common re/Java/RE2 dialect)
SG_Q = "sot"             # suggester: sort (d1) + slow (d2) in-corpus


def q_prefix_search(spark, sf_dir):
    """Multi-term queries (r7, VERDICT r6 next #1-2): prefix, wildcard
    and fuzzy (edit distance <= 2) term queries. Expansion is a PUSHED
    RANGE SCAN over the term-sorted dictionary (+ regex / JVM
    levenshtein verify); the expanded terms then ride the unchanged
    scoring kernels with per-term idf (rewrite=scoring_boolean), so
    the oracle is plain BM25 with a term PREDICATE (LIKE /
    levenshtein) instead of an IN list. Legs: distributed + zero-job
    local + CombinedIndex base+delta (docids mapped back to doc_id),
    constant_score (ES 1.x prefix default: every match scores 1.0,
    first k docids), and a capped expansion (max_expansions=2 keeps
    the top-df terms — Lucene top_terms_N — derived independently by
    the oracle from its own dfreq)."""
    import pandas as _pd
    idx = _index_for(spark, sf_dir)
    parts = []

    def add(leg, pdf):
        pdf = pdf.reset_index(drop=True)
        pdf["leg"] = leg
        pdf["rank"] = pdf.index + 1
        pdf["score_r"] = pdf["score"].round(4)
        parts.append(pdf[["leg", "rank", "docid", "score_r"]])

    add("prefix_dist", idx.pattern_topk(PFX, "prefix", k=10).toPandas())
    add("prefix_local", idx.pattern_topk_local(PFX, "prefix", k=10))
    add("wildcard", idx.pattern_topk(WC_PAT, "wildcard",
                                     k=10).toPandas())
    add("fuzzy", idx.pattern_topk(FZ_Q, "fuzzy", k=10,
                                  fuzziness=FZ_D).toPandas())
    add("regexp", idx.pattern_topk(RX_PAT, "regexp", k=10).toPandas())
    add("cap2", idx.pattern_topk(PFX, "prefix", k=10,
                                 max_expansions=2).toPandas())
    cs = idx.pattern_topk(PFX, "prefix", k=10,
                          rewrite="constant_score").toPandas()
    add("const", cs)
    # CombinedIndex leg: base+delta generations, union-summed
    # expansion + union-global idf; generation-local docids map back
    # to the user's doc_id and re-rank (score desc, doc_id asc)
    ci = _stream_union_ci(spark, sf_dir)
    hits = ci.pattern_topk(PFX, "prefix", k=10)
    docs = ci.fetch_docs(hits["docid"].tolist())
    out = (hits.merge(docs[["docid", "doc_id"]], on="docid")
           .sort_values(["score", "doc_id"], ascending=[False, True])
           .reset_index(drop=True))
    out["docid"] = out["doc_id"]
    add("combined", out[["docid", "score"]])
    # term-suggester leg (r7): suggestion string in the leg column,
    # df in docid, edit distance in score_r (see the oracle's twin)
    sg = idx.suggest(SG_Q, size=5, max_edits=2, prefix_length=1)
    sg = sg.reset_index(drop=True)
    sg["leg"] = "sg_" + sg["suggestion"]
    sg["rank"] = sg.index + 1
    sg["docid"] = sg["df"].astype("int64")
    sg["score_r"] = sg["distance"].astype("float64")
    parts.append(sg[["leg", "rank", "docid", "score_r"]])
    return spark.createDataFrame(
        _pd.concat(parts, ignore_index=True),
        schema="leg string, rank long, docid long, score_r double")


HL_QUERY = f"{T_HOT} {T_MID}"   # and-mode: both terms present in hits
HL_WINDOW = 12


def q_highlight(spark, sf_dir):
    """Highlighted search (r6 oracle row for the r5 surface): two legs
    over the and-mode top-10.

    - ``win12``: the real anchored-window fragment scorer at
      window=12; the value-checked columns are the TAGGED token
      sequence (terms wrapped in <em>, extracted in order) and
      n_matches — the oracle re-derives the best window (max distinct
      terms, then max matches, then earliest anchor) in pure SQL over
      token positions.
    - ``whole``: window >= doc length, so the fragment must cover
      token positions [first match .. end of doc]; the fragment is
      tag-stripped and re-analyzed, which must reproduce exactly that
      token slice — checked token-for-token against the oracle.
    """
    import re as _re
    import pandas as _pd
    from sparkfts.analyzer import tokenize_text
    idx = _index_for(spark, sf_dir)
    parts = []
    for leg, window in (("win12", HL_WINDOW), ("whole", 1_000_000)):
        h = idx.highlight(HL_QUERY, k=10, mode="and", window=window)
        if leg == "win12":
            info = [" ".join(_re.findall(r"<em>(.*?)</em>", f))
                    for f in h["fragment"]]
        else:
            info = [" ".join(tokenize_text(
                        f.replace("<em>", "").replace("</em>", ""),
                        idx.tokenizer))
                    for f in h["fragment"]]
        parts.append(_pd.DataFrame({
            "leg": leg,
            "rank": range(1, len(h) + 1),
            "docid": h["docid"].astype("int64"),
            "score_r": h["score"].round(4),
            "frag_info": info,
            "n_matches": h["n_matches"].astype("int64"),
        }))
    return spark.createDataFrame(
        _pd.concat(parts, ignore_index=True),
        schema="leg string, rank long, docid long, score_r double, "
               "frag_info string, n_matches long")


_STATS_STACK = ("stack(6, 'count', CAST(doc_count AS DOUBLE), "
                "'mcount', CAST(metric_count AS DOUBLE), "
                "'min', `min`, 'max', `max`, 'sum', `sum`, "
                "'avg', `avg`) AS (stat, v)")


def q_facet_counts(spark, sf_dir):
    """Facet aggregations (r5 counts + r7 metric stats, the ES
    terms-agg and nested stats/min/max/sum/avg aggs): per-shard
    partial aggregates, one small shuffle to combine, top-k on counts.
    Long output shape (facet, value, stat, v_r): count legs emit one
    'count' row per bucket; metrics legs emit count/mcount/min/max/
    sum/avg rows per bucket — all value-checked. 'stats_combined'
    runs the same stats agg through CombinedIndex (base + delta
    generations, partials combined across generations)."""
    idx = _index_for(spark, sf_dir)
    legs = []

    def cnt_leg(name, df):
        legs.append(df.select(
            F.lit(name).alias("facet"), "value",
            F.lit("count").alias("stat"),
            F.col("doc_count").cast("double").alias("v_r")))

    def stats_leg(name, df):
        legs.append(df.select("value", F.expr(_STATS_STACK))
                    .select(F.lit(name).alias("facet"), "value",
                            "stat", F.round("v", 4).alias("v_r")))

    cnt_leg("lang_and", idx.facet_counts(f"{T_HOT} {T_MID}", by="lang",
                                         k=50, mode="and"))
    cnt_leg("source_or_flt",
            idx.facet_counts(f"{T_HOT} {T_MID} {T_RARE}", by="source",
                             k=50, mode="or", filter="n_chars >= 200"))
    # expression facet = the ES range/date_histogram aggs in one
    # surface (by= takes any SQL expression over docstore columns)
    cnt_leg("len_bucket",
            idx.facet_counts(T_MID, by="CAST(FLOOR(n_chars / 200) "
                                        "AS INT)", k=50, mode="or"))
    stats_leg("stats_lang",
              idx.facet_metrics(f"{T_HOT} {T_MID}", by="lang",
                                metric="n_chars", k=50, mode="and"))
    ci = _stream_union_ci(spark, sf_dir)
    stats_leg("stats_combined",
              ci.facet_metrics(f"{T_HOT} {T_MID}", by="lang",
                               metric="n_chars", k=50, mode="and"))
    # r7: ES percentiles agg (exact leg = Spark `percentile`, linear
    # interpolation — the quantile_cont definition the oracle uses)
    pc = idx.facet_percentiles(f"{T_HOT} {T_MID}", metric="n_chars",
                               percentiles=(25.0, 50.0, 75.0, 95.0),
                               by="lang", k=50, mode="and")
    legs.append(pc.select(
        F.lit("pctl_lang").alias("facet"), "value",
        F.concat(F.lit("p"), F.col("p").cast("int").cast("string"))
        .alias("stat"), F.round("pctl", 4).alias("v_r")))
    legs.append(pc.select("value", "doc_count").distinct().select(
        F.lit("pctl_lang").alias("facet"), "value",
        F.lit("pcount").alias("stat"),
        F.col("doc_count").cast("double").alias("v_r")))
    # r7: ES top_hits-under-terms-bucket agg (per-bucket hits equal
    # the global-stats ranking restricted to the bucket)
    th = idx.facet_top_hits(f"{T_HOT} {T_MID}", by="lang",
                            k_buckets=3, k_hits=3, mode="and")
    legs.append(th.select(
        F.lit("tophits_lang").alias("facet"), "value",
        F.concat(F.lit("h"), F.col("rank").cast("string"),
                 F.lit("_doc")).alias("stat"),
        F.col("docid").cast("double").alias("v_r")))
    legs.append(th.select(
        F.lit("tophits_lang").alias("facet"), "value",
        F.concat(F.lit("h"), F.col("rank").cast("string"),
                 F.lit("_score")).alias("stat"),
        F.round("score", 4).alias("v_r")))
    legs.append(th.select("value", "doc_count").distinct().select(
        F.lit("tophits_lang").alias("facet"), "value",
        F.lit("tcount").alias("stat"),
        F.col("doc_count").cast("double").alias("v_r")))
    # r7: ES histogram + date_histogram bucket aggs — key-asc buckets,
    # min_doc_count=0 gap fill (empty buckets value-checked at 0).
    # The date leg derives a timestamp from docid (hour steps from an
    # epoch) since the documents corpus carries no time column; the
    # oracle derives the identical timestamp from doc_id.
    hg = idx.facet_histogram(T_MID, on="n_chars", interval=150,
                             mode="or")
    legs.append(hg.select(
        F.lit("hist_nchars").alias("facet"),
        F.col("bucket").cast("bigint").cast("string").alias("value"),
        F.lit("doc_count").alias("stat"),
        F.col("doc_count").cast("double").alias("v_r")))
    dh = idx.facet_date_histogram(
        T_MID,
        on="timestampadd(HOUR, CAST(docid % 500 AS INT), "
           "TIMESTAMP'2025-01-01 00:00:00')",
        interval="day", mode="or")
    legs.append(dh.select(
        F.lit("dhist_day").alias("facet"),
        F.date_format("bucket", "yyyy-MM-dd").alias("value"),
        F.lit("doc_count").alias("stat"),
        F.col("doc_count").cast("double").alias("v_r")))
    # r7: ES range agg (explicit from-incl/to-excl buckets, the
    # middle two OVERLAP — each doc counts in every bucket it falls
    # in) + missing agg (NULL-metric doc count) — both one facet pass
    rng = idx.facet_range(T_MID, on="n_chars",
                          ranges=[(None, 200.0), (150.0, 400.0),
                                  (400.0, None)], mode="or")
    legs.append(rng.select(
        F.lit("range_nchars").alias("facet"),
        F.col("key").alias("value"),
        F.lit("doc_count").alias("stat"),
        F.col("doc_count").cast("double").alias("v_r")))
    miss = idx.facet_missing(
        T_MID, by="CASE WHEN n_chars < 200 THEN NULL ELSE n_chars END",
        mode="or")
    legs.append(spark.createDataFrame(
        [("missing_short", "m", "doc_count", float(miss))],
        "facet string, value string, stat string, v_r double"))
    # r7: ES filters agg — named OVERLAPPING predicate buckets in one
    # pass (composite keys), caller's order, empty bucket at 0
    fl = idx.facet_filters(T_MID, {"en": "lang = 'en'",
                                   "long": "n_chars >= 300",
                                   "nil": "n_chars < 0"}, mode="or")
    legs.append(fl.select(
        F.lit("filters_agg").alias("facet"),
        F.col("key").alias("value"),
        F.lit("doc_count").alias("stat"),
        F.col("doc_count").cast("double").alias("v_r")))
    # r7: ES nested terms agg (terms-under-terms) — top-3 langs,
    # top-2 sources each; outer totals + inner splits value-checked
    nst = idx.facet_nested(f"{T_HOT} {T_MID}", by="lang",
                           sub="source", k=3, k_sub=2, mode="and")
    legs.append(nst.select(
        F.lit("nested_ls").alias("facet"),
        F.concat_ws("/", "value", "sub_value").alias("value"),
        F.lit("sub_count").alias("stat"),
        F.col("sub_count").cast("double").alias("v_r")))
    legs.append(nst.select("value", "doc_count").distinct().select(
        F.lit("nested_ls").alias("facet"), "value",
        F.lit("doc_count").alias("stat"),
        F.col("doc_count").cast("double").alias("v_r")))
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.sort("facet", "value", "stat")


def q_search_join(spark, sf_dir):
    """Batch search as a JOIN (r5): a DataFrame of queries scored
    against the index in one distributed plan — queries bucket by
    xxhash64(qid), the query vocab broadcast-joins the dictionary (big
    side never shuffles), per-(shard, bucket) cogroup scoring, global
    per-query top-k via ONE window over qid. Nothing O(#queries) on
    the driver; each query's rows are rank-identical to topk."""
    idx = _index_for(spark, sf_dir)
    qdf = spark.createDataFrame(SJ_QUERIES,
                                "qid string, query string, mode string")
    out = idx.search_join(qdf, k=10, mode_col="mode")
    return out.select("qid", F.col("rank").cast("long").alias("rank"),
                      "docid", F.round("score", 4).alias("score_r"))


# --------------------------------------------------------------------
# datapipe operators (training-data pipeline ops; SURVEY.md + brief)
# --------------------------------------------------------------------

def _emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _query_vec(spark, sf_dir) -> list[float]:
    row = _emb(spark, sf_dir).where("vec_id = 0").collect()[0]
    return [float(x) for x in row["embedding"]]


def q_dp_exact_dedup(spark, sf_dir):
    """Exact dedup, BOTH surfaces in one gate (registry consolidated to
    fit the driver's 50-query window, VERDICT r4 #1): the group table
    (exact_dedup: survivor doc_id, content hash, group size) joined to
    the surviving corpus rows (dedup_corpus: text, lang). The inner
    join is itself an invariant — both operators must agree on the
    survivor set exactly."""
    from datapipe.dedup import dedup_corpus, exact_dedup
    docs = _docs(spark, sf_dir)
    groups = exact_dedup(docs)
    kept = dedup_corpus(docs).select("doc_id", "text", "lang")
    return groups.join(kept, "doc_id").sort("doc_id")


def q_dp_minhash(spark, sf_dir):
    """MinHash signatures + LSH candidate pairs in ONE gate (registry
    consolidation to admit fts_prefix_search under the 50-slot cap,
    r7): the per-doc signature matrix unpivoted to rows
    (leg='sig', a=doc_id, b=component index, v=minhash value) unioned
    with the banded candidate pairs (leg='pair', a, b, v='') — every
    value of both operators is still checked."""
    from datapipe.dedup import (NUM_HASHES, minhash_lsh_pairs,
                                minhash_signatures)
    docs = _docs(spark, sf_dir)
    sig = minhash_signatures(docs)
    comps = F.array(*[F.struct(F.lit(i).alias("i"),
                               F.col(f"mh_{i}").alias("v"))
                      for i in range(NUM_HASHES)])
    sig_long = (sig.select("doc_id", F.explode(comps).alias("e"))
                .select(F.lit("sig").alias("leg"),
                        F.col("doc_id").alias("a"),
                        F.col("e.i").cast("long").alias("b"),
                        F.col("e.v").alias("v")))
    pairs = (minhash_lsh_pairs(docs)
             .select(F.lit("pair").alias("leg"), "a", "b",
                     F.lit("").alias("v")))
    return sig_long.unionByName(pairs).sort("leg", "a", "b")


def q_dp_jaccard_pairs(spark, sf_dir):
    from datapipe.dedup import jaccard_pairs
    return jaccard_pairs(_docs(spark, sf_dir), threshold=0.9).sort("a", "b")


def q_dp_embedding_dups(spark, sf_dir):
    from datapipe.dedup import embedding_dup_pairs
    return (embedding_dup_pairs(_emb(spark, sf_dir), threshold=0.4)
            .select("a", "b", F.round("cos", 4).alias("cos_r4"))
            .sort("a", "b"))


def q_dp_ann_scan_topk(spark, sf_dir):
    """All three scan-path ANN strategies in ONE gate (registry
    consolidation, VERDICT r4 #1): brute-force exact cosine top-10,
    sign-LSH bucket probe + exact re-rank, and IVF nprobe-cell probe +
    exact re-rank, each tagged with a method column and unioned. Each
    leg keeps its own exact SQL oracle leg (hyperplane/centroid
    arithmetic inlined as literals), so per-method value checking is
    unchanged — only the registry slot count shrinks."""
    from datapipe.similarity import cosine_topk, ivf_topk, lsh_topk
    emb, qv = _emb(spark, sf_dir), _query_vec(spark, sf_dir)
    legs = [("brute", cosine_topk(emb, qv, k=10)),
            ("ivf", ivf_topk(emb, qv, k=10)),
            ("lsh", lsh_topk(emb, qv, k=10))]
    out = None
    for m, df in legs:
        leg = df.select(F.lit(m).alias("method"), "vec_id",
                        F.round("cos_r", 4).alias("cos_r4"))
        out = leg if out is None else out.unionByName(leg)
    return out.sort("method", "vec_id")


def q_dp_text_stats(spark, sf_dir):
    """Per-doc signatures & statistics, four operators joined on doc_id
    in one gate (registry consolidation, VERDICT r4 #1): analyzer
    token/char counts (token_count), whitespace-normalized md5
    fingerprint (fingerprint), the GPT-style piece-count estimate
    (bpe_token_estimate), and the tf-weighted 64-bit SimHash (simhash).
    Every column of every operator is still value-checked; the inner
    join on doc_id is itself an invariant (all four must emit the same
    doc set)."""
    from datapipe.dedup import simhash
    from datapipe.textstats import (bpe_token_estimate, fingerprint,
                                    token_count)
    docs = _docs(spark, sf_dir)
    return (token_count(docs)
            .join(fingerprint(docs), "doc_id")
            .join(bpe_token_estimate(docs), "doc_id")
            .join(simhash(docs), "doc_id")
            .sort("doc_id"))


def q_dp_pack_sequences(spark, sf_dir):
    """GPT-style concat-and-cut sequence packing: each doc's offset in
    the concatenated token stream and the first/last training sequence
    (budget=512 tokens) it touches. The Spark side is the scalable
    two-pass cumsum (no single-partition window); the oracle IS the
    single-window SQL the op must equal."""
    from datapipe.packing import pack_sequences, release_pack_cache
    out = pack_sequences(_docs(spark, sf_dir), budget=512)
    pdf = out.toPandas().sort_values("doc_id").reset_index(drop=True)
    release_pack_cache(out)   # honor the persist contract (ADVICE r4)
    return spark.createDataFrame(
        pdf, schema="doc_id long, n_tokens long, tok_start long, "
                    "seq_first long, seq_last long")


# Fixed tiny bigram LM for the value-checked dp_lm_quality 'fixed'
# leg: vocab over the documents fixture's hot terms, literal counts —
# the DuckDB oracle re-derives every score from these same literals.
LM_FIXED = {
    "vocab": ["batch", "hash", "join", "row", "the"],
    "alpha": 0.5,
    "c1": {"batch": 900, "hash": 950, "join": 960, "row": 940,
           "the": 840, "<unk>": 20000},
    "c2": {("the", "batch"): 50, ("batch", "join"): 30,
           ("join", "the"): 40, ("hash", "row"): 25,
           ("row", "row"): 10, ("<unk>", "<unk>"): 15000,
           ("<unk>", "the"): 700, ("the", "<unk>"): 600,
           ("batch", "<unk>"): 500, ("<unk>", "batch"): 450},
}
LM_FIXED_MAXPPL = 30.0
LM_TRAIN_V, LM_TRAIN_MAXPPL = 24, 18.0


def q_dp_lm_quality(spark, sf_dir):
    """Perplexity-style LM quality filter (r7, VERDICT r6 next #6 —
    the CCNet analog): additive-smoothed bigram LM, one distributed
    gram-count pass + broadcast-model Arrow scoring. TWO legs, both
    fully SQL-oracled (stronger than the recount pin the brief asked
    for): 'fixed' scores under the LM_FIXED literal model; 'trained'
    trains on the corpus itself (top-24 vocab + <unk>) and scores —
    the oracle re-derives the training counts AND every score in pure
    SQL. Output: per-doc token count, log-prob, perplexity (NULL
    under 2 tokens) and the keep decision."""
    from datapipe.lm import lm_quality, train_ngram_lm
    docs = _docs(spark, sf_dir)
    legs = []
    for leg, model, thr in (
            ("fixed", LM_FIXED, LM_FIXED_MAXPPL),
            ("trained", train_ngram_lm(docs, vocab_size=LM_TRAIN_V,
                                       alpha=0.5), LM_TRAIN_MAXPPL)):
        out = lm_quality(docs, model, max_ppl=thr)
        legs.append(out.select(
            F.lit(leg).alias("leg"), "doc_id", "n_tokens",
            F.round("logprob", 4).alias("lp_r"),
            F.round("perplexity", 4).alias("ppl_r"),
            F.col("keep").cast("int").alias("keep")))
    return legs[0].unionByName(legs[1]).sort("leg", "doc_id")


def q_dp_dup_spans(spark, sf_dir):
    """ExactSubstr span dedup (Lee et al. 2022 at L-token gram
    resolution), BOTH operators joined in one gate (registry
    consolidation): per-doc duplicated-token stats (duplicated_spans)
    plus the cleaning result — every non-first occurrence of each
    duplicated length-L window deleted and the doc text rebuilt from
    surviving tokens (strip_duplicate_spans), value-checked including
    the rebuilt text itself."""
    from datapipe.dedup import duplicated_spans, strip_duplicate_spans
    docs = _docs(spark, sf_dir)
    stats = duplicated_spans(docs, min_len=10)
    strip = strip_duplicate_spans(docs, min_len=10) \
        .select("doc_id", "clean_text", "kept_tokens")
    return stats.join(strip, "doc_id").sort("doc_id")


# Fixed merge table for the value-checked BPE-encode gate: exercises
# chained merges (merged symbols as later pair members) over the
# fixture vocabulary. Sequential-apply semantics == one string replace
# per merge, so the DuckDB oracle is an exact chained-replace.
BPE_FIXED_MERGES = [
    ("t", "h"), ("th", "e"), ("q", "u"), ("qu", "e"), ("que", "r"),
    ("quer", "y"), ("b", "a"), ("ba", "t"), ("bat", "c"), ("batc", "h"),
    ("e", "r"),
]


def q_dp_bpe_train_encode(spark, sf_dir):
    """Consolidated BPE gate (r6: two former gates in one driver slot;
    both legs still fully value-checked, labeled by ``leg``).

    - ``fixed``: distributed BPE encode under the FIXED merge table —
      value-checked including the full per-doc token stream.
    - ``trained``: end-to-end BPE — ONE distributed word-histogram
      pass, driver-side merge learning over the bounded histogram
      (deterministic tie-breaks), distributed encode. The
      merge-learning loop is iterative and not SQL-expressible, but it
      is a deterministic function of the corpus histogram — so the
      oracle recomputes the histogram in DuckDB from the same parquet,
      replays the same learn_merges, and chain-replaces the LEARNED
      table exactly like the fixed leg's oracle."""
    from datapipe.bpe import bpe_encode, train_bpe
    docs = _docs(spark, sf_dir)
    legs = []
    for leg, merges in (("fixed", BPE_FIXED_MERGES),
                        ("trained", train_bpe(docs, num_merges=30))):
        legs.append(
            bpe_encode(docs, merges)
            .select(F.lit(leg).alias("leg"), "doc_id",
                    F.array_join("bpe_tokens", " ").alias("bpe_text"),
                    F.col("n_bpe_tokens").cast("long")
                     .alias("n_bpe_tokens")))
    return legs[0].unionByName(legs[1]).sort("leg", "doc_id")


def q_dp_clean_corpus(spark, sf_dir):
    """Composed curation recipe: exact-dedup survivors → ExactSubstr
    strip over survivors → min-kept-tokens filter. Value-checked
    end-to-end, including every rebuilt text."""
    from datapipe.curate import clean_corpus
    return clean_corpus(_docs(spark, sf_dir)).sort("doc_id")


def q_dp_quality_lang(spark, sf_dir):
    """Per-doc quality scoring + language ID + Gopher repetition
    signals joined on doc_id in one gate (registry consolidation; r7
    absorbed the former dp_repetition gate to free a slot for
    dp_lm_quality): length/punct/stopword quality (quality_score),
    marker-n-gram language heuristic (lang_id), and dup-token /
    top-2-gram / top-3-gram fractions (repetition_stats). All columns
    of all three operators value-checked; the doc_id inner join is
    itself an invariant."""
    from datapipe.textstats import lang_id, quality_score, repetition_stats
    docs = _docs(spark, sf_dir)
    rep = repetition_stats(docs).drop("n_tokens")
    return (quality_score(docs).join(lang_id(docs), "doc_id")
            .join(rep, "doc_id")
            .sort("doc_id"))


def q_dp_winnow(spark, sf_dir):
    """Winnowing fingerprints — pure JVM built-ins with md5 k-gram
    hashes, so the positional semantics now have an exact SQL oracle."""
    from datapipe.textstats import winnow_fingerprints
    return winnow_fingerprints(_docs(spark, sf_dir)).sort("doc_id", "fp_pos")


def q_dp_dup_groups(spark, sf_dir):
    """Connected components over verified near-dup pairs → cluster-based
    dedup groups (iterative min-label propagation; oracle = recursive
    CTE transitive closure)."""
    from datapipe.dedup import dup_groups, jaccard_pairs
    pairs = jaccard_pairs(_docs(spark, sf_dir), threshold=0.9)
    return dup_groups(pairs).sort("doc_id")


def _ann_index_for(spark, sf_dir, kind):
    """Materialized ANN index over embeddings (build once per sf_dir):
    the serving-scale path — cell/bucket persisted as a partition
    column at build time, queries partition-prune (VERDICT r3 next #1)."""
    from datapipe.similarity import AnnIndex, build_ann
    key = f"{os.path.abspath(sf_dir)}#ann_{kind}"
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    root = _gate_root(sf_dir, f"ann_{kind}")
    if not os.path.exists(os.path.join(root, "meta.json")):
        build_ann(spark, _emb(spark, sf_dir), root, kind=kind,
                  n_centroids=10, n_planes=16, bucket_partitions=64)
    idx = AnnIndex(spark, root)
    _INDEX_CACHE[key] = idx
    return idx


def q_dp_ann_index_topk(spark, sf_dir):
    """Both MATERIALIZED-ANN-index strategies in one gate (registry
    consolidation): the same queries as the ivf/lsh legs of
    dp_ann_scan_topk (identical seeded centroids / deterministic
    hyperplanes) answered from the build_ann parquet index instead of
    a corpus re-assignment scan — IVF probed cells and LSH buckets come
    back as partition-pruned reads, exact re-rank on top. Same SQL
    oracles as the scan path, so agreement proves the index serves
    scan-identical results."""
    ivf = _ann_index_for(spark, sf_dir, "ivf") \
        .topk(_query_vec(spark, sf_dir), k=10, nprobe=3)
    lsh = _ann_index_for(spark, sf_dir, "lsh") \
        .topk(_query_vec(spark, sf_dir), k=10, max_hamming=2)
    out = None
    for m, df in [("ivf", ivf), ("lsh", lsh)]:
        leg = df.select(F.lit(m).alias("method"), "vec_id",
                        F.round("cos_r", 4).alias("cos_r4"))
        out = leg if out is None else out.unionByName(leg)
    return out.sort("method", "vec_id")


def q_dp_mm_real_decode(spark, sf_dir):
    """REAL image decode: deterministic P6/PPM payloads are parsed from
    actual image BYTES (pure-numpy netpbm codec) and per-channel pixel
    stats computed from the decoded array; the oracle recomputes the
    same stats from the pixel-generator arithmetic in SQL — no decoder
    on the oracle side, so agreement proves the byte parsing."""
    from datapipe.multimodal import decode_stats, synth_ppm_media
    return decode_stats(synth_ppm_media(_docs(spark, sf_dir))) \
        .sort("doc_id")


def q_dp_mm_png_decode(spark, sf_dir):
    """REAL PNG decode: deterministic PNG payloads (zlib-deflated, CRC'd
    chunks, per-row filter type cycling through None/Sub/Up/Average/
    Paeth) are parsed from actual image BYTES — chunk walk, inflate,
    filter inversion — and per-channel pixel stats computed from the
    decoded array; the oracle recomputes the same stats from the
    pixel-generator arithmetic in SQL, with no inflate/unfilter on the
    oracle side, so agreement proves the real decode."""
    from datapipe.multimodal import decode_stats, synth_png_media
    return decode_stats(synth_png_media(_docs(spark, sf_dir))) \
        .sort("doc_id")


def q_dp_mm_jpeg_decode(spark, sf_dir):
    """REAL baseline-JPEG decode: block-constant grayscale JPEGs
    (Huffman-coded scan, unit quant → bit-exact round trip) are decoded
    from actual JPEG BYTES — marker parse, canonical Huffman, dequant,
    exact IDCT — and pixel stats computed from the decoded array; the
    oracle recomputes the stats from the block-value arithmetic in SQL
    with no decoder on its side."""
    from datapipe.multimodal import decode_stats, synth_jpeg_media
    return decode_stats(synth_jpeg_media(_docs(spark, sf_dir))) \
        .sort("doc_id")


def q_dp_mm_features(spark, sf_dir):
    from datapipe.multimodal import extract_features, synth_media
    feats = extract_features(synth_media(_docs(spark, sf_dir)))
    return (feats.select("doc_id", "media_type", "n_bytes", "content_hash")
            .sort("doc_id"))


def q_dp_mm_frames(spark, sf_dir):
    from datapipe.multimodal import sample_frames, synth_media
    return (sample_frames(synth_media(_docs(spark, sf_dir)))
            .sort("doc_id", "frame_idx"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build the index over sf0.001 documents, run a 3-term OR
    BM25 top-10 with block-max pruning, join hits back to the doc store."""
    sf_dir = "/root/testdata/sf0.001"
    idx = _index_for(spark, sf_dir)
    hits = idx.search(f"{T_HOT} {T_MID} {T_RARE}", k=10, mode="or")
    return hits.select("docid", "score", "text")


def _typed_index_for(spark, sf_dir):
    """Doc-type mapping (r5; reference doctype|docId|json value format,
    BaseESMapper.java:24-27 / BaseESReducer.java:148-152): doctype =
    parity of doc_id, type → index via ONE build_typed (build_many)
    pass with per-type shard counts."""
    from sparkfts import BuildConfig, TypedIndex, build_typed
    from sparkfts.storage import manifest_exists
    key = f"{os.path.abspath(sf_dir)}#typed"
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    root = _gate_root(sf_dir, "typed")
    if not all(manifest_exists(os.path.join(root, t))
               for t in ("chat", "email")):
        docs = _docs(spark, sf_dir).withColumn(
            "doctype", F.when(F.col("doc_id") % 2 == 1,
                              F.lit("chat")).otherwise(F.lit("email")))
        build_typed(spark, docs, root, type_col="doctype",
                    order_cols=["doc_id"],
                    per_type={"chat": BuildConfig(num_shards=2,
                                                  partitions=2),
                              "email": BuildConfig(num_shards=3,
                                                   partitions=3)})
    ti = TypedIndex(spark, root)
    _INDEX_CACHE[key] = ti
    return ti


def q_doctype_search(spark, sf_dir):
    """Cross-type merged search over the type→index mapping: each type
    scores with ITS OWN N/df/avgdl (per-(index,type) isolation, the
    reference's prepareIndex(index, type)), merged by (score desc,
    doctype, docid) — ES multi-index semantics. Hits map back to the
    user's doc_id via the per-type docstores."""
    ti = _typed_index_for(spark, sf_dir)
    hits = ti.topk_local(f"{T_HOT} {T_MID}", k=10, mode="or")
    if hits.empty:
        return spark.createDataFrame(
            [], "rank long, doctype string, doc_id long, score_r double")
    docs = ti.fetch_docs_local(hits)
    out = hits.merge(docs[["doctype", "docid", "doc_id"]],
                     on=["doctype", "docid"])
    out = out.sort_values(["score", "doctype", "docid"],
                          ascending=[False, True, True]) \
        .reset_index(drop=True)
    out["rank"] = out.index + 1
    out["score_r"] = out["score"].round(4)
    return spark.createDataFrame(
        out[["rank", "doctype", "doc_id", "score_r"]],
        schema="rank long, doctype string, doc_id long, score_r double")


def q_dp_contamination(spark, sf_dir):
    """Benchmark decontamination (r3; the 13-token-gram overlap rule
    from the public GPT-3/PaLM contamination methodology): corpus docs
    sharing any 13-gram with the held-out slice (doc_id % 17 = 0),
    with distinct-shared-gram counts."""
    from datapipe.curate import contamination
    docs = _docs(spark, sf_dir)
    return contamination(docs.where("doc_id % 17 <> 0"),
                         docs.where("doc_id % 17 = 0")).sort("doc_id")


def q_dp_redact_pii(spark, sf_dir):
    """PII redaction (r3): emails / IPv4 / long digit runs replaced by
    typed placeholders, per-category counts; planted PII is synthesized
    identically in the SQL oracle so the machinery is really exercised."""
    from datapipe.curate import redact_pii
    aug = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" contact user"),
                 F.col("doc_id").cast("string"),
                 F.lit("@example.com from 10.0."),
                 (F.col("doc_id") % 256).cast("string"),
                 F.lit(".7 card 4111111111111111")).alias("text"))
    return redact_pii(aug).sort("doc_id")


def q_dp_sample(spark, sf_dir):
    """BOTH deterministic sampling strategies in one gate (registry
    consolidation): uniform md5-cutoff hash sampling at 0.25 and
    per-stratum sampling (downweight 'en' to 0.5, 'zh' to 0.125, drop
    every other stratum), tagged with a method column. Reproducible on
    any executor layout / engine — no RNG state anywhere."""
    from datapipe.curate import hash_sample, stratified_hash_sample
    docs = _docs(spark, sf_dir)
    h = hash_sample(docs, 0.25).select(
        F.lit("hash").alias("method"), "doc_id", "lang")
    s = stratified_hash_sample(docs, {"en": 0.5, "zh": 0.125}, "lang") \
        .select(F.lit("strat").alias("method"), "doc_id", "lang")
    return h.unionByName(s).sort("method", "doc_id")


def _stream_union_ci(spark, sf_dir):
    """Unrouted base (doc_id < 300, 4 shards) + one streaming delta
    (doc_id >= 300, 2 shards — deliberately different geometry)."""
    from sparkfts import BuildConfig, build_index
    from sparkfts.streaming import (CombinedIndex, make_batch_indexer,
                                    read_delta_log)
    from sparkfts.storage import manifest_exists
    key = f"{os.path.abspath(sf_dir)}#stream"
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    root = _gate_root(sf_dir, "stream")
    docs = _docs(spark, sf_dir)
    if not manifest_exists(root):
        build_index(spark, docs.where("doc_id < 300"), root,
                    text_col="text", order_cols=["doc_id"],
                    cfg=BuildConfig(num_shards=4, partitions=4))
    if not read_delta_log(root):
        make_batch_indexer(root, text_col="text", order_cols=["doc_id"],
                           cfg=BuildConfig(num_shards=2, partitions=2))(
            docs.where("doc_id >= 300"), batch_id=0)
    ci = CombinedIndex(spark, root)
    _INDEX_CACHE[key] = ci
    return ci


def q_compact_merge_bm25(spark, sf_dir):
    """Merge-based compaction gate (r4): base + delta folded WITHOUT
    re-tokenization (compact_merge decode-shift-merge-encodes the
    posting runs; docids re-mint arithmetically). BM25 over the merged
    monolith must equal corpus-wide BM25 — tf/dl/df/cf/avgdl all
    survive the merge byte-exactly. AND mode exercises intersection
    over merged lists."""
    from sparkfts import BuildConfig, FTSIndex
    from sparkfts.storage import manifest_exists
    from sparkfts.streaming import compact_merge
    _stream_union_ci(spark, sf_dir)               # ensures base+delta
    key = f"{os.path.abspath(sf_dir)}#cmerge"
    if key in _INDEX_CACHE:
        idx = _INDEX_CACHE[key]
    else:
        root = _gate_root(sf_dir, "cmerge")
        if not manifest_exists(root):
            compact_merge(spark, _gate_root(sf_dir, "stream"), root,
                          cfg=BuildConfig(num_shards=3, partitions=4))
        idx = FTSIndex(spark, root)
        _INDEX_CACHE[key] = idx
    hits = idx.topk_local(f"{T_HOT} {T_MID}", k=10, mode="and")
    if hits.empty:
        return spark.createDataFrame(
            [], "rank long, doc_id long, score_r double")
    docs = idx.fetch_docs_local(hits["docid"].tolist())
    out = hits.merge(docs[["docid", "doc_id"]], on="docid")
    out = out.sort_values(["score", "doc_id"],
                          ascending=[False, True]).reset_index(drop=True)
    out["rank"] = out.index + 1
    out["score_r"] = out["score"].round(4)
    return spark.createDataFrame(
        out[["rank", "doc_id", "score_r"]],
        schema="rank long, doc_id long, score_r double")


def q_streaming_union_bm25(spark, sf_dir):
    """Streaming incremental index (r3 gate for the formerly pytest-only
    realtime leg): base + delta generation with DIFFERENT shard
    geometry, union-global BM25 == BM25 over the whole corpus. Hits map
    back to the user's doc_id (docids are generation-local) and re-rank
    (score desc, doc_id asc)."""
    ci = _stream_union_ci(spark, sf_dir)
    hits = ci.topk(f"{T_HOT} {T_MID} {T_RARE}", k=10, mode="or")
    if hits.empty:
        return spark.createDataFrame(
            [], "rank long, doc_id long, score_r double")
    docs = ci.fetch_docs(hits["docid"].tolist())
    out = hits.merge(docs[["docid", "doc_id"]], on="docid")
    out = out.sort_values(["score", "doc_id"],
                          ascending=[False, True]).reset_index(drop=True)
    out["rank"] = out.index + 1
    out["score_r"] = out["score"].round(4)
    return spark.createDataFrame(
        out[["rank", "doc_id", "score_r"]],
        schema="rank long, doc_id long, score_r double")


DEL_PRED = "doc_id % 23 = 5"          # deterministic tombstone set


def _delete_ci(spark, sf_dir):
    """Base+delta like _stream_union_ci but on its OWN root, with the
    DEL_PRED docs tombstoned (delete_docs is idempotent, so cached
    re-runs are safe). The shared stream root stays tombstone-free so
    its gates observe a delete-free corpus."""
    from sparkfts import BuildConfig, build_index
    from sparkfts.streaming import (CombinedIndex, make_batch_indexer,
                                    read_delta_log)
    from sparkfts.storage import manifest_exists
    key = f"{os.path.abspath(sf_dir)}#delstream"
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    root = _gate_root(sf_dir, "delstream")
    docs = _docs(spark, sf_dir)
    if not manifest_exists(root):
        build_index(spark, docs.where("doc_id < 300"), root,
                    text_col="text", order_cols=["doc_id"],
                    cfg=BuildConfig(num_shards=4, partitions=4))
    if not read_delta_log(root):
        make_batch_indexer(root, text_col="text", order_cols=["doc_id"],
                           cfg=BuildConfig(num_shards=2, partitions=2))(
            docs.where("doc_id >= 300"), batch_id=0)
    ci = CombinedIndex(spark, root)
    dead = sorted({int(r["docid"]) for s in ci.subs
                   for r in s._docstore.where(DEL_PRED)
                   .select("docid").collect()})
    ci.delete_docs(dead)
    _INDEX_CACHE[key] = ci
    return ci


def _delete_routed_ci(spark, sf_dir):
    """ROUTED base+delta with the same DEL_PRED docs tombstoned — the
    fixture for the routed merge-fold leg (r6, VERDICT r5 #5): orgs
    are doc_id % 5, deterministic, present in both generations."""
    from sparkfts import BuildConfig, build_index
    from sparkfts.streaming import (CombinedIndex, make_batch_indexer,
                                    read_delta_log)
    from sparkfts.storage import manifest_exists
    key = f"{os.path.abspath(sf_dir)}#delroutstream"
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    root = _gate_root(sf_dir, "delroutstream")
    docs = _docs(spark, sf_dir).withColumn(
        "org", F.concat(F.lit("org"), (F.col("doc_id") % 5)))
    cfg = BuildConfig(num_shards=4, partitions=4,
                      routing_col="org", shards_per_org=2)
    if not manifest_exists(root):
        build_index(spark, docs.where("doc_id < 300"), root,
                    text_col="text", order_cols=["doc_id"], cfg=cfg)
    if not read_delta_log(root):
        make_batch_indexer(root, text_col="text",
                           order_cols=["doc_id"], cfg=cfg)(
            docs.where("doc_id >= 300"), batch_id=0)
    ci = CombinedIndex(spark, root)
    dead = sorted({int(r["docid"]) for s in ci.subs
                   for r in s._docstore.where(DEL_PRED)
                   .select("docid").collect()})
    ci.delete_docs(dead)
    _INDEX_CACHE[key] = ci
    return ci


def q_delete_search(spark, sf_dir):
    """Deletes / tombstones (r5, the Lucene live-docs analog). Four
    legs: 'live' — base+delta with DEL_PRED docs tombstoned; hits
    exclude them but scores use STALE union stats (deleted docs still
    count in N/avgdl/df, exactly Lucene-before-merge); 'compacted' —
    after compact() physically drops them, scores use FRESH subset
    stats; 'merged' — compact_merge's in-kernel fold, same result;
    'routed_merged' (r6) — the routed org-segment merge-fold, same
    result again. Hits map back to the user's doc_id (docids are
    generation-local)."""
    import pandas as _pd
    from sparkfts import BuildConfig, FTSIndex
    from sparkfts.storage import manifest_exists
    from sparkfts.streaming import compact
    ci = _delete_ci(spark, sf_dir)
    qtext = f"{T_HOT} {T_MID} {T_RARE}"
    parts = []

    hits = ci.topk(qtext, k=10, mode="or")
    docs = ci.fetch_docs(hits["docid"].tolist())
    out = hits.merge(docs[["docid", "doc_id"]], on="docid")
    out = (out.sort_values(["score", "doc_id"],
                           ascending=[False, True])
           .reset_index(drop=True))
    out["leg"] = "live"
    out["rank"] = out.index + 1
    out["score_r"] = out["score"].round(4)
    parts.append(out[["leg", "rank", "doc_id", "score_r"]])

    croot = _gate_root(sf_dir, "delcompact")
    if not manifest_exists(croot):
        compact(spark, ci.base_root, croot, text_col="text",
                order_cols=["doc_id"],
                cfg=BuildConfig(num_shards=3, partitions=3))
    idx = FTSIndex(spark, croot)
    h2 = idx.topk_pandas(qtext, k=10, mode="or")
    d2 = idx.fetch_docs(h2["docid"].tolist()).toPandas()
    o2 = h2.merge(d2[["docid", "doc_id"]], on="docid")
    o2 = (o2.sort_values(["score", "doc_id"],
                         ascending=[False, True])
          .reset_index(drop=True))
    o2["leg"] = "compacted"
    o2["rank"] = o2.index + 1
    o2["score_r"] = o2["score"].round(4)
    parts.append(o2[["leg", "rank", "doc_id", "score_r"]])

    # merge-fold leg: compact_merge drops the tombstones IN the
    # posting-merge kernel (dense survivor re-rank, stats recomputed)
    # — must equal the rebuild-path oracle exactly
    from sparkfts.streaming import compact_merge
    mroot = _gate_root(sf_dir, "delmerged")
    if not manifest_exists(mroot):
        compact_merge(spark, ci.base_root, mroot,
                      cfg=BuildConfig(num_shards=3, partitions=3))
    idx3 = FTSIndex(spark, mroot)
    h3 = idx3.topk_pandas(qtext, k=10, mode="or")
    d3 = idx3.fetch_docs(h3["docid"].tolist()).toPandas()
    o3 = h3.merge(d3[["docid", "doc_id"]], on="docid")
    o3 = (o3.sort_values(["score", "doc_id"],
                         ascending=[False, True])
          .reset_index(drop=True))
    o3["leg"] = "merged"
    o3["rank"] = o3.index + 1
    o3["score_r"] = o3["score"].round(4)
    parts.append(o3[["leg", "rank", "doc_id", "score_r"]])

    # routed merge-fold leg (r6, VERDICT r5 #5): a ROUTED base+delta
    # with the same tombstones keeps the postings-bytes merge path —
    # per-(gen, shard, org) segments shrink, survivors re-rank densely
    # within their org block. BM25 is routing-invariant, so the oracle
    # is the same fresh-survivor-stats SQL as the plain merged leg.
    cir = _delete_routed_ci(spark, sf_dir)
    rroot = _gate_root(sf_dir, "delroutmerged")
    if not manifest_exists(rroot):
        compact_merge(spark, cir.base_root, rroot,
                      cfg=BuildConfig(num_shards=4, partitions=4,
                                      routing_col="org",
                                      shards_per_org=2))
    idx4 = FTSIndex(spark, rroot)
    h4 = idx4.topk_pandas(qtext, k=10, mode="or")
    d4 = idx4.fetch_docs(h4["docid"].tolist()).toPandas()
    o4 = h4.merge(d4[["docid", "doc_id"]], on="docid")
    o4 = (o4.sort_values(["score", "doc_id"],
                         ascending=[False, True])
          .reset_index(drop=True))
    o4["leg"] = "routed_merged"
    o4["rank"] = o4.index + 1
    o4["score_r"] = o4["score"].round(4)
    parts.append(o4[["leg", "rank", "doc_id", "score_r"]])
    return spark.createDataFrame(
        _pd.concat(parts, ignore_index=True),
        schema="leg string, rank long, doc_id long, score_r double")


def q_dp_decontaminate(spark, sf_dir):
    """The corpus-filter form of decontamination: surviving doc ids."""
    from datapipe.curate import decontaminate
    docs = _docs(spark, sf_dir)
    return (decontaminate(docs.where("doc_id % 17 <> 0"),
                          docs.where("doc_id % 17 = 0"))
            .select("doc_id").sort("doc_id"))


def q_build_many_bm25(spark, sf_dir):
    """Multi-index build (ShardConfig.java:50-56 analog, r3): ONE
    build_many call produces an 'even' (3-shard) and an 'odd' (5-shard)
    index off one input pass; BM25 top-10 on the even index must equal
    BM25 computed over the even half of the corpus alone (its own N/df/
    avgdl). docids are dense ranks of doc_id within the even half."""
    idx = _many_index_for(spark, sf_dir)
    return _ranked(idx, spark, f"{T_HOT} {T_MID}", "or")


def q_routed_delta_org_search(spark, sf_dir):
    """Routed streaming (r3): org-routed base + a routed delta
    generation; org-scoped CombinedIndex search with union-global stats
    equals BM25 over the FULL corpus restricted to the tenant. Results
    are mapped back to the user's doc_id and re-ranked (score desc,
    doc_id asc), as in the monolithic org gate."""
    ci = _routed_delta_ci(spark, sf_dir)
    hits = ci.topk(f"{T_MID2} {T_HOT}", k=10, mode="or", org=ORG)
    if hits.empty:
        return spark.createDataFrame(
            [], "rank long, doc_id long, score_r double")
    docs = ci.fetch_docs(hits["docid"].tolist())
    out = hits.merge(docs[["docid", "doc_id"]], on="docid")
    out = out.sort_values(["score", "doc_id"],
                          ascending=[False, True]).reset_index(drop=True)
    out["rank"] = out.index + 1
    out["score_r"] = out["score"].round(4)
    return spark.createDataFrame(out[["rank", "doc_id", "score_r"]],
                                 schema="rank long, doc_id long, "
                                        "score_r double")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "fts_tokenize_doclen": q_tokenize_doclen,
        "fts_collection_stats": q_collection_stats,
        "fts_term_stats": q_term_stats,
        "fts_postings_decode": q_postings_decode,
        "fts_bm25_modes": q_bm25_modes,
        "fts_filtered_search": q_filtered_search,
        "fts_facet_counts": q_facet_counts,
        "fts_phrase_match": q_phrase_match,
        "fts_phrase_top10": q_phrase_top10,
        "fts_intersection_and": q_intersection,
        "fts_docstore_fetch": q_docstore_fetch,
        "fts_docid_assignment": q_docid_assignment,
        "fts_shard_routing": q_shard_routing,
        "fts_manifest_lineage": q_manifest_lineage,
        "fts_org_scoped_search": q_org_scoped_search,
        "fts_build_many_bm25": q_build_many_bm25,
        "fts_routed_delta_org_search": q_routed_delta_org_search,
        "fts_streaming_union_bm25": q_streaming_union_bm25,
        "fts_compact_merge_bm25": q_compact_merge_bm25,
        "dp_decontaminate": q_dp_decontaminate,
        "fts_org_possible_shards": q_org_possible_shards,
        "fts_multifield_bm25": q_mf_bm25,
        "fts_doctype_search": q_doctype_search,
        "fts_search_join": q_search_join,
        "fts_delete_search": q_delete_search,
        "fts_highlight": q_highlight,
        # r7: multi-term queries (prefix/wildcard/fuzzy); slot freed by
        # consolidating the two minhash gates into dp_minhash
        "fts_prefix_search": q_prefix_search,
        # never-driver-verified in r04 (registry overflowed the driver's
        # 50-query window) — listed right after the fts block so they
        # get oracle rows even if the registry ever overflows again
        "dp_mm_png_decode": q_dp_mm_png_decode,
        "dp_mm_jpeg_decode": q_dp_mm_jpeg_decode,
        "dp_mm_real_decode": q_dp_mm_real_decode,
        "dp_mm_features": q_dp_mm_features,
        "dp_mm_frames": q_dp_mm_frames,
        "dp_contamination": q_dp_contamination,
        "dp_redact_pii": q_dp_redact_pii,
        "dp_sample": q_dp_sample,
        # consolidated gates (each joins/unions formerly-separate gates;
        # every column of every constituent operator is still checked)
        "dp_exact_dedup": q_dp_exact_dedup,
        "dp_text_stats": q_dp_text_stats,
        "dp_quality_lang": q_dp_quality_lang,
        "dp_dup_spans": q_dp_dup_spans,
        "dp_ann_scan_topk": q_dp_ann_scan_topk,
        "dp_ann_index_topk": q_dp_ann_index_topk,
        # r6: absorbs the former dp_bpe_encode_fixed gate as its
        # 'fixed' leg (slot freed for fts_highlight)
        "dp_bpe_train_encode": q_dp_bpe_train_encode,
        # single-operator gates (dp_minhash consolidates the former
        # signatures + lsh_pairs gates, r7)
        "dp_minhash": q_dp_minhash,
        "dp_jaccard_pairs": q_dp_jaccard_pairs,
        "dp_embedding_dups": q_dp_embedding_dups,
        "dp_pack_sequences": q_dp_pack_sequences,
        # r7: dp_repetition folded into dp_quality_lang; the freed
        # slot admits the LM perplexity filter
        "dp_lm_quality": q_dp_lm_quality,
        "dp_clean_corpus": q_dp_clean_corpus,
        "dp_winnow": q_dp_winnow,
        "dp_dup_groups": q_dp_dup_groups,
    }


# --------------------------------------------------------------------
# oracle_sql(): DuckDB ANSI-SQL equivalents over the same tables
# --------------------------------------------------------------------

def _toks_sql(col: str = "text") -> str:
    return f"""
  toks AS (
    SELECT doc_id,
           unnest(string_split_regex(lower({col}), '{TOKEN_SPLIT}')) AS term
    FROM documents
  ),
  tok AS (SELECT doc_id, term FROM toks
          WHERE term <> '' AND length(term) <= 64)
"""


def _bm25_base(col: str = "text") -> str:
    return f"""
WITH {_toks_sql(col)},
  tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
  dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
  stats AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
                   (SELECT sum(dl) FROM dl) / (SELECT count(*) FROM documents) AS avgdl),
  dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1)
"""


_TOKS = _toks_sql()
_BM25_BASE = _bm25_base()


def _bm25_scored(terms: list[str], mode: str, col: str = "text",
                 min_count: int | None = None) -> str:
    tl = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    having = (f"HAVING count(*) = {len(set(terms))}"
              if mode == "and" else
              (f"HAVING count(*) >= {int(min_count)}"
               if min_count else ""))
    return f"""{_bm25_base(col)},
  scored AS (
    SELECT tf.doc_id,
           sum(ln(1 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * tf.tf * ({K1} + 1)
               / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl))) AS score
    FROM tf
    JOIN dl ON dl.doc_id = tf.doc_id
    JOIN dfreq ON dfreq.term = tf.term
    CROSS JOIN stats s
    WHERE tf.term IN ({tl})
    GROUP BY tf.doc_id
    {having}
  )"""


def _bm25_sql(terms: list[str], mode: str, col: str = "text") -> str:
    return f"""{_bm25_scored(terms, mode, col)}
SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
       doc_id AS docid, round(score, 4) AS score_r
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT 10"""


def _bm25_many_sql(terms: list[str], mode: str, where: str) -> str:
    """BM25 over a SUBSET of documents (its own N/df/avgdl) with docids
    = dense rank of doc_id within the subset — the build_many oracle
    (each index of a multi-index build is statistically self-contained,
    exactly like a solo build over its rows)."""
    scored = _bm25_scored(terms, mode).replace("documents", "docs_sub")
    scored = scored.replace(
        "WITH ",
        f"WITH docs_sub AS (SELECT * FROM documents WHERE {where}),\n ", 1)
    return f"""{scored},
  ids AS (SELECT doc_id,
                 row_number() OVER (ORDER BY doc_id) - 1 AS docid
          FROM docs_sub)
SELECT row_number() OVER (ORDER BY s.score DESC, i.docid ASC) AS rank,
       i.docid, round(s.score, 4) AS score_r
FROM scored s JOIN ids i ON i.doc_id = s.doc_id
ORDER BY s.score DESC, i.docid ASC
LIMIT 10"""


def _bm25_org_sql(terms: list[str], mode: str, org: str) -> str:
    """BM25 with GLOBAL stats, restricted to one tenant's docs, re-ranked
    (score desc, doc_id asc) — the org-scoped routed search oracle."""
    return f"""{_bm25_scored(terms, mode)},
  org_scored AS (
    SELECT s.doc_id, s.score
    FROM scored s JOIN documents d ON d.doc_id = s.doc_id
    WHERE d.source = '{org}')
SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
       doc_id, round(score, 4) AS score_r
FROM org_scored
ORDER BY score DESC, doc_id ASC
LIMIT 10"""


_DP_TOK = f"""
  dtok AS (
    SELECT DISTINCT doc_id, term FROM (
      SELECT doc_id,
             unnest(string_split_regex(lower(text), '{TOKEN_SPLIT}')) AS term
      FROM documents)
    WHERE term <> '' AND length(term) <= 64)
"""

_MH_COLS = ",\n".join(
    f"min(substr(md5('{i}:' || term), 1, 15)) AS mh_{i}" for i in range(12))

_MH_SIG = f"""
  sig AS (SELECT doc_id, {_MH_COLS} FROM dtok GROUP BY doc_id)
"""

_MH_UNPIVOT = " UNION ALL ".join(
    f"SELECT doc_id, {i} AS i, mh_{i} AS v FROM sig" for i in range(12))

_BANDS = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id, md5(mh_{3*b} || '|' || mh_{3*b+1} || '|' "
    f"|| mh_{3*b+2}) AS band_hash FROM sig" for b in range(4))

_COS = ("list_cosine_similarity(a.embedding::DOUBLE[], "
        "b.embedding::DOUBLE[])")

_SIMHASH_SQL = f"""
    WITH tf AS (
      SELECT doc_id, term, count(*) AS tf, md5(term) AS h FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(text),
                                         '{TOKEN_SPLIT}')) AS term
        FROM documents)
      WHERE term <> '' AND length(term) <= 64 GROUP BY 1, 2),
    bits AS (SELECT unnest(generate_series(0, 63)) AS bpos),
    votes AS (
      SELECT doc_id, bpos,
        sum(CASE WHEN floor((strpos('0123456789abcdef',
              substr(h, (bpos // 4)::INT + 1, 1)) - 1)
              / power(2, 3 - bpos % 4))::INT % 2 = 1
            THEN tf ELSE -tf END) AS v
      FROM tf CROSS JOIN bits GROUP BY 1, 2),
    nibs AS (SELECT doc_id, bpos // 4 AS nibble,
        sum((CASE WHEN v > 0 THEN 1 ELSE 0 END)
            * (power(2, 3 - bpos % 4))::INT) AS nv
      FROM votes GROUP BY 1, 2)
    SELECT doc_id,
           string_agg(substr('0123456789abcdef', (nv + 1)::INT, 1),
                      '' ORDER BY nibble) AS simhash
    FROM nibs GROUP BY 1"""

_COSINE_TOPK_SQL = """
    WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
    SELECT b.vec_id,
           round(round(list_cosine_similarity(
               b.embedding::DOUBLE[],
               (SELECT embedding FROM q)::DOUBLE[]), 6), 4) AS cos_r4
    FROM embeddings b
    ORDER BY list_cosine_similarity(b.embedding::DOUBLE[],
               (SELECT embedding FROM q)::DOUBLE[]) DESC,
             b.vec_id ASC
    LIMIT 10"""

_TOKEN_COUNT_SQL = """
    SELECT doc_id,
           len(list_filter(string_split_regex(lower(text),
                                              '[^a-z0-9]+'),
                           t -> t <> '')) AS n_tokens,
           length(text) AS n_chars
    FROM documents"""

_FINGERPRINT_SQL = """
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
             AS fingerprint
    FROM documents"""

_BPE_EST_SQL = r"""
    WITH p AS (
      SELECT doc_id,
             regexp_extract_all(text,
               '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]') AS ps
      FROM documents)
    SELECT doc_id, len(ps)::BIGINT AS n_pieces,
           coalesce(list_sum(list_transform(ps,
             x -> CASE WHEN regexp_matches(x, '^[a-zA-Z]')
                       THEN ceil(length(x) / 4.0)::BIGINT
                       ELSE 1 END)), 0)::BIGINT AS n_bpe_est
    FROM p"""

# Gopher repetition-signal oracle (formerly the dp_repetition gate's
# whole SQL; r7 joins it into dp_quality_lang as a subquery)
_REPETITION_SQL = """
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(
                                   lower(coalesce(text, '')),
                                   '[^a-z0-9]+'),
                                 x -> x <> '') AS toks
              FROM documents),
            g2 AS (
              SELECT doc_id,
                     unnest(list_transform(
                       generate_series(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i + 1])) AS g
              FROM t WHERE len(toks) >= 2),
            a2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
            f2 AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS t2
                   FROM a2 GROUP BY 1),
            g3 AS (
              SELECT doc_id,
                     unnest(list_transform(
                       generate_series(1, len(toks) - 2),
                       i -> toks[i] || ' ' || toks[i + 1] || ' '
                            || toks[i + 2])) AS g
              FROM t WHERE len(toks) >= 3),
            a3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
            f3 AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS t3
                   FROM a3 GROUP BY 1)
            SELECT t.doc_id,
                   len(list_distinct(toks)) AS n_distinct_tokens,
                   round(CASE WHEN len(toks) > 0 THEN
                     1 - len(list_distinct(toks))::DOUBLE / len(toks)
                     ELSE 0 END, 6) AS dup_token_frac,
                   round(COALESCE(f2.t2, 0), 6) AS top2gram_frac,
                   round(COALESCE(f3.t3, 0), 6) AS top3gram_frac
            FROM t LEFT JOIN f2 USING (doc_id)
                   LEFT JOIN f3 USING (doc_id)
"""

_QUALITY_TOKS = """
  qt AS (
    SELECT doc_id,
           len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           t -> t <> '')) AS n_tokens,
           length(text) AS n_chars,
           length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
             AS n_alnum,
           length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS punct,
           len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
               t -> t IN ('a','the','and','or','of','to','in','is','it','on')))
             AS n_stop
    FROM documents)
"""


def _winnow_sql(kgram: int = 5, window: int = 4) -> str:
    """Winnowing in ANSI-ish SQL: k-gram md5 hashes with positions, then
    for each window start w the rightmost minimal hash (ORDER BY h ASC,
    p DESC, row 1), distinct selections."""
    return f"""
        WITH base AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT}'),
                             t -> t <> '') AS tl
          FROM documents),
        kg AS (
          SELECT doc_id, i - 1 AS p,
                 substr(md5(array_to_string(tl[i:i+{kgram - 1}], ' ')),
                        1, 15) AS h
          FROM base, UNNEST(generate_series(1, len(tl) - {kgram - 1}))
               AS g(i)),
        cnt AS (SELECT doc_id, count(*) AS n FROM kg GROUP BY 1),
        ws AS (
          SELECT doc_id,
                 unnest(generate_series(0, greatest(n - {window}, 0)::BIGINT))
                   AS w
          FROM cnt),
        win AS (
          SELECT kg.doc_id, ws.w, kg.p, kg.h,
                 row_number() OVER (PARTITION BY kg.doc_id, ws.w
                                    ORDER BY kg.h ASC, kg.p DESC) AS rn
          FROM kg JOIN ws ON ws.doc_id = kg.doc_id
                         AND kg.p BETWEEN ws.w AND ws.w + {window - 1})
        SELECT DISTINCT doc_id, h AS fp_hash, p::INT AS fp_pos
        FROM win WHERE rn = 1 ORDER BY doc_id, fp_pos"""


def _span_grams_sql(L: int, src: str = "documents") -> str:
    """Shared CTEs for the ExactSubstr gates: analyzer token lists,
    per-doc token counts, and md5-hashed length-L gram windows with
    0-based start positions — the exact arithmetic of
    datapipe.dedup._span_grams. ``src`` lets composed gates run the
    same machinery over an upstream CTE instead of the raw table."""
    return f"""
        base AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(coalesce(text, '')),
                                                '{TOKEN_SPLIT}'),
                             t -> t <> '') AS tl
          FROM {src}),
        nt AS (SELECT doc_id, len(tl)::BIGINT AS n_tokens FROM base),
        kg AS (
          SELECT doc_id, i - 1 AS p,
                 md5(array_to_string(tl[i:i+{L - 1}], ' ')) AS h
          FROM base, UNNEST(generate_series(1, len(tl) - {L - 1}))
               AS g(i))"""


def _dup_spans_sql(L: int = 10) -> str:
    """Per-doc duplicated-span stats: duplicated grams = hash occurs
    >= 2 times corpus-wide; covered tokens = merged-interval union over
    sorted starts (sum of min(L, gap), + L for the last)."""
    return f"""
        WITH {_span_grams_sql(L)},
        dcnt AS (SELECT h FROM kg GROUP BY h HAVING count(*) >= 2),
        dup AS (SELECT kg.doc_id, kg.p FROM kg JOIN dcnt USING (h)),
        seq AS (SELECT doc_id, p,
                       lead(p) OVER (PARTITION BY doc_id ORDER BY p) AS np,
                       lag(p)  OVER (PARTITION BY doc_id ORDER BY p) AS pp
                FROM dup),
        agg AS (SELECT doc_id,
                       sum(CASE WHEN np IS NULL THEN {L}
                                ELSE least({L}, np - p) END)::BIGINT
                         AS dup_tokens,
                       sum(CASE WHEN pp IS NULL OR p - pp > {L}
                                THEN 1 ELSE 0 END)::BIGINT AS dup_spans
                FROM seq GROUP BY doc_id)
        SELECT nt.doc_id,
               coalesce(agg.dup_tokens, 0) AS dup_tokens,
               coalesce(agg.dup_spans, 0) AS dup_spans,
               nt.n_tokens,
               round(coalesce(agg.dup_tokens, 0)
                     / greatest(nt.n_tokens, 1), 6) AS dup_frac
        FROM nt LEFT JOIN agg USING (doc_id) ORDER BY nt.doc_id"""


def _strip_core_ctes(L: int) -> str:
    """The marked→tokpos→ev→run→kept→outt CTE chain of the ExactSubstr
    cleaning oracle, shared by the solo gate and the composed
    clean-corpus gate (which runs it over a survivors CTE)."""
    return f"""marked AS (
          SELECT doc_id, p FROM (
            SELECT kg.doc_id, kg.p,
                   count(*) OVER (PARTITION BY h) AS c,
                   row_number() OVER (PARTITION BY h
                                      ORDER BY doc_id, p) AS rn
            FROM kg) WHERE c >= 2 AND rn >= 2),
        tokpos AS (
          SELECT doc_id, i - 1 AS q, tl[i] AS tok
          FROM base, UNNEST(generate_series(1, len(tl))) AS g(i)),
        ev AS (
          SELECT doc_id, q, tok, NULL::BIGINT AS sp FROM tokpos
          UNION ALL
          SELECT doc_id, p AS q, NULL AS tok, p AS sp FROM marked),
        run AS (
          SELECT doc_id, q, tok,
                 last_value(sp IGNORE NULLS) OVER (
                   PARTITION BY doc_id
                   ORDER BY q, (sp IS NULL)
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS run_sp
          FROM ev),
        kept AS (SELECT doc_id, q, tok FROM run
                 WHERE tok IS NOT NULL
                   AND (run_sp IS NULL OR run_sp + {L} <= q)),
        outt AS (SELECT doc_id,
                        string_agg(tok, ' ' ORDER BY q) AS clean_text,
                        count(*)::BIGINT AS kept_tokens
                 FROM kept GROUP BY doc_id)"""


def _strip_dup_spans_sql(L: int = 10) -> str:
    """ExactSubstr cleaning oracle: delete non-first occurrences of
    duplicated grams (first = min (doc_id, p) per hash), coverage via a
    running last-non-null removal start over the merged doc-ordered
    event stream (start events sort before the token at the same
    position), rebuilt text = kept tokens space-joined in order."""
    return f"""
        WITH {_span_grams_sql(L)},
        {_strip_core_ctes(L)}
        SELECT nt.doc_id,
               coalesce(outt.clean_text, '') AS clean_text,
               coalesce(outt.kept_tokens, 0) AS kept_tokens,
               nt.n_tokens
        FROM nt LEFT JOIN outt USING (doc_id) ORDER BY nt.doc_id"""


def _clean_corpus_sql(L: int = 10, min_tokens: int = 5) -> str:
    """Composed curation oracle: exact-dedup survivors (min-doc_id per
    md5(text) group) feed the SAME ExactSubstr cleaning CTEs — gram
    counts run over SURVIVORS only, matching the Spark composition —
    then docs below ``min_tokens`` kept tokens are dropped."""
    return f"""
        WITH survivors AS (
          SELECT doc_id, text FROM documents
          WHERE doc_id IN (SELECT min(doc_id) FROM documents
                           GROUP BY md5(text))),
        {_span_grams_sql(L, src="survivors")},
        {_strip_core_ctes(L)}
        SELECT nt.doc_id,
               coalesce(outt.clean_text, '') AS clean_text,
               coalesce(outt.kept_tokens, 0) AS kept_tokens
        FROM nt LEFT JOIN outt USING (doc_id)
        WHERE coalesce(outt.kept_tokens, 0) >= {int(min_tokens)}
        ORDER BY nt.doc_id"""


def _bpe_encode_fixed_sql(merges=None) -> str:
    """Chained-replace BPE oracle. Each symbol is FULLY delimited on
    both sides ('abc' -> '|a||b||c|'; '|' cannot occur in analyzer
    tokens), so the per-merge pattern '|a||b|' -> '|ab|' (i) cannot
    match when the following symbol merely STARTS with b — a leading-
    space-only form had exactly that false match, e.g. ' ba t' inside
    ' ba th' — and (ii) consecutive occurrences share no delimiter, so
    replace()'s left-to-right non-overlapping pass walks symbols
    exactly like one sequential-BPE sweep ('|a||a||a||a|' -> '|aa||aa|',
    matching the Python encoder on odd and even runs alike).

    ``merges`` defaults to the fixed table; dp_bpe_train_encode passes
    the LEARNED table instead (same encode semantics, same SQL)."""
    expr = "regexp_replace(word, '(.)', '|\\1|', 'g')"
    for a, b in (BPE_FIXED_MERGES if merges is None else merges):
        expr = f"replace({expr}, '|{a}||{b}|', '|{a}{b}|')"
    return f"""
        WITH base AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT}'),
                             t -> t <> '') AS tl
          FROM documents),
        tok AS (
          SELECT doc_id, i AS idx, tl[i] AS word
          FROM base, UNNEST(generate_series(1, len(tl))) AS g(i)),
        enc AS (
          SELECT doc_id, idx,
                 string_split(trim({expr}, '|'), '||') AS toks
          FROM tok),
        perdoc AS (
          SELECT doc_id,
                 string_agg(array_to_string(toks, ' '), ' '
                            ORDER BY idx) AS bpe_text,
                 sum(len(toks))::BIGINT AS n_bpe_tokens
          FROM enc GROUP BY doc_id)
        SELECT b.doc_id,
               coalesce(p.bpe_text, '') AS bpe_text,
               coalesce(p.n_bpe_tokens, 0) AS n_bpe_tokens
        FROM base b LEFT JOIN perdoc p USING (doc_id)
        ORDER BY b.doc_id"""


def _typed_bm25_sql(terms: list[str], mode: str) -> str:
    """Cross-type merged BM25 oracle: one _bm25_scored leg PER TYPE
    over only that type's rows (its own N/df/avgdl — per-(index,type)
    isolation), unioned with the type label and merged by
    (score desc, doctype, doc_id), mirroring TypedIndex.topk_local's
    per-type-docid tie-break (docid asc within a type == doc_id asc)."""
    legs = []
    for t, where in [("chat", "doc_id % 2 = 1"),
                     ("email", "doc_id % 2 = 0")]:
        scored = _bm25_scored(terms, mode).replace("documents",
                                                   "docs_sub")
        scored = scored.replace(
            "WITH ",
            f"WITH docs_sub AS (SELECT * FROM documents "
            f"WHERE {where}),\n ", 1)
        legs.append(f"SELECT '{t}' AS doctype, doc_id, score "
                    f"FROM ({scored} SELECT doc_id, score FROM scored)")
    both = " UNION ALL ".join(legs)
    return f"""
        SELECT row_number() OVER (ORDER BY score DESC, doctype ASC,
                                  doc_id ASC) AS rank,
               doctype, doc_id, round(score, 4) AS score_r
        FROM ({both})
        ORDER BY score DESC, doctype ASC, doc_id ASC
        LIMIT 10"""


def _phrase_top10_sql() -> str:
    """Two legs: the r2 exact-phrase BM25 ranking, and the r7
    match_phrase_prefix leg — completions = every dictionary term
    LIKE 'pre%' (the engine's cap 1024 exceeds the corpus vocab, so
    the sets coincide); a doc participates through a completion iff
    the normalized text contains 'fixed completion' as adjacent
    tokens; score = BM25 over fixed terms + the doc's matched
    completions (UNION dedups a completion that equals a fixed
    term)."""
    phrase = _bm25_sql([T_MID2, "query"], "and").replace(
        "GROUP BY tf.doc_id",
        f"""AND tf.doc_id IN (
              SELECT doc_id FROM documents
              WHERE ' ' || trim(regexp_replace(lower(text),
                                '{TOKEN_SPLIT}', ' ', 'g'))
                    || ' ' LIKE '% {T_MID2} query %')
        GROUP BY tf.doc_id""")
    fixed, pre = PP_QUERY.split()
    pprefix = f"""{_bm25_base()},
      exps AS (SELECT term FROM dfreq WHERE term LIKE '{pre}%'),
      norm AS (SELECT doc_id,
                      ' ' || trim(regexp_replace(lower(text),
                                  '{TOKEN_SPLIT}', ' ', 'g')) || ' '
                          AS nt
               FROM documents),
      matched AS (
        SELECT n.doc_id, e.term
        FROM norm n JOIN exps e
          ON n.nt LIKE '% {fixed} ' || e.term || ' %'),
      participants AS (
        SELECT doc_id, term FROM matched
        UNION
        SELECT DISTINCT doc_id, '{fixed}' AS term FROM matched),
      w AS (
        SELECT tf.doc_id, tf.term,
               ln(1 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * tf.tf * ({K1} + 1)
               / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl))
                   AS weight
        FROM tf
        JOIN dl ON dl.doc_id = tf.doc_id
        JOIN dfreq ON dfreq.term = tf.term
        CROSS JOIN stats s),
      scored AS (
        SELECT p.doc_id, sum(w.weight) AS score
        FROM participants p
        JOIN w ON w.doc_id = p.doc_id AND w.term = p.term
        GROUP BY p.doc_id)
    SELECT 'pprefix' AS leg,
           row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
           doc_id AS docid, round(score, 4) AS score_r
    FROM scored ORDER BY score DESC, doc_id ASC LIMIT 10"""
    return (f"SELECT 'phrase' AS leg, rank, docid, score_r "
            f"FROM ({phrase}) UNION ALL SELECT * FROM ({pprefix}) "
            f"ORDER BY leg, rank")


def _mm_scored_cte(col: str, sfx: str, terms: list[str]) -> str:
    """Per-field BM25 scored CTE chain with suffixed names (so two
    fields coexist in one WITH) — the per-field half of the
    multi_match oracle. Same math as _bm25_scored."""
    tl = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    return f"""
  toks_{sfx} AS (
    SELECT doc_id,
           unnest(string_split_regex(lower({col}), '{TOKEN_SPLIT}'))
               AS term
    FROM documents),
  tok_{sfx} AS (SELECT doc_id, term FROM toks_{sfx}
                WHERE term <> '' AND length(term) <= 64),
  tf_{sfx} AS (SELECT doc_id, term, count(*)::DOUBLE AS tf
               FROM tok_{sfx} GROUP BY 1, 2),
  dl_{sfx} AS (SELECT doc_id, count(*)::DOUBLE AS dl
               FROM tok_{sfx} GROUP BY 1),
  stats_{sfx} AS (
    SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
           (SELECT sum(dl) FROM dl_{sfx})
               / (SELECT count(*) FROM documents) AS avgdl),
  dfreq_{sfx} AS (SELECT term, count(*)::DOUBLE AS df
                  FROM tf_{sfx} GROUP BY 1),
  scored_{sfx} AS (
    SELECT tf.doc_id,
           sum(ln(1 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * tf.tf * ({K1} + 1)
               / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl)))
               AS score
    FROM tf_{sfx} tf
    JOIN dl_{sfx} dl ON dl.doc_id = tf.doc_id
    JOIN dfreq_{sfx} dfreq ON dfreq.term = tf.term
    CROSS JOIN stats_{sfx} s
    WHERE tf.term IN ({tl})
    GROUP BY tf.doc_id)"""


def _mm_sql() -> str:
    """multi_match oracle legs: per-field scored CTEs (text, lang)
    full-outer-joined per doc (unmatched field = 0 contribution, the
    DisjunctionMaxQuery contract), boosts applied, then
    best_fields = greatest + tie_breaker × rest, most_fields = sum."""
    mmterms = MM_QUERY.split()
    bt, bl = MM_BOOSTS["text"], MM_BOOSTS["lang"]
    comb = f"""
  comb AS (
    SELECT COALESCE(t.doc_id, l.doc_id) AS doc_id,
           COALESCE(t.score, 0) * {bt} AS st,
           COALESCE(l.score, 0) * {bl} AS sl
    FROM scored_t t FULL JOIN scored_l l ON t.doc_id = l.doc_id)"""
    legs = []
    for leg, expr in [
            ("mm_best", f"greatest(st, sl) + {MM_TB} * "
                        f"(st + sl - greatest(st, sl))"),
            ("mm_most", "st + sl")]:
        legs.append(f"""
      SELECT '{leg}' AS fld,
             row_number() OVER (ORDER BY {expr} DESC, doc_id ASC)
                 AS rank,
             doc_id AS docid, round({expr}, 4) AS score_r
      FROM comb
      ORDER BY {expr} DESC, doc_id ASC
      LIMIT 10""")
    return ("WITH " + _mm_scored_cte("text", "t", mmterms) + ","
            + _mm_scored_cte("lang", "l", mmterms) + "," + comb
            + " SELECT * FROM (" +
            ") UNION ALL SELECT * FROM (".join(legs) + ")")


def _mf_bm25_sql() -> str:
    """Merged multi-field oracle: the per-field legs are the SAME SQL
    the two pre-r5 gates used, labeled and unioned (per-field df/avgdl
    isolation is inherent — each leg's stats CTEs read only its own
    column); the mm legs re-derive the multi_match combine in pure
    SQL (_mm_sql)."""
    legs = []
    for fld, terms, col in [("lang", ["en", "de"], "lang"),
                            ("text", [T_HOT, T_MID, T_RARE], "text")]:
        legs.append(f"SELECT '{fld}' AS fld, rank, docid, score_r "
                    f"FROM ({_bm25_sql(terms, 'or', col=col)})")
    legs.append(f"SELECT fld, rank, docid, score_r FROM ({_mm_sql()})")
    return (" UNION ALL ".join(legs)
            + " ORDER BY fld, rank")


def _bm25_modes_sql() -> str:
    """Consolidated oracle: one _bm25_scored leg per BM25_VARIANTS
    entry (wand/exact share the SQL — exactness of the pruned path IS
    the claim being checked), plus the search_after page-2 leg: ranks
    11-20 of the or_multi ranking renumbered 1-10 — pure SQL, which is
    the point (the engine paginates by cursor, never by offset)."""
    legs = []
    for variant, qtext, mode, _method in BM25_VARIANTS:
        scored = _bm25_scored(qtext.split(), mode)
        legs.append(f"""
          SELECT '{variant}' AS variant,
                 row_number() OVER (ORDER BY score DESC, doc_id ASC)
                     AS rank,
                 doc_id AS docid, round(score, 4) AS score_r
          FROM ({scored} SELECT doc_id, score FROM scored)
          ORDER BY score DESC, doc_id ASC
          LIMIT 10""")
    _, qtext, mode, _m = BM25_VARIANTS[2]
    scored = _bm25_scored(qtext.split(), mode)
    legs.append(f"""
      SELECT 'after_p2' AS variant, rn - 10 AS rank, docid, score_r
      FROM (SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC)
                       AS rn,
                   doc_id AS docid, round(score, 4) AS score_r
            FROM ({scored} SELECT doc_id, score FROM scored))
      WHERE rn BETWEEN 11 AND 20""")
    msm_scored = _bm25_scored(qtext.split(), mode, min_count=2)
    legs.append(f"""
      SELECT 'msm2' AS variant,
             row_number() OVER (ORDER BY score DESC, doc_id ASC)
                 AS rank,
             doc_id AS docid, round(score, 4) AS score_r
      FROM ({msm_scored} SELECT doc_id, score FROM scored)
      ORDER BY score DESC, doc_id ASC
      LIMIT 10""")
    # bool must+should legs (r7): score over the UNION of must+should
    # terms, keep docs containing the must term (semi-join on tf);
    # the msm2 twin additionally requires BOTH should terms present.
    bool_scored = _bm25_scored([T_HOT, T_MID, T_RARE], "or")
    legs.append(f"""
      SELECT 'bool_must' AS variant,
             row_number() OVER (ORDER BY score DESC, doc_id ASC)
                 AS rank,
             doc_id AS docid, round(score, 4) AS score_r
      FROM ({bool_scored}
            SELECT doc_id, score FROM scored
            WHERE doc_id IN (SELECT doc_id FROM tf
                             WHERE term = '{T_HOT}'))
      ORDER BY score DESC, doc_id ASC
      LIMIT 10""")
    legs.append(f"""
      SELECT 'bool_must_msm2' AS variant,
             row_number() OVER (ORDER BY score DESC, doc_id ASC)
                 AS rank,
             doc_id AS docid, round(score, 4) AS score_r
      FROM ({bool_scored}
            SELECT doc_id, score FROM scored
            WHERE doc_id IN (SELECT doc_id FROM tf
                             WHERE term = '{T_HOT}')
              AND doc_id IN (SELECT doc_id FROM tf
                             WHERE term IN ('{T_MID}', '{T_RARE}')
                             GROUP BY doc_id HAVING count(*) >= 2))
      ORDER BY score DESC, doc_id ASC
      LIMIT 10""")
    # mlt leg: re-derive the term selection (tf·idf over the source
    # doc, df >= 2, top MLT_TERMS by weight desc / term asc) and the
    # OR scoring over the selected set, source doc excluded
    legs.append(f"""
      {_bm25_base()},
      mlt_src AS (
        SELECT term, count(*) AS tfq FROM tok
        WHERE doc_id = {MLT_DOC} GROUP BY term),
      mlt_sel AS (
        SELECT m.term
        FROM mlt_src m JOIN dfreq ON dfreq.term = m.term
        CROSS JOIN stats st
        WHERE dfreq.df >= 2
        ORDER BY m.tfq * ln(1 + (st.n - dfreq.df + 0.5)
                            / (dfreq.df + 0.5)) DESC, m.term ASC
        LIMIT {MLT_TERMS}),
      mlt_scored AS (
        SELECT tf.doc_id,
               sum(ln(1 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                   * tf.tf * ({K1} + 1)
                   / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl)))
                   AS score
        FROM tf
        JOIN dl ON dl.doc_id = tf.doc_id
        JOIN dfreq ON dfreq.term = tf.term
        CROSS JOIN stats s
        WHERE tf.term IN (SELECT term FROM mlt_sel)
        GROUP BY tf.doc_id)
      SELECT 'mlt' AS variant,
             row_number() OVER (ORDER BY score DESC, doc_id ASC)
                 AS rank,
             doc_id AS docid, round(score, 4) AS score_r
      FROM mlt_scored WHERE doc_id <> {MLT_DOC}
      ORDER BY score DESC, doc_id ASC
      LIMIT 10""")
    # boosted leg: the or_multi scored sum with T_MID's per-term
    # weight doubled (linear clause boost — a CASE multiplier)
    tl3 = ", ".join(f"'{t}'" for t in sorted({T_HOT, T_MID, T_RARE}))
    legs.append(f"""
      {_bm25_base()},
      scored AS (
        SELECT tf.doc_id,
               sum((CASE WHEN tf.term = '{T_MID}' THEN 2.0
                    ELSE 1.0 END)
                   * ln(1 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                   * tf.tf * ({K1} + 1)
                   / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl)))
                   AS score
        FROM tf
        JOIN dl ON dl.doc_id = tf.doc_id
        JOIN dfreq ON dfreq.term = tf.term
        CROSS JOIN stats s
        WHERE tf.term IN ({tl3})
        GROUP BY tf.doc_id)
      SELECT 'boosted' AS variant,
             row_number() OVER (ORDER BY score DESC, doc_id ASC)
                 AS rank,
             doc_id AS docid, round(score, 4) AS score_r
      FROM scored
      ORDER BY score DESC, doc_id ASC
      LIMIT 10""")
    return (" UNION ALL ".join(f"SELECT * FROM ({leg})"
                               for leg in legs)
            + " ORDER BY variant, rank")


def _filtered_search_sql() -> str:
    """Filtered-search oracle: the UNRESTRICTED BM25 scores (stats over
    the whole corpus) filtered to docs satisfying the predicate — the
    engine's bool-filter contract. The explain legs (r6) re-derive each
    per-term BM25 weight independently for the en_or leg's top-3
    filtered hits; matching the engine's explain() rows proves the
    score decomposition term by term, not just the sums."""
    legs = []
    for leg, qtext, mode, flt in FLT_LEGS:
        scored = _bm25_scored(qtext.split(), mode)
        legs.append(f"""
          SELECT '{leg}' AS leg,
                 row_number() OVER (ORDER BY score DESC, doc_id ASC)
                     AS rank,
                 doc_id AS docid, round(score, 4) AS score_r
          FROM ({scored}
                SELECT s.doc_id, s.score FROM scored s
                JOIN documents d ON d.doc_id = s.doc_id
                WHERE {flt})
          ORDER BY score DESC, doc_id ASC
          LIMIT 10""")
    for leg, qtext, mode, neg, flt in MN_LEGS:
        scored = _bm25_scored(qtext.split(), mode)
        fj = (f"JOIN documents d ON d.doc_id = s.doc_id WHERE {flt}"
              if flt else "")
        legs.append(f"""
          SELECT '{leg}' AS leg,
                 row_number() OVER (ORDER BY score DESC, doc_id ASC)
                     AS rank,
                 doc_id AS docid, round(score, 4) AS score_r
          FROM ({scored}
                SELECT s.doc_id, s.score FROM scored s {fj}
                {"AND" if flt else "WHERE"} s.doc_id NOT IN
                    (SELECT doc_id FROM tf WHERE term = '{neg}'))
          ORDER BY score DESC, doc_id ASC
          LIMIT 10""")
    _, qtext0, _mode0, flt0 = FLT_LEGS[0]
    tl = ", ".join(f"'{t}'" for t in sorted(set(qtext0.split())))
    legs.append(f"""
      {_bm25_base()},
      w AS (
        SELECT tf.doc_id, tf.term,
               ln(1 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * tf.tf * ({K1} + 1)
               / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl))
                   AS weight
        FROM tf
        JOIN dl ON dl.doc_id = tf.doc_id
        JOIN dfreq ON dfreq.term = tf.term
        CROSS JOIN stats s
        WHERE tf.term IN ({tl})),
      scored AS (SELECT doc_id, sum(weight) AS score
                 FROM w GROUP BY doc_id),
      t3 AS (
        SELECT s.doc_id,
               row_number() OVER (ORDER BY s.score DESC, s.doc_id ASC)
                   AS rank
        FROM scored s JOIN documents d ON d.doc_id = s.doc_id
        WHERE {flt0}
        ORDER BY s.score DESC, s.doc_id ASC
        LIMIT 3)
      SELECT 'explain_' || w.term AS leg, t3.rank,
             w.doc_id AS docid, round(w.weight, 4) AS score_r
      FROM w JOIN t3 ON t3.doc_id = w.doc_id""")
    return (" UNION ALL ".join(f"SELECT * FROM ({leg})"
                               for leg in legs)
            + " ORDER BY leg, rank")


def _highlight_sql() -> str:
    """Highlight oracle: re-derives the fragment scorer in pure SQL.
    Token positions come from the same split-regex tokenization every
    other oracle uses; the best window is the anchored-window argmax
    (anchors = matched positions; maximize distinct terms, then total
    matches, then earliest anchor — ties resolved exactly like the
    engine's strict-> comparison by ORDER BY ... a ASC LIMIT 1). The
    'whole' leg checks the fragment covers [first match .. end]."""
    terms = sorted(set(HL_QUERY.split()))
    tl = ", ".join(f"'{t}'" for t in terms)
    w = HL_WINDOW - 1
    scored = _bm25_scored(terms, "and")
    return f"""{scored},
      top10 AS (
        SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC)
                   AS rank,
               doc_id, round(score, 4) AS score_r
        FROM scored ORDER BY score DESC, doc_id ASC LIMIT 10),
      base AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text),
                                              '{TOKEN_SPLIT}'),
                           t -> t <> '' AND length(t) <= 64) AS tl
        FROM documents WHERE doc_id IN (SELECT doc_id FROM top10)),
      tokpos AS (
        SELECT doc_id, i - 1 AS idx, tl[i] AS term
        FROM base, UNNEST(generate_series(1, len(tl))) AS g(i)),
      matched AS (
        SELECT doc_id, idx, term FROM tokpos WHERE term IN ({tl})),
      anchors AS (
        SELECT a.doc_id, a.idx AS a_idx,
               count(DISTINCT m.term) AS nd, count(*) AS nt
        FROM matched a JOIN matched m
          ON m.doc_id = a.doc_id
         AND m.idx BETWEEN a.idx AND a.idx + {w}
        GROUP BY a.doc_id, a.idx),
      best AS (
        SELECT doc_id, a_idx, nt FROM (
          SELECT *, row_number() OVER (
                      PARTITION BY doc_id
                      ORDER BY nd DESC, nt DESC, a_idx ASC) AS rn
          FROM anchors) WHERE rn = 1),
      win12 AS (
        SELECT b.doc_id,
               string_agg(m.term, ' ' ORDER BY m.idx) AS frag_info,
               b.nt AS n_matches
        FROM best b JOIN matched m
          ON m.doc_id = b.doc_id
         AND m.idx BETWEEN b.a_idx AND b.a_idx + {w}
        GROUP BY b.doc_id, b.nt),
      firstm AS (
        SELECT doc_id, min(idx) AS i0, count(*) AS n_matches
        FROM matched GROUP BY doc_id),
      whole AS (
        SELECT t.doc_id,
               string_agg(t.term, ' ' ORDER BY t.idx) AS frag_info,
               f.n_matches
        FROM tokpos t JOIN firstm f
          ON f.doc_id = t.doc_id AND t.idx >= f.i0
        GROUP BY t.doc_id, f.n_matches)
      SELECT 'win12' AS leg, r.rank, r.doc_id AS docid, r.score_r,
             w.frag_info, w.n_matches
      FROM top10 r JOIN win12 w ON w.doc_id = r.doc_id
      UNION ALL
      SELECT 'whole' AS leg, r.rank, r.doc_id AS docid, r.score_r,
             w.frag_info, w.n_matches
      FROM top10 r JOIN whole w ON w.doc_id = r.doc_id
      ORDER BY leg, rank"""


def _facet_counts_sql() -> str:
    """Facet oracle, long shape (facet, value, stat, v_r): boolean
    match (AND = all distinct terms, OR = any) joined to the documents
    metadata, grouped by the facet column, NULL values unbucketed,
    (count desc, value asc) top-50. Count legs emit one 'count' row
    per bucket; stats legs unpivot count/mcount/min/max/sum/avg —
    the stats_combined leg is the SAME aggregation (a base+delta union
    over the whole corpus equals the corpus). r7 legs: pctl_lang =
    quantile_cont percentiles per bucket (p25/p50/p75/p95 + pcount);
    tophits_lang = per-bucket BM25 top hits (hN_doc/hN_score rows from
    the full scored relation windowed per bucket + tcount), top-3
    buckets by count."""
    stats_unpivot = " UNION ALL ".join(
        f"SELECT value, '{st}' AS stat, round({ex}, 4) AS v_r "
        f"FROM stats_base"
        for st, ex in [("count", "cnt::DOUBLE"),
                       ("mcount", "mcnt::DOUBLE"),
                       ("min", "mn::DOUBLE"), ("max", "mx::DOUBLE"),
                       ("sum", "sm::DOUBLE"), ("avg", "av")])
    return f"""
        {_bm25_scored([T_HOT, T_MID], "and")},
        m_and AS (
          SELECT doc_id FROM tok
          WHERE term IN ('{T_HOT}', '{T_MID}')
          GROUP BY doc_id HAVING count(DISTINCT term) = 2),
        m_or AS (
          SELECT DISTINCT doc_id FROM tok
          WHERE term IN ('{T_HOT}', '{T_MID}', '{T_RARE}')),
        lang_and AS (
          SELECT 'lang_and' AS facet, d.lang AS value,
                 'count' AS stat, count(*)::DOUBLE AS v_r
          FROM m_and m JOIN documents d USING (doc_id)
          WHERE d.lang IS NOT NULL
          GROUP BY d.lang
          ORDER BY count(*) DESC, value ASC LIMIT 50),
        source_or_flt AS (
          SELECT 'source_or_flt' AS facet, d.source AS value,
                 'count' AS stat, count(*)::DOUBLE AS v_r
          FROM m_or m JOIN documents d USING (doc_id)
          WHERE d.n_chars >= 200 AND d.source IS NOT NULL
          GROUP BY d.source
          ORDER BY count(*) DESC, value ASC LIMIT 50),
        m_one AS (
          SELECT DISTINCT doc_id FROM tok WHERE term = '{T_MID}'),
        len_bucket AS (
          SELECT 'len_bucket' AS facet,
                 CAST(CAST(FLOOR(d.n_chars / 200.0) AS INT)
                      AS VARCHAR) AS value,
                 'count' AS stat, count(*)::DOUBLE AS v_r
          FROM m_one m JOIN documents d USING (doc_id)
          GROUP BY 2
          ORDER BY count(*) DESC, value ASC LIMIT 50),
        stats_base AS (
          SELECT d.lang AS value, count(*) AS cnt,
                 count(d.n_chars) AS mcnt, min(d.n_chars) AS mn,
                 max(d.n_chars) AS mx, sum(d.n_chars) AS sm,
                 avg(d.n_chars) AS av
          FROM m_and m JOIN documents d USING (doc_id)
          WHERE d.lang IS NOT NULL
          GROUP BY d.lang
          ORDER BY count(*) DESC, value ASC LIMIT 50),
        stats_long AS ({stats_unpivot}),
        pb AS (
          SELECT d.lang AS value, count(*)::DOUBLE AS dc,
                 quantile_cont(d.n_chars::DOUBLE, 0.25) AS q25,
                 quantile_cont(d.n_chars::DOUBLE, 0.50) AS q50,
                 quantile_cont(d.n_chars::DOUBLE, 0.75) AS q75,
                 quantile_cont(d.n_chars::DOUBLE, 0.95) AS q95
          FROM m_and m JOIN documents d USING (doc_id)
          WHERE d.lang IS NOT NULL AND d.n_chars IS NOT NULL
          GROUP BY d.lang
          ORDER BY count(*) DESC, value ASC LIMIT 50),
        pctl_rows AS (
          SELECT value, 'p25' AS stat, round(q25, 4) AS v_r FROM pb
          UNION ALL SELECT value, 'p50', round(q50, 4) FROM pb
          UNION ALL SELECT value, 'p75', round(q75, 4) FROM pb
          UNION ALL SELECT value, 'p95', round(q95, 4) FROM pb
          UNION ALL SELECT value, 'pcount', dc FROM pb),
        tophits AS (
          SELECT d.lang AS value, s.doc_id, s.score,
                 count(*) OVER (PARTITION BY d.lang) AS bc,
                 row_number() OVER (
                     PARTITION BY d.lang
                     ORDER BY s.score DESC, s.doc_id ASC) AS rn
          FROM scored s JOIN documents d ON d.doc_id = s.doc_id
          WHERE d.lang IS NOT NULL),
        tb AS (
          SELECT value, bc FROM tophits GROUP BY value, bc
          ORDER BY bc DESC, value ASC LIMIT 3),
        th_rows AS (
          SELECT t.value, 'h' || t.rn || '_doc' AS stat,
                 t.doc_id::DOUBLE AS v_r
          FROM tophits t JOIN tb USING (value) WHERE t.rn <= 3
          UNION ALL
          SELECT t.value, 'h' || t.rn || '_score', round(t.score, 4)
          FROM tophits t JOIN tb USING (value) WHERE t.rn <= 3
          UNION ALL
          SELECT value, 'tcount', bc::DOUBLE FROM tb),
        hist_b AS (
          SELECT CAST(FLOOR(d.n_chars / 150.0) AS BIGINT) AS idx,
                 count(*) AS c
          FROM m_one m JOIN documents d USING (doc_id)
          WHERE d.n_chars IS NOT NULL
          GROUP BY 1),
        hist_rows AS (
          SELECT 'hist_nchars' AS facet,
                 CAST(g.idx * 150 AS VARCHAR) AS value,
                 'doc_count' AS stat, COALESCE(b.c, 0)::DOUBLE AS v_r
          FROM (SELECT unnest(generate_series(
                    (SELECT min(idx) FROM hist_b),
                    (SELECT max(idx) FROM hist_b))) AS idx) g
          LEFT JOIN hist_b b USING (idx)),
        dh_b AS (
          SELECT date_trunc('day', TIMESTAMP '2025-01-01 00:00:00'
                     + INTERVAL (m.doc_id % 500) HOUR) AS bkt,
                 count(*) AS c
          FROM m_one m
          GROUP BY 1),
        dh_rows AS (
          SELECT 'dhist_day' AS facet,
                 strftime(g.bkt, '%Y-%m-%d') AS value,
                 'doc_count' AS stat, COALESCE(b.c, 0)::DOUBLE AS v_r
          FROM (SELECT unnest(generate_series(
                    (SELECT min(bkt) FROM dh_b),
                    (SELECT max(bkt) FROM dh_b),
                    INTERVAL 1 DAY)) AS bkt) g
          LEFT JOIN dh_b b USING (bkt)),
        range_rows AS (
          SELECT 'range_nchars' AS facet, v.key AS value,
                 'doc_count' AS stat,
                 (SELECT count(*) FROM m_one m
                  JOIN documents d USING (doc_id)
                  WHERE d.n_chars IS NOT NULL
                    AND (v.lo IS NULL OR d.n_chars >= v.lo)
                    AND (v.hi IS NULL OR d.n_chars < v.hi))::DOUBLE
                     AS v_r
          FROM (VALUES ('*-200', NULL, 200.0),
                       ('150-400', 150.0, 400.0),
                       ('400-*', 400.0, NULL)) v(key, lo, hi)),
        miss_rows AS (
          SELECT 'missing_short' AS facet, 'm' AS value,
                 'doc_count' AS stat, count(*)::DOUBLE AS v_r
          FROM m_one m JOIN documents d USING (doc_id)
          WHERE d.n_chars < 200),
        nest_tot AS (
          SELECT d.lang AS v, count(*) AS dc
          FROM m_and m JOIN documents d USING (doc_id)
          WHERE d.lang IS NOT NULL GROUP BY 1),
        nest_p AS (
          SELECT d.lang AS v, d.source AS s, count(*) AS c
          FROM m_and m JOIN documents d USING (doc_id)
          WHERE d.lang IS NOT NULL AND d.source IS NOT NULL
          GROUP BY 1, 2),
        nest_o AS (
          SELECT v, dc, row_number() OVER (ORDER BY dc DESC, v ASC)
                     AS orank
          FROM nest_tot),
        nest_i AS (
          SELECT v, s, c, row_number() OVER (
                     PARTITION BY v ORDER BY c DESC, s ASC) AS irank
          FROM nest_p),
        nest_rows AS (
          SELECT 'nested_ls' AS facet, o.v || '/' || i.s AS value,
                 'sub_count' AS stat, i.c::DOUBLE AS v_r
          FROM nest_o o JOIN nest_i i USING (v)
          WHERE o.orank <= 3 AND i.irank <= 2
          UNION ALL
          SELECT 'nested_ls', o.v, 'doc_count', o.dc::DOUBLE
          FROM nest_o o WHERE o.orank <= 3),
        filt_rows AS (
          SELECT 'filters_agg' AS facet, v.key AS value,
                 'doc_count' AS stat,
                 (SELECT count(*) FROM m_one m
                  JOIN documents d USING (doc_id)
                  WHERE (v.key = 'en' AND d.lang = 'en')
                     OR (v.key = 'long' AND d.n_chars >= 300)
                     OR (v.key = 'nil' AND d.n_chars < 0))::DOUBLE
                     AS v_r
          FROM (VALUES ('en'), ('long'), ('nil')) v(key))
        SELECT * FROM lang_and
        UNION ALL
        SELECT * FROM source_or_flt
        UNION ALL
        SELECT * FROM len_bucket
        UNION ALL
        SELECT 'stats_lang' AS facet, value, stat, v_r FROM stats_long
        UNION ALL
        SELECT 'stats_combined' AS facet, value, stat, v_r
        FROM stats_long
        UNION ALL
        SELECT 'pctl_lang' AS facet, value, stat, v_r FROM pctl_rows
        UNION ALL
        SELECT 'tophits_lang' AS facet, value, stat, v_r FROM th_rows
        UNION ALL
        SELECT * FROM hist_rows
        UNION ALL
        SELECT * FROM dh_rows
        UNION ALL
        SELECT * FROM range_rows
        UNION ALL
        SELECT * FROM miss_rows
        UNION ALL
        SELECT * FROM nest_rows
        UNION ALL
        SELECT * FROM filt_rows
        ORDER BY facet, value, stat"""


def _pattern_scored(cond: str) -> str:
    """_bm25_scored with a term PREDICATE (LIKE / levenshtein) instead
    of an IN list — the multi-term-query oracle: every term matching
    the predicate contributes its own idf-weighted BM25 partial
    (rewrite=scoring_boolean semantics)."""
    return f"""{_bm25_base()},
  scored AS (
    SELECT tf.doc_id,
           sum(ln(1 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * tf.tf * ({K1} + 1)
               / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl))) AS score
    FROM tf
    JOIN dl ON dl.doc_id = tf.doc_id
    JOIN dfreq ON dfreq.term = tf.term
    CROSS JOIN stats s
    WHERE {cond}
    GROUP BY tf.doc_id
  )"""


def _lm_quality_sql() -> str:
    """Bigram-LM perplexity oracle (datapipe.lm semantics): token
    positions over the filtered sequence, <unk> mapping BEFORE
    counting, P(w|u) = (c2+a)/(c1+a(V+1)), per-doc logprob over
    transitions, perplexity = exp(-lp/(n-1)) (NULL under 2 tokens).
    'fixed' scores under the LM_FIXED literals; 'trained' re-derives
    the top-V vocab, c1 (incl. the <unk> mass) and c2 from the corpus
    in SQL — the full train+score pipeline value-checked."""
    a = LM_FIXED["alpha"]
    fvp = len(LM_FIXED["vocab"]) + 1
    tvp = LM_TRAIN_V + 1
    fvoc = ", ".join(f"('{t}')" for t in LM_FIXED["vocab"])
    fc1 = ", ".join(f"('{t}', {c})"
                    for t, c in sorted(LM_FIXED["c1"].items()))
    fc2 = ", ".join(f"('{u}', '{w}', {c})"
                    for (u, w), c in sorted(LM_FIXED["c2"].items()))

    def leg(name, voc, c1, c2, vp, thr):
        return f"""
        {name}_m AS (
          SELECT p.doc_id, p.pos,
                 CASE WHEN v.term IS NULL THEN '<unk>'
                      ELSE p.term END AS term
          FROM ptok p LEFT JOIN {voc} v ON v.term = p.term),
        {name}_pairs AS (
          SELECT x.doc_id, x.term AS u, y.term AS w
          FROM {name}_m x JOIN {name}_m y
            ON x.doc_id = y.doc_id AND y.pos = x.pos + 1),
        {name}_sc AS (
          SELECT pr.doc_id,
                 ln((COALESCE(b.c, 0) + {a}) / (u1.c + {a} * {vp}))
                   AS lp
          FROM {name}_pairs pr
          JOIN {c1} u1 ON u1.term = pr.u
          LEFT JOIN {c2} b ON b.u = pr.u AND b.w = pr.w),
        {name}_doc AS (
          SELECT doc_id, count(*) AS ntr, sum(lp) AS lp
          FROM {name}_sc GROUP BY 1),
        {name}_leg AS (
          SELECT '{name}' AS leg, d.doc_id,
                 COALESCE(n.n_tokens, 0) AS n_tokens,
                 round(COALESCE(f.lp, 0.0), 4) AS lp_r,
                 round(exp(-f.lp / f.ntr), 4) AS ppl_r,
                 CASE WHEN f.lp IS NOT NULL
                           AND exp(-f.lp / f.ntr) <= {thr}
                      THEN 1 ELSE 0 END AS keep
          FROM documents d
          LEFT JOIN ncnt n USING (doc_id)
          LEFT JOIN {name}_doc f USING (doc_id))"""

    return f"""
        WITH rawtok AS (
          SELECT doc_id, unnest(arr) AS term,
                 generate_subscripts(arr, 1) AS ord
          FROM (SELECT doc_id,
                       string_split_regex(lower(coalesce(text, '')),
                                          '[^a-z0-9]+') AS arr
                FROM documents)),
        ptok AS (
          SELECT doc_id, term,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY ord) AS pos
          FROM rawtok WHERE term <> '' AND length(term) <= 64),
        ncnt AS (SELECT doc_id, count(*) AS n_tokens
                 FROM ptok GROUP BY 1),
        fvoc(term) AS (VALUES {fvoc}),
        fc1(term, c) AS (VALUES {fc1}),
        fc2(u, w, c) AS (VALUES {fc2}),
        uni AS (SELECT term, count(*) AS c FROM ptok GROUP BY 1),
        tvoc AS (SELECT term, c FROM uni
                 ORDER BY c DESC, term LIMIT {LM_TRAIN_V}),
        ttot AS (SELECT sum(c)::DOUBLE AS t FROM uni),
        tc1 AS (SELECT term, c::DOUBLE AS c FROM tvoc
                UNION ALL
                SELECT '<unk>', t - (SELECT sum(c) FROM tvoc)
                FROM ttot),
        {leg('fixed', 'fvoc', 'fc1', 'fc2', fvp, LM_FIXED_MAXPPL)[9:]},
        tm AS (
          SELECT p.doc_id, p.pos,
                 CASE WHEN v.term IS NULL THEN '<unk>'
                      ELSE p.term END AS term
          FROM ptok p LEFT JOIN tvoc v ON v.term = p.term),
        tc2(u, w, c) AS (
          SELECT x.term, y.term, count(*)::DOUBLE
          FROM tm x JOIN tm y
            ON x.doc_id = y.doc_id AND y.pos = x.pos + 1
          GROUP BY 1, 2),
        {leg('trained', 'tvoc', 'tc1', 'tc2', tvp,
             LM_TRAIN_MAXPPL)[9:]}
        SELECT * FROM fixed_leg
        UNION ALL
        SELECT * FROM trained_leg
        ORDER BY leg, doc_id"""


def _prefix_search_sql() -> str:
    like_p = f"tf.term LIKE '{PFX}%'"
    like_w = ("tf.term LIKE '"
              + WC_PAT.replace("*", "%").replace("?", "_") + "'")
    fz = f"levenshtein(tf.term, '{FZ_Q}') <= {FZ_D}"
    rxc = f"regexp_full_match(tf.term, '{RX_PAT}')"
    # capped expansion: the oracle derives the top-2-by-(df desc, term)
    # terms from its own dfreq — independent of the engine's dictionary
    cap = (f"tf.term IN (SELECT term FROM dfreq WHERE term LIKE "
           f"'{PFX}%' ORDER BY df DESC, term ASC LIMIT 2)")
    legs = []
    for leg, cond in [("prefix_dist", like_p), ("prefix_local", like_p),
                      ("wildcard", like_w), ("fuzzy", fz),
                      ("regexp", rxc),
                      ("cap2", cap), ("combined", like_p)]:
        legs.append(f"""
          SELECT '{leg}' AS leg,
                 row_number() OVER (ORDER BY score DESC, doc_id ASC)
                     AS rank,
                 doc_id AS docid, round(score, 4) AS score_r
          FROM ({_pattern_scored(cond)}
                SELECT doc_id, score FROM scored)
          ORDER BY score DESC, doc_id ASC LIMIT 10""")
    legs.append(f"""
          SELECT 'const' AS leg,
                 row_number() OVER (ORDER BY doc_id ASC) AS rank,
                 doc_id AS docid, 1.0 AS score_r
          FROM (WITH {_toks_sql()}
                SELECT DISTINCT doc_id FROM tok
                WHERE term LIKE '{PFX}%')
          ORDER BY doc_id ASC LIMIT 10""")
    # term-suggester leg (r7, ES did-you-mean): candidates within 2
    # edits of SG_Q sharing its first char, ranked (distance asc, df
    # desc, term asc) top-5; the suggestion string rides in the leg
    # column, df in docid, distance in score_r — all value-checked
    legs.append(f"""
          SELECT 'sg_' || term AS leg,
                 row_number() OVER (
                     ORDER BY levenshtein(term, '{SG_Q}'),
                              df DESC, term ASC) AS rank,
                 CAST(df AS BIGINT) AS docid,
                 levenshtein(term, '{SG_Q}')::DOUBLE AS score_r
          FROM (WITH {_toks_sql()},
                dfr AS (SELECT term, count(DISTINCT doc_id) AS df
                        FROM tok GROUP BY term)
                SELECT term, df FROM dfr
                WHERE left(term, 1) = left('{SG_Q}', 1)
                  AND term <> '{SG_Q}'
                  AND levenshtein(term, '{SG_Q}') <= 2)
          ORDER BY levenshtein(term, '{SG_Q}'), df DESC, term ASC
          LIMIT 5""")
    return " UNION ALL ".join(f"SELECT * FROM ({leg})"
                              for leg in legs)


def _delete_search_sql() -> str:
    """Deletes oracle: 'live' = STALE-stats BM25 (whole corpus incl.
    deleted docs) restricted to survivors — the Lucene-before-merge
    contract; 'compacted' / 'merged' / 'routed_merged' = FRESH-stats
    BM25 over the surviving subset only (own N/df/avgdl) — the three
    physical drop paths (rebuild, plain merge-fold, routed merge-fold)
    are document-identical, so they share one oracle construction."""
    terms = [T_HOT, T_MID, T_RARE]
    live_scored = _bm25_scored(terms, "or")
    sub_scored = _bm25_scored(terms, "or").replace("documents",
                                                   "docs_sub")
    sub_scored = sub_scored.replace(
        "WITH ",
        f"WITH docs_sub AS (SELECT * FROM documents "
        f"WHERE NOT ({DEL_PRED})),\n ", 1)
    return f"""
        SELECT * FROM (
          SELECT 'live' AS leg,
                 row_number() OVER (ORDER BY score DESC, doc_id ASC)
                     AS rank,
                 doc_id, round(score, 4) AS score_r
          FROM ({live_scored}
                SELECT doc_id, score FROM scored
                WHERE NOT ({DEL_PRED}))
          ORDER BY score DESC, doc_id ASC LIMIT 10)
        UNION ALL
        SELECT * FROM (
          SELECT 'compacted' AS leg,
                 row_number() OVER (ORDER BY score DESC, doc_id ASC)
                     AS rank,
                 doc_id, round(score, 4) AS score_r
          FROM ({sub_scored} SELECT doc_id, score FROM scored)
          ORDER BY score DESC, doc_id ASC LIMIT 10)
        UNION ALL
        SELECT * FROM (
          SELECT 'merged' AS leg,
                 row_number() OVER (ORDER BY score DESC, doc_id ASC)
                     AS rank,
                 doc_id, round(score, 4) AS score_r
          FROM ({sub_scored} SELECT doc_id, score FROM scored)
          ORDER BY score DESC, doc_id ASC LIMIT 10)
        UNION ALL
        SELECT * FROM (
          SELECT 'routed_merged' AS leg,
                 row_number() OVER (ORDER BY score DESC, doc_id ASC)
                     AS rank,
                 doc_id, round(score, 4) AS score_r
          FROM ({sub_scored} SELECT doc_id, score FROM scored)
          ORDER BY score DESC, doc_id ASC LIMIT 10)
        ORDER BY leg, rank"""


def _search_join_sql() -> str:
    """search_join oracle: one _bm25_scored leg per query in
    SJ_QUERIES, each re-ranked (score desc, doc_id asc) and labeled
    with its qid — batch search must equal the per-query rankings.
    Phrase-mode legs use the fts_phrase_top10 construction: BM25 over
    the phrase's distinct terms (AND) restricted to docs containing
    the exact consecutive token sequence."""
    legs = []
    for qid, qtext, mode in SJ_QUERIES:
        if mode == "phrase":
            scored = _bm25_scored(qtext.split(), "and").replace(
                "GROUP BY tf.doc_id",
                f"""AND tf.doc_id IN (
                      SELECT doc_id FROM documents
                      WHERE ' ' || trim(regexp_replace(lower(text),
                                        '{TOKEN_SPLIT}', ' ', 'g'))
                            || ' ' LIKE '% {qtext} %')
                GROUP BY tf.doc_id""")
        else:
            scored = _bm25_scored(qtext.split(), mode)
        legs.append(f"""
          SELECT '{qid}' AS qid,
                 row_number() OVER (ORDER BY score DESC, doc_id ASC)
                     AS rank,
                 doc_id AS docid, round(score, 4) AS score_r
          FROM ({scored} SELECT doc_id, score FROM scored)
          ORDER BY score DESC, doc_id ASC
          LIMIT 10""")
    return (" UNION ALL ".join(f"SELECT * FROM ({leg})"
                               for leg in legs)
            + " ORDER BY qid, rank")


def _bpe_train_oracle_sql(num_merges: int = 30) -> str:
    """Generated oracle for dp_bpe_train_encode (VERDICT r4 #5): the
    merge table is a DETERMINISTIC function of the corpus word
    histogram, so the harness re-derives it at oracle-build time — the
    histogram via an independent DuckDB scan of the same parquet the
    driver registers as ``documents`` (NOT through Spark), the merge
    replay via learn_merges (itself pinned against a naive
    recount-reference in tests/test_bpe.py) — and inlines the LEARNED
    merges into the same chained-replace SQL the dp_bpe_encode_fixed
    gate uses. The driver's correctness harness runs at sf=0.01;
    override the corpus location with SPARKFTS_ORACLE_SF_DIR when
    gate-checking another scale."""
    import duckdb
    from datapipe.bpe import learn_merges
    sf_dir = os.environ.get("SPARKFTS_ORACLE_SF_DIR",
                            "/root/testdata/sf0.01")
    con = duckdb.connect()
    try:
        hist = con.execute(f"""
            SELECT word, count(*) AS n FROM (
              SELECT unnest(list_filter(string_split_regex(
                       lower(coalesce(text, '')), '{TOKEN_SPLIT}'),
                     t -> t <> '')) AS word
              FROM read_parquet('{sf_dir}/documents.parquet'))
            GROUP BY word ORDER BY n DESC, word ASC
            LIMIT 1000000""").fetchall()
    finally:
        con.close()
    merges = learn_merges([(w, int(n)) for w, n in hist], num_merges)
    return f"""
        SELECT 'fixed' AS leg, * FROM ({_bpe_encode_fixed_sql()})
        UNION ALL
        SELECT 'trained' AS leg, *
        FROM ({_bpe_encode_fixed_sql(merges)})
        ORDER BY leg, doc_id"""


def _lsh_topk_sql(dim: int = 64, n_planes: int = 16,
                  max_hamming: int = 2, k: int = 10) -> str:
    """Sign-LSH probe + exact cosine re-rank with the SAME deterministic
    hyperplanes as datapipe.similarity.hyperplanes, inlined as literals."""
    from datapipe.similarity import hyperplanes
    planes = hyperplanes(dim, n_planes=n_planes)
    plane_rows = ",\n            ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in p)}]::DOUBLE[])"
        for i, p in enumerate(planes))
    masks = {0}
    if max_hamming >= 1:
        masks |= {1 << i for i in range(n_planes)}
    if max_hamming >= 2:
        masks |= {(1 << i) ^ (1 << j)
                  for i in range(n_planes) for j in range(i + 1, n_planes)}
    mask_rows = ", ".join(f"({m})" for m in sorted(masks))
    return f"""
        WITH E AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        planes(i, p) AS (VALUES
            {plane_rows}),
        sigs AS (
          SELECT e.vec_id,
                 sum(CASE WHEN list_dot_product(e.v, pl.p) > 0
                          THEN (1::BIGINT << pl.i) ELSE 0 END)::BIGINT
                   AS bucket
          FROM E e CROSS JOIN planes pl GROUP BY e.vec_id),
        qs AS (SELECT bucket AS qb FROM sigs WHERE vec_id = 0),
        masks(m) AS (VALUES {mask_rows}),
        probe AS (SELECT DISTINCT xor(qs.qb, masks.m::BIGINT) AS b
                  FROM qs, masks),
        cand AS (SELECT s.vec_id FROM sigs s JOIN probe pr
                 ON s.bucket = pr.b),
        qv AS (SELECT v FROM E WHERE vec_id = 0)
        SELECT e.vec_id,
               round(round(list_cosine_similarity(
                   e.v, (SELECT v FROM qv)), 6), 4) AS cos_r4
        FROM E e JOIN cand c ON c.vec_id = e.vec_id
        ORDER BY list_cosine_similarity(e.v, (SELECT v FROM qv)) DESC,
                 e.vec_id
        LIMIT {k}"""


_IVF_TOPK_SQL = """
    WITH E AS (SELECT vec_id, embedding::DOUBLE[] AS v
               FROM embeddings),
    cents AS (SELECT vec_id AS cid, v AS cv FROM E
              ORDER BY md5('42:' || vec_id::VARCHAR) LIMIT 10),
    q AS (SELECT v FROM E WHERE vec_id = 0),
    asn AS (
      SELECT e.vec_id, c.cid,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                        c.cid ASC) AS rn
      FROM E e CROSS JOIN cents c),
    cells AS (SELECT vec_id, cid AS cell FROM asn WHERE rn = 1),
    probe AS (
      SELECT cid FROM (
        SELECT c.cid,
               row_number() OVER (
                 ORDER BY list_cosine_similarity(
                     (SELECT v FROM q), c.cv) DESC,
                   c.cid ASC) AS rn
        FROM cents c) WHERE rn <= 3)
    SELECT e.vec_id,
           round(round(list_cosine_similarity(
               e.v, (SELECT v FROM q)), 6), 4) AS cos_r4
    FROM E e JOIN cells ON cells.vec_id = e.vec_id
    WHERE cells.cell IN (SELECT cid FROM probe)
    ORDER BY list_cosine_similarity(e.v, (SELECT v FROM q)) DESC,
             e.vec_id ASC
    LIMIT 10"""


def _redact_sql() -> str:
    """Mirror datapipe.curate.redact_pii: same planted PII, same
    patterns in the same order (RE2 ≡ Java regex for these — no
    backrefs/lookaround), counts taken on each intermediate text."""
    from datapipe.curate import PII_PATTERNS
    aug = ("text || ' contact user' || doc_id || '@example.com from "
           "10.0.' || (doc_id % 256) || '.7 card 4111111111111111'")
    sql = f"WITH s0 AS (SELECT doc_id, {aug} AS t0 FROM documents)"
    cols = []
    for i, (name, pat, repl) in enumerate(PII_PATTERNS):
        sql += f""",
  s{i + 1} AS (SELECT *,
        len(regexp_extract_all(t{i}, '{pat}'))::BIGINT AS n_{name},
        regexp_replace(t{i}, '{pat}', '{repl}', 'g') AS t{i + 1}
      FROM s{i})"""
        cols.append(f"n_{name}")
    n = len(PII_PATTERNS)
    return sql + f"""
SELECT doc_id, t{n} AS text_redacted, {', '.join(cols)}
FROM s{n} ORDER BY doc_id"""


def oracle_sql() -> dict[str, str]:
    from datapipe.curate import _frac_hex
    terms4 = ", ".join(f"'{t}'" for t in sorted([T_HOT, T_MID, T_MID2, T_RARE]))
    lang_counts = ",\n".join(
        "len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), "
        f"t -> t IN ({', '.join(repr(m) for m in ms)}))) AS s_{lang}"
        for lang, ms in [("en", ["the", "and", "of", "to", "in"]),
                         ("de", ["der", "die", "das", "und", "ist"]),
                         ("es", ["el", "la", "los", "que", "es"]),
                         ("fr", ["le", "la", "les", "et", "est"]),
                         ("zh", ["de0", "shi4", "le0", "zai4", "he2"])])
    return {
        "fts_tokenize_doclen": f"""
            WITH {_TOKS}
            SELECT d.doc_id AS docid,
                   coalesce(t.dl, 0) AS dl
            FROM documents d
            LEFT JOIN (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1) t
              ON t.doc_id = d.doc_id
            ORDER BY docid""",
        "fts_collection_stats": f"""
            WITH {_TOKS},
            dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1)
            SELECT (SELECT count(*) FROM documents) AS n_docs,
                   round(sum(dl) / (SELECT count(*) FROM documents), 6)
                     AS avgdl_r
            FROM dl""",
        "fts_term_stats": f"""
            WITH {_TOKS}
            SELECT term,
                   count(DISTINCT doc_id) AS df,
                   count(*) AS cf
            FROM tok WHERE term IN ({terms4})
            GROUP BY term ORDER BY term""",
        "fts_postings_decode": f"""
            WITH {_TOKS}
            SELECT term, doc_id AS docid, count(*) AS tf
            FROM tok WHERE term IN ('{T_MID}', '{T_RARE}')
            GROUP BY term, doc_id ORDER BY term, docid""",
        "fts_bm25_modes": _bm25_modes_sql(),
        "fts_filtered_search": _filtered_search_sql(),
        "fts_facet_counts": _facet_counts_sql(),
        "fts_phrase_match": f"""
            WITH base AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                                                    '{TOKEN_SPLIT}'),
                                 t -> t <> '' AND length(t) <= 64)
                         AS tl
              FROM documents),
            tokpos AS (
              SELECT doc_id, i - 1 AS idx, tl[i] AS term
              FROM base, UNNEST(generate_series(1, len(tl))) AS g(i)),
            legs AS (SELECT * FROM (VALUES ('exact', 0), ('slop1', 1),
                                           ('slop2', 2)) v(leg, s))
            SELECT l.leg, m.doc_id AS docid
            FROM legs l
            JOIN (SELECT DISTINCT a.doc_id, ls.s
                  FROM tokpos a
                  JOIN tokpos b ON b.doc_id = a.doc_id
                  JOIN (SELECT DISTINCT s FROM (VALUES (0), (1), (2))
                        v(s)) ls
                    ON abs(a.idx - b.idx + 1) <= ls.s
                  WHERE a.term = '{T_HOT}' AND b.term = '{T_MID}') m
              ON m.s = l.s
            ORDER BY leg, docid""",
        "fts_phrase_top10": _phrase_top10_sql(),
        "fts_intersection_and": f"""
            WITH {_TOKS},
            m AS (SELECT doc_id FROM tok
                  WHERE term IN ('{T_MID}', '{T_MID2}')
                  GROUP BY doc_id HAVING count(DISTINCT term) = 2)
            SELECT 'and_docids' AS leg,
                   row_number() OVER (ORDER BY doc_id) AS rank,
                   doc_id AS docid, 0.0 AS v_r
            FROM m
            UNION ALL
            SELECT 'sort_nchars', rn, doc_id, v FROM (
              SELECT row_number() OVER (
                         ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn,
                     d.doc_id, round(d.n_chars::DOUBLE, 4) AS v
              FROM documents d JOIN m ON d.doc_id = m.doc_id)
            WHERE rn <= 10
            UNION ALL
            SELECT 'count', 1, 0, count(*)::DOUBLE FROM m
            UNION ALL
            SELECT 'card_lang', 1, 0,
                   count(DISTINCT d.lang)::DOUBLE
            FROM documents d JOIN m ON d.doc_id = m.doc_id
            ORDER BY leg, rank""",
        "fts_docstore_fetch": f"""
            SELECT doc_id AS docid, text, lang FROM documents
            WHERE doc_id IN ({', '.join(str(i) for i in FETCH_IDS)})
            ORDER BY docid""",
        "fts_docid_assignment": """
            SELECT doc_id AS src_id,
                   row_number() OVER (ORDER BY lang, doc_id) - 1 AS rank_id
            FROM documents ORDER BY src_id""",
        "fts_shard_routing": """
            WITH geom AS (
              SELECT ceil((max(doc_id) + 1) / 4.0)::BIGINT AS dps
              FROM documents)
            SELECT (doc_id // dps)::INT AS shard,
                   count(*) AS n_docs,
                   min(doc_id) AS min_docid,
                   max(doc_id) AS max_docid
            FROM documents, geom
            GROUP BY 1 ORDER BY 1""",
        "fts_manifest_lineage": f"""
            WITH geom AS (
              SELECT ceil((max(doc_id) + 1) / 4.0)::BIGINT AS dps
              FROM documents),
            {_TOKS.strip().lstrip()},
            tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2)
            SELECT (doc_id // dps)::INT AS shard,
                   count(DISTINCT term) AS n_terms,
                   count(*) AS n_postings,
                   'committed' AS status
            FROM tf, geom
            GROUP BY 1 ORDER BY 1""",
        "fts_org_scoped_search": _bm25_org_sql(
            [T_HOT, T_MID, T_RARE], "or", ORG),
        "fts_build_many_bm25": _bm25_many_sql(
            [T_HOT, T_MID], "or", "doc_id % 2 = 0"),
        "fts_compact_merge_bm25": f"""
            {_bm25_scored([T_HOT, T_MID], "and")}
            SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC)
                     AS rank,
                   doc_id, round(score, 4) AS score_r
            FROM scored
            ORDER BY score DESC, doc_id ASC
            LIMIT 10""",
        "fts_streaming_union_bm25": f"""
            {_bm25_scored([T_HOT, T_MID, T_RARE], "or")}
            SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC)
                     AS rank,
                   doc_id, round(score, 4) AS score_r
            FROM scored
            ORDER BY score DESC, doc_id ASC
            LIMIT 10""",
        "dp_decontaminate": """
            WITH base AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                                                    '[^a-z0-9]+'),
                                 t -> t <> '') AS tl
              FROM documents),
            kg AS (
              SELECT doc_id, md5(array_to_string(tl[i:i+12], ' ')) AS g
              FROM base, UNNEST(generate_series(1, len(tl) - 12)) AS t(i)
              WHERE len(tl) >= 13),
            bench AS (SELECT DISTINCT g FROM kg WHERE doc_id % 17 = 0),
            bad AS (SELECT DISTINCT doc_id FROM kg
                    WHERE doc_id % 17 <> 0
                      AND g IN (SELECT g FROM bench))
            SELECT doc_id FROM documents
            WHERE doc_id % 17 <> 0
              AND doc_id NOT IN (SELECT doc_id FROM bad)
            ORDER BY doc_id""",
        "fts_routed_delta_org_search": _bm25_org_sql(
            [T_MID2, T_HOT], "or", ORG),
        "fts_org_possible_shards": f"""
            WITH orgs AS (SELECT DISTINCT source AS org FROM documents),
            m(m) AS (VALUES (0), (1))
            SELECT org,
                   ((({_routing_sql_hash('org')})
                     % {ORG_SHARDS // ORG_K}) * {ORG_K} + m.m)::INT
                     AS shard
            FROM orgs, m ORDER BY org, shard""",
        "fts_multifield_bm25": _mf_bm25_sql(),
        "fts_doctype_search": _typed_bm25_sql([T_HOT, T_MID], "or"),
        "fts_search_join": _search_join_sql(),
        "fts_delete_search": _delete_search_sql(),
        "fts_highlight": _highlight_sql(),
        "fts_prefix_search": _prefix_search_sql(),
        "dp_exact_dedup": """
            WITH g AS (
              SELECT min(doc_id) AS doc_id, md5(text) AS content_hash,
                     count(*) AS group_size
              FROM documents GROUP BY md5(text))
            SELECT g.doc_id, g.content_hash, g.group_size, d.text, d.lang
            FROM g JOIN documents d USING (doc_id)
            ORDER BY g.doc_id""",
        "dp_minhash": f"""
            WITH {_DP_TOK}, {_MH_SIG},
            bands AS ({_BANDS})
            SELECT 'sig' AS leg, doc_id AS a, i::BIGINT AS b, v
            FROM ({_MH_UNPIVOT})
            UNION ALL
            SELECT DISTINCT 'pair' AS leg, l.doc_id AS a,
                   r.doc_id AS b, '' AS v
            FROM bands l JOIN bands r
              ON l.band_id = r.band_id AND l.band_hash = r.band_hash
             AND l.doc_id < r.doc_id
            ORDER BY leg, a, b""",
        "dp_jaccard_pairs": f"""
            WITH {_DP_TOK},
            sizes AS (SELECT doc_id, count(*) AS sz FROM dtok GROUP BY 1),
            inter AS (
              SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS i
              FROM dtok l JOIN dtok r
                ON l.term = r.term AND l.doc_id < r.doc_id
              GROUP BY 1, 2)
            SELECT a, b,
                   round(i::DOUBLE / (sa.sz + sb.sz - i), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.9
            ORDER BY a, b""",
        "dp_embedding_dups": f"""
            SELECT a.vec_id AS a, b.vec_id AS b,
                   round(round({_COS}, 6), 4) AS cos_r4
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE {_COS} >= 0.4
            ORDER BY a, b""",
        # each leg of the consolidated ANN gates keeps its original,
        # independently-derived oracle; the union only tags the method
        "dp_ann_scan_topk": f"""
            SELECT 'brute' AS method, vec_id, cos_r4
            FROM ({_COSINE_TOPK_SQL})
            UNION ALL
            SELECT 'ivf' AS method, vec_id, cos_r4 FROM ({_IVF_TOPK_SQL})
            UNION ALL
            SELECT 'lsh' AS method, vec_id, cos_r4
            FROM ({_lsh_topk_sql()})
            ORDER BY method, vec_id""",
        "dp_text_stats": f"""
            SELECT t.doc_id, t.n_tokens, t.n_chars, f.fingerprint,
                   e.n_pieces, e.n_bpe_est, s.simhash
            FROM ({_TOKEN_COUNT_SQL}) t
            JOIN ({_FINGERPRINT_SQL}) f USING (doc_id)
            JOIN ({_BPE_EST_SQL}) e USING (doc_id)
            JOIN ({_SIMHASH_SQL}) s USING (doc_id)
            ORDER BY t.doc_id""",
        "dp_pack_sequences": """
            WITH t AS (
              SELECT doc_id,
                     len(list_filter(string_split_regex(
                           lower(coalesce(text, '')), '[^a-z0-9]+'),
                                     x -> x <> ''))::BIGINT AS n_tokens
              FROM documents),
            c AS (
              SELECT doc_id, n_tokens,
                     COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS tok_start
              FROM t)
            SELECT doc_id, n_tokens,
                   tok_start::BIGINT AS tok_start,
                   (tok_start // 512)::BIGINT AS seq_first,
                   (greatest(tok_start, tok_start + n_tokens - 1)
                    // 512)::BIGINT AS seq_last
            FROM c ORDER BY doc_id""",
        "dp_lm_quality": _lm_quality_sql(),
        "dp_dup_spans": f"""
            SELECT s.*, t.clean_text, t.kept_tokens
            FROM ({_dup_spans_sql()}) s
            JOIN ({_strip_dup_spans_sql()}) t USING (doc_id)
            ORDER BY s.doc_id""",
        "dp_bpe_train_encode": _bpe_train_oracle_sql(),
        "dp_clean_corpus": _clean_corpus_sql(),
        "dp_quality_lang": f"""
            WITH {_QUALITY_TOKS},
            q AS (
              SELECT doc_id, n_tokens,
                     round(n_alnum::DOUBLE / greatest(n_tokens, 1), 6)
                       AS mean_tok_len,
                     round(punct::DOUBLE / greatest(n_chars, 1), 6)
                       AS punct_ratio,
                     round(n_stop::DOUBLE / greatest(n_tokens, 1), 6)
                       AS stop_ratio,
                     round(0.4 * least(n_tokens::DOUBLE, 50) / 50
                           + 0.3 * (1 - punct::DOUBLE
                                        / greatest(n_chars, 1))
                           + 0.3 * (1 - n_stop::DOUBLE
                                        / greatest(n_tokens, 1)),
                           6) AS quality
              FROM qt),
            ls AS (
              SELECT doc_id, {lang_counts}
              FROM documents),
            l AS (
              SELECT doc_id,
                     CASE WHEN greatest(s_en, s_de, s_es, s_fr, s_zh) = 0
                          THEN 'und'
                          WHEN s_en = greatest(s_en, s_de, s_es, s_fr, s_zh)
                          THEN 'en'
                          WHEN s_de = greatest(s_en, s_de, s_es, s_fr, s_zh)
                          THEN 'de'
                          WHEN s_es = greatest(s_en, s_de, s_es, s_fr, s_zh)
                          THEN 'es'
                          WHEN s_fr = greatest(s_en, s_de, s_es, s_fr, s_zh)
                          THEN 'fr'
                          ELSE 'zh' END AS pred_lang,
                     greatest(s_en, s_de, s_es, s_fr, s_zh)::BIGINT
                       AS marker_hits
              FROM ls)
            SELECT q.*, l.pred_lang, l.marker_hits,
                   r.n_distinct_tokens, r.dup_token_frac,
                   r.top2gram_frac, r.top3gram_frac
            FROM q JOIN l USING (doc_id)
            JOIN ({_REPETITION_SQL}) r USING (doc_id)
            ORDER BY q.doc_id""",
        "dp_winnow": _winnow_sql(),
        "dp_dup_groups": f"""
            WITH RECURSIVE {_DP_TOK},
            sizes AS (SELECT doc_id, count(*) AS sz FROM dtok GROUP BY 1),
            inter AS (
              SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS i
              FROM dtok l JOIN dtok r
                ON l.term = r.term AND l.doc_id < r.doc_id
              GROUP BY 1, 2),
            pairs AS (
              SELECT a, b FROM inter
              JOIN sizes sa ON sa.doc_id = a
              JOIN sizes sb ON sb.doc_id = b
              WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.9),
            edges AS (SELECT a AS x, b AS y FROM pairs
                      UNION SELECT b, a FROM pairs),
            comp(x, r) AS (
              SELECT x, x FROM (SELECT DISTINCT x FROM edges)
              UNION
              SELECT e.x, c.r FROM edges e JOIN comp c ON c.x = e.y)
            SELECT x AS doc_id, min(r) AS group_id
            FROM comp GROUP BY x ORDER BY doc_id""",
        # the materialized-index gate answers the SAME queries from the
        # build_ann parquet (partition-pruned) — semantics unchanged,
        # so the oracle legs are identical to the scan-path gate's
        "dp_ann_index_topk": f"""
            SELECT 'ivf' AS method, vec_id, cos_r4 FROM ({_IVF_TOPK_SQL})
            UNION ALL
            SELECT 'lsh' AS method, vec_id, cos_r4
            FROM ({_lsh_topk_sql()})
            ORDER BY method, vec_id""",
        "dp_contamination": """
            WITH base AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                                                    '[^a-z0-9]+'),
                                 t -> t <> '') AS tl
              FROM documents),
            kg AS (
              SELECT doc_id, md5(array_to_string(tl[i:i+12], ' ')) AS g
              FROM base, UNNEST(generate_series(1, len(tl) - 12)) AS t(i)
              WHERE len(tl) >= 13),
            kgd AS (SELECT DISTINCT doc_id, g FROM kg),
            bench AS (SELECT DISTINCT g FROM kgd WHERE doc_id % 17 = 0)
            SELECT doc_id, count(*)::BIGINT AS n_hits
            FROM kgd
            WHERE doc_id % 17 <> 0 AND g IN (SELECT g FROM bench)
            GROUP BY doc_id ORDER BY doc_id""",
        "dp_redact_pii": _redact_sql(),
        "dp_sample": f"""
            SELECT 'hash' AS method, doc_id, lang FROM documents
            WHERE substr(md5('42:' || doc_id::VARCHAR), 1, 15)
                  < '{_frac_hex(0.25)}'
            UNION ALL
            SELECT 'strat' AS method, doc_id, lang FROM documents
            WHERE substr(md5('42:' || doc_id::VARCHAR), 1, 15) <
                  CASE lang WHEN 'en' THEN '{_frac_hex(0.5)}'
                            WHEN 'zh' THEN '{_frac_hex(0.125)}' END
            ORDER BY method, doc_id""",
        "dp_mm_features": """
            SELECT doc_id,
                   CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                        ELSE 'video' END AS media_type,
                   octet_length(encode(text)) AS n_bytes,
                   md5(text) AS content_hash
            FROM documents ORDER BY doc_id""",
        "dp_mm_real_decode": """
            WITH g AS (
              SELECT doc_id,
                     16 + doc_id % 8 AS w, 12 + doc_id % 5 AS h
              FROM documents),
            px AS (
              SELECT g.doc_id, g.w, g.h, t.i,
                     (g.doc_id * 7 + t.i * 13) % 256 AS v
              FROM g, UNNEST(generate_series(0, g.w * g.h * 3 - 1))
                   AS t(i))
            SELECT doc_id, w::INT AS width, h::INT AS height,
                   round(avg(v), 6) AS mean_px_r,
                   round(avg(v) FILTER (i % 3 = 0), 6) AS mean_red_r,
                   max(v)::INT AS max_px
            FROM px GROUP BY doc_id, w, h ORDER BY doc_id""",
        "dp_mm_png_decode": """
            WITH g AS (
              SELECT doc_id,
                     16 + doc_id % 8 AS w, 12 + doc_id % 5 AS h
              FROM documents),
            px AS (
              SELECT g.doc_id, g.w, g.h, t.i,
                     (g.doc_id * 11 + t.i * 17) % 256 AS v
              FROM g, UNNEST(generate_series(0, g.w * g.h * 3 - 1))
                   AS t(i))
            SELECT doc_id, w::INT AS width, h::INT AS height,
                   round(avg(v), 6) AS mean_px_r,
                   round(avg(v) FILTER (i % 3 = 0), 6) AS mean_red_r,
                   max(v)::INT AS max_px
            FROM px GROUP BY doc_id, w, h ORDER BY doc_id""",
        "dp_mm_jpeg_decode": """
            WITH g AS (
              SELECT doc_id,
                     16 + (doc_id % 3) * 8 AS w,
                     16 + (doc_id % 2) * 8 AS h
              FROM documents),
            px AS (
              SELECT g.doc_id, g.w, g.h, t.i,
                     (g.doc_id * 29
                      + (((t.i // 3) // g.w) // 8) * 5
                      + (((t.i // 3) % g.w) // 8) * 3) % 256 AS v
              FROM g, UNNEST(generate_series(0, g.w * g.h * 3 - 1))
                   AS t(i))
            SELECT doc_id, w::INT AS width, h::INT AS height,
                   round(avg(v), 6) AS mean_px_r,
                   round(avg(v) FILTER (i % 3 = 0), 6) AS mean_red_r,
                   max(v)::INT AS max_px
            FROM px GROUP BY doc_id, w, h ORDER BY doc_id""",
        "dp_mm_frames": """
            WITH v AS (
              SELECT doc_id, octet_length(encode(text)) AS n_bytes,
                     octet_length(encode(text)) % 30 + 1 AS nf
              FROM documents WHERE doc_id % 3 = 2)
            SELECT doc_id,
                   unnest(generate_series(0, nf - 1, 10)) AS frame_idx,
                   n_bytes
            FROM v ORDER BY doc_id, frame_idx""",
    }
