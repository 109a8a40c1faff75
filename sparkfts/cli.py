"""CLI driver (the reference's driver/Driver.java:14-27 analog, argparse
instead of Hadoop ProgramDriver; UTC forced via session config).

Run via spark-submit:
    zip -r sparkfts.zip sparkfts datapipe
    spark-submit --py-files sparkfts.zip -m sparkfts.cli <cmd> ...
or plain python (local mode):
    python -m sparkfts.cli generate --n-convs 1000 --out /tmp/tr.parquet
    python -m sparkfts.cli build --input /tmp/tr.parquet --out /tmp/idx \
        --num-shards 16
    python -m sparkfts.cli query --index /tmp/idx --q "alpha index" --k 10
    python -m sparkfts.cli resume --input /tmp/tr.parquet --out /tmp/idx
"""
from __future__ import annotations

import argparse
import json
import sys


def _print_rows(out) -> None:
    """One JSON line per result row of a Spark or pandas DataFrame."""
    rows = (out.collect() if hasattr(out, "collect")
            else out.to_dict("records"))
    for row in rows:
        print(json.dumps(row.asDict() if hasattr(row, "asDict") else row,
                         default=str))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="sparkfts")
    p.add_argument("--master", default=None,
                   help="spark master (default local[$SPARK_GRAFT_CPUS])")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate",
                       help="deterministic synthetic transcripts "
                            "(GenerateData.java analog)")
    g.add_argument("--n-convs", type=int, default=1000)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--out", required=True)

    b = sub.add_parser("build", help="build the inverted index")
    b.add_argument("--input", required=True)
    b.add_argument("--out", required=True)
    b.add_argument("--text-col", default="text")
    b.add_argument("--docid-col", default=None)
    b.add_argument("--order-cols", default="conv_id,turn_idx")
    b.add_argument("--num-shards", type=int, default=16)
    b.add_argument("--partitions", type=int, default=None)
    b.add_argument("--routing-col", default=None,
                   help="tenant column: spread each org over "
                        "--shards-per-org shards (ES routing analog)")
    b.add_argument("--shards-per-org", type=int, default=2)
    b.add_argument("--fields", default=None,
                   help="comma list of text columns for a multi-field "
                        "index (per-field stats; query with --field)")

    r = sub.add_parser("resume", help="resume a partial build "
                                      "(IndexingPostProcessor analog; "
                                      "pass the SAME config flags as the "
                                      "original build)")
    for a in ("--input", "--out"):
        r.add_argument(a, required=True)
    r.add_argument("--text-col", default="text")
    r.add_argument("--docid-col", default=None)
    r.add_argument("--order-cols", default="conv_id,turn_idx")
    r.add_argument("--num-shards", type=int, default=16)
    r.add_argument("--partitions", type=int, default=None)
    r.add_argument("--routing-col", default=None)
    r.add_argument("--shards-per-org", type=int, default=2)
    r.add_argument("--fields", default=None)

    q = sub.add_parser("query", help="BM25 top-k search")
    q.add_argument("--index", required=True)
    q.add_argument("--q", required=True)
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--mode", choices=["or", "and"], default="or")
    q.add_argument("--method", choices=["wand", "exact"], default="wand")
    q.add_argument("--fetch", action="store_true",
                   help="join hits back to the doc store")
    q.add_argument("--org", default=None,
                   help="tenant-scoped search (routed indexes): prune "
                        "to the org's shards and rank only its docs")
    q.add_argument("--field", default=None,
                   help="field-scoped search (multi-field indexes)")
    q.add_argument("--phrase", action="store_true",
                   help="exact phrase (positions) instead of bag-of-"
                        "words BM25")
    q.add_argument("--slop", type=int, default=0,
                   help="match_phrase slop (with --phrase): allowed "
                        "positional deviation window; 0 = exact "
                        "adjacency, transposition costs 2")
    q.add_argument("--phrase-prefix", action="store_true",
                   help="match_phrase_prefix (ES autocomplete "
                        "analog): the last token is a prefix; "
                        "--max-expansions caps its dictionary "
                        "expansion")
    q.add_argument("--local", action="store_true",
                   help="serve driver-side with ZERO Spark jobs "
                        "(ms-latency path; base index must fit one "
                        "reader's bandwidth)")
    q.add_argument("--filter", default=None,
                   help="SQL predicate over docstore columns (ES "
                        "bool-filter analog): restrict results, BM25 "
                        "stats stay global (distributed path only)")
    q.add_argument("--highlight", action="store_true",
                   help="emit a highlighted fragment per hit (ES "
                        "plain-highlighter analog; <em> tags)")
    q.add_argument("--window", type=int, default=12,
                   help="highlight fragment size in tokens")
    q.add_argument("--after", default=None, metavar="SCORE,DOCID",
                   help="deep-pagination cursor (ES search_after "
                        "analog): results rank STRICTLY after it; "
                        "pass the last row of the previous page")
    q.add_argument("--fields", default=None, metavar="F[=BOOST],..",
                   help="multi_match (ES analog): score the query "
                        "against these fields at once, e.g. "
                        "'text=1.0,lang=2.0' (boost defaults 1.0); "
                        "combine with --type/--tie-breaker")
    q.add_argument("--type", dest="mm_type",
                   choices=["best_fields", "most_fields"],
                   default="best_fields",
                   help="multi_match combine: best_fields (dis_max + "
                        "tie_breaker, ES default) or most_fields "
                        "(boosted sum)")
    q.add_argument("--tie-breaker", type=float, default=0.0,
                   help="best_fields: weight of the non-best fields' "
                        "scores (0..1)")
    q.add_argument("--must-not", default=None, metavar="TEXT",
                   help="negative terms (ES bool.must_not analog): "
                        "exclude docs containing ANY of these "
                        "analyzed terms; survivor scores unchanged")
    q.add_argument("--boost", default=None, metavar="TERM=W,..",
                   help="query-time clause boosts (Lucene term boost "
                        "/ ES \"term\"^W): scale each listed term's "
                        "weight, e.g. 'window=2.0,batch=0.5'; terms "
                        "must appear in the query (or --must)")
    q.add_argument("--must", default=None, metavar="TEXT",
                   help="required terms (Lucene bool must+should "
                        "analog, --mode or only): results match ALL "
                        "of these analyzed terms; the query's terms "
                        "stay optional but still score, and "
                        "--min-should-match counts them only")
    q.add_argument("--min-should-match", type=int, default=None,
                   help="OR-mode match-count floor (the ES "
                        "minimum_should_match analog): keep docs "
                        "matching at least this many distinct terms")
    q.add_argument("--similarity", choices=["bm25", "classic"],
                   default="bm25",
                   help="scoring model: bm25 (engine default) or the "
                        "ES 1.x classic Lucene TF/IDF (sqrt-tf, "
                        "squared idf, coord/queryNorm, byte315 norms) "
                        "on the same index artifacts")
    q.add_argument("--kind",
                   choices=["match", "prefix", "wildcard", "fuzzy",
                            "regexp"],
                   default="match",
                   help="term-query kind: match (analyzed, default) "
                        "or a multi-term pattern — prefix, wildcard "
                        "(* and ?), fuzzy (Levenshtein), regexp "
                        "(full-term match)")
    q.add_argument("--fuzziness", type=int, default=2,
                   help="fuzzy edit-distance bound (default 2)")
    q.add_argument("--prefix-length", type=int, default=0,
                   help="fuzzy: exact-match prefix length (prunes the "
                        "dictionary scan to one range)")
    q.add_argument("--max-expansions", type=int, default=None,
                   help="multi-term expansion cap (top-df terms kept; "
                        "default 1024)")
    q.add_argument("--rewrite",
                   choices=["scoring_boolean", "constant_score"],
                   default="scoring_boolean",
                   help="multi-term rewrite: per-term-idf OR scoring "
                        "(default) or constant 1.0 per matching doc "
                        "(the ES 1.x prefix/wildcard default)")

    sg = sub.add_parser("suggest",
                        help="term suggester (ES did-you-mean): "
                             "dictionary terms within --max-edits of "
                             "each analyzed token, ranked distance "
                             "asc / df desc")
    sg.add_argument("--index", required=True)
    sg.add_argument("--q", required=True)
    sg.add_argument("--size", type=int, default=5)
    sg.add_argument("--max-edits", type=int, default=2)
    sg.add_argument("--prefix-length", type=int, default=1)
    sg.add_argument("--min-doc-freq", type=int, default=1)
    sg.add_argument("--suggest-mode", choices=["missing", "always"],
                    default="missing")
    sg.add_argument("--field", default=None)

    a = sub.add_parser("agg",
                       help="aggregations and filter-context queries "
                            "over the boolean matches (ES _count, "
                            "sort, terms/stats/percentiles/"
                            "cardinality/top_hits aggs)")
    a.add_argument("--index", required=True)
    a.add_argument("--q", required=True)
    a.add_argument("--what", required=True,
                   choices=["count", "sort", "counts", "stats",
                            "percentiles", "cardinality", "top-hits",
                            "histogram", "date-histogram", "range",
                            "missing", "nested"],
                   help="count = ES _count; sort = sort-by-field "
                        "search (no scoring); counts/stats/"
                        "percentiles/cardinality/top-hits/histogram/"
                        "date-histogram/range/missing = the ES "
                        "terms / stats / percentiles / cardinality / "
                        "top_hits / histogram / date_histogram / "
                        "range / missing aggregations")
    a.add_argument("--mode", choices=["or", "and"], default="and")
    a.add_argument("--by", default=None, metavar="EXPR",
                   help="bucket (or, for --what sort, the sort key): "
                        "a docstore column or SQL expression")
    a.add_argument("--metric", default=None, metavar="EXPR",
                   help="numeric docstore column/expression for "
                        "stats/percentiles")
    a.add_argument("--percentiles", default="25,50,75,95,99",
                   metavar="P,P,..", help="ES-style 0-100")
    a.add_argument("--k", type=int, default=20,
                   help="rows (sort) / buckets (aggs)")
    a.add_argument("--k-hits", type=int, default=3,
                   help="hits per bucket (--what top-hits)")
    a.add_argument("--asc", action="store_true",
                   help="ascending sort (--what sort)")
    a.add_argument("--approx", action="store_true",
                   help="sketch path: HLL++ cardinality / "
                        "percentile_approx quantiles")
    a.add_argument("--rsd", type=float, default=0.05,
                   help="HLL relative error (--approx cardinality)")
    a.add_argument("--accuracy", type=int, default=10000,
                   help="quantile-sketch accuracy (--approx "
                        "percentiles)")
    a.add_argument("--interval", default=None,
                   help="bucket width: a number (--what histogram) "
                        "or a calendar unit year/quarter/month/week/"
                        "day/hour/minute/second (date-histogram)")
    a.add_argument("--min-doc-count", type=int, default=0,
                   help="histogram bucket floor; 0 (ES default) "
                        "gap-fills empty buckets")
    a.add_argument("--sub-by", default=None, metavar="EXPR",
                   help="inner bucket for --what nested (ES "
                        "terms-under-terms); --k-hits caps inner "
                        "buckets")
    a.add_argument("--ranges", default=None, metavar="FROM:TO,..",
                   help="range-agg buckets over --metric, "
                        "from-inclusive/to-exclusive, '*' = open "
                        "(e.g. '*:200,150:400,400:*')")
    a.add_argument("--filter", default=None, metavar="SQL")
    a.add_argument("--org", default=None)
    a.add_argument("--field", default=None)

    c = sub.add_parser("compact",
                       help="fold base + streaming deltas into a fresh "
                            "monolithic index (nightly-rebuild analog)")
    c.add_argument("--base", required=True)
    c.add_argument("--out", required=True)
    c.add_argument("--num-shards", type=int, default=16)
    c.add_argument("--order-cols", default="conv_id,turn_idx")
    c.add_argument("--merge", action="store_true",
                   help="merge-based fold: remap docids and re-encode "
                        "the existing posting runs — no re-tokenization "
                        "(plain or routed generations; routed keeps "
                        "shards and tenant contiguity)")

    m = sub.add_parser("build-many",
                       help="build MANY indices off one input pass with "
                            "per-index shard counts (ShardConfig analog); "
                            "rows route by --index-col")
    m.add_argument("--input", required=True)
    m.add_argument("--out-base", required=True)
    m.add_argument("--index-col", default="index")
    m.add_argument("--text-col", default="text")
    m.add_argument("--order-cols", default="conv_id,turn_idx")
    m.add_argument("--shards", required=True,
                   help="per-index shard counts, e.g. 'logs=8,docs=32'")
    m.add_argument("--partitions", type=int, default=None)
    m.add_argument("--routing", default=None,
                   help="per-index tenant routing, e.g. "
                        "'logs=org:2,docs=tenant:4' (col:shards_per_org)")
    m.add_argument("--mf-fields", default=None,
                   help="per-index multi-field columns, e.g. "
                        "'docs=text|lang'")
    m.add_argument("--resume", action="store_true",
                   help="complete a killed run at (index, shard) "
                        "granularity (pass the SAME config flags)")

    ab = sub.add_parser("ann-build",
                        help="materialize an ANN index over an "
                             "embedding table (IVF cells / LSH buckets "
                             "as partition columns)")
    ab.add_argument("--input", required=True)
    ab.add_argument("--out", required=True)
    ab.add_argument("--kind", choices=["ivf", "lsh"], default="ivf")
    ab.add_argument("--n-centroids", type=int, default=256)
    ab.add_argument("--train-iters", type=int, default=0)
    ab.add_argument("--n-planes", type=int, default=16)
    ab.add_argument("--bucket-partitions", type=int, default=256)
    ab.add_argument("--id-col", default="vec_id")
    ab.add_argument("--vec-col", default="embedding")

    aq = sub.add_parser("ann-query",
                        help="partition-pruned ANN top-k (query vector "
                             "= the corpus vector with --query-id)")
    aq.add_argument("--index", required=True)
    aq.add_argument("--input", required=True,
                    help="embedding table holding --query-id's vector")
    aq.add_argument("--query-id", type=int, required=True)
    aq.add_argument("--k", type=int, default=10)
    aq.add_argument("--nprobe", type=int, default=3)
    aq.add_argument("--max-hamming", type=int, default=2)
    aq.add_argument("--local", action="store_true",
                    help="zero-Spark-job serving path")
    aq.add_argument("--id-col", default="vec_id")
    aq.add_argument("--vec-col", default="embedding")

    d = sub.add_parser("ingest-delta",
                       help="append one micro-batch delta index to a "
                            "base (the streaming foreachBatch step, "
                            "runnable by hand)")
    d.add_argument("--base", required=True)
    d.add_argument("--input", required=True)
    d.add_argument("--batch-id", type=int, required=True)
    d.add_argument("--text-col", default="text")
    d.add_argument("--order-cols", default="conv_id,turn_idx")
    d.add_argument("--num-shards", type=int, default=2)
    d.add_argument("--routing-col", default=None)
    d.add_argument("--shards-per-org", type=int, default=2)

    n = sub.add_parser("nightly-rotate",
                       help="compact + register (RUNNING->COMPLETE) + "
                            "atomic alias swap + fresh delta ledger")
    n.add_argument("--base", required=True)
    n.add_argument("--out", required=True)
    n.add_argument("--registry", required=True)
    n.add_argument("--alias", required=True)
    n.add_argument("--index-date", required=True)
    n.add_argument("--num-shards", type=int, default=16)
    n.add_argument("--order-cols", default="conv_id,turn_idx")
    n.add_argument("--merge", action="store_true",
                   help="use the no-retokenize merge fold for the "
                        "compaction step")

    dd = sub.add_parser("delete",
                        help="tombstone docs across base + deltas "
                             "(Lucene live-docs analog): they vanish "
                             "from every query surface now; stats stay "
                             "stale until the next compact")
    dd.add_argument("--base", required=True)
    dd.add_argument("--docids", required=True,
                    help="comma-separated docids")

    er = sub.add_parser("es-route",
                        help="bit-exact ES 1.x V1 routing strings "
                             "(shard-layout parity with a live "
                             "cluster built by the reference)")
    er.add_argument("--org", required=True)
    er.add_argument("--conv", default=None,
                    help="doc key; omit with --possible")
    er.add_argument("--num-shards", type=int, required=True)
    er.add_argument("--shards-per-org", type=int, required=True)
    er.add_argument("--possible", action="store_true",
                    help="print the org's full routing-string set "
                         "(getPossibleRoutingHashes analog)")

    args = p.parse_args(argv)

    if args.cmd == "generate":
        from .fixtures import write_transcripts_parquet
        n = write_transcripts_parquet(args.out, args.n_convs, args.seed)
        print(json.dumps({"rows": n, "out": args.out}))
        return 0

    if args.cmd == "es-route":
        from .es_routing import EsRoutingStrategyV1
        st = EsRoutingStrategyV1(args.num_shards, args.shards_per_org)
        if args.possible:
            print(json.dumps(
                {"org": args.org,
                 "routing": st.possible_routing_hashes(args.org)}))
        else:
            if not args.conv:
                p.error("es-route needs --conv (or --possible)")
            print(json.dumps(
                {"org": args.org, "conv": args.conv,
                 "routing": st.routing_hash(args.org, args.conv)}))
        return 0

    from .session import get_spark
    spark = get_spark(master=args.master, app=f"sparkfts-{args.cmd}")
    try:
        if args.cmd in ("build", "resume"):
            from .analyzer import TokenizerConfig
            from .build import BuildConfig, build_index
            df = spark.read.parquet(args.input)
            fields = None
            if getattr(args, "fields", None):
                fields = {c: TokenizerConfig()
                          for c in args.fields.split(",")}
            summary = build_index(
                spark, df, args.out, text_col=args.text_col,
                docid_col=args.docid_col,
                order_cols=(args.order_cols.split(",")
                            if not args.docid_col else None),
                cfg=BuildConfig(
                    num_shards=args.num_shards,
                    partitions=args.partitions,
                    routing_col=getattr(args, "routing_col", None),
                    shards_per_org=getattr(args, "shards_per_org", 2),
                    fields=fields),
                resume=(args.cmd == "resume"))
            print(json.dumps(summary))
        elif args.cmd == "query":
            from .query import FTSIndex
            idx = FTSIndex(spark, args.index)
            kw = {"org": args.org, "field": args.field}
            after = None
            if args.after:
                try:
                    s_, d_ = args.after.split(",")
                    after = (float(s_), int(d_))
                except ValueError:
                    p.error("--after expects SCORE,DOCID (the last "
                            "row of the previous page)")
            if args.similarity == "classic":
                if (args.phrase or args.highlight or args.filter
                        or args.org or args.field or after
                        or args.min_should_match or args.must_not
                        or args.must or args.boost
                        or args.kind != "match"):
                    p.error("--similarity classic covers plain or/and "
                            "term queries (compose other dimensions "
                            "via the library API)")
                from .classic import classic_topk, classic_topk_local
                out = (classic_topk_local(idx, args.q, args.k,
                                          args.mode)
                       if args.local
                       else classic_topk(idx, args.q, args.k,
                                         args.mode))
                _print_rows(out)
                return 0
            if after is not None:
                if args.phrase or args.highlight:
                    p.error("--after applies to scored term queries "
                            "(not --phrase/--highlight)")
                kw["after"] = after
            if args.min_should_match is not None:
                if args.phrase or args.highlight or args.fetch:
                    p.error("--min-should-match applies to plain "
                            "scored term queries")
                kw["min_should_match"] = args.min_should_match
            if args.filter:
                if args.local:
                    p.error("--filter runs on the distributed path "
                            "(predicate evaluation is a docstore scan)")
                kw["filter"] = args.filter
            if args.must_not:
                if args.phrase or args.highlight \
                        or args.kind != "match":
                    p.error("--must-not applies to plain scored term "
                            "queries (with or without --fetch)")
                kw["must_not"] = args.must_not
            if args.must:
                if args.phrase or args.highlight \
                        or args.kind != "match" or args.mode != "or":
                    p.error("--must applies to plain scored OR term "
                            "queries (the Lucene bool must+should "
                            "shape; a pure conjunction is --mode and)")
                kw["must"] = args.must
            if args.slop and not args.phrase:
                p.error("--slop applies to --phrase queries")
            if args.boost:
                if args.phrase or args.highlight \
                        or args.kind != "match":
                    p.error("--boost applies to plain scored term "
                            "queries (with or without --fetch)")
                boosts = {}
                for part in args.boost.split(","):
                    part = part.strip()
                    if not part:
                        continue
                    name, eq, w = part.partition("=")
                    if not eq:
                        p.error("--boost expects TERM=WEIGHT pairs")
                    boosts[name.strip()] = float(w)
                kw["boosts"] = boosts
            if args.fields:
                if args.phrase or args.highlight or args.fetch \
                        or args.filter or args.org or args.must_not \
                        or args.must or args.boost \
                        or args.kind != "match" \
                        or args.min_should_match is not None:
                    p.error("--fields (multi_match) composes with "
                            "--mode/--type/--tie-breaker/--after/"
                            "--local only")
                boosts = {}
                for part in args.fields.split(","):
                    part = part.strip()
                    if not part:
                        continue
                    name, _, w = part.partition("=")
                    boosts[name.strip()] = float(w) if w else 1.0
                mmkw = dict(fields=boosts, k=args.k,
                            qtype=args.mm_type,
                            tie_breaker=args.tie_breaker,
                            mode=args.mode)
                if after is not None:
                    mmkw["after"] = after
                out = (idx.multi_match_local(args.q, **mmkw)
                       if args.local
                       else idx.multi_match(args.q, **mmkw))
                _print_rows(out)
                return 0
            if args.kind != "match":
                if args.phrase or args.phrase_prefix \
                        or args.highlight or args.fetch \
                        or args.min_should_match is not None \
                        or args.mode != "or":
                    p.error("--kind prefix/wildcard/fuzzy/regexp is a scored "
                            "OR over the expanded terms: --phrase/"
                            "--highlight/--fetch/--min-should-match/"
                            "--mode and do not apply")
                from .multiterm import MAX_EXPANSIONS
                mt = dict(kind=args.kind, k=args.k,
                          method=args.method, rewrite=args.rewrite,
                          fuzziness=args.fuzziness,
                          prefix_length=args.prefix_length,
                          max_expansions=(args.max_expansions
                                          or MAX_EXPANSIONS),
                          org=args.org, field=args.field)
                if after is not None:
                    if args.rewrite == "constant_score":
                        p.error("--after applies to scored rewrites")
                    mt["after"] = after
                if args.local:
                    out = idx.pattern_topk_local(args.q, **mt)
                else:
                    out = idx.pattern_topk(args.q, filter=args.filter,
                                           **mt)
                _print_rows(out)
                return 0
            if args.highlight:
                if args.fetch:
                    p.error("--highlight replaces --fetch (it returns "
                            "the fragment instead of the full doc)")
                mode = "phrase" if args.phrase else args.mode
                out = idx.highlight(args.q, args.k, mode,
                                    args.method, window=args.window,
                                    local=args.local, **kw)
            elif args.phrase_prefix:
                if args.mode != "or" or args.method != "wand" \
                        or args.phrase or args.fetch or args.filter \
                        or args.org or args.must_not or args.must \
                        or args.boost:
                    p.error("--phrase-prefix composes with --field/"
                            "--max-expansions/--local only")
                from .multiterm import MAX_EXPANSIONS
                me = args.max_expansions or MAX_EXPANSIONS
                out = (idx.phrase_prefix_topk_local(
                           args.q, args.k, field=args.field,
                           max_expansions=me)
                       if args.local
                       else idx.phrase_prefix_topk(
                           args.q, args.k, field=args.field,
                           max_expansions=me))
                _print_rows(out)
                return 0
            elif args.phrase:
                if args.mode != "or" or args.method != "wand":
                    p.error("--phrase is positional-exact matching: "
                            "--mode/--method do not apply")
                if args.slop:
                    kw["slop"] = args.slop
                hits = (idx.phrase_topk_local(args.q, args.k, **kw)
                        if args.local
                        else idx.phrase_topk(args.q, args.k, **kw))
                if args.fetch:
                    hp = (hits if args.local else hits.toPandas())
                    if hp.empty:
                        out = hp
                    else:
                        docs = idx.fetch_docs_local(hp["docid"].tolist())
                        out = (hp.merge(docs.drop(columns=["shard"]),
                                        on="docid")
                               .sort_values(["score", "docid"],
                                            ascending=[False, True])
                               .reset_index(drop=True))
                else:
                    out = hits
            elif args.fetch:
                out = (idx.search_local(args.q, args.k, args.mode,
                                        args.method, **kw)
                       if args.local
                       else idx.search(args.q, args.k, args.mode,
                                       args.method, **kw))
            elif args.local:
                out = idx.topk_local(args.q, args.k, args.mode,
                                     args.method, **kw)
            else:
                out = idx.topk(args.q, args.k, args.mode, args.method,
                               **kw)
            _print_rows(out)
        elif args.cmd == "suggest":
            from .query import FTSIndex
            idx = FTSIndex(spark, args.index)
            out = idx.suggest(args.q, size=args.size,
                              max_edits=args.max_edits,
                              prefix_length=args.prefix_length,
                              min_doc_freq=args.min_doc_freq,
                              field=args.field,
                              suggest_mode=args.suggest_mode)
            _print_rows(out)
        elif args.cmd == "agg":
            from .query import FTSIndex
            idx = FTSIndex(spark, args.index)
            kw = dict(mode=args.mode, field=args.field, org=args.org,
                      filter=args.filter)
            needs_by = {"sort", "counts", "cardinality", "top-hits"}
            if args.what in needs_by and not args.by:
                p.error(f"--what {args.what} requires --by")
            if args.what in ("stats", "percentiles") \
                    and not args.metric:
                p.error(f"--what {args.what} requires --metric")
            if args.what in ("histogram", "date-histogram"):
                if not args.metric or not args.interval:
                    p.error(f"--what {args.what} requires --metric "
                            "(the bucketed column/expression) and "
                            "--interval")
            if args.what == "range" and not (args.metric
                                             and args.ranges):
                p.error("--what range requires --metric and --ranges")
            if args.what == "missing" and not args.metric:
                p.error("--what missing requires --metric")
            if args.what == "nested" and not (args.by
                                              and args.sub_by):
                p.error("--what nested requires --by and --sub-by")
            if args.what == "count":
                print(json.dumps({"count": idx.count(args.q, **kw)}))
                return 0
            if args.what == "cardinality":
                n = idx.facet_cardinality(
                    args.q, by=args.by, exact=not args.approx,
                    rsd=args.rsd, **kw)
                print(json.dumps({"cardinality": n,
                                  "approx": bool(args.approx)}))
                return 0
            if args.what == "sort":
                out = idx.sorted_search(args.q, by=args.by, k=args.k,
                                        descending=not args.asc, **kw)
            elif args.what == "counts":
                out = idx.facet_counts(args.q, by=args.by, k=args.k,
                                       **kw)
            elif args.what == "stats":
                out = idx.facet_metrics(args.q, by=args.by or "'_all'",
                                        metric=args.metric, k=args.k,
                                        **kw)
            elif args.what == "percentiles":
                ps = tuple(float(x) for x in
                           args.percentiles.split(",") if x)
                out = idx.facet_percentiles(
                    args.q, metric=args.metric, percentiles=ps,
                    by=args.by, k=args.k, exact=not args.approx,
                    accuracy=args.accuracy, **kw)
            elif args.what == "nested":
                out = idx.facet_nested(args.q, by=args.by,
                                       sub=args.sub_by, k=args.k,
                                       k_sub=args.k_hits, **kw)
            elif args.what == "missing":
                n = idx.facet_missing(args.q, by=args.metric, **kw)
                print(json.dumps({"missing": n}))
                return 0
            elif args.what == "range":
                rng = []
                for part in args.ranges.split(","):
                    part = part.strip()
                    if not part:
                        continue
                    fr, sep, to = part.partition(":")
                    if not sep:
                        p.error("--ranges expects FROM:TO pairs "
                                "('*' = open)")
                    rng.append((None if fr.strip() == "*"
                                else float(fr),
                                None if to.strip() == "*"
                                else float(to)))
                out = idx.facet_range(args.q, on=args.metric,
                                      ranges=rng, **kw)
            elif args.what == "histogram":
                out = idx.facet_histogram(
                    args.q, on=args.metric,
                    interval=float(args.interval),
                    min_doc_count=args.min_doc_count, **kw)
            elif args.what == "date-histogram":
                out = idx.facet_date_histogram(
                    args.q, on=args.metric, interval=args.interval,
                    min_doc_count=args.min_doc_count, **kw)
            else:   # top-hits
                out = idx.facet_top_hits(args.q, by=args.by,
                                         k_buckets=args.k,
                                         k_hits=args.k_hits, **kw)
            _print_rows(out)
        elif args.cmd == "delete":
            from .streaming import CombinedIndex
            ci = CombinedIndex(spark, args.base)
            ids = [int(x) for x in args.docids.split(",") if x]
            n = ci.delete_docs(ids)
            print(json.dumps({"deleted": n,
                              "total_tombstones":
                                  int(ci.deleted_docids().size)}))
        elif args.cmd == "compact":
            from .build import BuildConfig
            from .streaming import compact, compact_merge
            cfg = BuildConfig(num_shards=args.num_shards)
            if args.merge:
                summary = compact_merge(spark, args.base, args.out,
                                        cfg=cfg)
            else:
                summary = compact(spark, args.base, args.out,
                                  order_cols=args.order_cols.split(","),
                                  cfg=cfg)
            print(json.dumps(summary))
        elif args.cmd == "build-many":
            from .analyzer import TokenizerConfig
            from .build import BuildConfig, build_many
            routing = {}
            for part in (args.routing or "").split(","):
                if part:
                    name, spec = part.split("=")
                    col, k = spec.split(":")
                    routing[name] = (col, int(k))
            mf = {}
            for part in (args.mf_fields or "").split(","):
                if part:
                    name, cols = part.split("=")
                    mf[name] = {c: TokenizerConfig()
                                for c in cols.split("|")}
            configs = {}
            for part in args.shards.split(","):
                name, ns = part.split("=")
                rc, spo = routing.get(name, (None, 2))
                configs[name] = BuildConfig(
                    num_shards=int(ns), partitions=args.partitions,
                    routing_col=rc, shards_per_org=spo,
                    fields=mf.get(name))
            summaries = build_many(
                spark, spark.read.parquet(args.input), args.out_base,
                configs, index_col=args.index_col,
                text_col=args.text_col,
                order_cols=args.order_cols.split(","),
                resume=args.resume)
            print(json.dumps(summaries))
        elif args.cmd == "ann-build":
            from datapipe.similarity import build_ann
            meta = build_ann(
                spark, spark.read.parquet(args.input), args.out,
                kind=args.kind, n_centroids=args.n_centroids,
                train_iters=args.train_iters, n_planes=args.n_planes,
                bucket_partitions=args.bucket_partitions,
                id_col=args.id_col, vec_col=args.vec_col)
            print(json.dumps({"kind": meta["kind"], "dim": meta["dim"],
                              "out": args.out}))
        elif args.cmd == "ann-query":
            from datapipe.similarity import AnnIndex
            idx = AnnIndex(spark, args.index)
            if args.local:
                # the --local contract is zero Spark jobs for the whole
                # command: the query vector comes from a driver-side
                # pyarrow point read and the handle's Spark DataFrame is
                # lazy (never materialized on this path)
                import pyarrow.dataset as ds
                t = (ds.dataset(args.input, format="parquet")
                     .to_table(filter=ds.field(args.id_col)
                               == args.query_id,
                               columns=[args.vec_col]))
                if t.num_rows == 0:
                    print(json.dumps({"error": "query id not found"}))
                    return 1
                qv = [float(x)
                      for x in t.column(args.vec_col)[0].as_py()]
                out = idx.topk_local(qv, k=args.k, nprobe=args.nprobe,
                                     max_hamming=args.max_hamming)
            else:
                from pyspark.sql import functions as F
                qrow = (spark.read.parquet(args.input)
                        .where(F.col(args.id_col) == args.query_id)
                        .select(args.vec_col).first())
                if qrow is None:
                    print(json.dumps({"error": "query id not found"}))
                    return 1
                qv = [float(x) for x in qrow[0]]
                out = idx.topk(qv, k=args.k, nprobe=args.nprobe,
                               max_hamming=args.max_hamming)
            _print_rows(out)
        elif args.cmd == "ingest-delta":
            from .build import BuildConfig
            from .streaming import make_batch_indexer
            cfg = BuildConfig(num_shards=args.num_shards,
                              routing_col=args.routing_col,
                              shards_per_org=args.shards_per_org)
            make_batch_indexer(args.base, text_col=args.text_col,
                               order_cols=args.order_cols.split(","),
                               cfg=cfg)(spark.read.parquet(args.input),
                                        batch_id=args.batch_id)
            from .streaming import read_delta_log
            mine = [e for e in read_delta_log(args.base)
                    if e["batch_id"] == args.batch_id
                    and e.get("stream", "manual") == "manual"]
            print(json.dumps(mine[-1] if mine
                             else {"error": "batch not committed"}))
        elif args.cmd == "nightly-rotate":
            from .build import BuildConfig
            from .rotation import RotationRegistry
            from .streaming import nightly_rotate
            out = nightly_rotate(
                spark, RotationRegistry(args.registry), args.alias,
                args.base, args.out, index_date=args.index_date,
                order_cols=args.order_cols.split(","),
                cfg=BuildConfig(num_shards=args.num_shards),
                merge=args.merge)
            print(json.dumps({"vid": out["vid"], "root": out["root"],
                              **out["summary"]}))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
