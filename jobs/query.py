"""spark-submit job: query a built index (analyze → AST — a disjunctive
bag is a ``Sum`` of its terms → the AST evaluator on the driver, or the
distributed scorer for hot terms → top-k with URLs).

    spark-submit jobs/query.py --index /path/index --query "검색 엔진" -k 10
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    group = ap.add_mutually_exclusive_group(required=True)
    group.add_argument("--query")
    group.add_argument(
        "--query-file",
        help="file whose UTF-8 contents are the query text — byte-safe "
        "on clusters whose launcher locale is not UTF-8 (a non-UTF-8 "
        "JVM locale lossily decodes Korean argv to '?' before Python "
        "ever runs; see the startup guard)",
    )
    group.add_argument(
        "--ast-json",
        help="structured query as the Q6 JSON rendering (engine."
        "search_ast) — the phrase/boolean-tree surface, e.g. "
        '\'{"phrase": ["검색", "엔진"], "slop": 0}\'',
    )
    group.add_argument(
        "--bulk",
        help="file with one query text per line — the whole batch is "
        "scored in ONE Spark job (engine.search_bulk)",
    )
    group.add_argument(
        "--more-like-this",
        type=int,
        default=None,
        metavar="DOC_ID",
        help="retrieve docs similar to this doc_id: its tf*idf-top "
        "--mlt-terms terms as a disjunctive BM25 query, seed excluded "
        "(engine.search_more_like_this)",
    )
    group.add_argument(
        "--related",
        metavar="TERM",
        help="print the top-k corpus-mined related terms (document "
        "PMI) for TERM instead of searching (engine.related_terms)",
    )
    group.add_argument(
        "--prefix-query",
        metavar="PREFIX",
        help="prefix retrieval (Lucene PrefixQuery): expand PREFIX "
        "against the vocabulary (df-desc top-terms rewrite, capped at "
        "--max-expansions) and score disjunctively "
        "(engine.search_prefix)",
    )
    group.add_argument(
        "--fuzzy-query",
        metavar="TERM",
        help="fuzzy retrieval (Lucene FuzzyQuery): vocabulary terms "
        "within --max-edits Levenshtein edits (exact term included), "
        "scored disjunctively (engine.search_fuzzy)",
    )
    group.add_argument(
        "--significant",
        metavar="QUERY",
        help="print the top-k significant terms (ES significant_terms, "
        "JLH score) of QUERY's match set instead of searching "
        "(engine.significant_terms)",
    )
    group.add_argument(
        "--regexp-query",
        metavar="PATTERN",
        help="regexp retrieval (Lucene RegexpQuery): full-string "
        "pattern match over the vocabulary (df-desc top-terms "
        "rewrite, capped at --max-expansions), scored disjunctively "
        "(engine.search_regexp)",
    )
    group.add_argument(
        "--wildcard-query",
        metavar="PATTERN",
        help="wildcard retrieval (Lucene WildcardQuery): */? glob "
        "over the vocabulary (translated to the portable regex core, "
        "df-desc top-terms rewrite, capped at --max-expansions), "
        "scored disjunctively (engine.search_wildcard)",
    )
    group.add_argument(
        "--suggest-phrase",
        metavar="QUERY",
        help="did-you-mean over a whole query (ES phrase suggester): "
        "per-position best correction within --max-edits "
        "(engine.suggest_phrase); QUERY is whitespace-split",
    )
    group.add_argument(
        "--suggest",
        metavar="TERM",
        help="did-you-mean: print the top-k vocabulary terms within "
        "--max-edits Levenshtein edits of TERM, ranked dist asc / df "
        "desc (engine.suggest)",
    )
    ap.add_argument(
        "--collapse-hosts",
        type=int,
        default=0,
        metavar="INNER_HITS",
        help="ES field collapsing on the url host: keep the top "
        "INNER_HITS docs per host, then the global top-k "
        "(engine.search_collapsed)",
    )
    ap.add_argument(
        "--aggs",
        default="",
        metavar="JSON",
        help="ES aggregations body (JSON object) evaluated over the "
        "query's match set via engine.aggregate — e.g. "
        '\'{"hosts": {"terms": {"field": "host"}}}\'',
    )
    ap.add_argument(
        "--out",
        help="parquet output path for --bulk results (default: print "
        "JSON lines)",
    )
    ap.add_argument("-k", type=int, default=10)
    ap.add_argument(
        "--offset", type=int, default=0, help="scroll paging offset (Q8)"
    )
    ap.add_argument("--disjunctive", action="store_true")
    ap.add_argument(
        "--exclude",
        help="must_not text: analyzed through the same chain "
        "(synonyms included) and excluded from the match set "
        "(ES bool must/must_not; conjunctive queries only)",
    )
    ap.add_argument(
        "--anchor-weight",
        type=float,
        default=None,
        help="score with BM25F over body + incoming anchor text at "
        "this anchor weight (requires a --with-anchors build; "
        "distributed scorer, engine.search_fielded)",
    )
    ap.add_argument(
        "--title-weight",
        type=float,
        default=0.0,
        help="with --anchor-weight (or alone, as BM25F): also blend "
        "the title field at this weight (a --with-titles build)",
    )
    ap.add_argument(
        "--boost-weight",
        type=float,
        default=None,
        help="blend bm25 + w*boost with the index's doc_boosts quality "
        "prior (a --host-ranks build, or --boosts); distributed "
        "scorer, engine.search_boosted",
    )
    ap.add_argument(
        "--boosts",
        default="",
        help="override (doc_id, boost) table for --boost-weight",
    )
    ap.add_argument(
        "--min-should-match",
        type=int,
        default=0,
        help="OR-query precision knob: only docs matching at least "
        "this many distinct query terms (a token's synonyms count as "
        "one) score (engine.search_msm; also pages --search-after)",
    )
    ap.add_argument(
        "--mlt-terms",
        type=int,
        default=10,
        help="seed-term count for --more-like-this",
    )
    ap.add_argument(
        "--max-edits",
        type=int,
        default=2,
        help="Levenshtein radius for --suggest / --fuzzy-query",
    )
    ap.add_argument(
        "--search-after",
        metavar="SCORE,DOC_ID",
        help="keyset deep paging (ES search_after): return the page "
        "strictly after this cursor — the previous page's last hit's "
        "score and doc_id — without fetching the pages before it "
        "(engine.search_after; disjunctive scoring, "
        "--min-should-match applies)",
    )
    ap.add_argument(
        "--max-expansions",
        type=int,
        default=50,
        help="vocabulary expansion budget for --prefix-query / "
        "--fuzzy-query (Lucene top-terms rewrite cap)",
    )
    ap.add_argument(
        "--facet-hosts",
        type=int,
        default=0,
        metavar="K",
        help="with --query: also print the top-K url-host buckets over "
        "the FULL matched doc set (ES terms aggregation, "
        "engine.facets)",
    )
    ap.add_argument("--explain", action="store_true")
    ap.add_argument(
        "--max-driver-df",
        type=int,
        default=1_000_000,
        help="df above which a term's blocks are scored executor-side "
        "instead of collected to the driver (query/router.py)",
    )
    args = ap.parse_args()

    if args.query_file:
        args.query = Path(args.query_file).read_text(encoding="utf-8").strip()

    # spark-submit launches the driver THROUGH the JVM: with a
    # non-UTF-8 launcher locale (LANG unset → POSIX) the JVM decodes
    # argv at startup and lossily replaces every Korean codepoint with
    # '?'. The corruption is unrecoverable here, so fail loudly with
    # the fix instead of silently analyzing to zero terms and
    # returning [] (verified against a live spark-submit run).
    for text in (args.query, args.related, args.suggest, args.ast_json,
                 args.significant):
        if text and ("�" in text or ("?" in text and not text.strip("? "))):
            raise SystemExit(
                "query text reached the driver as replacement characters "
                "— the JVM launcher decoded argv with a non-UTF-8 locale. "
                "Export a UTF-8 locale for spark-submit (e.g. "
                "LANG=C.UTF-8), or pass the query bytes via --query-file "
                "/ --bulk instead of argv."
            )

    from mecab_ko_lucene_analyzer_spark.analysis.dictionary import AnalyzerOption
    from mecab_ko_lucene_analyzer_spark.engine import SearchEngine
    from mecab_ko_lucene_analyzer_spark.plans import get_spark

    spark = get_spark(app_name="query")
    engine = SearchEngine(
        spark, args.index, AnalyzerOption(), max_driver_df=args.max_driver_df
    )
    if args.bulk:
        with open(args.bulk, encoding="utf-8") as f:
            texts = [line.strip() for line in f if line.strip()]
        result = engine.search_bulk(
            texts,
            k=args.k,
            conjunctive=not args.disjunctive,
            offset=args.offset,
        )
        if args.out:
            result.write.mode("overwrite").parquet(args.out)
            print(json.dumps({"queries": len(texts), "out": args.out}))
        else:
            for r in result.orderBy("query_id", "rank").collect():
                print(
                    json.dumps(
                        {
                            "query_id": r["query_id"],
                            "rank": r["rank"],
                            "doc_id": r["doc_id"],
                            "score": r["score"],
                        },
                        ensure_ascii=False,
                    )
                )
    elif args.more_like_this is not None:
        hits = engine.search_more_like_this(
            args.more_like_this,
            m_terms=args.mlt_terms,
            k=args.k,
            offset=args.offset,
        )
        print(json.dumps(hits, ensure_ascii=False, indent=2))
    elif args.related:
        print(
            json.dumps(
                engine.related_terms(args.related, k=args.k),
                ensure_ascii=False,
                indent=2,
            )
        )
    elif args.suggest:
        print(
            json.dumps(
                engine.suggest(
                    args.suggest, k=args.k, max_edits=args.max_edits
                ),
                ensure_ascii=False,
                indent=2,
            )
        )
    elif args.prefix_query:
        hits = engine.search_prefix(
            args.prefix_query,
            k=args.k,
            offset=args.offset,
            max_expansions=args.max_expansions,
        )
        print(json.dumps(hits, ensure_ascii=False, indent=2))
    elif args.fuzzy_query:
        hits = engine.search_fuzzy(
            args.fuzzy_query,
            k=args.k,
            offset=args.offset,
            max_edits=args.max_edits,
            max_expansions=args.max_expansions,
        )
        print(json.dumps(hits, ensure_ascii=False, indent=2))
    elif args.significant:
        print(
            json.dumps(
                engine.significant_terms(args.significant, k=args.k),
                ensure_ascii=False,
                indent=2,
            )
        )
    elif args.regexp_query:
        hits = engine.search_regexp(
            args.regexp_query,
            k=args.k,
            offset=args.offset,
            max_expansions=args.max_expansions,
        )
        print(json.dumps(hits, ensure_ascii=False, indent=2))
    elif args.wildcard_query:
        hits = engine.search_wildcard(
            args.wildcard_query,
            k=args.k,
            offset=args.offset,
            max_expansions=args.max_expansions,
        )
        print(json.dumps(hits, ensure_ascii=False, indent=2))
    elif args.suggest_phrase:
        print(
            json.dumps(
                engine.suggest_phrase(
                    args.suggest_phrase.split(), max_edits=args.max_edits
                ),
                ensure_ascii=False,
                indent=2,
            )
        )
    elif args.ast_json:
        if args.explain:
            from mecab_ko_lucene_analyzer_spark.query.ast import (
                from_json,
                to_json,
            )

            print(to_json(from_json(args.ast_json)))
        hits = engine.search_ast(args.ast_json, k=args.k, offset=args.offset)
        print(json.dumps(hits, ensure_ascii=False, indent=2))
    elif args.search_after is not None and args.query:
        score_s, doc_s = args.search_after.split(",", 1)
        hits = engine.search_after(
            args.query,
            after=(float(score_s), int(doc_s)),
            k=args.k,
            min_should_match=args.min_should_match,
        )
        print(json.dumps(hits, ensure_ascii=False, indent=2))
    else:
        if args.explain:
            print(engine.explain_query(args.query))
        if args.aggs:
            print(
                json.dumps(
                    engine.aggregate(args.query, json.loads(args.aggs)),
                    ensure_ascii=False,
                    indent=2,
                    default=str,
                )
            )
        if args.collapse_hosts:
            hits = engine.search_collapsed(
                args.query, k=args.k, inner_hits=args.collapse_hosts
            )
        elif args.anchor_weight is not None or args.title_weight:
            hits = engine.search_fielded(
                args.query,
                k=args.k,
                offset=args.offset,
                anchor_weight=args.anchor_weight or 0.0,
                title_weight=args.title_weight,
            )
        elif args.min_should_match > 1:
            hits = engine.search_msm(
                args.query,
                min_should_match=args.min_should_match,
                k=args.k,
                offset=args.offset,
            )
        elif args.boost_weight is not None:
            if args.boosts:
                engine.load_boosts(args.boosts)
            hits = engine.search_boosted(
                args.query,
                k=args.k,
                offset=args.offset,
                w_boost=args.boost_weight,
            )
        else:
            hits = engine.search(
                args.query, k=args.k, offset=args.offset,
                conjunctive=not args.disjunctive,
                exclude=args.exclude,
            )
        print(json.dumps(hits, ensure_ascii=False, indent=2))
        if args.facet_hosts:
            print(
                json.dumps(
                    {
                        "facet_hosts": engine.facets(
                            args.query, k=args.facet_hosts
                        )
                    },
                    ensure_ascii=False,
                    indent=2,
                )
            )
    spark.stop()


if __name__ == "__main__":
    main()
