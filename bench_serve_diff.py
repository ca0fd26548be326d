"""Serving exactness snapshot: the replies of a seeded search stream,
written so that two checkouts can be compared with one ``cmp``.

It builds the ``serve`` workload's index for ``--seed`` (the fused
index of ``perfbench``'s ``serve``, from the same seeded crawl, at its
full size), opens a ``SearchEngine`` and warms it as ``serve`` does,
then sends ``--queries`` searches drawn from ``query_stream`` seeded
with ``--query-seed`` and writes one JSON line per search: the text and
its top-10 ``[doc_id, score.hex(), url]``. After them come 300 seeded
replies of each disjunctive-bag API, one line each tagged with the API
name: ``search(conjunctive=False)`` over the same stream's texts,
``search_prefix`` (a drawn noun's first syllable), ``search_fuzzy``
(the noun), ``search_regexp`` (first syllable + ``.*``) and
``search_wildcard`` (first syllable + ``*``). Then, over the same 300
bag texts, one line each of ``count`` with ``conjunctive=True`` and
``False``, of ``wand_topk`` over ``load_query_cursors`` of the text's
analyzed terms bound through the engine's block cache, and of one
``search_bulk(conjunctive=False)`` over all of them (a line per query,
in text order). Last, over the same bag texts, come one line each of
``search_msm`` with ``min_should_match`` 2 and then 1, and a
``search_after`` walk of three pages of 10 (one line a page, each
page's cursor the last hit before it) for the first 100 texts.
``score.hex()`` keeps every bit of the float, so equal files mean
bit-identical replies, and a file of a checkout that writes fewer of
these groups is a byte prefix of one that writes more.

    python bench_serve_diff.py --seed 952 --queries 3000 --query-seed 811 --out new.jsonl
    (in the other checkout, same arguments) --out old.jsonl
    cmp old.jsonl new.jsonl
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import tempfile
from pathlib import Path
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=952, help="crawl seed of the index")
    ap.add_argument("--queries", type=int, default=3000)
    ap.add_argument("--query-seed", type=int, default=811)
    ap.add_argument("--out", required=True, help="JSONL path to write")
    args = ap.parse_args()

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    from mecab_ko_lucene_analyzer_spark.analysis.dictionary import AnalyzerOption
    from mecab_ko_lucene_analyzer_spark.analysis.mini_dict import corpus_nouns
    from mecab_ko_lucene_analyzer_spark.engine import SearchEngine
    from mecab_ko_lucene_analyzer_spark.index import build_and_write
    from mecab_ko_lucene_analyzer_spark.plans import get_spark
    from mecab_ko_lucene_analyzer_spark.query.wand import load_query_cursors, wand_topk
    from perfbench.workloads import (
        HOT_NOUNS,
        OPEN_QUERY,
        SERVE_PAGES,
        SERVE_WARM_QUERIES,
        _seed_base,
        _size,
        query_stream,
        write_crawl,
    )

    # the serve workload's crawl (input stream 2) and sizes for this seed
    run = SimpleNamespace(seed=args.seed, toy=False)
    work = Path(tempfile.mkdtemp(prefix="serve-diff-"))
    spark = get_spark(app_name="bench-serve-diff")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        crawl = write_crawl(
            work / "crawl", _seed_base(run, 2), _size(run, SERVE_PAGES), tables=False
        )
        base = str(work / "index")
        build_and_write(
            spark.read.parquet(str(crawl.corpus)), base, lang_filter="ko", with_blocks=True
        )
        engine = SearchEngine(spark, base, AnalyzerOption())
        nouns = list(corpus_nouns())
        engine.search(OPEN_QUERY, k=10)
        engine.search(" ".join(HOT_NOUNS + tuple(nouns)), k=10, conjunctive=False)
        warm = query_stream(random.Random(f"warm-{args.seed}"), nouns)
        for _ in range(_size(run, SERVE_WARM_QUERIES)):
            engine.search(next(warm)[1], k=10)

        def line(hits, **tags) -> str:
            tags["hits"] = [[h["doc_id"], float(h["score"]).hex(), h["url"]] for h in hits]
            return json.dumps(tags, ensure_ascii=False) + "\n"

        def ranked(hits, **tags) -> str:
            tags["hits"] = [[int(d), float(s).hex()] for d, s in hits]
            return json.dumps(tags, ensure_ascii=False) + "\n"

        stream = query_stream(random.Random(args.query_seed), nouns)
        with open(args.out, "w") as f:
            for _ in range(args.queries):
                text = next(stream)[1]
                f.write(line(engine.search(text, k=10), text=text))
            bags = query_stream(random.Random(f"bag-{args.query_seed}"), nouns)
            bag_texts = [next(bags)[1] for _ in range(300)]
            texts = iter(bag_texts)
            rng = random.Random(f"noun-{args.query_seed}")
            apis = {
                "search": lambda: (next(texts), {"conjunctive": False}),
                "search_prefix": lambda: (rng.choice(nouns)[0], {}),
                "search_fuzzy": lambda: (rng.choice(nouns), {}),
                "search_regexp": lambda: (rng.choice(nouns)[0] + ".*", {}),
                "search_wildcard": lambda: (rng.choice(nouns)[0] + "*", {}),
            }
            for api, draw in apis.items():
                for _ in range(300):
                    arg, kw = draw()
                    f.write(line(getattr(engine, api)(arg, k=10, **kw), api=api, text=arg))
            for conjunctive in (True, False):
                for text in bag_texts:
                    n = engine.count(text, conjunctive=conjunctive)
                    f.write(json.dumps({"api": "count", "conjunctive": conjunctive,
                                        "text": text, "count": n}, ensure_ascii=False) + "\n")
            for text in bag_texts:
                terms = [t["term"] for t in engine.analyze(text)]
                cursors = load_query_cursors(
                    engine.blocks, engine.term_stats, engine.n_docs, engine.avgdl, terms,
                    cache=engine.block_cache,
                )
                f.write(ranked(wand_topk(cursors, k=10), api="wand_topk", text=text))
            bulk: dict[int, list] = {}
            for r in engine.search_bulk(bag_texts, k=10, conjunctive=False).collect():
                bulk.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
            for i, text in enumerate(bag_texts):
                hits = [(d, s) for _, d, s in sorted(bulk.get(i, []))]
                f.write(ranked(hits, api="search_bulk", text=text))
            for m in (2, 1):
                for text in bag_texts:
                    hits = engine.search_msm(text, m, k=10)
                    f.write(line(hits, api="search_msm", min_should_match=m, text=text))
            for text in bag_texts[:100]:
                after = None
                for page in range(3):
                    hits = engine.search_after(text, after=after, k=10)
                    f.write(line(hits, api="search_after", page=page, text=text))
                    if hits:
                        after = (hits[-1]["score"], hits[-1]["doc_id"])
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
