"""spark-submit job: streaming ingest + compaction for the incremental
index (the continuous-crawl counterpart of jobs/build_index.py).

    # catch-up ingest: process the backlog of crawl drops, append
    # doc-disjoint partial-block deltas, then stop (availableNow trigger)
    spark-submit --py-files mecab_ko_lucene_analyzer_spark.zip \
        jobs/ingest.py ingest --input /path/crawl_drops \
        --index /path/idx --checkpoint /path/ckpt --lang ko

    # continuous micro-batch stream (long-running)
    ... jobs/ingest.py ingest --continuous ...

    # periodic maintenance: fold all deltas into a full WAND-servable
    # block-max index (byte-identical to a from-scratch batch build)
    ... jobs/ingest.py compact --index /path/idx [--output /path/out]

Ingest appends cheap doc-disjoint deltas (no block rebuild on the hot
path); compact runs the batch build's stats + blocks stage over their
union — run it on whatever cadence serving freshness requires.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("action", choices=["ingest", "compact", "delete"])
    ap.add_argument("--index", required=True, help="incremental index base path")
    ap.add_argument("--input", help="crawl-drop parquet directory (ingest)")
    ap.add_argument("--checkpoint", help="stream checkpoint dir (ingest)")
    ap.add_argument("--lang", default="ko")
    ap.add_argument(
        "--continuous",
        action="store_true",
        help="keep the micro-batch stream running (default: availableNow catch-up)",
    )
    ap.add_argument("--output", help="compacted index path (compact; default <index>/compacted)")
    ap.add_argument("--hot-min-df", type=int, default=1000)
    ap.add_argument(
        "--max-files-per-trigger",
        type=int,
        default=None,
        help="bound each micro-batch's file count (right-sizes catch-up batches at scale)",
    )
    ap.add_argument(
        "--latest-only",
        action="store_true",
        help="compact: keep only the latest arrival per url (ES upsert-by-_id semantics)",
    )
    ap.add_argument(
        "--canonicalize-urls",
        action="store_true",
        help="ingest/delete: canonicalize urls so re-crawls and "
        "tombstones under tracking-param/port/fragment variants share "
        "one upsert key",
    )
    ap.add_argument(
        "--urls",
        nargs="+",
        help="delete: urls to tombstone (folded in at the next "
        "compact; a later re-crawl of the url resurrects it)",
    )
    ap.add_argument(
        "--url-file",
        help="delete: file with one url per line (byte-safe for "
        "non-ASCII urls on non-UTF-8 launcher locales)",
    )
    args = ap.parse_args()

    from mecab_ko_lucene_analyzer_spark.plans import get_spark
    from mecab_ko_lucene_analyzer_spark.streaming.incremental import (
        compact_incremental,
        incremental_index_stream,
        mark_deleted,
    )

    spark = get_spark(app_name=f"ingest-{args.action}")
    if args.action == "delete":
        urls = list(args.urls or [])
        if args.url_file:
            urls += [
                line.strip()
                for line in Path(args.url_file)
                .read_text(encoding="utf-8")
                .splitlines()
                if line.strip()
            ]
        if not urls:
            ap.error("delete requires --urls and/or --url-file")
        horizon = mark_deleted(
            spark, args.index, urls, canonicalize=args.canonicalize_urls
        )
        print(
            json.dumps(
                {
                    "status": "deleted",
                    "index": args.index,
                    "n_urls": len(urls),
                    "below_doc_id": horizon,
                }
            )
        )
    elif args.action == "ingest":
        if not args.input or not args.checkpoint:
            ap.error("--input and --checkpoint required for ingest")
        q = incremental_index_stream(
            spark,
            args.input,
            args.index,
            args.checkpoint,
            lang_filter=args.lang or None,
            trigger_once=not args.continuous,
            max_files_per_trigger=args.max_files_per_trigger,
            canonicalize=args.canonicalize_urls,
        )
        q.awaitTermination()
        print(json.dumps({"status": "ingested", "index": args.index}))
    else:
        out = compact_incremental(
            spark,
            args.index,
            out_path=args.output,
            hot_min_df=args.hot_min_df,
            latest_only=args.latest_only,
        )
        print(json.dumps({"status": "compacted", "output": out}))
    spark.stop()


if __name__ == "__main__":
    main()
