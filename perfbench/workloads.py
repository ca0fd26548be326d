"""The two seeded workloads. Each drives the program through its public
API from one client thread, checks the outputs outside the timed
region, and returns its end-to-end metrics plus, for a traced run, a
callable that computes the per-layer metrics once the session has
stopped (the Spark event log is complete only then).

* ``serve``   — closed-loop ``SearchEngine.search`` over a prebuilt
  index, 80 % head / 20 % tail queries (layers: engine, query; index
  through its set-up build).
* ``offline`` — every offline job over one seeded crawl, one pass at a
  time: the fused batch build, the streaming ingest and its compaction,
  opening the compacted index, and the eight headline contract
  operators over the crawl's text (layers: analysis, index, streaming,
  functions).

``serve`` sets up several times, measures half of its searches after
each but the first, and reports the median set-up as ``setup_s``;
``offline`` measures one cold pass per JVM, as an offline job pays its
start-up on every run, so its set-up is the session start alone. Every
operation's inputs derive from ``--seed`` only.
"""

from __future__ import annotations

import json
import math
import numbers
import os
import random
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from .harness import TRACED, Run
from .spans import (
    dir_bytes,
    host_steal_s,
    interquartile_mean,
    loop_windows,
    median,
    percentile,
    read_rchar,
)

#: serve set-up repetitions per run; ``setup_s`` is their median, and
#: each but the first is followed by its share of the measured searches
SETUPS = 3

#: a serve window's tail percentile: with 20 % tail queries in every
#: window it lies in the tail class, near the median of its latencies
TAIL_Q = 0.9

#: crawl-drop files per offline pass, one per streaming micro-batch
DROPS = 2
FILES_PER_TRIGGER = 1

#: query text whose hits are checked after each engine open
OPEN_QUERY = "검색 엔진"

#: the corpus generator's hot nouns (``sources/webpages.py``), fixed
#: here so the query mix stays put if the generator changes
HOT_NOUNS = (
    "검색", "엔진", "문서", "색인", "질의", "한국어", "데이터", "처리",
    "삼성전자", "검색엔진", "형태소분석", "데이터처리", "웹페이지",
)

BATCH_OPS = (
    "postings_tf",
    "term_stats",
    "bm25_topk",
    "dedup_exact",
    "ngram_jaccard_pairs",
    "ann_cosine_topk",
    "minhash_near_dup",
    "analyze_ko_tokens",
)

# workload sizes: (full, toy)
OFFLINE_PAGES = (300, 100)
SERVE_PAGES = (2000, 500)
SERVE_WARM_QUERIES = (100, 20)
SERVE_CHECKED = (3, 2)  # per set-up
JVM_WARM_QUERIES = (600, 50)
PROBE_TEXTS = (2000, 200)


def _size(run: Run, sizes: tuple[int, int]) -> int:
    return sizes[1] if run.toy else sizes[0]


def _seed_base(run: Run, stream: int) -> int:
    """Disjoint doc-index ranges per seed and per input stream."""
    return run.seed * 10_000_000 + stream * 1_000_000


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------


@dataclass
class Crawl:
    corpus: Path  # webpages parquet dir read by the batch build
    drops: Path  # the same rows as crawl-drop files for the stream
    tables: Path  # contract ``documents`` (the crawl's text) + ``embeddings``
    n_ko: int
    text_bytes: int
    n_tokens: int  # driver-side Korean-analysis token count of ``documents``


def write_crawl(path: Path, start: int, n: int, tables: bool = True) -> Crawl:
    """``n`` webpages rows (the engine's input shape) with text from
    ``generate_text(start + i)``, written once as the batch input and
    once split into crawl-drop files; with ``tables``, also the contract
    ``documents`` table over the same text and a seeded ``embeddings``
    table of ``n`` unit vectors."""
    from mecab_ko_lucene_analyzer_spark.analysis.tokenizer import index_token_stream
    from mecab_ko_lucene_analyzer_spark.sources.webpages import generate_text

    ids = np.arange(start, start + n, dtype=np.int64)
    texts = [generate_text(int(i)) for i in ids]
    langs = ["ko" if i % 20 != 19 else "en" for i in ids.tolist()]
    pages = pa.table(
        {
            "url": [f"https://example-{i:08d}.kr/page" for i in ids.tolist()],
            "warc_ts": pa.array(
                np.datetime64("2025-01-01T00:00:00", "us")
                + ids.astype("timedelta64[s]"),
                pa.timestamp("us", tz="UTC"),
            ),
            "html": [b"<html><body>" + t.encode() + b"</body></html>" for t in texts],
            "text": texts,
            "lang": langs,
        }
    )
    crawl = Crawl(path / "corpus", path / "drops", path / "tables", langs.count("ko"),
                  sum(len(t.encode()) for t in texts), 0)
    for d in (crawl.corpus, crawl.drops, crawl.tables):
        d.mkdir(parents=True)
    bounds = np.linspace(0, n, DROPS + 1).astype(int)
    for j in range(DROPS):
        part = pages.slice(bounds[j], bounds[j + 1] - bounds[j])
        pq.write_table(part, crawl.corpus / f"part-{j:03d}.parquet")
        pq.write_table(part, crawl.drops / f"drop-{j:03d}.parquet")
    if not tables:
        return crawl

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "text": texts,
                "lang": ["ko"] * n,
                "source": [f"src{i % 7}" for i in range(n)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        crawl.tables / "documents.parquet",
    )
    rng = np.random.default_rng(start)
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 5, n), pa.int32()),
            }
        ),
        crawl.tables / "embeddings.parquet",
    )
    crawl.n_tokens = sum(len(index_token_stream(t, "standard", 3)[0]) for t in texts)
    return crawl


def analysis_probe(run: Run) -> float:
    """Single-core docs/s of ``index_token_stream`` over seeded texts in
    the driver process (run first, before any other analysis warms the
    process's chunk cache)."""
    from mecab_ko_lucene_analyzer_spark.analysis.tokenizer import index_token_stream
    from mecab_ko_lucene_analyzer_spark.sources.webpages import generate_text

    start = _seed_base(run, 9)
    texts = [generate_text(start + i) for i in range(_size(run, PROBE_TEXTS))]
    t0 = time.perf_counter()
    for t in texts:
        index_token_stream(t)
    return len(texts) / (time.perf_counter() - t0)


def _footer_rows(path: Path) -> int:
    return pads.dataset(path, format="parquet").count_rows()


def _column_dict(path: Path, key: str, value: str) -> dict:
    t = pq.read_table(path, columns=[key, value])
    return dict(zip(t.column(key).to_pylist(), t.column(value).to_pylist()))


def _n_docs(index_dir: Path) -> int:
    return int(pq.read_table(index_dir / "corpus_stats").column("n_docs")[0].as_py())


def _manifest_stages(index_dir: Path) -> dict:
    return json.loads((index_dir / "manifest.json").read_text())["stages"]


def _build_layers(index_dir: Path, build_s: float, text_bytes: int) -> dict:
    """Stage times and counters the fused build records in its manifest,
    plus on-disk block bytes per input text byte."""
    stages = _manifest_stages(index_dir)
    staged = sum(stages[s]["seconds"] for s in ("partials", "stats", "blocks"))
    return {
        "partials_s": stages["partials"]["seconds"],
        "stats_s": stages["stats"]["seconds"],
        "blocks_s": stages["blocks"]["seconds"],
        "unattributed_s": build_s - staged,
        "partials_rows": _footer_rows(index_dir / "partials"),
        "blocks_rows": stages["blocks"]["counters"]["blocks_written"],
        "blocks_bytes_per_text_byte": dir_bytes(index_dir / "blocks") / text_bytes,
    }


def _check_build(run: Run, built: Path, n_ko: int) -> dict:
    """Build checks; returns the build's term -> df."""
    term_df = _column_dict(built / "term_stats", "term", "df")
    block_sums = (
        pq.read_table(built / "blocks", columns=["term", "n_docs"])
        .group_by("term")
        .aggregate([("n_docs", "sum")])
    )
    block_df = dict(
        zip(block_sums.column("term").to_pylist(), block_sums.column("n_docs_sum").to_pylist())
    )
    run.check(_n_docs(built) == n_ko, "build: corpus_stats.n_docs == ko docs")
    run.check(block_df == term_df, "build: sum of block n_docs per term == df")
    return term_df


def _check_open(run: Run, hits: list, what: str) -> None:
    scores = [h["score"] for h in hits]
    run.check(
        len(hits) == 10 and scores == sorted(scores, reverse=True),
        f"{what}: first search returns 10 ranked hits",
    )


# ---------------------------------------------------------------------------
# offline: build + streaming ingest + compaction + contract operators
# ---------------------------------------------------------------------------


def offline_pass(run: Run, crawl: Crawl, tag: str, prefix: str, order: list[str]) -> dict | None:
    """One pass of every offline job over ``crawl``: the fused batch
    build, the streaming ingest of the crawl drops, compaction, opening
    the compacted index through its first search, then each contract
    operator collected to the driver (under ``"rows"`` as
    ``name -> (columns, rows)``). Returns the job times, the rows and the
    layer counters, or None when a job raised."""
    import __spark_entry__ as entry
    from mecab_ko_lucene_analyzer_spark.engine import SearchEngine
    from mecab_ko_lucene_analyzer_spark.index import build_and_write
    from mecab_ko_lucene_analyzer_spark.streaming.incremental import (
        compact_incremental,
        incremental_index_stream,
    )

    spark = run.spark
    queries = entry.queries()
    out = run.work / f"pass-{tag}"
    built, inc = out / "built", out / "inc"
    r: dict = {"ops": {}, "rows": {}}
    try:
        with run.timed(f"{prefix}index/build") as t:
            build_and_write(
                spark.read.parquet(str(crawl.corpus)), str(built),
                lang_filter="ko", with_blocks=True,
            )
        r["build_s"] = t["s"]
        with run.timed(f"{prefix}ingest/stream") as t:
            q = incremental_index_stream(
                spark, str(crawl.drops), str(inc), str(out / "checkpoint"),
                max_files_per_trigger=FILES_PER_TRIGGER,
            )
            q.awaitTermination()
        r["ingest_s"] = t["s"]
        r["progress"] = [p for p in q.recentProgress if p.get("numInputRows")]
        with run.timed(f"{prefix}ingest/compact") as t:
            compacted = Path(compact_incremental(spark, str(inc)))
        r["compact_s"] = t["s"]
        with run.timed(f"{prefix}ingest/open") as t:
            hits = SearchEngine.from_incremental(spark, str(inc)).search(OPEN_QUERY, k=10)
        r["open_s"] = t["s"]
        for name in order:
            with run.timed(f"{prefix}batch/{name}") as t:
                sdf = queries[name](spark, str(crawl.tables))
                r["rows"][name] = (sdf.columns, [row.asDict() for row in sdf.collect()])
            r["ops"][name] = t["s"]
    except Exception as exc:  # noqa: BLE001 — counted as a failed operation
        run.fail(exc)
        shutil.rmtree(out, ignore_errors=True)
        return None
    r["wall_s"] = r["build_s"] + r["ingest_s"] + r["compact_s"] + r["open_s"] + sum(
        r["ops"].values()
    )

    # output checks (untimed)
    term_df = _check_build(run, built, crawl.n_ko)
    run.check(_n_docs(compacted) == crawl.n_ko, "ingest: compacted n_docs == ko docs")
    run.check(
        _column_dict(compacted / "term_stats", "term", "df") == term_df,
        "ingest: compacted term_stats == batch-build term_stats",
    )
    _check_open(run, hits, "ingest")

    if prefix == TRACED:
        r.update(_build_layers(built, r["build_s"], crawl.text_bytes))
        r["delta_bytes"] = dir_bytes(inc / "postings_delta")
        r["compact_bytes"] = dir_bytes(compacted)
    shutil.rmtree(out, ignore_errors=True)
    return r


def _normalize(v):
    # type-tagged like the contract driver's value hash (36 != 36.0);
    # the same normalisation as jobs/selfcheck.py
    if isinstance(v, bool):
        return v
    if isinstance(v, numbers.Integral):
        return ("i", int(v))
    if isinstance(v, numbers.Real):
        v = float(v)
        return "nan" if math.isnan(v) else ("f", round(v, 6))
    return v


def _value_set(rows, cols):
    return sorted((tuple(_normalize(r[c]) for c in cols) for r in rows), key=repr)


def _check_operators(run: Run, crawl: Crawl, collected: dict) -> None:
    """Each operator's rows against its ``oracle_sql()`` DuckDB result
    (rows, columns, type-tagged order-insensitive values);
    ``analyze_ko_tokens`` against the driver-side token count."""
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{crawl.tables / t}.parquet'")
    for name, (columns, rows) in collected.items():
        if name == "analyze_ko_tokens":
            run.check(len(rows) == crawl.n_tokens, f"batch: {name} rows == token count")
            continue
        ddf = con.sql(oracles[name]).df()
        cols = sorted(columns)
        run.check(
            cols == sorted(ddf.columns)
            and len(rows) == len(ddf)
            and _value_set(rows, cols) == _value_set(ddf.to_dict("records"), cols),
            f"batch: {name} == oracle",
        )
    con.close()


def run_offline(run: Run):
    n = _size(run, OFFLINE_PAGES)
    crawl = write_crawl(run.work / "crawl", _seed_base(run, 0), n)
    order = list(BATCH_OPS)
    random.Random(run.seed).shuffle(order)

    # One cold pass per JVM, as each offline job (a spark-submit) pays
    # JIT, codegen and Python-worker start-up; it outlasts run.seconds
    # at the declared size.
    run.start_spark(event_log=False)
    measured = offline_pass(run, crawl, "m", "", order)
    if measured is None:
        raise RuntimeError("offline pass failed")
    _check_operators(run, crawl, measured.pop("rows"))
    wall = measured["wall_s"]
    e2e = {
        "setup_s": run.session_s,
        "op_p50_ms": wall * 1e3,
        "op_tail_ms": wall * 1e3,
        "throughput_per_s": n / wall,
    }
    if not run.trace:
        return e2e, None

    # the traced pass runs cold too, in a new JVM with the event log on
    run.stop()
    run.start_spark(event_log=True)
    r = offline_pass(run, crawl, "t", TRACED, order)
    if r is None:
        raise RuntimeError("traced offline pass failed")

    def layers() -> dict[str, float]:
        build = run.spark_totals(f"{TRACED}index/build")
        compact = run.spark_totals(f"{TRACED}ingest/compact")
        progress = r["progress"]
        out = {f"index.{k}": v for k, v in build.items()}
        out.update({f"index.{k}": r[k] for k in (
            "partials_s", "stats_s", "blocks_s", "unattributed_s",
            "partials_rows", "blocks_rows", "blocks_bytes_per_text_byte",
        )})
        out.update(
            {
                "index.compact_s": r["compact_s"],
                "index.compact_jobs": compact["jobs"],
                "index.compact_shuffle_write_bytes": compact["shuffle_write_bytes"],
                "index.compact_bytes_written": r["compact_bytes"],
                "streaming.batch_ms": median(
                    [p["durationMs"]["triggerExecution"] for p in progress]
                ),
                "streaming.add_batch_ms": median([p["durationMs"]["addBatch"] for p in progress]),
                "streaming.batches": len(progress),
                "streaming.docs_per_s": n / r["ingest_s"],
                "streaming.delta_bytes_per_text_byte": r["delta_bytes"] / crawl.text_bytes,
                "engine.open_ms": r["open_s"] * 1e3,
                "trace.overhead_ms": (r["wall_s"] - wall) * 1e3,
            }
        )
        for name in BATCH_OPS:
            spark_op = run.spark_totals(f"{TRACED}batch/{name}")
            out[f"functions.{name}_s"] = r["ops"][name]
            out[f"functions.{name}_shuffle_bytes"] = spark_op["shuffle_write_bytes"]
            out[f"functions.{name}_spill_bytes"] = spark_op["spill_bytes"]
            out[f"functions.{name}_tasks"] = spark_op["tasks"]
        return out

    return e2e, layers


# ---------------------------------------------------------------------------
# serve: closed-loop search, one client
# ---------------------------------------------------------------------------


#: one cycle of the query mix: head queries by term count, 0 = tail
#: (80 % head with 1-3 terms in equal shares up to rounding, 20 % tail);
#: a fixed cycle keeps the class shares exact in every run
QUERY_CYCLE = (1, 2, 3, 1, 0, 2, 3, 1, 2, 0)


def query_stream(rng: random.Random, nouns: list[str]):
    """Endless (class, text) query mix: head queries of 1-3 terms, each
    a hot noun or a Zipf draw over the dictionary nouns, and tail
    queries of one Zipf noun plus a number in 1..9999, whose df and
    blocks are mostly not cached yet."""
    cum, acc = [], 0.0
    for r in range(len(nouns)):
        acc += 1.0 / (r + 1) ** 1.1
        cum.append(acc)

    def zipf() -> str:
        return rng.choices(nouns, cum_weights=cum)[0]

    while True:
        for n_terms in QUERY_CYCLE:
            if n_terms:
                terms = [
                    HOT_NOUNS[rng.randrange(len(HOT_NOUNS))] if rng.random() < 0.5 else zipf()
                    for _ in range(n_terms)
                ]
                yield "head", " ".join(terms)
            else:
                yield "tail", f"{zipf()} {rng.randint(1, 9999)}"


def _search_loop(run: Run, stream, phase: str, seconds: float, search) -> list[tuple]:
    """Closed loop: send the next query when the previous reply is in,
    for ``seconds``. Returns (class, text, ms, hits) per reply."""
    out = []
    with run.phase(phase):
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end:
            cls, text = next(stream)
            run.attempted += 1
            t0 = time.perf_counter()
            try:
                hits = search(len(out), text)
            except Exception as exc:  # noqa: BLE001 — counted
                run.fail(exc)
                continue
            out.append((cls, text, (time.perf_counter() - t0) * 1e3, hits))
    if not out:
        raise RuntimeError("no search completed")
    return out


def _check_serve(run: Run, engine, replies: list[tuple], n_checked: int) -> None:
    """Top-k of sampled replies against the distributed scorer on the
    same AST: same doc ids in the same order, scores within 1e-9."""
    from mecab_ko_lucene_analyzer_spark.query.ast import ast_terms
    from mecab_ko_lucene_analyzer_spark.query.router import distributed_ast_topk, term_dfs

    rng = random.Random(f"check-{run.seed}")
    for i in sorted(rng.sample(range(len(replies)), min(n_checked, len(replies)))):
        _cls, text, _ms, hits = replies[i]
        ast = engine.build_query(text)
        dfs = term_dfs(engine.term_stats, sorted(ast_terms(ast)))
        ref = distributed_ast_topk(ast, engine.blocks, dfs, engine.n_docs, engine.avgdl, 10)
        got = [(h["doc_id"], h["score"]) for h in hits]
        run.check(
            len(got) == len(ref)
            and all(d == rd and abs(s - rs) <= 1e-9 for (d, s), (rd, rs) in zip(got, ref)),
            f"serve: engine.search({text!r}) == distributed_ast_topk",
        )


def run_serve(run: Run):
    from mecab_ko_lucene_analyzer_spark.analysis.dictionary import AnalyzerOption
    from mecab_ko_lucene_analyzer_spark.analysis.mini_dict import corpus_nouns
    from mecab_ko_lucene_analyzer_spark.engine import SearchEngine
    from mecab_ko_lucene_analyzer_spark.index import build_and_write

    spark = run.start_spark(event_log=run.trace)
    crawl = write_crawl(run.work / "crawl", _seed_base(run, 2), _size(run, SERVE_PAGES),
                        tables=False)
    # one popularity ranking for every seed, so that seeds change the
    # draws and not which nouns dominate the mix
    nouns = list(corpus_nouns())

    def set_up(i: int):
        """The fused build (the one ``SearchEngine.build`` and
        ``jobs/build_index.py`` run), engine open, and the searcher
        warm-up: one disjunctive search over the head vocabulary fills
        the df cache and ``BlockCache`` for every head term, so head
        queries hit and tail numbers miss; then warm-up queries of
        another seed."""
        base = run.work / f"index-{i}"
        with run.timed(f"setup{i}/serve/build") as b:
            build_and_write(
                spark.read.parquet(str(crawl.corpus)), str(base),
                lang_filter="ko", with_blocks=True,
            )
        with run.timed(f"setup{i}/serve/open") as o:
            engine = SearchEngine(spark, str(base), AnalyzerOption())
            hits = engine.search(OPEN_QUERY, k=10)
        warm = query_stream(random.Random(f"warm-{run.seed}"), nouns)
        with run.phase(f"setup{i}/serve/warm"):
            engine.search(" ".join(HOT_NOUNS + tuple(nouns)), k=10, conjunctive=False)
            for _ in range(_size(run, SERVE_WARM_QUERIES)):
                engine.search(next(warm)[1], k=10)
        _check_build(run, base, crawl.n_ko)
        _check_open(run, hits, "serve")
        return engine, base, b["s"], o["s"]

    # Every set-up but the first is followed by its share of the measured
    # searches, so that a run's searches are spread over its wall time
    # and not all taken while the shared host happens to be slow or
    # fast. The first is followed by searches of another seed that warm
    # the JVM's search path (JIT of the df lookup's query planning): in
    # a new JVM the tail p50 falls from ~150 ms to its ~80 ms plateau
    # over the first ~150 tail queries. Like the cache warm-up of a
    # set-up, they are neither timed nor counted, and they leave no
    # cache behind, as the next set-up opens a new engine.
    stream = query_stream(random.Random(run.seed), nouns)
    jvm_warm = query_stream(random.Random(f"jvm-warm-{run.seed}"), nouns)
    setups, replies, windows, engine = [], [], [], None
    for i in range(SETUPS):
        engine = None  # the previous engine and its index are dropped
        shutil.rmtree(run.work / f"index-{i - 1}", ignore_errors=True)
        t0 = time.perf_counter()
        engine, base, build_s, open_s = set_up(i)
        setups.append(time.perf_counter() - t0)
        if i == 0:
            with run.phase("serve/jvm-warm"):
                for _ in range(_size(run, JVM_WARM_QUERIES)):
                    engine.search(next(jvm_warm)[1], k=10)
            continue
        t0, stolen = time.perf_counter(), host_steal_s()
        block = _search_loop(run, stream, "serve/search", run.seconds / (SETUPS - 1),
                             lambda _i, text: engine.search(text, k=10))
        # the share of the machine's CPU time the host gave to other
        # guests during the block, for reading a slow one
        stolen = (host_steal_s() - stolen) / (os.cpu_count() * (time.perf_counter() - t0))
        _check_serve(run, engine, block, _size(run, SERVE_CHECKED))
        lat = [r[2] for r in block]
        print(f"# serve block {i}: {len(lat)} searches, p50 {median(lat):.2f} ms, "
              f"p90 {percentile(lat, TAIL_Q):.1f} ms, {len(lat) / (sum(lat) / 1e3):.1f}/s, "
              f"host steal {stolen:.1%}", flush=True)
        replies += block
        windows += loop_windows(lat)
    e2e = {
        "setup_s": run.session_s + median(setups),
        "op_p50_ms": median([r[2] for r in replies]),
        "op_tail_ms": interquartile_mean([percentile(w, TAIL_Q) for w in windows]),
        "throughput_per_s": interquartile_mean([len(w) / (sum(w) / 1e3) for w in windows]),
    }
    if not run.trace:
        return e2e, None

    traced = _traced_search(run, engine, stream)

    def layers() -> dict[str, float]:
        out = _serve_layers(run, replies, traced)
        build = run.spark_totals(f"setup{SETUPS - 1}/serve/build")
        out.update({f"index.{k}": v for k, v in build.items()})
        out.update({f"index.{k}": v for k, v in
                    _build_layers(base, build_s, crawl.text_bytes).items()})
        out["engine.open_ms"] = open_s * 1e3
        return out

    return e2e, layers


def _traced_search(run: Run, engine, stream) -> list[tuple]:
    """The same closed loop with spans around each layer's public entry
    point; spans of one search share its request id."""
    from mecab_ko_lucene_analyzer_spark import engine as engine_mod
    from mecab_ko_lucene_analyzer_spark.engine import SearchEngine
    from mecab_ko_lucene_analyzer_spark.query import router
    from mecab_ko_lucene_analyzer_spark.query.wand import (
        BlockCache,
        DirectBlockReader,
        DirectDocMapReader,
    )

    tr = run.tracer
    phase = f"{TRACED}serve/search"

    def jobs() -> dict:
        return {"jobs": run.jobs_in_group(phase)}

    def io() -> dict:
        return {"bytes": read_rchar()}

    def n_terms(args, kwargs) -> dict:
        return {"terms": len(set(args[1]))}  # args[0] is the instance

    tr.wrap(SearchEngine, "analyze", "analysis")
    tr.wrap(router, "term_dfs", "df", counters=jobs)
    tr.wrap(engine_mod, "execute_ast", "score")
    tr.wrap(BlockCache, "get", "fetch", extra=n_terms)
    tr.wrap(DirectBlockReader, "fetch", "miss_fetch", counters=io, extra=n_terms)
    tr.wrap(DirectDocMapReader, "fetch", "resolve", counters=io)

    def search(i: int, text: str):
        tr.request = i
        try:
            return tr.span("search", engine.search, text, k=10, counters=jobs)
        finally:
            tr.request = None

    try:
        return _search_loop(run, stream, phase, run.seconds, search)
    finally:
        tr.unwrap_all()


def _serve_layers(run: Run, untraced: list[tuple], traced: list[tuple]) -> dict:
    tr = run.tracer
    self_ms = tr.self_ms()
    named: dict[str, list[int]] = {}
    for i, sp in enumerate(tr.spans):
        named.setdefault(sp.name, []).append(i)

    def p(name: str, q: float, use_self: bool = False) -> float:
        vals = [self_ms[i] if use_self else tr.spans[i].ms for i in named.get(name, [])]
        return percentile(vals, q) if vals else 0.0

    def attr(name: str, key: str) -> list[float]:
        return [tr.spans[i].attrs.get(key, 0) for i in named.get(name, [])]

    lat = [r[2] for r in untraced]
    tail = [r[2] for r in untraced if r[0] == "tail"]
    traced_tail_req = {i for i, r in enumerate(traced) if r[0] == "tail"}
    searches = named.get("search", [])
    tail_spans = [i for i in searches if tr.spans[i].request in traced_tail_req]
    fetch_terms = sum(attr("fetch", "terms"))
    miss_terms = sum(attr("miss_fetch", "terms"))
    miss_bytes = attr("miss_fetch", "bytes")
    resolve_bytes = attr("resolve", "bytes")
    jobs_per_query = attr("search", "jobs")
    return {
        "engine.analysis_ms_p50": p("analysis", 0.5),
        "engine.analysis_ms_p99": p("analysis", 0.99),
        "engine.spark_jobs_per_query_mean": sum(jobs_per_query) / max(1, len(jobs_per_query)),
        "engine.spark_jobs_per_query_max": max(jobs_per_query, default=0),
        "engine.search_samples": len(lat),
        "engine.search_p99_ms": percentile(lat, 0.99),
        "engine.search_tail_p50_ms": median(tail),
        "engine.tail_traced_p50_ms": median([tr.spans[i].ms for i in tail_spans]),
        # the search span's duration minus its own self time is what its
        # child layer spans account for
        "engine.tail_attributed_p50_ms": median(
            [tr.spans[i].ms - self_ms[i] for i in tail_spans]
        ),
        "query.df_calls": len(named.get("df", [])),
        "query.df_jobs": sum(attr("df", "jobs")),
        "query.df_ms_p50": p("df", 0.5),
        "query.df_ms_p99": p("df", 0.99),
        "query.fetch_ms_p50": p("fetch", 0.5),
        "query.fetch_ms_p99": p("fetch", 0.99),
        "query.fetch_term_hit_ratio": 1.0 - miss_terms / fetch_terms if fetch_terms else 0.0,
        "query.miss_fetches": len(miss_bytes),
        "query.miss_bytes_per_fetch": sum(miss_bytes) / max(1, len(miss_bytes)),
        "query.score_self_ms_p50": p("score", 0.5, use_self=True),
        "query.score_self_ms_p99": p("score", 0.99, use_self=True),
        "query.resolve_ms_p50": p("resolve", 0.5),
        "query.resolve_ms_p99": p("resolve", 0.99),
        "query.resolve_bytes_per_call": sum(resolve_bytes) / max(1, len(resolve_bytes)),
        "trace.overhead_ms": median([r[2] for r in traced]) - median(lat),
    }


WORKLOADS = {"serve": run_serve, "offline": run_offline}

