"""Percolator scale path (r5 verdict ask #3): the stored-query
registry must not be FORCE-broadcast — ES stores percolator queries as
an index, and a real alerting workload holds 10^5–10^6 stored queries.
The auto mode broadcasts only when the registry's Catalyst size
estimate fits the session's auto-broadcast threshold; results are
identical on every path."""

from contextlib import contextmanager

import pyspark.sql.functions as F

from mecab_ko_lucene_analyzer_spark.query.percolate import percolate

DOCS = [
    (0, ["spark", "query", "engine"]),
    (1, ["kw7", "t7", "noise"]),
    (2, ["kw7", "noise"]),  # partial match of stored query 7
    (3, ["kw123", "t123"]),
]


def _doc_tokens(spark):
    return spark.createDataFrame(
        [(d, t) for d, toks in DOCS for t in toks], "doc_id long, term string"
    )


def _big_registry(spark, n=100_000):
    """n stored queries, 2 terms each — built distributed (a 100k-row
    driver list would be pure test overhead)."""
    return spark.range(n).select(
        F.col("id").alias("query_id"),
        F.array(
            F.concat(F.lit("kw"), F.col("id").cast("string")),
            F.concat(F.lit("t"), F.col("id").cast("string")),
        ).alias("terms"),
    )


@contextmanager
def _threshold(spark, value):
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, saved)


def test_large_registry_auto_mode_does_not_broadcast(spark):
    toks = _doc_tokens(spark)
    reg = _big_registry(spark)
    with _threshold(spark, "1KB"):
        plan = percolate(toks, reg)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan, plan
        got = sorted(
            (r["doc_id"], r["query_id"], r["n_matched"])
            for r in percolate(toks, reg).collect()
        )
    # planted expectations: queries 7 and 123 fully matched by docs 1/3,
    # doc 2's partial match dropped by the conjunctive law
    assert got == [(1, 7, 2), (3, 123, 2)]


def test_small_registry_still_broadcasts(spark, tmp_path):
    """The common saved-searches case — a SMALL STORED registry whose
    size Catalyst can actually see (a parquet table) — keeps today's
    broadcast plan: no corpus-side exchange added by the join."""
    toks = _doc_tokens(spark)
    path = str(tmp_path / "registry")
    spark.createDataFrame(
        [(0, ["spark", "query"]), (1, ["kw7"])],
        "query_id long, terms array<string>",
    ).write.parquet(path)
    reg = spark.read.schema("query_id long, terms array<string>").parquet(path)
    plan = percolate(toks, reg)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan, plan


def test_all_paths_row_identical(spark):
    toks = _doc_tokens(spark)
    reg = _big_registry(spark, n=2_000)

    def rows(**kw):
        return sorted(
            (r["doc_id"], r["query_id"], r["n_matched"])
            for r in percolate(toks, reg, **kw).collect()
        )

    auto = rows()
    assert rows(broadcast_registry=True) == auto
    assert rows(broadcast_registry=False) == auto
    msm = sorted(
        (r["doc_id"], r["query_id"], r["n_matched"])
        for r in percolate(toks, reg, min_should_match=1).collect()
    )
    msm_nb = sorted(
        (r["doc_id"], r["query_id"], r["n_matched"])
        for r in percolate(
            toks, reg, min_should_match=1, broadcast_registry=False
        ).collect()
    )
    assert msm == msm_nb
    assert (2, 7, 1) in msm  # the partial match the conjunctive law drops


def _rows(df):
    return sorted((r["doc_id"], r["query_id"], r["n_matched"]) for r in df.collect())


def _broadcasts(df) -> bool:
    return "BroadcastExchange" in df._jdf.queryExecution().executedPlan().toString()


def test_local_relation_registry_sized_exactly(spark):
    """A ``createDataFrame``-over-pandas registry is a ``LocalRelation``
    whose Catalyst size is exact: it is hinted to broadcast while that
    size times the explode's margin fits the threshold, not one byte
    less, and answers the rows of the non-broadcast path either way."""
    import pandas as pd

    from mecab_ko_lucene_analyzer_spark.plans import optimized_plan_probe
    from mecab_ko_lucene_analyzer_spark.query.percolate import (
        _EXPLODE_MARGIN,
        _registry_fits_broadcast,
    )

    toks = _doc_tokens(spark)
    stored = [(0, ["spark", "query"]), (7, ["kw7", "t7"]), (9, ["noise", "absent"])]
    reg = spark.createDataFrame(
        pd.DataFrame({"query_id": [q for q, _ in stored], "terms": [t for _, t in stored]})
    )
    assert optimized_plan_probe(reg, lambda p: p.nodeName(), None) == "LocalRelation"
    est = optimized_plan_probe(reg, lambda p: int(p.stats().sizeInBytes()), -1)
    want = [(0, 0, 2), (1, 7, 2)]
    assert _rows(percolate(toks, reg, broadcast_registry=False)) == want
    with _threshold(spark, str(est * _EXPLODE_MARGIN)):
        assert _registry_fits_broadcast(reg)
        assert _broadcasts(percolate(toks, reg))
        assert _rows(percolate(toks, reg)) == want
    with _threshold(spark, str(est * _EXPLODE_MARGIN - 1)):
        assert not _registry_fits_broadcast(reg)
        assert _rows(percolate(toks, reg)) == want


def test_rdd_backed_registry_is_not_broadcast(spark):
    """A registry over an RDD — ``createDataFrame`` over a list, or over
    ``parallelize(...).flatMap`` that can grow without bound — has no
    Catalyst size: it is never broadcast in auto mode, whatever the
    threshold, and answers the rows of the broadcast path."""
    toks = _doc_tokens(spark)
    seeds = [0, 7]
    expanded = spark.createDataFrame(
        spark.sparkContext.parallelize(seeds, 2).flatMap(
            lambda q: [(q, [f"kw{q}", f"t{q}"]), (q + 1000, ["spark", "query"])]
        ),
        "query_id long, terms array<string>",
    )
    listed = spark.createDataFrame(
        [(0, ["spark", "query"]), (7, ["kw7", "t7"])], "query_id long, terms array<string>"
    )
    want = {
        "expanded": [(0, 1000, 2), (0, 1007, 2), (1, 7, 2)],
        "listed": [(0, 0, 2), (1, 7, 2)],
    }
    for name, reg in (("expanded", expanded), ("listed", listed)):
        assert not _broadcasts(percolate(toks, reg))
        assert _rows(percolate(toks, reg)) == want[name]
        assert _rows(percolate(toks, reg, broadcast_registry=True)) == want[name]


def test_stored_registry_broadcast_counts_the_explode(spark, tmp_path):
    """The broadcast decision sizes the exploded registry: a stored
    registry whose own estimate fits the threshold but whose explode's
    margin does not is not hinted to broadcast; one threshold byte more
    room and it is. Rows are identical on both paths."""
    from mecab_ko_lucene_analyzer_spark.plans import optimized_plan_probe
    from mecab_ko_lucene_analyzer_spark.query.percolate import (
        _EXPLODE_MARGIN,
        _registry_fits_broadcast,
    )

    toks = _doc_tokens(spark)
    path = str(tmp_path / "registry")
    spark.createDataFrame(
        [(q, [f"kw{q}", f"t{q}"]) for q in range(200)],
        "query_id long, terms array<string>",
    ).write.parquet(path)
    reg = spark.read.parquet(path)
    est = optimized_plan_probe(reg, lambda p: int(p.stats().sizeInBytes()), -1)
    assert est > 0
    with _threshold(spark, str(est * _EXPLODE_MARGIN - 1)):
        assert not _registry_fits_broadcast(reg)
    with _threshold(spark, str(est * _EXPLODE_MARGIN)):
        assert _registry_fits_broadcast(reg)
        assert _broadcasts(percolate(toks, reg))
    want = [(1, 7, 2), (3, 123, 2)]
    assert _rows(percolate(toks, reg, broadcast_registry=False)) == want
    assert _rows(percolate(toks, reg, broadcast_registry=True)) == want
