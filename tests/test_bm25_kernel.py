"""One BM25 kernel: the Column kernel equals the numpy kernel bit for
bit, the DataFrame scorers sum exactly its partials, k1/b are
constants no product function takes, the arithmetic is written only in
``query/bm25.py``, and the one private-plan helper fails safe."""

import ast
import io
import pathlib
import re
import tokenize
import types

import numpy as np
from py4j.protocol import Py4JError

from mecab_ko_lucene_analyzer_spark.index.build import InvertedIndex
from mecab_ko_lucene_analyzer_spark.query.bm25 import (
    bm25_partial,
    bm25_partial_col,
    bm25_scored,
    term_partials,
)

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "mecab_ko_lucene_analyzer_spark"


def _product_files() -> list[pathlib.Path]:
    return (
        sorted(PACKAGE.rglob("*.py"))
        + sorted((ROOT / "jobs").glob("*.py"))
        + [ROOT / "__spark_entry__.py"]
    )


def _bits(a) -> list[int]:
    return np.asarray(a, dtype=np.float64).view(np.int64).tolist()


def test_column_kernel_equals_numpy_kernel_bit_for_bit(spark):
    rng = np.random.default_rng(11)
    n = 20_000
    idf = rng.uniform(0.01, 12.0, n)
    tf = rng.integers(1, 60, n).astype(np.float64)
    dl = rng.integers(1, 3_000, n).astype(np.float64)
    avgdl = rng.uniform(5.0, 900.0, n)
    rows = spark.createDataFrame(
        list(zip(range(n), *(a.tolist() for a in (idf, tf, dl, avgdl)))),
        "i long, idf double, tf double, dl double, avgdl double",
    )
    got = (
        rows.select(
            "i", bm25_partial_col(*(rows[c] for c in ("idf", "tf", "dl", "avgdl"))).alias("p")
        )
        .orderBy("i")
        .toPandas()["p"]
        .to_numpy()
    )
    assert _bits(got) == _bits(bm25_partial(idf, tf, dl, avgdl))


def test_single_term_score_is_the_numpy_partial(spark):
    """A one-term ``bm25_scored`` score is ``bm25_partial`` of the same
    idf, tf and doc_len, bit for bit (the Column kernel shares the
    numpy operation order, ``(idf * tf) / den``)."""
    rng = np.random.default_rng(5)
    n_docs, df = 5_000, 2_000
    docs = sorted(rng.choice(n_docs, df, replace=False).tolist())
    tfs = rng.integers(1, 25, df).tolist()
    lens = rng.integers(1, 700, n_docs).tolist()
    avgdl = float(np.mean(lens))
    postings = spark.createDataFrame(
        [("t", d, tf, lens[d]) for d, tf in zip(docs, tfs)],
        "term string, doc_id long, tf long, doc_len long",
    )
    index = InvertedIndex(
        postings,
        spark.createDataFrame([("t", df)], "term string, df long"),
        spark.createDataFrame(list(enumerate(lens)), "doc_id long, doc_len long"),
        spark.createDataFrame([(n_docs, avgdl)], "n_docs long, avgdl double"),
    )
    idf = term_partials(index, ["t"]).first()["idf"]
    got = {r["doc_id"]: r["score"] for r in bm25_scored(index, ["t"]).collect()}
    assert sorted(got) == docs
    want = bm25_partial(
        idf,
        np.array(tfs, dtype=np.float64),
        np.array([lens[d] for d in docs], dtype=np.float64),
        avgdl,
    )
    assert _bits([got[d] for d in docs]) == _bits(want)


def _is_bm25_knob(arg: ast.arg, default) -> bool:
    """A parameter that sets BM25's k1 or b: ``k1`` by name, ``b`` when
    it is float-typed or defaults to the ``B`` constant (a plain
    ``b`` of a two-operand helper is not one)."""
    if arg.arg == "k1":
        return True
    if arg.arg != "b":
        return False
    ann = ast.unparse(arg.annotation) if arg.annotation is not None else ""
    return "float" in ann or (isinstance(default, ast.Name) and default.id == "B")


def test_no_product_function_or_dataclass_takes_k1_or_b():
    offenders = []
    for path in _product_files():
        tree = ast.parse(path.read_text(), str(path))
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                positional = a.posonlyargs + a.args
                defaults = [None] * (len(positional) - len(a.defaults)) + a.defaults
                pairs = list(zip(positional, defaults)) + list(zip(a.kwonlyargs, a.kw_defaults))
                offenders += [
                    f"{path.relative_to(ROOT)}::{node.name}({arg.arg})"
                    for arg, default in pairs
                    if _is_bm25_knob(arg, default)
                ]
            elif isinstance(node, ast.ClassDef):
                offenders += [
                    f"{path.relative_to(ROOT)}::{node.name}.{s.target.id}"
                    for s in node.body
                    if isinstance(s, ast.AnnAssign)
                    and isinstance(s.target, ast.Name)
                    and s.target.id in ("k1", "b")
                ]
    assert offenders == []


#: the BM25 arithmetic in code with whitespace removed: the idf's
#: ``(N - df + 0.5) / (df + 0.5)`` and the tf-norm's ``k1 *`` and
#: ``1 - b``
_BM25_ARITHMETIC = re.compile(r"\+0\.5\)/\(|\b[kK]1\*|\b1(\.0)?-[bB]\b")


def _code_without_strings(source: str) -> str:
    """The source's code tokens joined without whitespace: comments,
    docstrings and string literals (the frozen ``oracle_sql()`` SQL
    text included) drop out."""
    skip = {
        tokenize.COMMENT, tokenize.STRING, tokenize.NL, tokenize.NEWLINE,
        tokenize.INDENT, tokenize.DEDENT,
    }
    return "".join(
        t.string
        for t in tokenize.generate_tokens(io.StringIO(source).readline)
        if t.type not in skip
    )


def test_bm25_arithmetic_is_written_only_in_bm25_module():
    home = PACKAGE / "query" / "bm25.py"
    found = {}
    for path in _product_files():
        code = _code_without_strings(path.read_text())
        hits = [m.group(0) for m in _BM25_ARITHMETIC.finditer(code)]
        if hits and path != home:
            found[str(path.relative_to(ROOT))] = hits
    assert found == {}
    # the check sees the arithmetic where it is written
    assert _BM25_ARITHMETIC.search(_code_without_strings(home.read_text()))


class _RaisingJdf:
    def queryExecution(self):
        raise Py4JError("private plan API unavailable")


def test_private_plan_helper_fails_safe(spark, monkeypatch, tmp_path):
    """Both callers of the private plan API take their safe side when
    it raises: the docID pass-stability check says unstable, the
    percolate registry does not broadcast."""
    from mecab_ko_lucene_analyzer_spark.index.build import _rows_stable_across_jobs
    from mecab_ko_lucene_analyzer_spark.plans import optimized_plan_probe
    from mecab_ko_lucene_analyzer_spark.query.percolate import _registry_fits_broadcast

    spark.createDataFrame([(1, "a")], "doc_id long, text string").write.parquet(
        f"{tmp_path}/docs"
    )
    spark.createDataFrame([(1, ["a"])], "query_id long, terms array<string>").write.parquet(
        f"{tmp_path}/registry"
    )
    # parquet scans: a deterministic leaf with a known, small size
    docs = spark.read.parquet(f"{tmp_path}/docs")
    registry = spark.read.parquet(f"{tmp_path}/registry")
    # the real plans take the other side
    assert _rows_stable_across_jobs(docs)
    assert _registry_fits_broadcast(registry)
    monkeypatch.setattr(docs, "_jdf", _RaisingJdf())
    monkeypatch.setattr(registry, "_jdf", _RaisingJdf())
    assert _rows_stable_across_jobs(docs) is False
    assert _registry_fits_broadcast(registry) is False
    # a probe that raises mid-walk fails safe as well
    stub = types.SimpleNamespace(
        _jdf=types.SimpleNamespace(
            queryExecution=lambda: types.SimpleNamespace(optimizedPlan=lambda: None)
        )
    )
    assert optimized_plan_probe(stub, lambda p: p.stats(), "safe") == "safe"
