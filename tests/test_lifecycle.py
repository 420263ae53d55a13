"""The cache/checkpoint lifecycle has one owner: giranking_spark/lifecycle.py.

* a source guard: lineage truncation (``.localCheckpoint(`` /
  ``.checkpoint(``) is called only inside the lifecycle module, no other
  module defines its own ``_checkpoint*`` / ``_gc_nudge`` helper, and no
  test or tool patches those names or ``DataFrame.localCheckpoint``;
* the release contract: a helper unpersists only frames it created;
* the one test seam, ``lazy_checkpoints``.
"""

from __future__ import annotations

import ast
import io
import pathlib
import tokenize

from pyspark import StorageLevel

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "giranking_spark"
LIFECYCLE = PKG / "lifecycle.py"
CHECKPOINT_METHODS = {"localCheckpoint", "checkpoint"}


def _calls(path: pathlib.Path) -> set[str]:
    """Method names called as ``.<name>(`` in code — comments, docstrings
    and every other string literal are skipped by the tokenizer."""
    toks = [
        t
        for t in tokenize.generate_tokens(io.StringIO(path.read_text()).readline)
        if t.type in (tokenize.NAME, tokenize.OP)
    ]
    return {
        b.string
        for a, b, c in zip(toks, toks[1:], toks[2:])
        if a.string == "." and b.type == tokenize.NAME and c.string == "("
    }


def test_only_lifecycle_truncates_lineage():
    offenders = {
        str(p.relative_to(ROOT)): sorted(_calls(p) & CHECKPOINT_METHODS)
        for p in PKG.rglob("*.py")
        if p != LIFECYCLE
    }
    assert {k: v for k, v in offenders.items() if v} == {}
    assert _calls(LIFECYCLE) >= CHECKPOINT_METHODS


def test_no_private_checkpoint_helpers_outside_lifecycle():
    defined = {
        f"{p.relative_to(ROOT)}:{node.name}"
        for p in PKG.rglob("*.py")
        if p != LIFECYCLE
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.FunctionDef)
        and (node.name.startswith("_checkpoint") or node.name == "_gc_nudge")
    }
    assert defined == set()


def test_no_checkpoint_monkeypatch_in_tests_or_tools():
    patched = {
        f"{p.relative_to(ROOT)}:{node.lineno}"
        for d in ("tests", "tools")
        for p in (ROOT / d).rglob("*.py")
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.Assign)
        for t in node.targets
        if isinstance(t, ast.Attribute)
        and (t.attr == "localCheckpoint" or t.attr.startswith("_checkpoint"))
    }
    assert patched == set()


def test_recall_summary_keeps_the_callers_cache(spark):
    from giranking_spark.queries.simq import _recall_summary

    schema = "query_id long, neighbor_id long"
    exact = spark.createDataFrame([(1, 2), (1, 3), (4, 5)], schema).persist()
    ann = spark.createDataFrame([(1, 2), (4, 6)], schema)
    try:
        row = _recall_summary(exact, ann).first()
        assert (row.n_queries, row.n_perfect) == (2, 0)
        assert exact.storageLevel != StorageLevel.NONE
    finally:
        exact.unpersist()


def test_materialize_output_releases_and_lazy_mode_restores(spark):
    from giranking_spark import lifecycle

    src = spark.range(10).persist()
    out = lifecycle.materialize_output(src.selectExpr("id * 2 AS x"), src)
    assert src.storageLevel == StorageLevel.NONE
    assert "ExistingRDD" in out._jdf.queryExecution().toString()
    assert out.count() == 10

    with lifecycle.lazy_checkpoints():
        lazy = lifecycle._checkpoint(spark.range(3))
        ck, n = lifecycle._checkpoint_nrows(spark.range(4))
    assert n == 4
    for df in (lazy, ck):
        assert "ExistingRDD" not in df._jdf.queryExecution().toString()
    assert "ExistingRDD" in lifecycle._checkpoint(spark.range(3))._jdf.queryExecution().toString()
