"""Source-structure checks (no Spark).

Two decisions live behind one module each and must not leak back out:

* the state-table layout — only ``operators/merge.py`` may name the
  ``_manifests`` directory; everything else asks the table
  (``latest_version() > 0``) whether it exists;
* input validation in the operators (the merge table included) and
  the streaming handlers raises real exceptions — ``assert`` is
  stripped by ``python -O``.

The corpus build has one core on each side: its oracles come from one
SQL template with no string surgery (a ``.split`` or ``.replace`` whose
target drifted splices the wrong text and raises nothing), and
``build_corpus`` stages through one checkpoint call.
"""

from __future__ import annotations

import ast
import io
import pathlib
import tokenize

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "textract_farmdata_pipeline_spark"


def _sources(*dirs: pathlib.Path) -> list[pathlib.Path]:
    return sorted(p for d in dirs for p in d.rglob("*.py"))


def test_manifest_layout_named_only_by_merge_module():
    offenders = []
    for path in _sources(PKG, ROOT / "tools"):
        src = path.read_text(encoding="utf-8")
        for tok in tokenize.generate_tokens(io.StringIO(src).readline):
            if tok.type != tokenize.COMMENT and "_manifests" in tok.string:
                offenders.append(f"{path.relative_to(ROOT)}:{tok.start[0]}")
    allowed = "textract_farmdata_pipeline_spark/operators/merge.py"
    assert [o for o in offenders if not o.startswith(allowed + ":")] == []
    assert offenders, "merge.py should define the manifest directory"


def test_no_assert_in_merge_table_or_streaming():
    targets = _sources(PKG / "operators", PKG / "streaming")
    offenders = [
        f"{path.relative_to(ROOT)}:{node.lineno}"
        for path in targets
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8")))
        if isinstance(node, ast.Assert)
    ]
    assert offenders == []


def _root_name(node: ast.AST) -> str | None:
    """The variable a chain like ``X.split(...)[1].rsplit`` starts at."""
    while not isinstance(node, ast.Name):
        if isinstance(node, (ast.Attribute, ast.Subscript)):
            node = node.value
        elif isinstance(node, ast.Call):
            node = node.func
        else:
            return None
    return node.id


def test_corpus_build_oracles_are_not_spliced():
    src = (PKG / "registry.py").read_text(encoding="utf-8")
    protected = {"_PARA_KEEPFIRST_CTES", "_SEMDC_SCORE_CTES"}
    offenders = [
        f"registry.py:{node.lineno}"
        for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("split", "rsplit", "replace")
        and (name := _root_name(node.func.value)) is not None
        and (name.startswith("_CORPUS_BUILD") or name in protected)
    ]
    assert offenders == []
    assert src.count("'|shard'") == 1


def test_build_corpus_stages_through_one_checkpoint_call():
    tree = ast.parse((PKG / "operators" / "corpus.py").read_text(encoding="utf-8"))
    calls = [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "tracked_local_checkpoint"
    ]
    assert len(calls) == 1
