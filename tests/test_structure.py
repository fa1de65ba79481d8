"""Source-structure checks (no Spark).

Two decisions live behind one module each and must not leak back out:

* the state-table layout — only ``operators/merge.py`` may name the
  ``_manifests`` directory; everything else asks the table
  (``latest_version() > 0``) whether it exists;
* input validation in the operators (the merge table included) and
  the streaming handlers raises real exceptions — ``assert`` is
  stripped by ``python -O``.
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
