"""Single-writer lint for the manifest commit protocol: the package
source is parsed and every manifest publish, and every piece of code
that names or parses ``_manifests`` entries, must live in the one
commit log (``streaming/cdc_stream.py:_ManifestLog``). A second copy
of the protocol drifts from the first — the incremental view's copy
once listed a crashed publish's ``.tmp-*`` file as an epoch — so a
new owner of manifests commits through the log instead.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", "rust_dms_cdc_operator_spark")
)
LOG = "streaming/cdc_stream.py:_ManifestLog"

# string fragments that only manifest naming/listing code contains: the
# log's directory name, its 20-digit epoch pattern and zero-padding
_MANIFEST_MARKERS = ("_manifests", r"\d{20}", "020d")


def _docstrings(tree: ast.AST) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                out.add(id(body[0].value))
    return out


def _sites() -> tuple[list[str], list[str]]:
    """(scopes calling ``publish_text``, scopes holding a manifest-name
    literal), each as ``<module>:<Class.func>`` — module-level code
    reads ``<module>:<module>``."""
    publishes: list[str] = []
    names: list[str] = []
    for dirpath, _dirs, files in os.walk(PKG):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, PKG)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            docs = _docstrings(tree)

            class V(ast.NodeVisitor):
                def __init__(self):
                    self.stack: list[str] = []

                def scope(self) -> str:
                    return f"{rel}:{'.'.join(self.stack) or '<module>'}"

                def visit_FunctionDef(self, node):
                    self.stack.append(node.name)
                    self.generic_visit(node)
                    self.stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef
                visit_ClassDef = visit_FunctionDef

                def visit_Call(self, node):
                    f = node.func
                    name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                    if name == "publish_text":
                        publishes.append(self.scope())
                    self.generic_visit(node)

                def visit_Constant(self, node):
                    if (
                        isinstance(node.value, str)
                        and id(node) not in docs
                        and any(m in node.value for m in _MANIFEST_MARKERS)
                    ):
                        names.append(self.scope())

            V().visit(tree)
    return publishes, names


def test_publish_text_called_only_by_the_log():
    publishes, _ = _sites()
    assert publishes == [f"{LOG}.commit"], publishes


def test_manifest_names_parsed_only_by_the_log():
    _, names = _sites()
    assert names, "the log's own manifest naming should be found"
    outside = [s for s in names if not s.startswith(LOG)]
    assert outside == [], outside
