"""Source-level guards over the package: nothing fails silently."""

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "mgl870_tp02_project_01_hadoopmapreducelogs_spark",
)


def _silent_handlers(path):
    tree = ast.parse(open(path).read(), filename=path)
    for node in ast.walk(tree):
        if not isinstance(node, ast.ExceptHandler):
            continue
        broad = node.type is None or (
            isinstance(node.type, ast.Name)
            and node.type.id in ("Exception", "BaseException")
        )
        if broad and all(isinstance(s, ast.Pass) for s in node.body):
            yield node.lineno


def test_no_broad_except_that_only_passes():
    sites = [
        f"{os.path.relpath(os.path.join(root, name), PKG)}:{line}"
        for root, _, names in os.walk(PKG)
        for name in sorted(names)
        if name.endswith(".py")
        for line in _silent_handlers(os.path.join(root, name))
    ]
    assert not sites, (
        "broad `except` handlers that swallow errors silently — catch "
        f"the specific error and log or re-raise it: {sites}"
    )
