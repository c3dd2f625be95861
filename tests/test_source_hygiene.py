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


def _package_files():
    for root, _, names in os.walk(PKG):
        for name in sorted(names):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                yield os.path.relpath(path, PKG), ast.parse(open(path).read(), filename=path)


def _is_template_ranking(node):
    """``Window.orderBy("template")`` — the catalog's dense-id window."""
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "orderBy"
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "Window"
        and any(isinstance(a, ast.Constant) and a.value == "template" for a in node.args)
    )


def test_one_mask_token_and_one_catalog_ranking():
    """``<*>`` is spelled once (``functions/preprocess.MASK_TOKEN``) and
    the catalog ids are ranked in one place (``operators/mining.py``)."""
    literals, rankings = [], []
    for rel, tree in _package_files():
        for node in ast.walk(tree):
            if isinstance(node, ast.Constant) and node.value == "<*>" and rel != os.path.join(
                "functions", "preprocess.py"
            ):
                literals.append(f"{rel}:{node.lineno}")
            if _is_template_ranking(node) and rel != os.path.join("operators", "mining.py"):
                rankings.append(f"{rel}:{node.lineno}")
    assert not literals, f'"<*>" literals outside preprocess.MASK_TOKEN: {literals}'
    assert not rankings, (
        f"catalog ranking windows outside operators/mining.build_catalog: {rankings}"
    )
