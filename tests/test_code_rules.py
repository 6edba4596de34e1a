"""Source-level rules the engine's modules must keep."""

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "als_hadoop_spark",
)


def test_no_assert_statements_in_engine():
    """``python -O`` strips ``assert`` statements, so an invariant
    written as one silently stops being checked. Engine code raises
    instead; ``plans/`` is exempt (its asserts are test helpers)."""
    found = []
    for root, dirs, names in os.walk(PKG):
        rel_root = os.path.relpath(root, PKG)
        if rel_root.split(os.sep)[0] == "plans":
            dirs[:] = []
            continue
        for name in names:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            found += [
                f"{os.path.relpath(path, PKG)}:{node.lineno}"
                for node in ast.walk(tree)
                if isinstance(node, ast.Assert)
            ]
    assert found == [], f"assert statements in engine code: {found}"
