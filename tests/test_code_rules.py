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


def _pruning_decisions(source: str, path: str) -> list[int]:
    """Lines of ``source`` that call ``bloom_maybe_contains`` or read an
    add-action's ``"stats"`` (``a["stats"]``, ``a.get("stats")``)
    anywhere but as a value copied into a dict literal or
    comprehension — the re-commit shape of ``AcidTable._ref_action``."""
    tree = ast.parse(source, path)
    copied = set()
    for node in ast.walk(tree):
        values = (
            node.values
            if isinstance(node, ast.Dict)
            else [node.value] if isinstance(node, ast.DictComp) else []
        )
        for v in values:
            copied.update(id(n) for n in ast.walk(v))
    found = []
    for node in ast.walk(tree):
        if id(node) in copied:
            continue
        if isinstance(node, ast.Call):
            fn = node.func
            name = getattr(fn, "attr", None) or getattr(fn, "id", None)
            reads_stats = (
                name == "get"
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and node.args[0].value == "stats"
            )
            if name == "bloom_maybe_contains" or reads_stats:
                found.append(node.lineno)
        elif (
            isinstance(node, ast.Subscript)
            and isinstance(node.ctx, ast.Load)
            and isinstance(node.slice, ast.Constant)
            and node.slice.value == "stats"
        ):
            found.append(node.lineno)
    return found


def test_file_pruning_is_decided_only_in_acid_log():
    """The ACID table's file skipping is one function,
    ``acid_log.prune_files``: no other engine module consults a bloom
    or compares logged [min, max] stats, so a second copy of the
    decision cannot drift from it."""
    probe = (
        "def f(a, b):\n"
        "    keep = {'stats': a.get('stats')}\n"
        "    return a['stats'] or bloom_maybe_contains(b, 1)\n"
    )
    assert _pruning_decisions(probe, "probe") == [3, 3]
    found = []
    for root, _, names in os.walk(PKG):
        for name in names:
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG)
            if not name.endswith(".py") or rel == os.path.join(
                "sources", "acid_log.py"
            ):
                continue
            with open(path) as f:
                found += [
                    f"{rel}:{n}" for n in _pruning_decisions(f.read(), path)
                ]
    assert found == [], f"file-pruning decisions outside acid_log: {found}"
