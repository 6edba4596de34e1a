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


#: commit-entry keys whose presence decides what a commit changed
_CHANGE_KEYS = ("cdc", "dv", "remove")
#: operations whose name decides it
_CHANGE_OPS = ("optimize", "overwrite")


def _change_decisions(source: str, path: str) -> list[tuple[int, str, str]]:
    """``(line, enclosing function, what)`` for each read of a commit
    entry's ``"cdc"``/``"dv"``/``"remove"`` key (``e["k"]``,
    ``e.get("k")``, ``"k" in e``) and each comparison with the
    operation names ``"optimize"``/``"overwrite"`` in ``source``."""
    tree = ast.parse(source, path)
    found = []

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        what = None
        if (
            isinstance(node, ast.Call)
            and getattr(node.func, "attr", None) == "get"
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and node.args[0].value in _CHANGE_KEYS
        ):
            what = node.args[0].value
        elif (
            isinstance(node, ast.Subscript)
            and isinstance(node.ctx, ast.Load)
            and isinstance(node.slice, ast.Constant)
            and node.slice.value in _CHANGE_KEYS
        ):
            what = node.slice.value
        elif isinstance(node, ast.Compare):
            consts = [
                n.value
                for n in [node.left, *node.comparators]
                if isinstance(n, ast.Constant)
            ]
            if any(c in _CHANGE_OPS for c in consts):
                what = next(c for c in consts if c in _CHANGE_OPS)
            elif isinstance(node.ops[0], (ast.In, ast.NotIn)) and any(
                c in _CHANGE_KEYS for c in consts
            ):
                what = next(c for c in consts if c in _CHANGE_KEYS)
        if what is not None:
            found.append((node.lineno, fn, what))
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, None)
    return found


def test_change_feed_is_classified_only_in_acid_log():
    """What a commit changed is one function, ``acid_log.change_files``:
    the batch change feed (``AcidTable.table_changes``) and the
    ``acid_cdf`` stream never test an entry's ``cdc``/``dv``/``remove``
    actions or its operation name themselves, and no module outside
    ``acid_log`` reads a commit's ``cdc`` list except as file
    references — the vacuum sweep (sidecars a retained commit still
    names). A third change classification cannot appear unseen."""
    probe = (
        "def table_changes(e):\n"
        "    if e.get('dv') or 'remove' in e:\n"
        "        return e['cdc']\n"
        "    return e['operation'] == 'overwrite'\n"
    )
    assert [w for _, _, w in _change_decisions(probe, "probe")] == [
        "dv", "remove", "cdc", "overwrite",
    ]
    cdc_file_refs = {("sources/acid.py", "vacuum")}
    found = []
    for root, _, names in os.walk(PKG):
        for name in names:
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            if not name.endswith(".py") or rel == "sources/acid_log.py":
                continue
            with open(path) as f:
                decisions = _change_decisions(f.read(), path)
            for line, fn, what in decisions:
                classifier = rel == "sources/acid_cdf.py" or (
                    rel == "sources/acid.py" and fn == "table_changes"
                )
                stray_cdc = what == "cdc" and (rel, fn) not in cdc_file_refs
                if classifier or stray_cdc:
                    found.append(f"{rel}:{line} {fn} reads {what!r}")
    assert found == [], f"change classification outside acid_log: {found}"


#: the one write step of MERGE, DELETE and UPDATE in ``sources/acid.py``
_ROW_STEP = "_write_rows"


def _call_name(node) -> str | None:
    """The called name of an ``ast.Call`` (``f()``, ``x.f()``), else None."""
    if isinstance(node, ast.Call):
        return getattr(node.func, "attr", None) or getattr(node.func, "id", None)
    return None


def _loaded_name(node) -> str | None:
    """The name an ``ast.Name`` node reads, else None."""
    if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
        return node.id
    return None


def _by_method(source: str, path: str, pick=_call_name) -> dict[str, list[str]]:
    """``{method: [picked name, ...]}`` for every function defined in a
    class body of ``source``, ``pick(node)`` naming what a node counts
    as (default: the called name); a node inside a nested function
    counts for the method that encloses it. Module-level functions are
    keyed ``<module>``."""
    calls: dict[str, list[str]] = {}

    def visit(node, owner):
        for child in ast.iter_child_nodes(node):
            if isinstance(node, ast.ClassDef) and isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)
            ):
                calls.setdefault(child.name, [])
                visit(child, child.name)
                continue
            name = pick(child)
            if name:
                calls.setdefault(owner, []).append(name)
            visit(child, owner)

    visit(ast.parse(source, path), "<module>")
    return calls


def test_row_level_writes_commit_in_one_step():
    """MERGE, DELETE and UPDATE, in copy-on-write and deletion-vector
    mode, stage, mask, validate, log their changes and commit through
    ``AcidTable._write_rows`` alone: only it stages a DV or CDC sidecar
    or runs the mask-beside-write pool, and the statements never commit
    themselves — so failure cleanup and the persisted-frame rule live
    in one place."""
    probe = (
        "class T:\n"
        "    def merge(self):\n"
        "        def inner():\n"
        "            self._stage_dv(1)\n"
        "        return self._try_commit(1, {})\n"
    )
    assert _by_method(probe, "probe")["merge"] == [
        "_stage_dv", "_try_commit"
    ]
    path = os.path.join(PKG, "sources", "acid.py")
    with open(path) as f:
        source = f.read()
    calls = _by_method(source, path)
    assert _ROW_STEP in calls and "_merge_dv" not in calls
    found = [
        f"{method} calls {name}"
        for method, names in calls.items()
        for name in names
        if (name in ("_stage_dv", "_stage_cdc") and method != _ROW_STEP)
        or (
            name == "ThreadPoolExecutor"
            and method not in (_ROW_STEP, "_stage_files_layout_aware")
        )
        or (name == "_try_commit" and method in ("merge", "delete", "update"))
    ]
    assert found == [], f"row-level write steps outside {_ROW_STEP}: {found}"


def test_no_file_pins_the_checkout_path():
    """Scripts and tests find the checkout from their own ``__file__``,
    so a second checkout (a parent copy for an A/B run, a CI workspace)
    imports and tests its own package. ``perfbench/`` is exempt."""
    checkout = os.path.dirname(PKG)
    pinned = os.path.join(os.sep, "root", "repo")
    found = []
    for root, dirs, names in os.walk(checkout):
        dirs[:] = [
            d for d in dirs
            if not d.startswith(".")
            and os.path.join(root, d) != os.path.join(checkout, "perfbench")
        ]
        for name in names:
            path = os.path.join(root, name)
            if name.endswith(".py"):
                with open(path) as f:
                    if pinned in f.read():
                        found.append(os.path.relpath(path, checkout))
    assert found == [], f"files naming a fixed checkout path: {found}"


def _unwrapped_pool_calls(source: str, path: str) -> list[int]:
    """Lines of ``source`` where a ``ThreadPoolExecutor`` bound by
    ``with ... as pool`` or ``pool = ...`` is given, by ``map`` or
    ``submit``, a callable other than an ``in_thread(spark, fn)`` call."""
    tree = ast.parse(source, path)

    def is_pool(node) -> bool:
        fn = getattr(node, "func", None)
        return (getattr(fn, "attr", None) or getattr(fn, "id", None)) == (
            "ThreadPoolExecutor"
        )

    pools = {
        item.optional_vars.id
        for node in ast.walk(tree)
        if isinstance(node, ast.With)
        for item in node.items
        if is_pool(item.context_expr) and isinstance(item.optional_vars, ast.Name)
    } | {
        t.id
        for node in ast.walk(tree)
        if isinstance(node, ast.Assign) and is_pool(node.value)
        for t in node.targets
        if isinstance(t, ast.Name)
    }
    found = []
    for node in ast.walk(tree):
        fn = node.func if isinstance(node, ast.Call) else None
        if not (
            isinstance(fn, ast.Attribute)
            and fn.attr in ("map", "submit")
            and isinstance(fn.value, ast.Name)
            and fn.value.id in pools
        ):
            continue
        arg = node.args[0] if node.args else None
        wrapped = isinstance(arg, ast.Call) and (
            getattr(arg.func, "attr", None) or getattr(arg.func, "id", None)
        ) == "in_thread"
        if not wrapped:
            found.append(node.lineno)
    return sorted(found)


def test_pool_threads_inherit_the_job_group():
    """pyspark pins a job group to the thread that set it, so a job a
    pool thread starts belongs to no group unless the callable was
    wrapped by ``session.in_thread``: every ``ThreadPoolExecutor``
    ``map``/``submit`` in the package passes one."""
    probe = (
        "def f(spark, g):\n"
        "    with ThreadPoolExecutor(2) as pool:\n"
        "        pool.map(g, [1])\n"
        "        pool.submit(in_thread(spark, g))\n"
        "    other = ThreadPoolExecutor(2)\n"
        "    other.submit(g)\n"
    )
    assert _unwrapped_pool_calls(probe, "probe") == [3, 6]
    found = []
    for root, _, names in os.walk(PKG):
        for name in names:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as f:
                    found += [
                        f"{os.path.relpath(path, PKG)}:{n}"
                        for n in _unwrapped_pool_calls(f.read(), path)
                    ]
    assert found == [], f"pool calls losing the job group: {found}"


#: the sources whose live-file reads go through ``acid_log``
_ARROW_READERS = ("acid_format.py", "acid_cdf.py")


def test_live_files_are_read_only_in_acid_log():
    """``format("acid")`` and the ``acid_cdf`` stream read a live file
    and derive its schema through ``acid_log.read_live_file`` /
    ``acid_log.live_schema`` alone: neither calls pyarrow's
    ``read_table`` or ``read_schema`` itself, so deletion-vector
    masking, INT96 typing and schema-op epochs cannot drift between
    them. On the Spark side, one ``AcidTable`` method reads the
    deletion-vector sidecars (``_DV_SIDECAR_SCHEMA``)."""
    probe = (
        "import pyarrow.parquet as pq\n"
        "class T:\n"
        "    def a(self):\n"
        "        return pq.read_table(_DV_SIDECAR_SCHEMA)\n"
        "    def b(self):\n"
        "        return read_schema(_DV_SIDECAR_SCHEMA)\n"
    )
    assert _by_method(probe, "probe")["a"] == ["read_table"]
    readers = _by_method(probe, "probe", _loaded_name)
    assert [m for m, ns in readers.items() if "_DV_SIDECAR_SCHEMA" in ns] == [
        "a", "b"
    ]
    found = []
    for name in _ARROW_READERS:
        path = os.path.join(PKG, "sources", name)
        with open(path) as f:
            calls = _by_method(f.read(), path)
        found += [
            f"{name}: {owner} calls {c}"
            for owner, names in calls.items()
            for c in names
            if c in ("read_table", "read_schema")
        ]
    assert found == [], f"Arrow file reads outside acid_log: {found}"
    path = os.path.join(PKG, "sources", "acid.py")
    with open(path) as f:
        readers = _by_method(f.read(), path, _loaded_name)
    sidecar = [m for m, ns in readers.items() if "_DV_SIDECAR_SCHEMA" in ns]
    assert len(sidecar) == 1 and sidecar != ["<module>"], (
        f"deletion-vector sidecars read by {sidecar}"
    )
