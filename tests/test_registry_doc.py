"""OPERATORS.md must stay in sync with the live REGISTRY (VERDICT r4
item 8): the coverage ledger is generated, never hand-maintained."""

from __future__ import annotations

import os


def test_operators_md_in_sync():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    import sys

    sys.path.insert(0, repo)
    from gen_operators import render

    path = os.path.join(repo, "OPERATORS.md")
    assert os.path.exists(path), "run `python gen_operators.py`"
    with open(path) as f:
        on_disk = f.read()
    assert on_disk == render(), (
        "OPERATORS.md is stale — regenerate with `python gen_operators.py`"
    )


def test_registration_shape_builder_names_match_keys():
    """VERDICT r9 item 7 — the decorator trap (three rounds running):
    extracting a helper between `@register(...)` and its builder silently
    attaches the decorator to the WRONG def. Catch it at commit time:
    every REGISTRY value's builder must be named after its key, except
    the documented factory aliases below."""
    from week3_2_practice_big_data__spark import REGISTRY

    # the five shared-projection keys are built by the `_q` factory in
    # functions/projections.py (one closure per key, by design)
    factory_aliases = {
        "proj_dist_radial": "_q",
        "proj_dot_light": "_q",
        "proj_minmax_norm": "_q",
        "proj_shade_affine": "_q",
        "proj_color_scale": "_q",
    }
    bad = {
        key: q.builder.__name__
        for key, q in REGISTRY.items()
        if q.builder.__name__ != factory_aliases.get(key, key)
    }
    assert not bad, f"decorator-trap suspects (builder name != key): {bad}"


def test_driver_contract_lists_keys_in_registration_order():
    """queries() and oracle_sql() list keys in REGISTRY registration
    order, with oracle_sql() holding exactly the keys that have one."""
    import __spark_entry__ as entry
    from week3_2_practice_big_data__spark import REGISTRY

    assert list(entry.queries()) == list(REGISTRY)
    expected = {k: q.oracle for k, q in REGISTRY.items() if q.oracle is not None}
    got = entry.oracle_sql()
    assert got == expected
    assert list(got) == list(expected)


def _package_modules():
    """Yield (path relative to the package, parsed AST) for every package
    module: the input of the static guards below."""
    import ast

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "week3_2_practice_big_data__spark")
    for dirpath, _, files in os.walk(pkg):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            yield os.path.relpath(path, pkg).replace(os.sep, "/"), tree


# Builders bind their inputs with spark.sql(text, name=df). The only
# createOrReplaceTempView calls left are keys whose point is a catalog
# feature; each uses a name unique to the call and drops it in `finally`
# (the list in CHANGES.md).
_TEMP_VIEW_EXCEPTIONS = {("operators/subqueries.py", "qry_dynamic_sql")}


def test_no_temp_views_outside_catalog_feature_keys():
    """Static guard (no Spark): walk every package module's AST and fail
    on a createOrReplaceTempView call outside the listed exceptions."""
    import ast

    found = set()
    for rel, tree in _package_modules():
        for top in tree.body:
            owner = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createOrReplaceTempView"
                ):
                    found.add((rel, owner))
    assert found - _TEMP_VIEW_EXCEPTIONS == set(), sorted(found)


# One streaming-query lifecycle and one conf scope. Outside them a
# package module may set a session conf only where it must outlive the
# builder: the engine's own session setup, and two confs read at
# execution time (the recursion row limit, the Python filter pushdown).
_LIFECYCLE_EXCEPTIONS = {
    ("streaming/streams.py", "_query"),
    ("session.py", "scoped_confs"),
    ("session.py", "ensure_session_confs"),
    ("operators/subqueries.py", "qry_recursive_cte"),
    ("sources/generators.py", "src_python_datasource_pushdown"),
}


def test_stream_lifecycle_and_conf_changes_in_one_place():
    """Static guard (no Spark): outside the listed exceptions no package
    module names a streaming query (.queryName), reads spark.streams.active
    or calls conf.set / conf.unset."""
    import ast

    found = set()
    for rel, tree in _package_modules():
        for top in tree.body:
            owner = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                if not isinstance(node, ast.Attribute):
                    continue
                inner = getattr(node.value, "attr", None)
                if (
                    node.attr == "queryName"
                    or (node.attr == "active" and inner == "streams")
                    or (node.attr in ("set", "unset") and inner == "conf")
                ):
                    found.add((rel, owner, node.attr))
    stray = {f for f in found if f[:2] not in _LIFECYCLE_EXCEPTIONS}
    assert stray == set(), sorted(stray)


def test_no_module_shipped_to_workers():
    """Static guard (no Spark): Python-UDF closures carry the package code
    they call by value (session.py), so no package module ships files to
    the workers: nothing calls addPyFile."""
    import ast

    found = {
        (rel, node.lineno)
        for rel, tree in _package_modules()
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute) and node.attr == "addPyFile"
    }
    assert found == set(), sorted(found)


def test_no_package_import_inside_a_closure():
    """Static guard (no Spark): a function nested in another function (a
    UDF body, a data source method) imports no package module. It runs
    on a worker, where the package is not importable; the names it needs
    are imported at module level and travel with it by value."""
    import ast

    def nested_imports(node, depth):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                yield from nested_imports(child, depth + 1)
                continue
            if depth >= 2 and isinstance(child, ast.ImportFrom) and (
                child.level > 0
                or (child.module or "").startswith("week3_2_practice_big_data__spark")
            ):
                yield child.lineno
            yield from nested_imports(child, depth)

    found = {
        (rel, line)
        for rel, tree in _package_modules()
        for line in nested_imports(tree, 0)
    }
    assert found == set(), sorted(found)


def test_shared_stream_shapes_built_in_one_function():
    """Static guard (no Spark): in streams.py each shared stream shape is
    spelled in exactly one top-level function — the watermarked clicks and
    views sides of the range join (a withWatermark beside both the
    'click' and 'view' constants), the stage reveal of the two-life
    restart (shutil.copytree), and the state-store coordinator touch
    (stateStoreCoordinator)."""
    import ast

    tree = dict(_package_modules())["streaming/streams.py"]
    owners = {"click-view": [], "copytree": [], "stateStoreCoordinator": []}
    for top in tree.body:
        attrs = {n.attr for n in ast.walk(top) if isinstance(n, ast.Attribute)}
        consts = {n.value for n in ast.walk(top) if isinstance(n, ast.Constant)}
        if "withWatermark" in attrs and {"click", "view"} <= consts:
            owners["click-view"].append(top.name)
        for attr in ("copytree", "stateStoreCoordinator"):
            if attr in attrs:
                owners[attr].append(top.name)
    assert owners == {
        "click-view": ["_click_view_pairs"],
        "copytree": ["_two_lives"],
        "stateStoreCoordinator": ["_statestore_checkpoint"],
    }, owners


def test_scratch_root_defined_only_in_common():
    """Static guard (no Spark): `common.scratch_root` is the one place the
    `.tmp` scratch root is spelled. No other package module holds a string
    constant that names it as a path component; prose in docstrings and
    SQL comments (which has spaces) does not count."""
    import ast

    found = set()
    for rel, tree in _package_modules():
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and not any(c.isspace() for c in node.value)
                and ".tmp" in node.value.split("/")
            ):
                found.add((rel, node.lineno))
    assert {rel for rel, _ in found} <= {"common.py"}, sorted(found)


def test_chunked_events_read_only_by_the_one_reader():
    """Static guard (no Spark): `streams._event_stream` is the one place a
    package module reads the chunked events. Nowhere else may a module
    give a `readStream` a schema or set `recursiveFileLookup`; sources
    that need no schema (rate, socket, Python data sources) do not
    count."""
    import ast

    def on_read_stream(node):
        while isinstance(node, (ast.Attribute, ast.Call)):
            if isinstance(node, ast.Attribute) and node.attr == "readStream":
                return True
            node = node.func if isinstance(node, ast.Call) else node.value
        return False

    found = []
    for rel, tree in _package_modules():
        for top in tree.body:
            owner = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "schema"
                    and on_read_stream(node.func.value)
                ):
                    found.append((rel, owner, "readStream.schema"))
                elif (
                    isinstance(node, ast.Constant)
                    and node.value == "recursiveFileLookup"
                ):
                    found.append((rel, owner, "recursiveFileLookup"))
    reader = ("streaming/streams.py", "_event_stream")
    assert sorted(found) == [
        (*reader, "readStream.schema"),
        (*reader, "recursiveFileLookup"),
    ], sorted(found)


def test_finalized_window_query_written_once():
    """Static guard (no Spark): `streams._finalized_windows` is the one
    place a package function chains `withWatermark("ts", _WATERMARK)` into
    a `groupBy(F.window("ts", "600 seconds"), …)`. The keys that share
    `_WM_LATE_ORACLE` differ only in their sink, so they call it instead
    of spelling the query out."""
    import ast

    def call_of(node, func, args):
        return (
            isinstance(node, ast.Call)
            and ast.unparse(node.func).endswith(func)
            and [ast.unparse(a) for a in node.args] == args
        )

    def receivers(node):
        while isinstance(node, (ast.Attribute, ast.Call)):
            yield node
            node = node.func if isinstance(node, ast.Call) else node.value

    found = []
    for rel, tree in _package_modules():
        for top in tree.body:
            owner = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "groupBy"
                    and any(
                        call_of(a, "F.window", ["'ts'", "'600 seconds'"])
                        for a in node.args
                    )
                    and any(
                        call_of(r, ".withWatermark", ["'ts'", "_WATERMARK"])
                        for r in receivers(node.func.value)
                    )
                ):
                    found.append((rel, owner))
    assert found == [("streaming/streams.py", "_finalized_windows")], found
