"""Spark-free checks on the scripts around the package: every package
import in the entry points, tools and benchmark harness resolves, every
tool the run instructions name exists, every operator the README names
resolves, the core operators take no speed-only tuning parameters, every
public package function has a caller outside the tests, every defaulted
parameter has two values in use outside the tests or is allowlisted with
its reason, the shared bench suite matches bench.py's, and the test-data
scaler handles its smallest factor."""

import ast
import importlib
import importlib.util
import inspect
import re
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "openaip_yaixm_to_geojson_spark"
SCRIPTS = (
    sorted(REPO.glob("tools/*.py"))
    + sorted(REPO.glob("perfbench/*.py"))
    + [REPO / n for n in ("bench.py", "bench_extra.py", "bench_suite.py", "__spark_entry__.py")]
)


def _package_imports(path: Path):
    """(module, name) for every `from openaip_yaixm_to_geojson_spark... import name`,
    at any depth (most scripts import inside functions)."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (node.module or "").split(".")[0] == PACKAGE:
            for alias in node.names:
                yield node.module, alias.name


def _resolves(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return True
    # `from package import submodule` before the submodule was imported
    return hasattr(mod, "__path__") and importlib.util.find_spec(f"{module}.{name}") is not None


def test_script_package_imports_resolve():
    """A script left importing a deleted or renamed operator fails here,
    not at its next manual run."""
    checked, missing = 0, []
    for path in SCRIPTS:
        for module, name in _package_imports(path):
            checked += 1
            if not _resolves(module, name):
                missing.append(f"{path.relative_to(REPO)}: from {module} import {name}")
    assert checked > 0
    assert not missing, missing


def test_documented_tools_exist():
    """A deleted or renamed script fails here while the run instructions
    still name it."""
    docs = [REPO / "README.md", REPO / ".claude" / "skills" / "verify" / "SKILL.md"]
    named = {m for doc in docs for m in re.findall(r"tools/[\w.-]+\.(?:py|sh|mjs)\b", doc.read_text())}
    assert named
    assert sorted(n for n in named if not (REPO / n).is_file()) == []


def test_readme_operator_references_resolve():
    """Every `operators/<module>.<name>` (or functions/, plans/, sources/,
    streaming/) reference in README.md names an attribute of that module, so
    a deleted or renamed operator fails here while the tables still name it."""
    pattern = r"\b(operators|functions|plans|sources|streaming)/(\w+)\.(\w+)"
    refs = set(re.findall(pattern, (REPO / "README.md").read_text()))
    refs = {(f"{PACKAGE}.{pkg}.{mod}", name) for pkg, mod, name in refs if name != "py"}
    assert len(refs) > 100
    assert sorted(f"{m}.{n}" for m, n in refs if not hasattr(importlib.import_module(m), n)) == []


# module -> {function: parameters it must not take}. Each of these only
# ever changed speed, never rows, so it is a module constant instead.
_NO_TUNING_KNOBS = {
    "operators.spatial": {
        "spatial_join": {"res"},
        "polygon_overlap_pairs": {"res"},
        "polygon_contains_pairs": {"res"},
        "choose_salt": {"res", "rows_per_task"},
        "salt_plan": {"res", "rows_per_task"},
    },
    "operators.knn": {
        "knn_ring_expansion": {"res", "windows", "small_input_rows"},
        "knn_edge_ring_expansion": {"res", "windows", "small_input_rows"},
        "knn_k": {"res", "windows"},
        "knn_edge_k": {"res", "windows"},
        "knn_points": {"res", "windows"},
    },
    "plans.pipeline": {"run_pipeline": {"join_res"}},
    "plans.bucketing": {
        "bucketed_pages": {"res"},
        "bucketed_cover": {"res"},
        "write_bucketed": {"bucket_col"},
    },
    "plans.localtable": {"literal_table": {"max_literal_rows"}},
}


def test_core_operators_take_no_tuning_knobs():
    """The join resolution, kNN resolution and window schedule, fast-path
    gate, salt target, bucket key and literal-table cap are module
    constants; a parameter that brings one back fails here."""
    found = []
    for module, functions in _NO_TUNING_KNOBS.items():
        mod = importlib.import_module(f"{PACKAGE}.{module}")
        for name, removed in functions.items():
            params = set(inspect.signature(getattr(mod, name)).parameters)
            found += [f"{module}.{name}({p})" for p in sorted(params & removed)]
    assert sum(map(len, _NO_TUNING_KNOBS.values())) == 15
    assert found == []


# Public functions whose only callers are tests, each kept because it is
# the reference twin of a production path (or the product's own sink):
# module -> {function: the production path it pins}.
_CALLER_ALLOWLIST = {
    "operators/dedup.py": {"simhash64_expr": "the Arrow kernel dedup.simhash64, pinned bit-equal"},
    "functions/geohash.py": {"geohash_py": "geohash_chars_sql, behind tiles.geohash_counts"},
    "functions/cellgrid.py": {
        "morton_np": "morton_terms, the z-order key of the spatial layout query",
        "disk": "the Chebyshev offsets of knn._annulus",
    },
    "operators/convert.py": {"write_geojson_ndjson": "the distributed GeoJSON sink of the converter output"},
}


def test_package_functions_have_a_non_test_caller():
    """Every public top-level function of the package is used in some
    non-test source, other than inside its own definition: as an attribute
    or a `from ... import` anywhere, or as a bare name in its own module or
    in a file that imports it (a local variable of the same name elsewhere
    is not a use). Code that only tests reach fails here unless the
    allowlist names the production path it pins."""
    defined, used, bare = {}, set(), {}
    for path in sorted((REPO / PACKAGE).rglob("*.py")) + SCRIPTS:
        tree = ast.parse(path.read_text(), str(path))
        in_package = path.is_relative_to(REPO / PACKAGE)
        imported, names = set(), set()
        for top in tree.body:
            own = top.name if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)) else None
            if own and in_package and not own.startswith("_"):
                defined[f"{path.relative_to(REPO / PACKAGE).as_posix()}:{own}"] = own
            for node in ast.walk(top):
                if isinstance(node, ast.ImportFrom):
                    imported.update(a.name for a in node.names)
                elif isinstance(node, ast.Name) and node.id != own:
                    names.add(node.id)
                elif isinstance(node, ast.Attribute) and node.attr != own:
                    used.add(node.attr)
        used |= imported
        if in_package:
            bare[path.relative_to(REPO / PACKAGE).as_posix()] = names
    allowed = {f"{m}:{f}" for m, fs in _CALLER_ALLOWLIST.items() for f in fs}
    assert allowed <= set(defined), sorted(allowed - set(defined))
    assert len(defined) > 400
    called = {k for k, name in defined.items() if name in used or name in bare[k.split(":")[0]]}
    uncalled = sorted(set(defined) - called - allowed)
    assert not uncalled, "no caller outside the tests: " + ", ".join(uncalled)
    assert sorted(allowed & called) == []


def _parameters(path: Path, tree: ast.Module):
    """(key, function, name, position, default) for every parameter of a
    top-level function. `position` is None for keyword-only, `default`
    is None for a required parameter."""
    for top in tree.body:
        if not isinstance(top, ast.FunctionDef):
            continue
        a = top.args
        positional = a.posonlyargs + a.args
        defaults = [None] * (len(positional) - len(a.defaults)) + a.defaults
        slots = [(arg, i, d) for i, (arg, d) in enumerate(zip(positional, defaults))]
        slots += [(arg, None, d) for arg, d in zip(a.kwonlyargs, a.kw_defaults)]
        for arg, position, default in slots:
            key = f"{path.relative_to(REPO).as_posix()}:{top.name}({arg.arg})"
            yield key, top.name, arg.arg, position, ast.unparse(default) if default else None


def _passed_arguments(tree: ast.Module, params: dict):
    """(key, value node, scope) for every call of a tracked function and
    each of its tracked parameters: the node passed by keyword or by
    position, or None where the call omits it; `scope` maps each name
    bound as a parameter of the enclosing functions to its tracked key (or
    None)."""
    by_function = {}
    for key, (function, name, position, _) in params.items():
        by_function.setdefault(function, []).append((key, name, position))

    def visit(node, scope):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            a = node.args
            own = {arg.arg: None for arg in a.posonlyargs + a.args + a.kwonlyargs}
            if isinstance(node, ast.FunctionDef):
                own.update({n: key for key, (f, n, _, _) in params.items() if f == node.name and n in own})
            scope = {**scope, **own}
        if isinstance(node, ast.Call):
            called = getattr(node.func, "id", None) or getattr(node.func, "attr", None)
            positional = []
            for arg in node.args:
                if isinstance(arg, ast.Starred):
                    break
                positional.append(arg)
            keywords = {k.arg: k.value for k in node.keywords if k.arg}
            for key, name, position in by_function.get(called, ()):
                if name in keywords:
                    yield key, keywords[name], scope
                elif position is not None and position < len(positional):
                    yield key, positional[position], scope
                else:
                    yield key, None, scope
        for child in ast.iter_child_nodes(node):
            yield from visit(child, scope)

    yield from visit(tree, {})


def _module_constants(trees) -> dict[str, str]:
    """name -> repr(value) for every module-level constant bound to a
    literal (`K = 3`, `A, B = 1, 2`) whose name has one value across the
    scanned modules."""
    values = {}
    for tree in trees:
        for node in tree.body:
            if not isinstance(node, ast.Assign) or len(node.targets) != 1:
                continue
            target, value = node.targets[0], node.value
            pairs = [(target, value)]
            if isinstance(target, ast.Tuple) and isinstance(value, ast.Tuple):
                pairs = list(zip(target.elts, value.elts))
            for name, literal in pairs:
                if isinstance(name, ast.Name):
                    values.setdefault(name.id, set()).add(_literal(literal))
    return {name: v.pop() for name, v in values.items() if len(v) == 1 and None not in v}


def _literal(node) -> str | None:
    try:
        return repr(ast.literal_eval(node))
    except (ValueError, TypeError, SyntaxError):
        return None


def _value(node, constants: dict[str, str]) -> str:
    """What an argument or default evaluates to where that is known
    statically (a literal, or a constant by bare or module-qualified
    name), else its source text."""
    literal = _literal(node)
    if literal is not None:
        return literal
    name = getattr(node, "id", None) or getattr(node, "attr", None)
    return constants.get(name, ast.unparse(node))


# Defaulted parameters with fewer than two values in use, grouped by why
# each stays: reason -> {module: {function: (parameters, ...)}}.
_PARAMETER_ALLOWLIST = {
    "mirrors an option of the reference converter: convert_blocks' Spark "
    "twin gets it through converter_api config, clean_object copies cleanObject": {
        "functions/convert_local.py": {"convert_blocks": ("geometry_detail", "consume_duplicate_buffer")},
        "operators/convert.py": {
            "clean_object": ("keep_empty_strings", "keep_empty_arrays", "keep_empty_objects", "keep_null")
        },
    },
    "a test passes another input (a schema, filter list, rule table or "
    "stage) to check behaviour the default does not reach": {
        "functions/validate_geojson.py": {"validate_with_json_schema": ("schema",)},
        "operators/multimodal.py": {"encode_png": ("filters",)},
        "operators/web.py": {"robots_filter": ("rules",)},
        "plans/pipeline.py": {"run_pipeline": ("stop_after",)},
    },
    "the benchmark harness passes it, and the harness changes only with the "
    "benchmark": {
        "functions/convert_local.py": {"convert_blocks": ("fix_geometries",)},
        "sources/pages.py": {"lat_sql": ("url_expr",), "lon_sql": ("url_expr",)},
    },
}


def test_parameters_are_set_by_a_caller():
    """With one value in use, a parameter is a constant. A defaulted
    parameter of a public package function is kept only where non-test
    calls give it at least two distinct values, or the allowlist says why.
    A value that only a test passes is not a second value. A call that
    omits the parameter passes its default. Values compare by value where
    that is known statically (a literal, or a constant by name), else as
    written, so `k=3`, `res=8` and `res=DEFAULT_TILE_RES` (while that
    constant is 8) are one value. A call that forwards a parameter of an
    enclosing top-level function passes the values that function's own
    callers give it; the rule repeats until nothing changes. The failure
    names the one value in use next to each parameter. An allowlisted
    parameter that gains a second value must leave the list, so the list
    only shrinks."""
    paths = sorted((REPO / PACKAGE).rglob("*.py")) + SCRIPTS
    trees = {path: ast.parse(path.read_text(), str(path)) for path in paths}
    params = {key: rest for path, tree in trees.items() for key, *rest in _parameters(path, tree)}
    passes = [p for tree in trees.values() for p in _passed_arguments(tree, params)]
    assert params and passes
    constants = _module_constants(trees.values())
    default = {key: _value(ast.parse(rest[3], mode="eval").body, constants) for key, rest in params.items() if rest[3]}
    checked = {
        key
        for key, (function, _, _, text) in params.items()
        if text and key.startswith(f"{PACKAGE}/") and not function.startswith("_")
    }
    values = {key: set() for key in params}
    changed = True
    while changed:
        changed = False
        for key, value, scope in passes:
            forwarded = scope.get(value.id) if isinstance(value, ast.Name) else None
            if value is None:
                new = {default[key]} if key in default else set()
            elif forwarded is not None:
                new = values[forwarded]
            else:
                new = {_value(value, constants)}
            if not new <= values[key]:
                values[key] |= new
                changed = True
    in_use = {key for key in checked if len(values[key]) >= 2}
    allowed = {
        f"{PACKAGE}/{module}:{function}({name})"
        for modules in _PARAMETER_ALLOWLIST.values()
        for module, functions in modules.items()
        for function, names in functions.items()
        for name in names
    }
    assert len(allowed) == 13
    assert allowed <= checked, sorted(allowed - checked)
    assert sorted(allowed & in_use) == []
    one_value = sorted(checked - in_use - allowed)
    assert not one_value, f"{len(one_value)} parameters with one value in use: " + ", ".join(
        f"{key.removeprefix(PACKAGE + '/')} = {' '.join(values[key]) or '(no call)'}" for key in one_value
    )


def _bench_timed_names() -> list[str]:
    """bench.py's suite: the name in every `timed("...", ...)` call, in source order."""
    calls = [
        node
        for node in ast.walk(ast.parse((REPO / "bench.py").read_text()))
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Name) and node.func.id == "timed"
    ]
    calls.sort(key=lambda c: (c.lineno, c.col_offset))
    return [c.args[0].value for c in calls]


def _suite_names() -> list[str]:
    """bench_suite.suite's names: the keys of the dict it returns, in order."""
    tree = ast.parse((REPO / "bench_suite.py").read_text())
    (fn,) = [n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "suite"]
    (ret,) = [n for n in ast.walk(fn) if isinstance(n, ast.Return)]
    return [k.value for k in ret.value.keys]


def test_bench_suite_matches_bench_py():
    """bench.py is frozen and keeps its own copy of the suite; bench_extra.py
    and the plan dumper use bench_suite. Drift between the two fails here."""
    names = _bench_timed_names()
    assert len(names) == 31
    assert _suite_names() == names


def _load_scale_testdata():
    spec = importlib.util.spec_from_file_location("scale_testdata", REPO / "tools" / "scale_testdata.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_scale_documents_factor_one(tmp_path):
    scale = _load_scale_testdata()
    src, dst = tmp_path / "src", tmp_path / "dst"
    src.mkdir()
    dst.mkdir()
    docs = pa.table(
        {
            "doc_id": pa.array([1, 2], type=pa.int64()),
            "text": ["a b c", "d e"],
            "lang": ["en", "de"],
            "source": ["x", "y"],
            "n_chars": pa.array([5, 3], type=pa.int64()),
        }
    )
    pq.write_table(docs, src / "documents.parquet")

    scale.scale_documents(src, dst, 1)
    assert pq.read_table(dst / "documents.parquet").equals(docs)
    with pytest.raises(ValueError, match="factor must be >= 1"):
        scale.scale_documents(src, dst, 0)
