"""The driver-gate registry (__spark_entry__.py): its size, its oracle
keys, the hash equality of the domain entries with their DuckDB twins,
that every library import named in the gate file or in a library
module (function-level ones included) resolves, that every
top-level library definition is reachable from an entry point, that only
``ops/stage.py`` checkpoints, and that no module-level import is
unused."""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

import duckdb
import pytest

import __spark_entry__ as entry

ROOT = Path(__file__).resolve().parents[1]
LIBRARY = sorted((ROOT / "pdf_ocr_api_spark").rglob("*.py"))


def _load_check_entry():
    spec = importlib.util.spec_from_file_location("check_entry", ROOT / "tools" / "check_entry.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


check_entry = _load_check_entry()
SF_DIR = str(Path(check_entry.DEFAULT_SF_DIR).parent / "sf0.001")


def test_registry_has_exactly_50_entries():
    assert len(entry.queries()) == 50


def test_every_oracle_is_a_registered_entry():
    assert set(entry.oracle_sql()) <= set(entry.queries())


def _library_imports(path: Path) -> list[tuple[int, str, str | None]]:
    """(line, module, imported name) for every ``pdf_ocr_api_spark``
    import in ``path``, at any nesting depth (entry imports and many
    library imports are function-level, so a plain import of the file
    never runs them). Relative imports resolve against the file's own
    package."""
    package = path.relative_to(ROOT).with_suffix("").parts[:-1]
    out = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.ImportFrom):
            module = node.module or ""
            if node.level:
                base = package[: len(package) - node.level + 1]
                module = ".".join(base + ((module,) if module else ()))
            if module.startswith("pdf_ocr_api_spark"):
                out += [(node.lineno, module, a.name) for a in node.names if a.name != "*"]
        elif isinstance(node, ast.Import):
            out += [
                (node.lineno, a.name, None)
                for a in node.names
                if a.name.startswith("pdf_ocr_api_spark")
            ]
    return out


def _dangling(path: Path) -> list[str]:
    """``file:line module.name`` for each import of ``path`` that names
    no module or attribute."""
    rel = path.relative_to(ROOT)
    missing = []
    for line, module, name in _library_imports(path):
        try:
            mod = importlib.import_module(module)
        except ModuleNotFoundError:
            missing.append(f"{rel}:{line} {module}")
            continue
        if name is None or hasattr(mod, name):
            continue
        if importlib.util.find_spec(f"{module}.{name}") is None:
            missing.append(f"{rel}:{line} {module}.{name}")
    return missing


def test_entry_library_imports_resolve():
    gate = ROOT / "__spark_entry__.py"
    assert _library_imports(gate)
    assert _dangling(gate) == []


@pytest.mark.parametrize("rel", [str(p.relative_to(ROOT)) for p in LIBRARY])
def test_library_imports_resolve(rel):
    missing = _dangling(ROOT / rel)
    assert not missing, missing


#: Where a job, gate entry, benchmark or tool starts. ``runner.py`` is a
#: library module: its ``__main__`` block seeds the walk like any other
#: module-level statement.
ENTRY_POINTS = [
    ROOT / name for name in ("__spark_entry__.py", "bench.py", "bench_extra.py", "submit.py")
] + sorted((ROOT / "perfbench").glob("*.py")) + sorted((ROOT / "tools").glob("*.py"))

#: Library definitions no entry point reaches that stay as the reference
#: implementations tests compare against. A bare file keeps the module.
ORACLES = {
    "pdf_ocr_api_spark/extract/document.py":
        "scalar port of the reference document parser; the Spark assembly is compared against it",
    "pdf_ocr_api_spark/extract/tipo.py:detect_tipo_certidao":
        "scalar J6 rules; test_conversation compares the Spark tipo column against them",
    "pdf_ocr_api_spark/extract/tipo.py:deterministic_header":
        "scalar S7 header rules the Spark header when-chain encodes through the same J2 lookups",
    "pdf_ocr_api_spark/functions/patterns.py:BOILERPLATE_PATTERNS":
        "the per-pattern list the combined boilerplate regex is tested against",
    "pdf_ocr_api_spark/functions/patterns.py:is_garbage_quantidade":
        "scalar port of the reference F4 rule; test_patterns pins the cases the Spark filter follows",
    "pdf_ocr_api_spark/functions/patterns.py:extract_numero":
        "scalar T10 extraction; test_conversation compares the Spark numero column against it",
    "pdf_ocr_api_spark/functions/normalize.py:v_normalize_header":
        "vectorized twin of normalize_header; test_normalize compares them",
    "pdf_ocr_api_spark/functions/normalize.py:v_clean_ocr":
        "vectorized twin of clean_ocr; test_normalize compares them",
    "pdf_ocr_api_spark/ops/textstats.py:token_count":
        "test_text_profile_matches_components checks text_profile's token count against it",
    "pdf_ocr_api_spark/ops/textstats.py:bpe_ish_token_count":
        "test_text_profile_matches_components checks text_profile's BPE-ish count against it",
    "pdf_ocr_api_spark/ops/textstats.py:script_id":
        "unstaged form of with_script_id; test_script_id_routing requires the two to agree",
    "pdf_ocr_api_spark/ops/substrings.py:_rolling":
        "per-document rolling hash the batched fingerprint pass is tested against",
    "pdf_ocr_api_spark/ops/dedup.py:simhash64_explode":
        "explode form of simhash64; test_ops requires equal signatures",
    "pdf_ocr_api_spark/conversation.py:assemble_services":
        "single-window service assembly the two-stage form must equal byte for byte",
}


def _reads(node: ast.AST) -> set[str]:
    """Names ``node`` reads: identifiers, attributes, imported names and
    identifier-shaped strings (``getattr``-style targets)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, (ast.Import, ast.ImportFrom)):
            out.update(a.name.rpartition(".")[2] for a in n.names)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)
    return out


def _module(path: Path) -> tuple[list[tuple[int, str, set[str], bool]], set[str]]:
    """``(bindings, seed)``: each module-level binding as ``(line, name,
    reads, is_definition)`` — ``def``/``class``/``Name =`` are
    definitions, imports bind a name to what they import — and the names
    the module's other statements read when it is imported."""
    bindings, seed = [], set()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            bindings.append((node.lineno, node.name, _reads(node), True))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            bindings += [
                (node.lineno, a.asname or a.name.partition(".")[0], {a.name.rpartition(".")[2]}, False)
                for a in node.names
            ]
        elif isinstance(node, (ast.Assign, ast.AnnAssign)) and isinstance(
            t := node.targets[0] if isinstance(node, ast.Assign) else node.target, ast.Name
        ):
            bindings.append((node.lineno, t.id, _reads(node), True))
        else:
            seed |= _reads(node)
    return bindings, seed


def _reach(bindings: dict[str, list[set[str]]], seed: set[str]) -> set[str]:
    reached, todo = set(), list(seed)
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            for reads in bindings.get(name, ()):
                todo += reads - reached
    return reached


def test_library_definitions_are_referenced():
    """Every top-level library definition is reachable, by name, from an
    entry point (or is an allow-listed oracle): a definition only tests
    call is dead code. The walk starts from the entry-point files and the
    module-level statements of the library, and follows the names each
    reached definition reads."""
    seed, bindings, defs = set(), {}, []
    for path in ENTRY_POINTS:
        seed |= _reads(ast.parse(path.read_text()))
    for path in LIBRARY:
        module_bindings, module_seed = _module(path)
        seed |= module_seed
        for line, name, reads, is_def in module_bindings:
            bindings.setdefault(name, []).append(reads)
            if is_def and not (name.startswith("__") and name.endswith("__")):
                defs.append((f"{path.relative_to(ROOT)}", line, name))
    reached = _reach(bindings, seed)
    oracle_names = {
        name for rel, _, name in defs if rel in ORACLES or f"{rel}:{name}" in ORACLES
    }
    with_oracles = _reach(bindings, seed | oracle_names)
    dead = [f"{rel}:{line} {name}" for rel, line, name in defs if name not in with_oracles]
    assert not dead, "only tests reach:\n" + "\n".join(dead)
    # an allow-list entry must still name an oracle: one that was deleted
    # or that an entry point now reaches comes off the list
    stale = [
        key for key in ORACLES
        if not any(
            name not in reached and key in (rel, f"{rel}:{name}") for rel, _, name in defs
        )
    ]
    assert not stale, stale


def test_one_materialization_site():
    """Lineage cuts go through ``ops.stage.materialize`` only — the one
    place that chooses between a local and a reliable checkpoint."""
    owner = ROOT / "pdf_ocr_api_spark" / "ops" / "stage.py"
    direct = [
        f"{path.relative_to(ROOT)}:{node.func.end_lineno}"
        for path in LIBRARY
        if path != owner
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("localCheckpoint", "checkpoint")
    ]
    assert not direct, direct


def _unused_imports(path: Path) -> list[str]:
    """``file:line name`` for each module-level import binding that no
    ``Name`` in the file reads."""
    tree = ast.parse(path.read_text())
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    out = []
    for node in tree.body:
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                bound = a.asname or a.name.split(".")[0]
                if bound not in used:
                    out.append(f"{path.relative_to(ROOT)}:{node.lineno} {bound}")
    return out


def test_no_unused_imports():
    files = [p for p in LIBRARY + sorted((ROOT / "tests").glob("*.py")) if p.name != "__init__.py"]
    unused = [u for p in files for u in _unused_imports(p)]
    assert not unused, unused


@pytest.mark.parametrize("name", ["domain_cap", "domain_stats"])
def test_domain_entry_hash_equals_duckdb_twin(spark, name):
    got = entry.queries()[name](spark, SF_DIR).toPandas()
    con = check_entry.duckdb_views(duckdb.connect(), SF_DIR)
    want = con.execute(entry.oracle_sql()[name]).df()
    assert len(got) > 0
    assert check_entry.frame_hash(got) == check_entry.frame_hash(want)
