"""The driver-gate registry (__spark_entry__.py): its size, its oracle
keys, the hash equality of the domain entries with their DuckDB twins,
that every library import named in the gate file or in a library
module (function-level ones included) resolves, that every
top-level library definition is referenced somewhere, that only
``ops/stage.py`` checkpoints, and that no module-level import is
unused."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import re
from collections import Counter
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


def _top_level_names(path: Path) -> list[tuple[int, str]]:
    """(line, name) for each module-level ``def``/``class``/``Name =``."""
    out = []
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out.append((node.lineno, node.name))
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            out += [(node.lineno, t.id) for t in targets if isinstance(t, ast.Name)]
    return out


def test_library_definitions_are_referenced():
    """A library definition whose name occurs in no ``*.py`` file of the
    repo but its own definition is dead code. Counting ``\\w+`` runs
    equals counting word-boundary matches of an identifier."""
    words = Counter()
    for p in ROOT.rglob("*.py"):
        if not {".git", ".perfbench_work"} & set(p.relative_to(ROOT).parts):
            words.update(re.findall(r"\w+", p.read_text()))
    dead = [
        f"{path.relative_to(ROOT)}:{line} {name}"
        for path in LIBRARY
        for line, name in _top_level_names(path)
        if words[name] <= 1
    ]
    assert not dead, dead


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
