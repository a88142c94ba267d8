"""The driver-gate registry (__spark_entry__.py): its size, its oracle
keys, the library modules its lazy entry imports name, and the hash
equality of the domain entries with their DuckDB twins."""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

import duckdb
import pytest

import __spark_entry__ as entry

ROOT = Path(__file__).resolve().parents[1]


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


def _library_imports() -> list[tuple[str, str | None]]:
    """(module, imported name) for every ``pdf_ocr_api_spark`` import in
    the gate file, at any nesting depth (entry imports are lazy)."""
    tree = ast.parse((ROOT / "__spark_entry__.py").read_text())
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith("pdf_ocr_api_spark"):
            out += [(node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [(a.name, None) for a in node.names if a.name.startswith("pdf_ocr_api_spark")]
    return out


def test_entry_library_imports_resolve():
    imports = _library_imports()
    assert imports
    for module, name in imports:
        mod = importlib.import_module(module)
        if name is None or hasattr(mod, name):
            continue
        assert importlib.util.find_spec(f"{module}.{name}") is not None, (module, name)


@pytest.mark.parametrize("name", ["domain_cap", "domain_stats"])
def test_domain_entry_hash_equals_duckdb_twin(spark, name):
    got = entry.queries()[name](spark, SF_DIR).toPandas()
    con = check_entry.duckdb_views(duckdb.connect(), SF_DIR)
    want = con.execute(entry.oracle_sql()[name]).df()
    assert len(got) > 0
    assert check_entry.frame_hash(got) == check_entry.frame_hash(want)
