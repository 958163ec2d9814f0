"""Every entry of tests/slow_tests.txt names an existing test, so renaming
or deleting a slow test cannot silently shrink the full (-m "") suite."""

from __future__ import annotations

import ast
from pathlib import Path

TESTS = Path(__file__).resolve().parent
ROOT = TESTS.parent


def _test_ids(path: Path) -> set[str]:
    """Node ids (without parameters) of the test functions in one file:
    module-level ``test_*`` functions and ``test_*`` methods of
    ``Test*`` classes."""
    rel = path.relative_to(ROOT).as_posix()
    ids = set()
    for node in ast.parse(path.read_text(), filename=str(path)).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and node.name.startswith("test"):
            ids.add(f"{rel}::{node.name}")
        elif isinstance(node, ast.ClassDef) and node.name.startswith("Test"):
            for item in node.body:
                if isinstance(item, (ast.FunctionDef, ast.AsyncFunctionDef)) and item.name.startswith("test"):
                    ids.add(f"{rel}::{node.name}::{item.name}")
    return ids


def test_every_slow_manifest_entry_names_an_existing_test():
    known = set().union(*(_test_ids(p) for p in TESTS.glob("test_*.py")))
    entries = [
        line.strip()
        for line in (TESTS / "slow_tests.txt").read_text().splitlines()
        if line.strip() and not line.startswith("#")
    ]
    assert entries
    missing = [e for e in entries if e.split("[")[0] not in known]
    assert not missing, f"slow_tests.txt names tests that do not exist: {missing}"
