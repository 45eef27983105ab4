"""The fast/slow tier contract of tests/conftest.py: every slow-tier
entry names a real test, so a renamed or deleted test cannot silently
drop out of (or into) the default tier."""

from __future__ import annotations

import ast
import os

from tests.conftest import (
    _ORACLE_SWEEPS,
    _SLOW_MODULES,
    _SLOW_TESTS,
    is_slow,
)

TESTS_DIR = os.path.dirname(__file__)


def _collected_names(module: str) -> set[str]:
    """Top-level ``test*`` functions of a test module — what pytest
    collects from it (no test in this suite lives in a class)."""
    with open(os.path.join(TESTS_DIR, f"{module}.py")) as fh:
        tree = ast.parse(fh.read())
    return {
        node.name
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and node.name.startswith("test")
    }


def test_slow_tier_entries_name_collected_tests():
    assert _SLOW_TESTS and _SLOW_MODULES
    for module in _SLOW_MODULES:
        assert _collected_names(module), module
    names: dict[str, set[str]] = {}
    for module, name in sorted(_SLOW_TESTS | _ORACLE_SWEEPS):
        if module not in names:
            names[module] = _collected_names(module)
        assert name in names[module], (module, name)
        if (module, name) in _SLOW_TESTS:
            assert is_slow(module, name, {}), (module, name)


def test_oracle_sweep_tier_reads_the_parameter():
    import __spark_entry__ as entrymod

    queries = set(entrymod.queries())
    for module, name in _ORACLE_SWEEPS:
        slow = {q for q in queries if is_slow(module, name, {"name": q})}
        # a deterministic strict subset stays fast, the rest is slow
        assert slow and slow != queries, (module, name)
