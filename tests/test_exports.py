"""Every public export resolves: a name deleted from a module but left in
its package's ``__all__`` fails here instead of at a user's import."""

from __future__ import annotations

import importlib

import pytest

PACKAGES = [
    "udacity_data_engineering_capstone_project_spark.operators",
    "udacity_data_engineering_capstone_project_spark.sources",
    "udacity_data_engineering_capstone_project_spark.functions",
]


@pytest.mark.parametrize("name", PACKAGES)
def test_all_exports_resolve(name):
    pkg = importlib.import_module(name)
    assert pkg.__all__, f"{name}.__all__ is empty"
    assert len(pkg.__all__) == len(set(pkg.__all__)), f"{name}.__all__ repeats a name"
    missing = [n for n in pkg.__all__ if not hasattr(pkg, n)]
    assert not missing, f"{name}.__all__ names missing attributes: {missing}"
    ns: dict = {}
    exec(f"from {name} import *", ns)
    assert set(pkg.__all__) <= set(ns)
