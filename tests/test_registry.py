"""The registry's table: loading it builds no oracle, and fixture-pinned
oracle builders fall back to the default fixture."""

from __future__ import annotations

import os
import subprocess
import sys

from bigdata_project_spark import registry

NO_DUCKDB = """
import duckdb

def refuse(*args, **kwargs):
    raise AssertionError("DuckDB used")

duckdb.connect = duckdb.sql = duckdb.query = duckdb.execute = refuse
from bigdata_project_spark import registry
assert len(registry.queries()) == 169
"""


def test_queries_runs_no_duckdb():
    """A fresh interpreter in which any DuckDB call raises can still load
    every builder."""
    root = os.path.join(os.path.dirname(__file__), "..")
    subprocess.run([sys.executable, "-c", NO_DUCKDB], cwd=root, check=True, timeout=300)


def test_oracle_builder_falls_back_to_default_fixture(monkeypatch):
    calls = []

    def build(sf_dir):
        calls.append(sf_dir)
        return {None: "SELECT 'default'", "here": "SELECT 'here'"}.get(sf_dir)

    table = {
        "built": (None, build),
        "none": (None, lambda sf_dir: None),
        "plain": (None, "SELECT 1"),
    }
    monkeypatch.setattr(registry, "_table", lambda: table)
    assert registry.queries() == {"built": None, "none": None, "plain": None}
    assert calls == []
    assert registry.oracles() == {"built": "SELECT 'default'", "plain": "SELECT 1"}
    assert registry.oracles("here")["built"] == "SELECT 'here'"
    assert registry.oracles("elsewhere")["built"] == "SELECT 'default'"
    assert calls == [None, "here", "elsewhere", None]
