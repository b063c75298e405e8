"""Smoke-test the driver contract surface itself."""

from __future__ import annotations

import glob
import importlib.util
import json
import os
import shutil

from bigdata_project_spark import registry

spec = importlib.util.spec_from_file_location(
    "__spark_entry__", os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py")
)
entry_mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(entry_mod)
ROOT = entry_mod.ROOT


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_queries_and_oracles_align(spark):
    qs = entry_mod.queries()
    os_ = entry_mod.oracle_sql()
    assert qs, "no queries registered"
    assert set(os_) <= set(qs), "oracle without a query"


def _rows(root, rnd):
    with open(os.path.join(root, f"CORRECTNESS_r{rnd:02d}.json")) as f:
        return json.load(f)


def test_registry_names_match_checked_rows():
    """The registry holds exactly the names checked in rounds
    13-17, each with an oracle, in name order."""
    names = list(registry.queries())
    checked = set().union(*(_rows(ROOT, r) for r in range(13, 18)))
    assert names == sorted(checked) and len(names) == 169
    assert set(registry.oracles()) == set(names)


def test_check_order_is_stalest_first(tmp_path):
    """Over the CORRECTNESS files of rounds 1-17, the checked window is
    the 21 rows last checked green in round 13, then the first 29 rows of
    round 14, each in file order."""
    for path in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        if int(path[-7:-5]) <= 17:
            shutil.copy(path, tmp_path)
    later = set().union(*(_rows(ROOT, r) for r in range(14, 18)))
    r13_only = [n for n in _rows(ROOT, 13) if n not in later]
    assert len(r13_only) == 21
    order = entry_mod.stalest_first(registry.queries(), str(tmp_path))
    assert order[:50] == r13_only + list(_rows(ROOT, 14))[:29]
    assert sorted(order) == sorted(registry.queries())


def test_check_order_without_correctness_files(tmp_path):
    """Never-checked names go first in name order; with no CORRECTNESS
    files at all that is the whole order."""
    names = ["b", "c", "a"]
    assert entry_mod.stalest_first(names, str(tmp_path)) == ["a", "b", "c"]
    rows = {"a": {"rows_match": True, "schema_match": True, "hash_match": True}}
    rows["c"] = {**rows["a"], "hash_match": False}
    (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps(rows))
    assert entry_mod.stalest_first(names, str(tmp_path)) == ["b", "c", "a"]


def test_no_name_past_ceiling_outside_first_50():
    """A name whose last green row is more than four rounds old by the
    next correctness run must sit in the window that run checks."""
    files = glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))
    latest = max(int(p[-7:-5]) for p in files)
    last = {}
    for r in range(1, latest + 1):
        for name, row in _rows(ROOT, r).items():
            if row.get("rows_match") and row.get("schema_match") and row.get("hash_match"):
                last[name] = r
    window = list(entry_mod.queries())[: entry_mod.CHECK_WINDOW]
    past = [n for n in registry.queries() if last.get(n, 0) < latest - 3]
    assert set(past) <= set(window), sorted(set(past) - set(window))
