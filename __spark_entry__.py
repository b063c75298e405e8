"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``bigdata_project_spark`` package; this module
only adapts the package's query registry to the driver's interface.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from bigdata_project_spark import registry  # noqa: E402

# The correctness check covers only the first CHECK_WINDOW names of
# queries(); the committed CORRECTNESS_r{N}.json files record each round's.
CHECK_WINDOW = 50


def _pin_session(spark: SparkSession) -> None:
    """Pin semantics the queries rely on, whatever session the driver built."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def stalest_first(names: Iterable[str], root: str = ROOT) -> list[str]:
    """Order ``names`` so the correctness check takes the stalest first:
    by the last round with a fully green row in ``root``'s CORRECTNESS
    files, then by position in that round's file. Names never checked
    green come first, in name order; with no CORRECTNESS files this is
    plain name order."""
    files = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m:
            files[int(m.group(1))] = path
    last: dict[str, tuple[int, int]] = {}
    for rnd in sorted(files):
        with open(files[rnd]) as f:
            rows = json.load(f)
        for pos, (name, row) in enumerate(rows.items()):
            if all(row.get(k) for k in ("rows_match", "schema_match", "hash_match")):
                last[name] = (rnd, pos)
    return sorted(sorted(names), key=lambda n: last.get(n, (0, 0)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _pin_session(spark)
    return registry.queries()["silver_od"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query, stalest-first (:func:`stalest_first`)."""

    def wrap(fn: registry.QueryFn) -> registry.QueryFn:
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _pin_session(spark)
            return fn(spark, sf_dir)

        return run

    qs = registry.queries()
    return {name: wrap(qs[name]) for name in stalest_first(qs)}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each query."""
    return registry.oracles()
