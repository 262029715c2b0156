"""End-to-end golden tests: every declared query vs its DuckDB oracle at
sf0.001 — the same comparison the driver runs at sf0.01 (SURVEY.md §5)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.oracle_util import compare, duckdb_con

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

# Priced k-means/PQ-fit gates and the ingest-trio composites: their cost
# is the FIT, not the data (40-90 s each even at sf0.001), and the
# driver's own oracle sweep re-checks every one of them at sf0.01 each
# round (CORRECTNESS_r*.json) — so the default suite excludes them
# (VERDICT r12 "Next round" #1: the driver's pytest budget truncated a
# 31-minute suite).  Still runnable with `-m slow`.
SLOW_PARITY = {
    "codebook_update_check",
    "daily_ingest_check",
    "daily_ingest_semantic_check",
    "pq_index_update_check",
    "streaming_ingest_check",
}
SLOW_ROWS_ONLY = {
    "daily_ingest_lsh",
    "daily_ingest_semantic",
    "kmeans_centers",
}


def _mark_slow(names, slow):
    return [
        pytest.param(n, marks=pytest.mark.slow) if n in slow else n
        for n in names
    ]


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_con(sf_dir)
    yield c
    c.close()


def test_every_query_has_callable():
    assert QUERIES, "no queries registered"
    for name, fn in QUERIES.items():
        assert callable(fn), name


@pytest.mark.parametrize("name", _mark_slow(sorted(ORACLES), SLOW_PARITY))
def test_oracle_parity(name, spark, sf_dir, con):
    assert name in QUERIES, f"oracle without query: {name}"
    compare(QUERIES[name](spark, sf_dir), con, ORACLES[name])


@pytest.mark.parametrize(
    "name", _mark_slow(sorted(set(QUERIES) - set(ORACLES)), SLOW_ROWS_ONLY)
)
def test_rows_only(name, spark, sf_dir):
    # Non-SQL-expressible ops get the driver's weaker rows-only check.
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0
    assert df.schema is not None


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_every_registry_module_contributes_queries():
    mods = entrymod._registries()
    assert len(mods) == len(entrymod.REGISTRY_MODULES)
    for mod in mods:
        assert getattr(mod, "QUERIES", {}), f"{mod.__name__} contributes no query"


def test_registry_import_error_propagates(monkeypatch):
    monkeypatch.setattr(
        entrymod,
        "REGISTRY_MODULES",
        (*entrymod.REGISTRY_MODULES, "operators.no_such_module"),
    )
    with pytest.raises(ImportError):
        entrymod.queries()
