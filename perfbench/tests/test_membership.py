"""Catalog entries are assigned to workloads by the tables they read."""

from __future__ import annotations

import os

from perfbench import catalog, fixtures
from perfbench.tests.conftest import REPO


def test_every_entry_lands_in_exactly_one_catalog_workload():
    from shuttlestandalonedbcreator_spark.queries import CATALOG

    membership = catalog.load_membership(os.path.join(REPO, ".perfbench_cache"))
    assert set(membership) == set(CATALOG)
    known = set(fixtures.TABLES)
    by_workload: dict[str, set[str]] = {catalog.RELATIONAL: set(), catalog.CORPUS: set()}
    for name, tables in membership.items():
        assert tables and set(tables) <= known, name
        by_workload[catalog.workload_of(tables)].add(name)
    assert by_workload[catalog.RELATIONAL] | by_workload[catalog.CORPUS] == set(CATALOG)
    assert not by_workload[catalog.RELATIONAL] & by_workload[catalog.CORPUS]
    assert by_workload[catalog.RELATIONAL] and by_workload[catalog.CORPUS]


def test_sample_is_stable_under_additions():
    names = [f"entry_{i}" for i in range(200)]
    picked = catalog.sample(names, 8)
    assert picked and set(picked) <= set(catalog.sample(names + ["new_entry"], 8))
