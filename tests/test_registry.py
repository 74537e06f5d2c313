"""Pins of the entry registry: the ordered `queries()` keys (the
correctness driver samples the first 50), the `oracle_sql()` mapping
and the set of entries `bench.py` times. Any change to an entry's name,
position, oracle or bench membership changes a fingerprint here."""

from __future__ import annotations

import hashlib
import json

import bench
from vectorsearch_spark import workload


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def test_queries_order_pinned():
    names = list(workload.queries())
    assert len(names) == 220
    assert _sha("\n".join(names)) == (
        "430c8b11372021912038a79807d14690047bd3d47b922ae49a5e6d7244e4d447"
    )


def test_oracle_sql_pinned():
    oracles = workload.oracle_sql()
    assert len(oracles) == 200
    assert _sha(json.dumps(oracles, sort_keys=True)) == (
        "a0f5ecb8dacce67d2bfa82ab64265be758d0411e5711ee358f3e0ca5e0ee0935"
    )


def test_bench_entries_pinned():
    names = sorted(set(bench.entries()))
    assert len(names) == 190
    assert _sha("\n".join(names)) == (
        "ccd7f1c55a498935dc6a24678453229229536c0e9c523dcea269f917b3ab44f2"
    )


def test_entry_names_are_function_names():
    assert all(name == fn.__name__ for name, fn in workload.queries().items())
