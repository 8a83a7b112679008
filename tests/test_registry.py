"""The verification-priority order of the query registry: each name in
``_PRIORITY`` is a registered query, listed once, so the prefix a
correctness driver samples is exactly the queries it names."""

from __future__ import annotations

from collections import Counter

from etl_8million_data__spark.plans import registry


def test_priority_lists_each_registered_query_once():
    registry._load()
    repeats = [n for n, c in Counter(registry._PRIORITY).items() if c > 1]
    unknown = [n for n in registry._PRIORITY if n not in registry._REGISTRY]
    assert repeats == []
    assert unknown == []
