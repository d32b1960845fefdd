"""The grading driver records correctness rows for the FIRST 50 entries
of ``queries()`` in dict order. These tests pin the invariant that the
window covers every SURVEY.md §2 op-id tag and every LLM-pipeline
family that appears anywhere in the registry — so no operator is ever
driver-untested merely because of registry ordering."""

from __future__ import annotations

import re

from apache_iceberg_with_clickhouse_olake_spark.operators.registry import (
    REGISTRY,
    _MODULES,
    _PRIORITY,
    _load_all,
    _ordered,
    all_oracles,
    all_queries,
)

WINDOW = 50

_OP_ID = re.compile(r"^[SPJAOUFDCLG]\d+$")
_FAMILIES = {
    "llm-dedup",
    "llm-similarity",
    "llm-text",
    "llm-sessions",
    "llm-sampling",
    "multimodal",
    "W-ext",
}


def _tags(names) -> set[str]:
    _load_all()
    out: set[str] = set()
    for n in names:
        out.update(REGISTRY[n].tags)
    return out


def test_window_covers_every_op_id_and_family():
    ordered = list(_ordered())
    window_tags = _tags(ordered[:WINDOW])
    all_tags = _tags(ordered)
    want = {
        t for t in all_tags if _OP_ID.match(t) or t in _FAMILIES
    }
    missing = sorted(t for t in want if t not in window_tags)
    assert not missing, (
        f"op-ids/families registered but absent from the driver's "
        f"first-{WINDOW} window: {missing}"
    )


def test_priority_has_no_duplicates_and_all_resolve():
    assert len(_PRIORITY) == len(set(_PRIORITY))
    assert len(_PRIORITY) == WINDOW
    _load_all()
    assert all(n in REGISTRY for n in _PRIORITY)


def test_ordered_prefix_is_priority_and_nothing_lost():
    ordered = list(_ordered())
    assert tuple(ordered[:WINDOW]) == _PRIORITY
    _load_all()
    assert set(ordered) == set(REGISTRY)
    assert len(ordered) == len(REGISTRY)


def test_queries_and_oracles_share_priority_order():
    qs = list(all_queries())
    assert tuple(qs[:WINDOW]) == _PRIORITY
    # oracle dict preserves the same relative order (rows-only queries
    # are simply absent from it)
    os_ = list(all_oracles())
    filtered = [n for n in qs if n in set(os_)]
    assert filtered == os_


def test_every_operator_module_registers_a_query():
    # a listed module whose queries no longer register drops its whole
    # family from queries() and the oracle mirror without a word
    _load_all()
    registering = {
        spec.fn.__module__.rsplit(".", 1)[-1] for spec in REGISTRY.values()
    }
    assert not set(_MODULES) - registering, sorted(
        set(_MODULES) - registering
    )
