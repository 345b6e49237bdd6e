"""Registry invariants of the ``twin=`` relation.

A query that must return the same rows as another declares it as its
twin and inherits that query's oracle; no oracle SQL may be a copy of
another query's, so a copied oracle cannot creep back in.
"""

import re

import pytest

from flink_demo_spark.plans.registry import REGISTRY, QuerySpec, _load_all, query

_load_all()


def _normalized(sql: str) -> str:
    """The oracle text without ``--`` comments and whitespace runs."""
    return re.sub(r"\s+", " ", re.sub(r"--[^\n]*", "", sql)).strip()


def test_twins_name_oracle_backed_roots():
    bad = []
    for name, spec in REGISTRY.items():
        twin = getattr(spec, "twin", None)
        if twin is None:
            continue
        root = REGISTRY.get(twin)
        if root is None or root.oracle is None or getattr(root, "twin", None):
            bad.append(f"{name} -> {twin}")
        elif spec.oracle != root.oracle:
            bad.append(f"{name}: oracle is not its twin {twin}'s")
    assert not bad, bad


def test_no_copied_oracles():
    """Queries with equal oracle SQL must be one query plus the queries
    that declare it as their twin."""
    groups: dict[str, list[str]] = {}
    for name, spec in REGISTRY.items():
        if spec.oracle is not None:
            groups.setdefault(_normalized(spec.oracle), []).append(name)
    copies = [
        sorted(names)
        for names in groups.values()
        if len({getattr(REGISTRY[n], "twin", None) or n for n in names}) > 1
    ]
    assert not copies, f"{len(copies)} groups share undeclared oracle SQL: {copies}"


def test_oracle_and_twin_are_exclusive():
    with pytest.raises(ValueError, match="both an oracle and twin"):
        query("both_oracle_and_twin", oracle="SELECT 1", twin="window_session")
    assert "both_oracle_and_twin" not in REGISTRY


def _spec(name, oracle=None, twin=None):
    return QuerySpec(name, lambda spark, sf_dir: None, oracle, twin=twin)


def test_resolve_twins_in_place():
    from flink_demo_spark.plans.registry import _resolve_twins

    reg = {"batch": _spec("batch", "SELECT 1"), "stream": _spec("stream", twin="batch")}
    _resolve_twins(reg)
    assert reg["stream"].oracle == "SELECT 1"
    assert reg["stream"].twin == "batch"


_BAD_TWINS = {
    "unknown": ({"s": (None, "missing")}, "unknown twin"),
    "oracle_less": ({"b": (None, None), "s": (None, "b")}, "has no oracle"),
    "chained": (
        {"b": ("SELECT 1", None), "m": (None, "b"), "s": (None, "m")},
        "declares twin",
    ),
}


@pytest.mark.parametrize("case", sorted(_BAD_TWINS))
def test_resolve_twins_rejects(case):
    from flink_demo_spark.plans.registry import _resolve_twins

    decls, why = _BAD_TWINS[case]
    reg = {n: _spec(n, oracle, twin) for n, (oracle, twin) in decls.items()}
    with pytest.raises(ValueError, match=why):
        _resolve_twins(reg)
