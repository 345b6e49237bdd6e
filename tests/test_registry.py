"""Registry invariants of the ``twin=`` relation.

A query that must return the same rows as another declares it as its
twin and inherits that query's oracle; no oracle SQL may be a copy of
another query's, so a copied oracle cannot creep back in. Nor may a
twin pair copy DataFrame code: the rows both compute are written once.
"""

import ast
import difflib
import inspect
import re
import textwrap

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


def _code_lines(fn) -> list[str]:
    """The stripped lines of ``fn``'s body that hold code: not blank,
    not comments, with a letter or digit."""
    src = textwrap.dedent(inspect.getsource(fn))
    body = ast.parse(src).body[0].body
    lines = (ln.strip() for ln in src.splitlines()[body[0].lineno - 1 :])
    return [
        ln for ln in lines
        if ln and not ln.startswith("#") and re.search(r"[A-Za-z0-9]", ln)
    ]


def test_twins_share_their_transformation():
    """A query and its twin call one shared transformation instead of
    copying it: their bodies share no run of 4 or more equal code
    lines."""
    copies = []
    for name, spec in REGISTRY.items():
        if spec.twin is None:
            continue
        sm = difflib.SequenceMatcher(
            None, _code_lines(spec.fn), _code_lines(REGISTRY[spec.twin].fn),
            autojunk=False,
        )
        runs = [m.size for m in sm.get_matching_blocks() if m.size >= 4]
        if runs:
            copies.append(f"{name} ~ {spec.twin}: runs of {runs} lines")
    assert not copies, f"{len(copies)} twin pairs copy code: {copies}"


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
