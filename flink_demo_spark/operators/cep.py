"""CEP: complex event pattern matching (SURVEY.md §2.12).

The reference exposes Flink CEP (``tutorial/.../CEPDemo.scala``, 25
feature tests) and SQL MATCH_RECOGNIZE (``QueryTest.scala:942-1026``,
``TableSQLFunc.scala:1569-2248``). Spark has neither; this module
implements the subset the reference actually uses:

- a pattern of named steps, each a row predicate;
- contiguity per step: ``next`` (strictly consecutive),
  ``followed_by`` (skip-till-next-match), or ``followed_by_any``
  (skip-till-ANY-match, branch per occurrence — CEPDemo.scala:674);
- quantifiers: ``times(n)`` / ``times(n, m)`` / ``times_or_more`` /
  ``one_or_more``, greedy or ``reluctant()``; loop contiguity
  ``consecutive`` (default) / ``relaxed()`` / ``allow_combinations()``
  (CEPDemo.scala:211-246);
- pattern groups (``begin_group``/``next_group``/``followed_by_group``
  — CEPDemo.scala:740);
- ``within`` horizon from first to last matched event;
- skip strategy after a match: ``skip_past_last_event`` (the
  reference's default choice for its applied patterns) or
  ``skip_to_next``; ``match_pattern_all`` is Flink's NO_SKIP default
  (every anchor, every branch);
- timeout side-output for expired partial matches
  (``match_pattern_with_timeouts`` — TimeoutMatchByCep.scala:10-19).

Execution model (batch): events are grouped per key, sorted by event
time, and an NFA runs inside ``applyInPandas`` — one shuffle on the
key, linear scan per group, state bounded by the pattern length.
The streaming twin (``streaming/stateful.py``) runs the same NFA in
``applyInPandasWithState`` with the buffer kept in group state.

Covers the applied uses: login-fail ``fail next fail within 2s``
(``LoginFail.scala:78-86``), order-timeout ``create followedBy pay
within 15min`` (``OrderPay.scala:31-53``), and the MATCH_RECOGNIZE
V-pattern (down+ up+) via quantified steps.

Iterative conditions (Flink ``IterativeCondition``, CEPDemo.scala:
383-417): a predicate may take a second ``ctx`` argument —
``ctx.events_for_pattern(name)`` returns the events (row dicts)
already matched for step ``name`` in the current partial match,
including earlier repeats of the step being evaluated (the candidate
row itself is never included, matching Flink). One-argument
predicates keep the SimpleCondition fast path; the arity is sniffed
once per callable and cached.
"""

from __future__ import annotations

import inspect
from collections.abc import Callable
from dataclasses import dataclass, field

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

# row -> bool, or (row, ctx) -> bool (iterative condition)
Predicate = Callable[..., bool]


class CepContext:
    """Flink ``IterativeCondition.Context``: read-only view of the
    events matched so far while a DEFINE-style predicate runs. Valid
    only for the duration of the predicate call."""

    __slots__ = ("_recs", "_bindings", "_cur_name", "_cur_run")

    def __init__(self, recs, bindings, cur_name, cur_run):
        self._recs = recs
        self._bindings = bindings
        self._cur_name = cur_name
        self._cur_run = cur_run

    def events_for_pattern(self, name: str) -> list[dict]:
        """Events already bound to step ``name``, in match order.
        For the step currently being evaluated this includes earlier
        loop repeats but never the candidate row itself."""
        idxs = list(self._bindings.get(name, ()))
        if name == self._cur_name and self._cur_run:
            idxs = idxs + list(self._cur_run)
        return [self._recs[i] for i in idxs]

    # Flink spelling
    get_events_for_pattern = events_for_pattern


def _sig_takes_ctx(pred) -> bool:
    try:
        params = list(inspect.signature(pred).parameters.values())
    except (TypeError, ValueError):
        return False
    if any(p.kind == p.VAR_POSITIONAL for p in params):
        return True
    pos = [
        p
        for p in params
        if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
    ]
    return len(pos) >= 2


def _takes_ctx(pred) -> bool:
    flag = getattr(pred, "_cep_takes_ctx", None)
    if flag is None:
        flag = _sig_takes_ctx(pred)
        try:
            pred._cep_takes_ctx = flag
        except (AttributeError, TypeError):
            pass  # non-function callable: recomputed per call
    return flag


def _invoke(pred, row, recs, bindings, cur_name, cur_run=()) -> bool:
    """Call ``pred`` with or without an iterative-condition context."""
    if _takes_ctx(pred):
        return pred(row, CepContext(recs, bindings, cur_name, cur_run))
    return pred(row)


def _combine(a: Predicate, b: Predicate, op) -> Predicate:
    """Combine two conditions (or/and), preserving ctx dispatch."""

    def combined(row, ctx=None):
        av = a(row, ctx) if _takes_ctx(a) else a(row)
        bv = b(row, ctx) if _takes_ctx(b) else b(row)
        return op(av, bv)

    combined._cep_takes_ctx = a_or_b_ctx = _takes_ctx(a) or _takes_ctx(b)
    if not a_or_b_ctx:
        # both plain: stay on the 1-arg fast path
        def plain(row):
            return op(a(row), b(row))

        plain._cep_takes_ctx = False
        return plain
    return combined


@dataclass(frozen=True)
class Step:
    name: str
    predicate: Predicate | None
    contiguity: str = "followed_by"  # 'next' | 'followed_by' | 'followed_by_any'
    min_times: int = 1
    max_times: int | None = 1  # None = unbounded (one_or_more when min=1)
    optional: bool = False  # CEP .optional() (CEPDemo.scala:344)
    negated: bool = False  # notNext/notFollowedBy (CEPDemo.scala:566, 640)
    greedy: bool = True  # quantifier preference; False = reluctant B+? (CEPDemo greedy:265)
    # loop contiguity for quantified steps (CEPDemo.scala:180-246):
    # 'consecutive' (.consecutive()), 'relaxed' (Flink default: later
    # repeats skip non-matching events), 'combinations'
    # (.allowCombinations(): any subset of later matching events)
    loop: str = "consecutive"
    group: "Pattern | None" = None  # pattern group (CEPDemo.scala:740)

    def replace(self, **kw) -> "Step":
        from dataclasses import replace as _replace

        return _replace(self, **kw)


@dataclass
class Pattern:
    """Fluent pattern builder mirroring the Flink CEP API surface.

    ``after_match``: 'skip_past_last_event' (default; CEPDemo.scala:879)
    or 'skip_to_next' (overlapping matches, anchor advances one row;
    CEPDemo.scala:846).
    """

    steps: list[Step] = field(default_factory=list)
    within: pd.Timedelta | None = None
    # 'skip_past_last_event' | 'skip_to_next' | ('skip_to_first', name)
    # | ('skip_to_last', name)
    after_match: str | tuple[str, str] = "skip_past_last_event"
    until_pred: Predicate | None = None  # stop condition (CEPDemo.scala:489)

    @staticmethod
    def begin(name: str, predicate: Predicate) -> "Pattern":
        return Pattern(steps=[Step(name, predicate)])

    def next(self, name: str, predicate: Predicate) -> "Pattern":
        self.steps.append(Step(name, predicate, contiguity="next"))
        return self

    def followed_by(self, name: str, predicate: Predicate) -> "Pattern":
        self.steps.append(Step(name, predicate, contiguity="followed_by"))
        return self

    def followed_by_any(self, name: str, predicate: Predicate) -> "Pattern":
        """Skip-till-ANY-match: branch at every later event satisfying
        the predicate, not just the first (CEP .followedByAny,
        CEPDemo.scala:674-704 — 'a followByAny c -> (a,c), (a,c)').
        Branches beyond the first are emitted by ``match_pattern_all``."""
        self.steps.append(Step(name, predicate, contiguity="followed_by_any"))
        return self

    def times(self, n: int, m: int | None = None) -> "Pattern":
        """Exactly n repeats, or n..m when ``m`` is given
        (CEP .times(n) / .times(from, to), CEPDemo.scala:211)."""
        s = self.steps[-1]
        self.steps[-1] = s.replace(min_times=n, max_times=m if m is not None else n)
        return self

    def times_or_more(self, n: int) -> "Pattern":
        """n or more repeats (CEP .timesOrMore, CEPDemo.scala:211)."""
        s = self.steps[-1]
        self.steps[-1] = s.replace(min_times=n, max_times=None)
        return self

    def one_or_more(self) -> "Pattern":
        s = self.steps[-1]
        self.steps[-1] = s.replace(min_times=1, max_times=None)
        return self

    def relaxed(self) -> "Pattern":
        """Relaxed loop contiguity for the last quantified step: later
        repeats skip non-matching events (Flink's default for times/
        oneOrMore; this library defaults to consecutive())."""
        self.steps[-1] = self.steps[-1].replace(loop="relaxed")
        return self

    def allow_combinations(self) -> "Pattern":
        """Loop repeats may be ANY subset of later matching events,
        with other events interleaved (CEP .allowCombinations,
        CEPDemo.scala:211-246: times(2) over matches at t1<t2<t3 yields
        {t1,t2}, {t1,t3}, {t2,t3}). All subsets are emitted by
        ``match_pattern_all``."""
        self.steps[-1] = self.steps[-1].replace(loop="combinations")
        return self

    def optional(self) -> "Pattern":
        """Last step may be skipped (CEP .optional, CEPDemo.scala:344)."""
        s = self.steps[-1]
        self.steps[-1] = Step(
            s.name, s.predicate, s.contiguity, s.min_times, s.max_times, True
        )
        return self

    def or_where(self, predicate: Predicate) -> "Pattern":
        """OR-extend the last step's condition (CEP .or, CEPDemo.scala:419).
        Either side may be an iterative (row, ctx) condition."""
        s = self.steps[-1]
        self.steps[-1] = Step(
            s.name,
            _combine(s.predicate, predicate, lambda a, b: a or b),
            s.contiguity,
            s.min_times,
            s.max_times,
            s.optional,
        )
        return self

    def and_where(self, predicate: Predicate) -> "Pattern":
        """AND-extend the last step's condition (CEP .where chaining /
        .and, CEPDemo.scala:454). Either side may be an iterative
        (row, ctx) condition."""
        s = self.steps[-1]
        self.steps[-1] = Step(
            s.name,
            _combine(s.predicate, predicate, lambda a, b: a and b),
            s.contiguity,
            s.min_times,
            s.max_times,
            s.optional,
        )
        return self

    def not_next(self, name: str, predicate: Predicate) -> "Pattern":
        """The immediately following event must NOT satisfy predicate
        (CEP .notNext, CEPDemo.scala:566)."""
        self.steps.append(Step(name, predicate, "next", negated=True))
        return self

    def not_followed_by(self, name: str, predicate: Predicate) -> "Pattern":
        """No event satisfying predicate may occur before the next
        step matches (CEP .notFollowedBy, CEPDemo.scala:640). Must be
        followed by another (positive) step."""
        self.steps.append(Step(name, predicate, "followed_by", negated=True))
        return self

    def reluctant(self) -> "Pattern":
        """Make the last quantified step reluctant (B+? / B*? in
        MATCH_RECOGNIZE, TableSQLFunc2.scala:20-267): prefer the
        fewest repeats that let the rest of the pattern match."""
        self.steps[-1] = self.steps[-1].replace(greedy=False)
        return self

    def until(self, predicate: Predicate) -> "Pattern":
        """Stop expanding a one_or_more step when predicate fires
        (CEP .until, CEPDemo.scala:489). The until row is not consumed."""
        self.until_pred = predicate
        return self

    def skip_to_next(self) -> "Pattern":
        """AFTER MATCH SKIP TO NEXT ROW: emit overlapping matches
        (CEP skip strategies, CEPDemo.scala:846)."""
        self.after_match = "skip_to_next"
        return self

    def skip_to_first(self, name: str) -> "Pattern":
        """AFTER MATCH SKIP TO FIRST <name> (CEP
        ``AfterMatchSkipStrategy.skipToFirst``, CEPDemo.scala:914):
        the anchor stays pinned at the first event bound to ``name``,
        so EVERY solution anchored there is emitted (the reference
        golden shows all repeat counts [a b], [a b c], [a b c d] for
        one anchor); matching then resumes at that first event if it
        advances the scan, else past the consumed events. Pair with
        ``reluctant()`` to replicate the streaming goldens, which emit
        in earliest-completion order."""
        self.after_match = ("skip_to_first", name)
        return self

    def skip_to_last(self, name: str) -> "Pattern":
        """AFTER MATCH SKIP TO LAST <name> (CEP
        ``AfterMatchSkipStrategy.skipToLast``, CEPDemo.scala:949):
        after a match, resume at the LAST event bound to ``name`` —
        that event may start the next match, giving the reference
        golden's sliding chain [92,93] -> [93,94] -> [94,96]. Pair
        with ``reluctant()`` to replicate the streaming goldens."""
        self.after_match = ("skip_to_last", name)
        return self

    def within_time(self, duration: str) -> "Pattern":
        self.within = pd.Timedelta(duration)
        return self

    # -- pattern groups (CEP Pattern.begin(Pattern), CEPDemo.scala:740) --

    @staticmethod
    def begin_group(sub: "Pattern", name: str = "group") -> "Pattern":
        """Start with a pattern group; quantify it with .times()/
        .one_or_more() (greedy does not apply to groups, as in Flink).
        Repeats follow relaxed contiguity (Flink's group default)."""
        return Pattern(steps=[Step(name, None, "followed_by", group=sub)])

    def next_group(self, sub: "Pattern", name: str = "group") -> "Pattern":
        """Group whose first repeat starts strictly at the next event."""
        self.steps.append(Step(name, None, "next", group=sub))
        return self

    def followed_by_group(self, sub: "Pattern", name: str = "group") -> "Pattern":
        self.steps.append(Step(name, None, "followed_by", group=sub))
        return self


def _iter_matches_from(
    rows: pd.DataFrame,
    start: int,
    pattern: Pattern,
    ts_col: str,
    recs: list[dict] | None = None,
):
    """Yield every (end_index_exclusive, {step: [row indices]}) solution
    of the pattern anchored at row ``start``.

    ``recs`` is the rows as ``to_dict("records")`` — computed once per
    group by the callers; per-probe ``iloc`` is ~10x slower.

    Backtracking matcher: quantified steps try repeat counts greedily
    (max->min) or reluctantly (min->max, ``reluctant()``); branch
    points — repeat counts, ``followed_by_any`` occurrences,
    ``allow_combinations`` subsets, group repeats — are enumerated in
    preference order, so the FIRST yielded solution is the single-match
    semantics and the full stream is Flink's NO_SKIP emission.
    """
    if recs is None:
        recs = rows.to_dict("records")
    n = len(recs)
    steps = pattern.steps
    t0 = recs[start][ts_col]

    def in_horizon(j: int) -> bool:
        if pattern.within is None:
            return True
        return recs[j][ts_col] - t0 <= pattern.within

    def until_hit(j: int, bindings, cur_name, cur_run) -> bool:
        # until is an IterativeCondition in Flink too (CEPDemo.scala:489)
        return pattern.until_pred is not None and _invoke(
            pattern.until_pred, recs[j], recs, bindings, cur_name, cur_run
        )

    def candidates_for(step: Step, i: int, anchored: bool, pending_neg, bindings):
        """Start positions for a positive step. followed_by stops at the
        first match; followed_by_any collects every match (later ones
        are cut off once a pending notFollowedBy event occurs)."""
        out: list[int] = []
        j = i
        while j < n and in_horizon(j):
            row = recs[j]
            if _invoke(step.predicate, row, recs, bindings, step.name):
                out.append(j)
                if step.contiguity != "followed_by_any":
                    break
            elif any(
                _invoke(neg.predicate, row, recs, bindings, neg.name)
                for neg in pending_neg
            ):
                break  # forbidden event: no candidates past this point
            if step.contiguity == "next" or anchored:
                break
            j += 1
        return out

    def expand_quantifier(step: Step, found: int, bindings):
        """Yield index lists for the loop anchored at ``found``, in
        preference order. Loop contiguity: consecutive (default, Flink
        .consecutive()), relaxed (skip non-matching between repeats),
        combinations (.allowCombinations(): any subset of later
        matches). ``until`` stops expansion without consuming.
        Iterative conditions see earlier repeats of the run via ctx
        (for ``combinations`` candidate collection, only the loop's
        first event is visible — subset membership is decided later)."""
        if step.loop == "combinations":
            from itertools import combinations as _combos

            later: list[int] = []
            j = found + 1
            while j < n and in_horizon(j):
                if until_hit(j, bindings, step.name, [found]):
                    break
                if _invoke(
                    step.predicate, recs[j], recs, bindings, step.name, [found]
                ):
                    later.append(j)
                j += 1
            max_extra = (
                len(later) if step.max_times is None else step.max_times - 1
            )
            extras = [
                c for c in range(max(step.min_times - 1, 0), max_extra + 1)
            ]
            for c in (reversed(extras) if step.greedy else extras):
                for combo in _combos(later, c):
                    yield [found, *combo]
            return
        run = [found]
        j = found + 1
        while (
            (step.max_times is None or len(run) < step.max_times)
            and j < n
            and in_horizon(j)
        ):
            if until_hit(j, bindings, step.name, run):
                break
            if _invoke(step.predicate, recs[j], recs, bindings, step.name, run):
                run.append(j)
                j += 1
            elif step.loop == "relaxed":
                j += 1  # relaxed: later repeats skip non-matching events
            else:
                break
        counts = range(step.min_times, len(run) + 1)
        for c in (reversed(counts) if step.greedy else counts):
            yield run[:c]

    def solve_group(step: Step, i: int, anchored: bool, bindings: dict):
        """Yield end positions after matching the group min..max times.
        Repeats follow relaxed contiguity (Flink's group semantics;
        greedy does not apply). Inner bindings accumulate across
        repeats. Counts are enumerated ascending.

        Inner steps may be optional, negated (notNext/notFollowedBy),
        or nested groups — the sub-solver mirrors the top-level
        ``solve`` with accumulating bindings. The one exclusion, as in
        Flink, is a trailing notFollowedBy: the forbidden range would
        extend past the group's end, where no inner step bounds it.
        """
        sub = step.group
        if sub.steps and sub.steps[-1].negated and (
            sub.steps[-1].contiguity != "next"
        ):
            raise ValueError(
                "notFollowedBy cannot be the last step of a pattern group"
            )

        def _accum(name: str, extra: list[int]):
            prev = bindings.get(name)
            bindings[name] = (prev or []) + extra
            return prev

        def _restore(name: str, prev):
            if prev is None:
                del bindings[name]
            else:
                bindings[name] = prev

        def one_rep(pos: int, first_rep: bool):
            """Yield end positions of a single group repetition
            starting its search at pos, restoring bindings after."""

            def sub_solve(ki: int, p: int, pending_neg: tuple[Step, ...]):
                if ki == len(sub.steps):
                    yield p
                    return
                st = sub.steps[ki]
                anchor_here = ki == 0 and first_rep and anchored
                strict = st.contiguity == "next" or (
                    ki == 0 and first_rep and step.contiguity == "next"
                )

                if st.negated:
                    if st.contiguity == "next":
                        # notNext inside the group
                        if (
                            p < n
                            and in_horizon(p)
                            and _invoke(
                                st.predicate, recs[p], recs, bindings, st.name
                            )
                        ):
                            return
                        prev = _accum(st.name, [])
                        yield from sub_solve(ki + 1, p, pending_neg)
                        _restore(st.name, prev)
                        return
                    # notFollowedBy: forbidden until the next inner
                    # positive step matches
                    prev = _accum(st.name, [])
                    yield from sub_solve(ki + 1, p, pending_neg + (st,))
                    _restore(st.name, prev)
                    return

                if st.group is not None:
                    # nested group: recurse (bindings keep accumulating;
                    # a zero-repeat pass-through comes out of solve_group
                    # itself when min_times == 0)
                    for end in solve_group(st, p, anchor_here, bindings):
                        yield from sub_solve(ki + 1, end, ())
                    if st.optional and st.min_times > 0:
                        yield from sub_solve(ki + 1, p, pending_neg)
                    return

                eff = st.replace(contiguity="next") if strict else st
                for found in candidates_for(
                    eff, p, anchor_here, pending_neg, bindings
                ):
                    for taken in expand_quantifier(st, found, bindings):
                        prev = _accum(st.name, taken)
                        yield from sub_solve(ki + 1, taken[-1] + 1, ())
                        _restore(st.name, prev)
                if st.optional:
                    prev = _accum(st.name, [])
                    yield from sub_solve(ki + 1, p, pending_neg)
                    _restore(st.name, prev)

            yield from sub_solve(0, pos, ())

        def go(reps_done: int, pos: int):
            if reps_done >= step.min_times:
                yield pos
            if step.max_times is not None and reps_done == step.max_times:
                return
            for end in one_rep(pos, reps_done == 0):
                yield from go(reps_done + 1, end)

        yield from go(0, i)

    def solve(si: int, i: int, pending_neg: tuple[Step, ...], bindings: dict):
        if si == len(steps):
            yield i, {k: list(v) for k, v in bindings.items()}
            return
        step = steps[si]

        if step.negated:
            if step.contiguity == "next":
                # notNext: the immediately following event must not match
                if (
                    i < n
                    and in_horizon(i)
                    and _invoke(step.predicate, recs[i], recs, bindings, step.name)
                ):
                    return
                bindings[step.name] = []
                yield from solve(si + 1, i, pending_neg, bindings)
                del bindings[step.name]
                return
            # notFollowedBy: forbidden until the next positive step
            # matches (trailing negation unsupported, as in Flink)
            bindings[step.name] = []
            yield from solve(si + 1, i, pending_neg + (step,), bindings)
            del bindings[step.name]
            return

        if step.group is not None:
            for end in solve_group(step, i, si == 0, bindings):
                yield from solve(si + 1, end, (), bindings)
            if step.optional and step.min_times > 0:
                yield from solve(si + 1, i, pending_neg, bindings)
            return

        found_list = candidates_for(step, i, si == 0, pending_neg, bindings)
        for found in found_list:
            for taken in expand_quantifier(step, found, bindings):
                bindings[step.name] = taken
                yield from solve(si + 1, taken[-1] + 1, (), bindings)
                del bindings[step.name]
        if step.optional:
            bindings[step.name] = []
            yield from solve(si + 1, i, pending_neg, bindings)
            del bindings[step.name]

    yield from solve(0, start, (), {})


def _match_from(
    rows: pd.DataFrame,
    start: int,
    pattern: Pattern,
    ts_col: str,
    recs: list[dict] | None = None,
) -> tuple[int, dict[str, list[int]]] | None:
    """First (preferred) match anchored at ``start``, or None."""
    return next(iter(_iter_matches_from(rows, start, pattern, ts_col, recs)), None)


def _anchor_failure_is_final(pattern: Pattern, n_avail: int) -> bool:
    """Streaming helper: is a FAILED anchor decided for good given
    ``n_avail`` buffered rows from the anchor on? True for patterns
    whose every step is strictly consecutive ('next' contiguity, the
    anchor step included) once the buffer holds the pattern's minimum
    row requirement — every decision the NFA made then examined an
    existing row, so no future in-order row can turn the failure into
    a match. followed_by scans and groups return False (a future row
    always could match); the caller falls back to WITHIN expiry."""
    steps = pattern.steps
    if any(s.group is not None for s in steps):
        return False
    if any(s.contiguity != "next" for s in steps[1:]):
        return False
    # a repeating step with relaxed/combinations LOOP contiguity can
    # recruit a future row for a later repeat even after `need` rows
    # arrived (intervening non-matches are skipped), so its failure is
    # never final on row count alone — fall back to WITHIN expiry
    if any(
        not s.negated
        and s.loop != "consecutive"
        and (s.max_times is None or s.max_times > 1 or s.min_times > 1)
        for s in steps
    ):
        return False
    need = sum(s.min_times for s in steps if not s.negated)
    if steps and steps[-1].negated:
        need += 1  # trailing notNext needs one lookahead row
    return n_avail >= need


def _anchor_dead_now(pattern: Pattern, recs: list[dict], at: int = 0) -> bool:
    """Streaming fail-fast: the buffer's front row can NEVER anchor a
    match — the begin step is mandatory (not optional/negated/group,
    min_times >= 1), anchored at the front row, and its predicate
    rejects it. A begin predicate sees only the row and an empty
    partial (iterative ctx has nothing bound yet), so a rejection is
    permanent and the row can drop immediately instead of lingering
    until its WITHIN horizon expires — at scale this keeps per-key
    state proportional to live partials, not to `within` × event
    rate. Safe for every skip strategy (a dead anchor emits nothing
    under any of them, and `_partial_bindings` returns None for it so
    no timeout fires either). Iterative (ctx-taking) begin predicates
    are excluded: they can read other buffered rows through the
    context, so a rejection now is not provably permanent — those
    anchors fall back to horizon expiry."""
    s0 = pattern.steps[0]
    if s0.negated or s0.optional or s0.group is not None or s0.min_times < 1:
        return False
    if _takes_ctx(s0.predicate):
        return False
    return not s0.predicate(recs[at])


def _open_relaxed_loop(steps: list[Step], bindings: dict) -> bool:
    """True when some step of a COMPLETED preferred match could still
    recruit a row arriving after the current buffer. A bound greedy
    RELAXED/COMBINATIONS loop with repeat quota left skips
    non-matching rows, so a later row can extend it across any gap —
    regardless of whether it is the LAST bound step: for
    ``a+ relaxed -> c`` the future row grows the a-loop AND re-binds c
    even later (batch prefers a=[1,2,5],c=6 over a=[1,2],c=3), so
    checking only ``steps[last_bound]`` (the pre-round-7 rule) emitted
    the short match early and broke split invariance. Group steps are
    conservatively future-sensitive: their repeats follow relaxed
    contiguity and their bindings accumulate under INNER step names,
    so repeat quota cannot be counted from ``bindings`` here."""
    for s in steps:
        if s.group is not None:
            return True
        if s.negated or not s.greedy or s.loop not in ("relaxed", "combinations"):
            continue
        took = len(bindings.get(s.name, ()))
        if took and (s.max_times is None or took < s.max_times):
            return True
    return False


def _match_can_extend(pattern: Pattern, bindings: dict) -> bool:
    """Could a future in-order row change this preferred match?
    Used by the streaming twin to decide whether a match ending at the
    buffer's last row must stay pending. True when (a) any step after
    the last one that bound rows exists (an unbound optional could
    bind, a trailing notNext could be invalidated), or (b) the last
    bound step is a greedy loop with quota left (it would consume
    more); reluctant loops stop at their preference, fixed-count
    quantifiers at their max."""
    steps = pattern.steps
    if _open_relaxed_loop(steps, bindings):
        return True  # a mid-pattern relaxed loop can grow across gaps
    last_bound = -1
    for i, s in enumerate(steps):
        if bindings.get(s.name):
            last_bound = i
    if last_bound < 0 or last_bound < len(steps) - 1:
        return True
    s = steps[last_bound]
    if s.group is not None:
        return True  # group repeats could extend
    took = len(bindings.get(s.name, ()))
    if s.max_times is None or took < s.max_times:
        return bool(s.greedy)
    return False


def _match_future_sensitive(pattern: Pattern, bindings: dict, end: int, n: int) -> bool:
    """Streaming early-emit guard: could a row arriving AFTER the
    current ``n``-row buffer change the preferred match (anchored at
    the front, ending at ``end``)?

    The old rule — "a non-consumed row follows the match end, so the
    NFA already rejected the extension" — is only sound when the next
    expected consumption is positionally pinned ('next' contiguity /
    consecutive loop repeats). A greedy RELAXED or COMBINATIONS loop
    with quota left skips non-matching rows, so a later row can extend
    the match across the gap (found by the round-6 split-fuzz:
    ``a+ relaxed until c`` emitted [17] early and re-anchored at [20]
    where batch binds [17,20]); likewise an unbound trailing optional
    or negated step with skip contiguity can still bind / invalidate.
    Such matches stay pending until their WITHIN horizon expires."""
    steps = pattern.steps
    if end >= n:
        return _match_can_extend(pattern, bindings)
    if _open_relaxed_loop(steps, bindings):
        return True  # ANY bound relaxed loop with quota spans the gap
    last_bound = -1
    for i, s in enumerate(steps):
        if bindings.get(s.name):
            last_bound = i
    if last_bound < 0:
        return True
    s = steps[last_bound]
    if s.group is not None:
        return True
    for t in steps[last_bound + 1:]:
        if t.contiguity == "next":
            continue  # decided by the already-buffered next row
        # completed match => t is optional/negated/group; with skip
        # contiguity a future row could bind or invalidate it
        return True
    return False


def _sorted_rows_recs(
    group: pd.DataFrame, order_cols: list[str]
) -> tuple[pd.DataFrame, list[dict]]:
    """Sorted (rows, records) for one key group, bypassing pandas'
    ``sort_values`` + ``to_dict('records')`` — with many small key
    groups their fixed per-call overhead dominates the NFA itself
    (profiled 3x the match cost on the events table). numpy lexsort +
    a zip-built record list carry identical values; falls back to the
    pandas path for object-dtype sort keys."""
    import numpy as np

    names = list(group.columns)
    arrays = {c: group[c].to_numpy() for c in names}
    try:
        order = np.lexsort(tuple(arrays[c] for c in reversed(order_cols)))
    except TypeError:  # un-lexsortable dtype (e.g. mixed objects)
        rows = group.sort_values(order_cols).reset_index(drop=True)
        return rows, rows.to_dict("records")
    rows = group.iloc[order].reset_index(drop=True)
    sorted_cols = []
    for c in names:
        arr = arrays[c][order]
        if arr.dtype.kind in "Mm":
            # datetime64[ns]/timedelta64[ns] .tolist() degrades to raw
            # integer nanoseconds; go through pandas for Timestamps
            sorted_cols.append(pd.Series(arr).tolist())
        else:
            sorted_cols.append(arr.tolist())
    recs = [dict(zip(names, t)) for t in zip(*sorted_cols)]
    return rows, recs


def match_pattern(
    df: DataFrame,
    pattern: Pattern,
    key_cols: list[str],
    ts_col: str,
    measures: Callable[[pd.DataFrame, dict[str, list[int]]], dict],
    output_schema: StructType | str,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Run the NFA per key over time-sorted events (batch).

    ``measures(rows, bindings) -> dict`` builds one output row per
    match (MATCH_RECOGNIZE MEASURES clause). AFTER MATCH SKIP PAST
    LAST EVENT.
    """
    # resolve output column names on the driver: workers have no session
    out_columns = [f.name for f in _schema_fields(output_schema)]

    def run(group: pd.DataFrame) -> pd.DataFrame:
        rows, recs = _sorted_rows_recs(group, order_cols or [ts_col])
        out: list[dict] = []
        start = 0
        n = len(rows)
        while start < n:
            m = None
            anchor = start
            for anchor in range(start, n):
                m = _match_from(rows, anchor, pattern, ts_col, recs)
                if m is not None:
                    break
            if m is None:
                break
            end, bindings = m
            if (
                isinstance(pattern.after_match, tuple)
                and pattern.after_match[0] == "skip_to_first"
            ):
                # anchor is pinned: emit every solution at this anchor
                pname = pattern.after_match[1]
                max_end = end
                for e2, b2 in _iter_matches_from(rows, anchor, pattern, ts_col, recs):
                    rec = measures(rows, b2)
                    for k in key_cols:
                        rec.setdefault(k, rows.iloc[0][k])
                    out.append(rec)
                    max_end = max(max_end, e2)
                idxs = bindings.get(pname) or []
                first_idx = min(idxs) if idxs else anchor
                start = first_idx if first_idx > anchor else max_end
                continue
            rec = measures(rows, bindings)
            for k in key_cols:
                rec.setdefault(k, rows.iloc[0][k])
            out.append(rec)
            if (
                isinstance(pattern.after_match, tuple)
                and pattern.after_match[0] == "skip_to_last"
            ):
                idxs = bindings.get(pattern.after_match[1]) or []
                last_idx = max(idxs) if idxs else anchor
                start = last_idx if last_idx > anchor else end
            elif pattern.after_match == "skip_to_next":
                start = anchor + 1  # overlapping matches allowed
            else:
                start = end  # skip past last event
        if not out:
            return pd.DataFrame(columns=out_columns)
        return pd.DataFrame(out)

    return _grouped_map(df, key_cols, run, output_schema)


def match_pattern_all(
    df: DataFrame,
    pattern: Pattern,
    key_cols: list[str],
    ts_col: str,
    measures: Callable[[pd.DataFrame, dict[str, list[int]]], dict],
    output_schema: StructType | str,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Flink NO_SKIP emission (CEP's default AfterMatchSkipStrategy):
    every anchor emits EVERY solution — all followedByAny branches
    (CEPDemo.scala:674-704), all allowCombinations subsets
    (CEPDemo.scala:211-246), all non-greedy repeat counts. Use
    ``match_pattern`` for the consuming skip strategies."""
    out_columns = [f.name for f in _schema_fields(output_schema)]

    def run(group: pd.DataFrame) -> pd.DataFrame:
        rows, recs = _sorted_rows_recs(group, order_cols or [ts_col])
        out: list[dict] = []
        for anchor in range(len(rows)):
            for _end, bindings in _iter_matches_from(rows, anchor, pattern, ts_col, recs):
                rec = measures(rows, bindings)
                for k in key_cols:
                    rec.setdefault(k, rows.iloc[0][k])
                out.append(rec)
        if not out:
            return pd.DataFrame(columns=out_columns)
        return pd.DataFrame(out)

    return _grouped_map(df, key_cols, run, output_schema)


def first_two_ids(rows: pd.DataFrame, bindings: dict[str, list[int]]) -> dict:
    """Measures of a two-event ``p`` match: both event ids (the SKIP TO
    LAST pair chain, batch and streaming)."""
    return {
        "first_id": int(rows.iloc[bindings["p"][0]]["event_id"]),
        "second_id": int(rows.iloc[bindings["p"][1]]["event_id"]),
    }


def _partial_bindings(
    rows: pd.DataFrame,
    start: int,
    pattern: Pattern,
    ts_col: str,
    recs: list[dict] | None = None,
) -> dict[str, list[int]] | None:
    """Greedy prefix walk for timeout reporting: bind steps until one
    cannot match. Returns None when the partial dies instantly instead
    of timing out (strict-``next`` mismatch kills the NFA branch with
    no timeout, as in Flink) or when the pattern actually completes."""
    if recs is None:
        recs = rows.to_dict("records")
    n = len(recs)
    t0 = recs[start][ts_col]
    bindings: dict[str, list[int]] = {}
    i = start
    for si, step in enumerate(pattern.steps):
        if step.negated or step.group is not None:
            bindings[step.name] = []
            continue
        found = -1
        j = i
        while j < n:
            if pattern.within is not None and (
                recs[j][ts_col] - t0 > pattern.within
            ):
                break
            if _invoke(step.predicate, recs[j], recs, bindings, step.name):
                found = j
                break
            if step.contiguity == "next" or si == 0:
                break
            j += 1
        if found < 0:
            if step.optional:
                bindings[step.name] = []
                continue
            if step.contiguity == "next" and si > 0:
                return None  # branch died immediately — no timeout
            return bindings if bindings else None
        run = [found]
        j = found + 1
        # the horizon guard must apply to the RUN extension exactly as
        # it does to the seek above: the NFA never accepts a row past
        # t0 + within, so neither may the timeout partial — without it
        # the reported partial depended on how many (unacceptable)
        # rows happened to be buffered, breaking micro-batch split
        # invariance (found by tools/deep_fuzz_cep.py, round 8)
        while (
            (step.max_times is None or len(run) < step.max_times)
            and j < n
            and not (
                pattern.within is not None
                and recs[j][ts_col] - t0 > pattern.within
            )
            and _invoke(step.predicate, recs[j], recs, bindings, step.name, run)
        ):
            run.append(j)
            j += 1
        if len(run) < step.min_times:
            return bindings if bindings else None
        bindings[step.name] = run
        i = run[-1] + 1
    return None  # completed — not a timeout


def match_pattern_with_timeouts(
    df: DataFrame,
    pattern: Pattern,
    key_cols: list[str],
    ts_col: str,
    measures: Callable[[pd.DataFrame, dict[str, list[int]]], dict],
    timeout_measures: Callable[[pd.DataFrame, dict[str, list[int]]], dict],
    output_schema: StructType | str,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Match with a timeout side-output (Flink
    ``PatternFlatTimeoutFunction``, reference TimeoutMatchByCep.scala:
    10-19 / OrderPay.scala:31-53): anchors that begin a partial match
    but cannot complete within ``pattern.within`` emit a row built by
    ``timeout_measures`` with ``is_timeout=true``; completed matches
    emit ``measures`` rows with ``is_timeout=false``. One DataFrame
    with an ``is_timeout`` flag is the Spark shape of a side output —
    filter to split (same pattern as operators/streams_util.py).

    ``output_schema`` must contain an ``is_timeout boolean`` field.
    Requires ``pattern.within``; a partial that merely dies on a
    strict-``next`` mismatch emits nothing, matching Flink. Skip
    strategies here: skip-past-last-event (default) and skip_to_next;
    the named skip_to_first/skip_to_last strategies fall back to
    skip-past (use ``match_pattern`` for those).
    """
    if pattern.within is None:
        raise ValueError("timeout output requires pattern.within_time(...)")
    out_columns = [f.name for f in _schema_fields(output_schema)]

    def run(group: pd.DataFrame) -> pd.DataFrame:
        rows, recs = _sorted_rows_recs(group, order_cols or [ts_col])
        out: list[dict] = []
        start = 0
        n = len(rows)
        while start < n:
            m = None
            anchor = start
            for anchor in range(start, n):
                m = _match_from(rows, anchor, pattern, ts_col, recs)
                if m is not None:
                    break
                partial = _partial_bindings(rows, anchor, pattern, ts_col, recs)
                if partial:
                    rec = timeout_measures(rows, partial)
                    rec["is_timeout"] = True
                    for k in key_cols:
                        rec.setdefault(k, rows.iloc[0][k])
                    out.append(rec)
            if m is None:
                break
            end, bindings = m
            rec = measures(rows, bindings)
            rec["is_timeout"] = False
            for k in key_cols:
                rec.setdefault(k, rows.iloc[0][k])
            out.append(rec)
            start = anchor + 1 if pattern.after_match == "skip_to_next" else end
        if not out:
            return pd.DataFrame(columns=out_columns)
        return pd.DataFrame(out)

    return _grouped_map(df, key_cols, run, output_schema)


def _schema_fields(schema: StructType | str):
    if isinstance(schema, StructType):
        return schema.fields
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(schema).fields


def _grouped_map(
    df: DataFrame,
    key_cols: list[str],
    run: Callable[[pd.DataFrame], pd.DataFrame],
    output_schema: StructType | str,
) -> DataFrame:
    """Same contract as ``groupBy(keys).applyInPandas(run, schema)``
    but ONE Arrow exchange per shuffle partition instead of per key:
    repartition on the keys, sort within partitions, split into key
    groups pandas-side, concatenate the per-key outputs. With many
    small keys (the normal CEP shape — thousands of users with tens of
    events) the per-group Arrow round-trip dominates wall time
    (~2.5 ms/key measured); this keeps the identical per-key logic at
    per-partition cost. Memory contract: a partition's rows must fit a
    worker, tuned by spark.sql.shuffle.partitions — the per-key
    contract was a special case of that."""
    from pyspark.sql import functions as F

    out_columns = [f.name for f in _schema_fields(output_schema)]
    cols = [F.col(c) for c in key_cols]

    def batch(batches):
        chunks = list(batches)  # may be empty: pinned partition count
        if not chunks or not sum(len(c) for c in chunks):
            return
        pdf = pd.concat(chunks, ignore_index=True)
        outs = [run(g) for _, g in pdf.groupby(key_cols, sort=False)]
        outs = [o for o in outs if len(o)]
        if outs:
            yield pd.concat(outs, ignore_index=True)[out_columns]

    # EXPLICIT partition count: a bare repartition(cols) lets AQE
    # coalesce the exchange by BYTE size, and a CPU-bound NFA over a
    # few MB of events collapses into one task (measured 8x slower at
    # sf0.1). Pinning numPartitions keeps the per-key work spread
    # across the cluster; bytes were never the cost model here.
    n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    arranged = df.repartition(n_parts, *cols).sortWithinPartitions(*cols)
    return arranged.mapInPandas(batch, output_schema)
