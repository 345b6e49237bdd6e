"""Streaming CEP from keyed state (SURVEY.md §2.12 streaming form).

Three ``applyInPandasWithState`` operators, one per input contract:

- ``streaming_match_pattern`` runs the batch NFA of
  ``operators/cep.py`` (any ``Pattern``, every after-match strategy,
  the timeout side-output) over micro-batches that arrive in
  event-time order per key (file replay, ``availableNow``);
- ``streaming_match_pattern_watermarked`` runs the same NFA behind a
  watermark for out-of-order input: an anchor is decided once
  ``t0 + within <= watermark``, and rows at or below the watermark
  are dropped as late on intake;
- ``consecutive_pattern_stream`` is the vectorized special case of
  the reference's login-fail detector (``LoginFail.scala:78-86``: two
  consecutive fails within a horizon): per key only the last seen
  event is carried in group state.

The general operators' decision steps, ``drain_in_order`` and
``drain_watermarked``, are pure Python, so the split-invariance fuzz
drives them directly against batch ``match_pattern``.
"""

from __future__ import annotations

import pickle
from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from ..operators.cep import (
    _anchor_dead_now,
    _anchor_failure_is_final,
    _check_contract,
    _emits_all,
    _iter_matches_from,
    _match_future_sensitive,
    _partial_bindings,
    _schema_fields,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("first_error_id", LongType()),
        StructField("second_error_id", LongType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("last_is_match", LongType()),
        StructField("last_id", LongType()),
        StructField("last_ts_us", LongType()),
    ]
)

# the general operators' group state: the key's undecided rows, pickled
BUFFER_STATE_SCHEMA = StructType([StructField("buf", BinaryType())])


def _consecutive_hits(
    key0,
    ts_us,
    ids,
    matches,
    last_is_match,
    last_id,
    last_ts,
    horizon_us,
):
    """Vectorized consecutive-pair detection: a hit is a match-typed
    event whose immediate predecessor (state-seeded shift) is also a
    match within the horizon — the pairwise fold as one shift compare."""
    import numpy as np

    n = len(ts_us)
    if n == 0:
        return []
    prev_m = np.concatenate(([1 if last_is_match else 0], matches[:-1]))
    prev_id = np.concatenate(
        ([last_id if last_id is not None else -1], ids[:-1])
    )
    prev_ts = np.concatenate(
        ([last_ts if last_ts is not None else 0], ts_us[:-1])
    )
    valid_prev = np.concatenate(
        ([last_ts is not None], np.ones(n - 1, dtype=bool))
    )
    hit = (
        matches.astype(bool)
        & prev_m.astype(bool)
        & valid_prev
        & (ts_us - prev_ts <= horizon_us)
    )
    return [
        (key0, int(a), int(b)) for a, b in zip(prev_id[hit], ids[hit])
    ]


def consecutive_pattern_stream(
    events: DataFrame,
    match_type: str = "error",
    horizon_us: int = 30 * 60 * 1_000_000,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Emit (key, first_id, second_id) for two strictly consecutive
    ``match_type`` events within ``horizon_us`` per key."""

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        last_is_match, last_id, last_ts = (
            state.get if state.exists else (0, None, None)
        )
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch) == 0:
            yield pd.DataFrame(columns=["user_id", "first_error_id", "second_error_id"])
            return
        batch = batch.sort_values([ts_col, id_col])
        ts_us = (
            pd.to_datetime(batch[ts_col]).astype("int64") // 1_000
        ).to_numpy()
        ids = batch[id_col].to_numpy()
        matches = (batch[type_col] == match_type).to_numpy().astype("int64")
        out = _consecutive_hits(
            key[0], ts_us, ids, matches,
            last_is_match, last_id, last_ts, horizon_us,
        )
        state.update((int(matches[-1]), int(ids[-1]), int(ts_us[-1])))
        yield pd.DataFrame(
            out, columns=["user_id", "first_error_id", "second_error_id"]
        )

    return events.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _emit_decided(after, head: int, match, solutions, emit) -> int:
    """Emit the DECIDED anchor at ``head`` (its first solution is
    ``match``, the rest come from ``solutions``) under the after-match
    strategy ``after`` and return the next anchor. NO_SKIP and SKIP TO
    FIRST emit every solution; the other strategies emit the preferred
    one. Shared by both drains."""
    end, bindings = match
    emit(bindings)
    if _emits_all(after):
        max_end = end
        for e2, b2 in solutions:
            emit(b2)
            max_end = max(max_end, e2)
        if after == "no_skip":
            return head + 1  # NO_SKIP: anchors never consume
        idxs = bindings.get(after[1]) or []
        first_idx = min(idxs) if idxs else head
        return first_idx if first_idx > head else max(max_end, head + 1)
    if isinstance(after, tuple):  # skip_to_last
        idxs = bindings.get(after[1]) or []
        last_idx = max(idxs) if idxs else head
        return last_idx if last_idx > head else max(end, head + 1)
    if after == "skip_to_next":
        return head + 1
    return max(end, head + 1)  # past_last; zero-width guard


def drain_in_order(
    recs: list[dict],
    pattern,
    ts_col: str,
    key_cols: list[str],
    key: tuple,
    measures,
    timeout_measures=None,
    eos: bool = False,
):
    """The in-order incremental NFA decision step: walk decided
    anchors off the front of a key's buffered rows, emitting every
    decision, and return ``(out_rows, remaining_recs)``.

    Pure python (no Spark): shared by the
    ``streaming_match_pattern`` applyInPandasWithState closure and
    the split-fuzz harness in ``tests/``, so thousands of random
    micro-batch splits can be driven against the batch operator
    without a streaming query per split. ``eos=True`` finalizes every
    pending decision (the flush_ts / end-of-stream path)."""
    within = pattern.within
    after = pattern.after_match
    emit_every = _emits_all(after)
    flag = False if timeout_measures is not None else None
    out_rows: list[dict] = []
    max_ts = recs[-1][ts_col] if recs else None
    n = len(recs)
    head = 0  # consumed prefix: an index bump, not an O(n) list slice
    frame = None  # materialized lazily ONCE per drain (recs is stable)

    def emit(measure_fn, bindings, is_timeout):
        nonlocal frame
        if frame is None:
            frame = pd.DataFrame(recs)
        rec = measure_fn(frame, bindings)
        if is_timeout is not None:
            rec["is_timeout"] = is_timeout
        for k, v in zip(key_cols, key):
            rec.setdefault(k, v)
        out_rows.append(rec)

    # NOTE: the matcher anchors at the absolute index `head`; all
    # bindings/end indices it returns are absolute into `recs`, so
    # measures() sees the same frame regardless of consumed prefix
    while head < n:
        if _anchor_dead_now(pattern, recs, head):
            head += 1  # can never anchor: drop immediately
            continue
        solutions = _iter_matches_from(None, head, pattern, ts_col, recs)
        m = next(solutions, None)
        t0 = recs[head][ts_col]
        expired = eos or (
            max_ts is not None and (max_ts - t0) > within
        )
        if m is None:
            if expired or _anchor_failure_is_final(pattern, n - head):
                if timeout_measures is not None:
                    partial = _partial_bindings(
                        None, head, pattern, ts_col, recs
                    )
                    if partial:
                        emit(timeout_measures, partial, True)
                head += 1  # anchor dead for good
                continue
            break  # pending: a future row may still complete it
        if not expired and (
            emit_every or _match_future_sensitive(pattern, m[1], m[0], n)
        ):
            # a future in-horizon row could add a solution (emit-all
            # strategies) or change the preferred match
            break
        head = _emit_decided(
            after, head, m, solutions, lambda b: emit(measures, b, flag)
        )
    return out_rows, recs[head:] if head else recs


def streaming_match_pattern(
    events: DataFrame,
    pattern,
    key_cols: list[str],
    ts_col: str,
    measures,
    output_schema,
    order_cols: list[str] | None = None,
    flush_ts=None,
    timeout_measures=None,
):
    """General streaming twin of ``operators.cep.match_pattern`` —
    Flink's ``CEP.pattern(stream)`` as the reference uses it
    (``CEPDemo.scala:301-341`` patternSelectFunction over a live
    stream; applied: ``OrderPay.scala:31-53``,
    ``LoginFail.scala:78-86``): per key, rows buffer in group
    state and a match emits the moment its outcome is DECIDED — no
    future in-order row can change the preferred match
    (``_match_future_sensitive``: positionally-pinned expectations
    decide on the already-buffered next row; greedy
    relaxed/combinations loop tails and skip-contiguity
    optional/negated tails wait for the horizon, since a later row
    can bind across a gap), or the anchor's WITHIN horizon has
    expired. A failed anchor is discarded only once its horizon
    expires.

    Requires ``pattern.within`` (unbounded patterns would buffer
    forever, exactly like Flink NFA state) and supports every
    after-match strategy the batch operator does. ``no_skip`` (every
    followedByAny branch, every allowCombinations subset; anchors
    never consume) and ``skip_to_first`` (every solution at the pinned
    anchor, CEPDemo.scala:914) emit an anchor's full solution set, so
    they decide it only once its WITHIN horizon has expired: under the
    in-order contract every row that could participate has arrived by
    then, and horizons expire in buffer order, so decided anchors walk
    off the front. The single-match strategies emit at earliest
    decidability. Assumes micro-batches arrive in event-time order
    per key (file replay / availableNow) — the same contract as
    ``streaming_match_recognize``. Iterative (row, ctx) conditions
    work unchanged (same NFA).

    End-of-stream: an availableNow run that simply stops delivers no
    final watermark, so matches whose horizon never expires would stay
    buffered (Flink's bounded jobs flush with a final +inf watermark).
    ``flush_ts`` is the same hook ``lateness.py`` uses: rows with
    ``ts >= flush_ts`` act as end-of-stream markers for their key —
    they are NOT buffered as events, and their arrival finalizes every
    pending decision (all emit-all anchor solutions emit, pending
    matches emit, dead anchors drop) regardless of the WITHIN horizon.
    :func:`streaming_match_pattern_watermarked` plus a
    horizon-advancing row remains the correct path for out-of-order
    input.

    ``timeout_measures`` enables the timeout side-output, with the
    batch operator's contract (Flink's ``PatternFlatTimeoutFunction``,
    reference TimeoutMatchByCep.scala:10-19 / OrderPay.scala:31-53):
    an anchor that BEGAN a partial but whose horizon expires
    incomplete emits a ``timeout_measures`` row with
    ``is_timeout=true``; matches emit with ``is_timeout=false``. Rows
    that can never anchor (begin predicate rejects) drop immediately
    instead of waiting out their horizon — per-key state stays
    proportional to live partials, not to ``within`` × event rate.
    """
    _check_contract(pattern, timeout_measures is not None, streaming=True)
    out_columns = [f.name for f in _schema_fields(output_schema)]
    order = order_cols or [ts_col]

    def fn(key: tuple, pdfs, state: GroupState):
        recs: list[dict] = pickle.loads(state.get[0]) if state.exists else []
        new = [pdf for pdf in pdfs if len(pdf)]
        eos = False
        if new:
            batch = pd.concat(new, ignore_index=True).sort_values(
                order, kind="stable"
            )
            if flush_ts is not None:
                marker = batch[ts_col] >= flush_ts
                if marker.any():
                    eos = True
                    batch = batch[~marker]
            recs.extend(batch.to_dict("records"))
        out_rows, recs = drain_in_order(
            recs, pattern, ts_col, key_cols, key, measures,
            timeout_measures=timeout_measures, eos=eos,
        )
        state.update((pickle.dumps(recs),))
        yield pd.DataFrame(out_rows, columns=out_columns)

    return events.groupBy(*key_cols).applyInPandasWithState(
        fn,
        outputStructType=output_schema,
        stateStructType=BUFFER_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def drain_watermarked(
    recs: list[dict],
    pattern,
    ts_col: str,
    key_cols: list[str],
    key: tuple,
    measures,
    wm,
):
    """Watermark-driven incremental NFA step (see
    :func:`drain_in_order`): decide every anchor whose WITHIN horizon
    is entirely behind ``wm`` (a ``pd.Timestamp`` or None), fail-fast
    rows behind the watermark that can never anchor. Pure python —
    shared by ``streaming_match_pattern_watermarked`` and the
    out-of-order split-fuzz harness. ``recs`` must already be sorted
    and late-filtered by the caller."""
    within = pattern.within
    after = pattern.after_match
    out_rows: list[dict] = []
    n = len(recs)
    head = 0  # consumed prefix (index bump, no per-row list slice)
    frame = None  # built lazily once per drain; recs is stable

    def emit(bindings):
        nonlocal frame
        if frame is None:
            frame = pd.DataFrame(recs)
        rec = measures(frame, bindings)
        for k, v in zip(key_cols, key):
            rec.setdefault(k, v)
        out_rows.append(rec)

    while head < n:
        t0 = recs[head][ts_col]
        # fail-fast once the front row is behind the watermark: no
        # future row can sort before it (late rows drop on intake),
        # so a begin-predicate rejection is permanent WITHOUT
        # waiting out the full horizon
        if (
            wm is not None
            and pd.Timestamp(t0) <= wm
            and _anchor_dead_now(pattern, recs, head)
        ):
            head += 1
            continue
        if wm is None or pd.Timestamp(t0) + within > wm:
            break  # horizon still open: rows may yet arrive
        solutions = _iter_matches_from(None, head, pattern, ts_col, recs)
        m = next(solutions, None)
        if m is None:
            head += 1
            continue
        head = _emit_decided(after, head, m, solutions, emit)
    return out_rows, recs[head:] if head else recs


def streaming_match_pattern_watermarked(
    events: DataFrame,
    pattern,
    key_cols: list[str],
    ts_col: str,
    measures,
    output_schema,
    order_cols: list[str] | None = None,
):
    """Out-of-order-tolerant general streaming CEP — the closest twin
    to Flink's watermark-driven NFA (the reference's CEP streams all
    run behind ``assignTimestampsAndWatermarks``, e.g.
    ``CEPDemo.scala:386-397``). Rows buffer per key in event-time
    order; an anchor's fate (match emitted / failure discarded) is
    decided once its WITHIN horizon is entirely behind the watermark
    (``t0 + within <= wm``): every row that could participate is then
    final, because later-arriving rows at or below the watermark are
    dropped as late on intake (Flink CEP's late-event handling).

    Requires ``withWatermark`` upstream and ``pattern.within``.
    Supports every after-match strategy of the batch operator,
    ``no_skip`` included — an anchor is decided only once its horizon
    is behind the watermark, at which point all its solutions are
    final, so the emit-all strategies need no extra wait here. An
    event-time timer re-fires each key when the watermark advances
    past its oldest buffered anchor, so decisions land even when
    later batches bring the key no rows. Bounded Flink jobs flush with
    a final +inf watermark; availableNow does not, so anchors inside
    the final watermark delay stay pending (use the in-order
    :func:`streaming_match_pattern` with ``flush_ts`` for bounded
    replays).
    """
    _check_contract(pattern, False, streaming=True)
    out_columns = [f.name for f in _schema_fields(output_schema)]
    order = order_cols or [ts_col]
    within = pattern.within

    def fn(key: tuple, pdfs, state: GroupState):
        recs: list[dict] = pickle.loads(state.get[0]) if state.exists else []
        wm_ms = state.getCurrentWatermarkMs()
        wm = pd.Timestamp(wm_ms, unit="ms") if wm_ms > 0 else None
        if not state.hasTimedOut:
            new = [pdf for pdf in pdfs if len(pdf)]
            if new:
                batch = pd.concat(new, ignore_index=True)
                if wm is not None:
                    batch = batch[batch[ts_col] > wm]  # late: dropped
                recs.extend(batch.to_dict("records"))
        recs.sort(key=lambda r: tuple(r[c] for c in order))
        out_rows, recs = drain_watermarked(
            recs, pattern, ts_col, key_cols, key, measures, wm
        )
        state.update((pickle.dumps(recs),))
        if recs and wm_ms > 0:
            # wake when the watermark passes the oldest open horizon
            first_due = int(
                (pd.Timestamp(recs[0][ts_col]) + within).value // 1_000_000
            )
            state.setTimeoutTimestamp(max(first_due, wm_ms + 1))
        yield pd.DataFrame(out_rows, columns=out_columns)

    return events.groupBy(*key_cols).applyInPandasWithState(
        fn,
        outputStructType=output_schema,
        stateStructType=BUFFER_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
