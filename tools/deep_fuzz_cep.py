#!/usr/bin/env python
"""Deep split-invariance fuzz for the streaming CEP drain cores.

The committed suite (tests/test_cep_stream_fuzz.py) pins each pattern
against a SPARK batch golden on one dataset + 25 splits. This tool
scales the SPLIT-INVARIANCE axis orders of magnitude further without a
JVM: for thousands of random (dataset, split-sequence) pairs, replaying
the stream in arbitrary micro-batch chunks through ``drain_in_order``
(each pattern under its own after-match strategy, with the timeout
side-output, and under ``no_skip()``) must produce exactly the
single-shot ``eos=True`` drain over the complete input (whose own
batch-equality is what the Spark-backed suite pins). ``--surface wm``
checks ``drain_watermarked`` on out-of-order splits the same way, each
pattern also under ``no_skip()``.

    python tools/deep_fuzz_cep.py --trials 100 --splits 8 [--seed 7]

Exit 0 iff no divergence; a failure prints the pattern, seed, rows and
split that reproduce it (paste into a regression test).
"""

from __future__ import annotations

import argparse
import os
import random
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"
))

from test_cep_stream_fuzz import _gen_rows, _measures, _patterns  # noqa: E402

from flink_demo_spark.streaming.cep_stream import drain_in_order  # noqa: E402


def _timed_out(rows_df, b):
    return _measures(rows_df, b)


def _gen_rows_ties(rng, n_keys=4, lo=8, hi=14):
    """Adversarial twin of the suite's _gen_rows: timestamp TIES within
    a key (increment may be 0) and ties exactly AT the within horizon —
    the boundary cases an always-advancing clock never produces."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for k in range(1, n_keys + 1):
        t = t0
        for _ in range(rng.randrange(lo, hi)):
            t += dt.timedelta(seconds=rng.randrange(0, 4))  # 0 => tie
            rows.append((k, rng.choice(["a", "a", "b", "c"]), t, eid))
            eid += 1
    return rows


def _with_no_skip(pats: dict) -> dict:
    """Each pattern under its own strategy and under ``no_skip()``."""
    out = dict(pats)
    for name, fn in pats.items():
        out[f"{name}+no_skip"] = lambda fn=fn: fn().no_skip()
    return out


def _run(rows_sorted, pattern_fn, chunks, **kw):
    """Replay rows through drain_in_order in the given chunking; final
    eos flush."""
    out = []
    state: dict = {}
    for chunk in chunks:
        by_key: dict = {}
        for r in chunk:
            by_key.setdefault(r[0], []).append(
                {"k": r[0], "event_type": r[1], "ts": r[2], "event_id": r[3]}
            )
        for k, rows_k in by_key.items():
            recs = state.get(k, []) + rows_k
            rows_out, recs = drain_in_order(
                recs, pattern_fn(), "ts", ["k"], (k,), _measures, **kw
            )
            out.extend(rows_out)
            state[k] = recs
    keys = {r[0] for ch in chunks for r in ch}
    for k in keys:
        rows_out, _ = drain_in_order(
            state.get(k, []), pattern_fn(), "ts", ["k"], (k,), _measures,
            eos=True, **kw,
        )
        out.extend(rows_out)
    return Counter(tuple(sorted(r.items())) for r in out)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--trials", type=int, default=100)
    ap.add_argument("--splits", type=int, default=8)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument(
        "--surface",
        choices=["inorder", "wm", "mr", "all"],
        default="inorder",
        help="inorder: drain_in_order split invariance; wm: "
        "out-of-order watermarked vs in-order; mr: MATCH_RECOGNIZE "
        "stream increment; all: everything",
    )
    ap.add_argument(
        "--ties",
        action="store_true",
        help="use the tie-heavy row generator (equal timestamps within "
        "a key, horizon-boundary ties) for the inorder surface",
    )
    args = ap.parse_args()

    if args.surface in ("wm", "mr", "all"):
        total = fails = 0
        if args.surface in ("wm", "all"):
            t, f = fuzz_watermarked(args.trials, args.seed)
            total += t
            fails += f
        if args.surface in ("mr", "all"):
            t, f = fuzz_match_recognize(args.trials, args.seed)
            total += t
            fails += f
        if args.surface != "all":
            print(f"{total} comparisons, {fails} divergences")
            return 1 if fails else 0
        carry = (total, fails)
    else:
        carry = (0, 0)

    pats = _patterns()
    configs = [
        ("one", lambda fn: fn, {}),
        ("one+timeout", lambda fn: fn, {"timeout_measures": _timed_out}),
        ("no_skip", lambda fn: lambda: fn().no_skip(), {}),
    ]
    failures = 0
    total = 0
    gen = _gen_rows_ties if args.ties else _gen_rows
    for pname, base_fn in sorted(pats.items()):
        for trial in range(args.trials):
            rng = random.Random(args.seed * 1_000_003 + hash(pname) % 99991 + trial)
            rows = sorted(gen(rng), key=lambda r: (r[2], r[3]))
            for cname, variant, kw in configs:
                pattern_fn = variant(base_fn)
                golden = _run(rows, pattern_fn, [rows], **kw)
                for s in range(args.splits):
                    n_cuts = rng.randrange(1, min(7, len(rows) - 1))
                    cuts = sorted(rng.sample(range(1, len(rows)), n_cuts))
                    chunks = [
                        rows[a:b]
                        for a, b in zip([0, *cuts], [*cuts, len(rows)])
                    ]
                    got = _run(rows, pattern_fn, chunks, **kw)
                    total += 1
                    if got != golden:
                        failures += 1
                        print(
                            f"DIVERGENCE pattern={pname} cfg={cname} "
                            f"trial={trial} split={s} cuts={cuts}\n"
                            f"  rows={rows}\n  golden={golden}\n  got={got}",
                        )
        print(f"  {pname}: ok ({args.trials} datasets x "
              f"{args.splits} splits x {len(configs)} cfgs)", file=sys.stderr)
    total += carry[0]
    failures += carry[1]
    print(f"{total} comparisons, {failures} divergences")
    return 1 if failures else 0


# ---------------------------------------------------------------------------
# extended campaign surfaces (invoked via --surface): the same invariants
# the committed suite pins, scaled to arbitrarily many random trials


def fuzz_watermarked(trials: int, seed: int) -> tuple[int, int]:
    """Out-of-order watermarked drain == in-order drain over survivors."""
    import datetime as dt

    import pandas as pd

    from flink_demo_spark.streaming.cep_stream import drain_watermarked

    pats = _with_no_skip(_patterns())
    total = fails = 0
    for pname, pattern_fn in sorted(pats.items()):
        for trial in range(trials):
            rng = random.Random(seed * 7_000_003 + hash(pname) % 99991 + trial)
            rows = _gen_rows(rng, n_keys=3, lo=6, hi=12)
            recs_all = [
                {"k": k, "event_type": et, "ts": ts, "event_id": eid}
                for k, et, ts, eid in rows
            ]
            rng.shuffle(recs_all)
            n_cuts = rng.randrange(1, min(6, len(recs_all) - 1))
            cuts = sorted(rng.sample(range(1, len(recs_all)), n_cuts))
            chunks = [
                recs_all[a:b] for a, b in zip([0, *cuts], [*cuts, len(recs_all)])
            ]
            delay = dt.timedelta(seconds=rng.randrange(2, 6))
            state: dict = {}
            survivors: dict = {}
            out: list = []
            wm = None
            max_seen = None
            for chunk in chunks:
                by_key: dict = {}
                for r in chunk:
                    if wm is not None and r["ts"] <= wm:
                        continue
                    by_key.setdefault(r["k"], []).append(r)
                    survivors.setdefault(r["k"], []).append(r)
                    max_seen = (
                        r["ts"] if max_seen is None else max(max_seen, r["ts"])
                    )
                wm_ts = pd.Timestamp(wm) if wm is not None else None
                for k in set(state) | set(by_key):
                    recs = sorted(
                        state.get(k, []) + by_key.get(k, []),
                        key=lambda r: (r["ts"], r["event_id"]),
                    )
                    rows_out, recs = drain_watermarked(
                        recs, pattern_fn(), "ts", ["k"], (k,), _measures, wm_ts
                    )
                    out.extend(rows_out)
                    state[k] = recs
                if max_seen is not None:
                    wm = max_seen - delay
            final_wm = pd.Timestamp(dt.datetime(2100, 1, 1))
            for k, recs in state.items():
                rows_out, _ = drain_watermarked(
                    recs, pattern_fn(), "ts", ["k"], (k,), _measures, final_wm
                )
                out.extend(rows_out)
            got = Counter(tuple(sorted(r.items())) for r in out)
            expected: list = []
            for k, rows_k in survivors.items():
                rows_out, _ = drain_in_order(
                    sorted(rows_k, key=lambda r: (r["ts"], r["event_id"])),
                    pattern_fn(), "ts", ["k"], (k,), _measures, eos=True,
                )
                expected.extend(rows_out)
            want = Counter(tuple(sorted(r.items())) for r in expected)
            total += 1
            if got != want:
                fails += 1
                print(
                    f"DIVERGENCE wm pattern={pname} trial={trial} "
                    f"cuts={cuts} delay={delay}\n  rows={recs_all}\n"
                    f"  want={want}\n  got={got}"
                )
        print(f"  wm/{pname}: {trials} trials", file=sys.stderr)
    return total, fails


def fuzz_match_recognize(trials: int, seed: int) -> tuple[int, int]:
    """_run_stream_increment split invariance at campaign scale."""
    import datetime as dt

    from test_cep_stream_fuzz import _MR_SQLS

    from flink_demo_spark.operators.match_recognize import (
        _run_stream_increment,
        parse_match_recognize,
    )

    total = fails = 0
    for sname, sql in sorted(_MR_SQLS.items()):
        spec = parse_match_recognize(sql)
        for trial in range(trials):
            rng = random.Random(seed * 11_000_027 + hash(sname) % 99991 + trial)
            t0 = dt.datetime(2024, 1, 1)
            recs_all = []
            eid = 0
            for k in (1, 2):
                t = t0
                for _ in range(rng.randrange(8, 16)):
                    t += dt.timedelta(seconds=rng.randrange(1, 4))
                    recs_all.append(
                        {
                            "k": k, "ts": t, "event_id": eid,
                            "price": float(rng.randrange(1, 9)),
                            "dir": rng.randrange(0, 2),
                        }
                    )
                    eid += 1

            def ids(recs, matches):
                return [
                    tuple(
                        (var, tuple(recs[i]["event_id"] for i in idxs))
                        for var, idxs in sorted(b.items())
                    )
                    for _a, _e, b in matches
                ]

            want: list = []
            for k in (1, 2):
                rows_k = [r for r in recs_all if r["k"] == k]
                matches, _keep = _run_stream_increment(rows_k, spec, "ts")
                want.extend(ids(rows_k, matches))

            n_cuts = rng.randrange(1, 6)
            cuts = sorted(rng.sample(range(1, len(recs_all)), n_cuts))
            chunks = [
                recs_all[a:b] for a, b in zip([0, *cuts], [*cuts, len(recs_all)])
            ]
            state: dict = {}
            got: list = []
            for chunk in chunks:
                by_key: dict = {}
                for r in chunk:
                    by_key.setdefault(r["k"], []).append(r)
                for k, rows_k in by_key.items():
                    buf = state.get(k, []) + rows_k
                    matches, keep = _run_stream_increment(buf, spec, "ts")
                    got.extend(ids(buf, matches))
                    state[k] = buf[keep:]
            for k, buf in state.items():
                matches, _ = _run_stream_increment(buf, spec, "ts")
                # eos: pending tails stay unemitted in both paths
            total += 1
            if Counter(got) != Counter(want):
                fails += 1
                print(
                    f"DIVERGENCE mr sql={sname} trial={trial} cuts={cuts}\n"
                    f"  rows={recs_all}\n  want={want}\n  got={got}"
                )
        print(f"  mr/{sname}: {trials} trials", file=sys.stderr)
    return total, fails


if __name__ == "__main__":
    sys.exit(main())
