"""Point-in-time (as-of) join — the engine's flagship operator.

Generalizes the reference's ``enrich()`` (equi join + freshness-window
interval filter, /root/reference/operations/api.py:518-571, J1+J2 in
SURVEY.md §2.3). The reference iterates joined rows in a Python loop with
``datetime.strptime`` per row; here the same semantics are a declarative
DataFrame plan Catalyst can optimize.

Two result modes:

- ``mode='latest'`` — Feast-style point-in-time-correct join: for each left
  row take the single best right row (backward = most recent right row with
  ``r.ts <= l.ts``; forward = next; nearest = closer of the two). This is
  the north_rule's as-of join.
- ``mode='all_in_window'`` — exact reference-J2 parity: keep *every* right
  row with ``r.ts ∈ [l.ts - tolerance, l.ts]`` (the reference keeps ties,
  strict ``<`` at api.py:551). A plain equi+range join.

``latest`` runs on the union-carry kernel (operators/carry.py): tag both
sides, union, one shuffle on the key, then ``last(payload, ignorenulls)``
over an ordered window carries the most recent right payload onto each
left row. Cost: ONE shuffle of |L|+|R| rows, no fan-out, no join
explosion — robust when a single left timestamp matches thousands of
right rows. This is the 100 TB path: it shuffles each input exactly once
on the conversation key (the same partitioning downstream window features
need, so the exchange is reused).

Tie semantics (deterministic, oracle-checked): among right rows sharing the
match timestamp, both directions take the greatest ``tiebreak`` value;
``nearest`` prefers the backward candidate on equal distance.

Zero temporal leakage by construction: a backward match can never read a
right row with ``ts`` greater than the left timestamp (north_rule).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgfarm_spark.operators.carry import probe_reduce, q, union_carry


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str] = "conv_id",
    left_ts: str = "query_ts",
    right_ts: str = "ts",
    direction: str = "backward",
    tolerance: str | None = None,
    mode: str = "latest",
    right_cols: Sequence[str] | None = None,
    tiebreak: str | None = None,
    probe_pushdown: bool = False,
) -> DataFrame:
    """As-of join ``left`` (entity frame) against ``right`` (feature view).

    Args:
        on: equi key column(s) present on both sides (e.g. ``conv_id``).
        left_ts / right_ts: event-time columns (both inclusive at equality —
            reference keeps ``ts_fv == ts_e``, api.py:551 strict ``<``).
        direction: 'backward' | 'forward' | 'nearest' (latest mode only).
        tolerance: max distance, e.g. ``'10 days'`` (reference freshness
            default, api.py:518) or ``'1 hour'``; None = unbounded.
        mode: 'latest' (one best match, left rows preserved — left outer)
            or 'all_in_window' (reference interval-join parity — inner).
        right_cols: right payload columns to carry (default: all non-key,
            non-ts columns). The matched right timestamp is always emitted
            as ``matched_ts``.
        tiebreak: right column ordering equal-ts matches (e.g. 'turn_idx').
        probe_pushdown: broadcast the left frame's distinct key set and
            left-semi reduce the right side BEFORE the join/window
            shuffle. Exactness-preserving for every mode/direction (an
            as-of match shares the probe's key by definition). Set it
            when the left frame touches a small fraction of the right
            side's keys — see backfill.backfill_asof_fused for the
            measured 9.5× and the when-not-to note.
    """
    keys = [on] if isinstance(on, str) else list(on)
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in keys and c != right_ts]
    right_cols = list(right_cols)

    if mode == "all_in_window":
        if probe_pushdown:
            right = probe_reduce(right, left, keys)
        return _interval_join(left, right, keys, left_ts, right_ts, tolerance, right_cols)
    if mode != "latest":
        raise ValueError(f"unknown mode: {mode!r}")

    payload = ", ".join([f"{q(right_ts)} AS matched_ts", *map(q, right_cols)])
    return union_carry(
        right,
        left,
        keys,
        right_ts,
        left_ts,
        [("__match", "last", f"struct({payload})")],
        match="__match.matched_ts",
        emit=[f"__match.{c}" for c in ["matched_ts", *right_cols]],
        direction=direction,
        tiebreak=tiebreak,
        tolerance=tolerance,
        probe_pushdown=probe_pushdown,
    )


# ---------------------------------------------------------------------------
# all_in_window: exact reference J2 semantics (interval join)
# ---------------------------------------------------------------------------


def _interval_join(left, right, keys, left_ts, right_ts, tolerance, right_cols):
    """keep iff right_ts BETWEEN left_ts - tolerance AND left_ts (inclusive
    both ends — api.py:543-553 deletes iff ts_e < ts_fv OR ts_e - f > ts_fv).

    Physical plan: equi join on the key (Catalyst picks broadcast vs
    shuffled), range predicate applied as join condition so it's evaluated
    during the join, not after a full fan-out materialization."""
    r = right.select(
        *[F.col(k).alias(f"__r_{k}") for k in keys],
        F.col(right_ts).alias("matched_ts"),
        *[F.col(c) for c in right_cols],
    )
    cond = F.lit(True)
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"__r_{k}"))
    cond = cond & (F.col("matched_ts") <= F.col(left_ts))
    if tolerance is not None:
        cond = cond & (F.col("matched_ts") >= F.col(left_ts) - F.expr(f"INTERVAL {tolerance}"))
    out = left.join(r, cond, "inner")
    return out.drop(*[f"__r_{k}" for k in keys])
