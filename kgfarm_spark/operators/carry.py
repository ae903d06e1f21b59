"""Point-in-time union-carry kernel — the one plan behind
``asof_join(mode='latest')`` and ``backfill_asof_fused``.

A point-in-time read is a running aggregate on one (key, time) axis. Tag
the right rows (side 0, they carry the inputs) and the left rows (side 1,
they carry NULL inputs and only read the state), union them, shuffle ONCE
on the key and evaluate every carried state in one window ordered by
(``__ts``, ``__side``, ``__tb``). Right rows sort before left rows at
equal ts (inclusive backward semantics, reference api.py:551 strict
``<``) and among equal-ts right rows the greatest ``__tb`` is read last.
Every frame ends at the current row, so a backward read can never see a
right row stamped after the left row (zero temporal leakage).

The state is a spec table of ``(output name, aggregate, per-row input
SQL over the right side)`` with aggregates ``count``, ``sum``, ``avg``,
``max`` and ``last`` (``last`` skips NULLs). As-of *latest* is one
``last`` of a struct payload; the fused backfill is the cumulative
feature table plus ``last`` of the turn timestamp. The whole state is
ONE ``selectExpr`` — one py4j round-trip, and Catalyst emits a single
Window operator for all expressions (chained ``withColumn`` interleaves
Projects that block CollapseWindow).

Hot-key guard (``hot_rows``): a per-key window puts each key in ONE task.
Keys whose unioned row count meets the threshold are split into
fixed-width event-time buckets, the window partitions by (key, bucket),
and a densified exclusive prefix carry per bucket restores the running
state. Each aggregate kind supplies its per-bucket partial, its prefix
carry and its combine step (``_PARTIAL``/``_PREFIX``/``_COMBINE``);
``avg`` splits into ``sum`` over ``count``. Cold keys take bucket 0 and
no carry, so hot and cold share one window pass. The same algebra backs
``windows.backfill_features_bucketed`` (order buckets instead of time).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: (output name, aggregate kind, per-row input SQL over the right side)
Spec = tuple[str, str, str]

_CALL = {
    "count": "count({})",
    "sum": "sum({})",
    "avg": "avg({})",
    "max": "max({})",
    "last": "last({}, true)",
}
#: kinds that do not decompose directly: avg = sum / count
_SPLIT = {"avg": ("sum", "count")}
#: per-bucket partial of a running ``last``: ``max`` — exact for an input
#: that never decreases along the traversal (the matched timestamp)
_PARTIAL = {"last": "max"}
#: exclusive prefix over earlier buckets' partials (count partials add up)
_PREFIX = {"count": "sum"}
#: window time order of each traversal
_ASC = {"backward": "ASC", "forward": "DESC"}
#: in-bucket running value ``{i}`` combined with the carry ``{c}`` (either
#: may be NULL: no input yet in the bucket / no earlier bucket)
_COMBINE = {
    "count": "coalesce({i} + {c}, {i}, {c})",
    "sum": "coalesce({i} + {c}, {i}, {c})",
    "max": "greatest({i}, {c})",
    "last": "coalesce({i}, {c})",
}


def q(name: str) -> str:
    """Backtick-quote an identifier for interpolation into SQL text."""
    return "`" + name.replace("`", "``") + "`"


def over(partition: Sequence[str], order: str, end: str = "CURRENT ROW") -> str:
    """Running-frame window clause over already-quoted partition columns."""
    return (
        f"OVER (PARTITION BY {', '.join(partition)} ORDER BY {order} "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND {end})"
    )


def running(specs: Sequence[Spec], window: str) -> list[str]:
    """Each spec as its plain running aggregate ``AS name``."""
    return [f"{_CALL[kind].format(x)} {window} AS {q(name)}" for name, kind, x in specs]


# ---------------------------------------------------------------------------
# bucket + prefix-carry algebra (the hot-key guard and the order-bucketed
# backfill): part j = one distinct (kind, input) after the avg split
# ---------------------------------------------------------------------------


def _parts(specs: Sequence[Spec]) -> list[tuple[str, str]]:
    return list(
        dict.fromkeys((k, x) for _, kind, x in specs for k in _SPLIT.get(kind, (kind,)))
    )


def bucket_partials(specs: Sequence[Spec]) -> list:
    """Per-bucket partial aggregates ``__p{j}`` (for ``groupBy().agg``)."""
    return [
        F.expr(f"{_CALL[_PARTIAL.get(k, k)].format(x)} AS __p{j}")
        for j, (k, x) in enumerate(_parts(specs))
    ]


def bucket_carry(specs: Sequence[Spec], partition: Sequence[str]) -> list[str]:
    """Exclusive prefix ``__c{j}`` of the partials over earlier buckets."""
    w = over(partition, "__ob", end="1 PRECEDING")
    return [
        f"{_CALL[_PREFIX.get(k, k)].format(f'__p{j}')} {w} AS __c{j}"
        for j, (k, _) in enumerate(_parts(specs))
    ]


def bucket_running(specs: Sequence[Spec], window: str) -> list[str]:
    """In-bucket running value ``__n{j}`` of each part."""
    return [f"{_CALL[k].format(x)} {window} AS __n{j}" for j, (k, x) in enumerate(_parts(specs))]


def bucket_combine(specs: Sequence[Spec]) -> list[str]:
    """Each spec's running value from ``__n{j}`` and ``__c{j}``, ``AS`` its
    name."""
    idx = {p: j for j, p in enumerate(_parts(specs))}

    def merged(k: str, x: str) -> str:
        j = idx[(k, x)]
        return "(" + _COMBINE[k].format(i=f"__n{j}", c=f"__c{j}") + ")"

    out = []
    for name, kind, x in specs:
        if kind == "avg":
            s, n = merged("sum", x), merged("count", x)
            sql = f"CASE WHEN {n} > 0 THEN {s} / {n} END"
        else:
            sql = merged(kind, x)
        out.append(f"{sql} AS {q(name)}")
    return out


# ---------------------------------------------------------------------------
# the kernel
# ---------------------------------------------------------------------------


def probe_reduce(right: DataFrame, left: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Broadcast the left frame's distinct key set and left-semi reduce the
    right side before the shuffle. Exact for every point-in-time read: a
    match shares the probe's key by definition."""
    return right.join(F.broadcast(left.select(*keys).distinct()), list(keys), "left_semi")


def union_carry(
    right: DataFrame,
    left: DataFrame,
    keys: Sequence[str],
    right_ts: str,
    left_ts: str,
    specs: Sequence[Spec],
    match: str,
    emit: Sequence[str] | None = None,
    direction: str = "backward",
    tiebreak: str | None = None,
    tolerance: str | None = None,
    probe_pushdown: bool = False,
    hot_rows: int | str | None = None,
    n_hot_buckets: int = 32,
) -> DataFrame:
    """One row per left row: ``left``'s columns, then the carried state
    as read by that row — each spec under its name, or the ``emit`` list:
    ``name`` or ``name.field`` (a struct state's field, emitted as
    ``field``).

    ``match`` (same form) is the state holding the matched right
    timestamp. State outside ``tolerance`` of the left timestamp — or with
    no match at all — is nulled out as a whole. ``direction`` is
    ``'backward'`` (state of the right rows at or before the left row),
    ``'forward'`` (at or after) or ``'nearest'`` (whichever matched
    timestamp is closer; backward on a tie). ``hot_rows`` engages the
    bucket guard for keys with at least that many unioned rows
    (``'auto'``: ``_auto_hot_threshold``); backward only.
    """
    keys = list(keys)
    if probe_pushdown:
        right = probe_reduce(right, left, keys)
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown direction: {direction!r}")
    if isinstance(hot_rows, str):
        if hot_rows != "auto":
            raise ValueError(
                f"the hot-key threshold must be an int, None, or 'auto'; got {hot_rows!r}"
            )
        hot_rows = _auto_hot_threshold(right, keys, left)
    if hot_rows is not None and (
        direction != "backward"
        or any(kind == "last" and x != q(right_ts) for _, kind, x in specs)
    ):
        raise ValueError("the hot-key guard carries backward state, `last` only of the right ts")

    kq = [q(k) for k in keys]
    inputs = {x: f"__i{j}" for j, x in enumerate(dict.fromkeys(x for _, _, x in specs))}
    carried = [c for c in left.columns if c not in keys]
    r_side = right.selectExpr(
        *kq,
        f"{q(right_ts)} AS __ts",
        "0 AS __side",
        f"CAST({q(tiebreak) if tiebreak else 0} AS BIGINT) AS __tb",
        *[f"{x} AS {c}" for x, c in inputs.items()],
    )
    l_side = left.selectExpr(
        *kq,
        f"{q(left_ts)} AS __ts",
        "1 AS __side",
        *[f"{q(c)} AS __l{i}" for i, c in enumerate(carried)],
    )
    # the columns one side lacks come in as typed NULLs
    u = r_side.unionByName(l_side, allowMissingColumns=True)

    def traversal(d: str) -> list[Spec]:
        """The specs over union columns, spec i named __{d[0]}{i}: __b0, __f0"""
        return [(f"__{d[0]}{i}", kind, inputs[x]) for i, (_, kind, x) in enumerate(specs)]

    if hot_rows is not None:
        state = _guarded(u, r_side, keys, traversal("backward"), hot_rows, n_hot_buckets)
    else:
        dirs = ("backward", "forward") if direction == "nearest" else (direction,)
        state = u.selectExpr(
            "*",
            *[
                e
                for d in dirs
                for e in running(traversal(d), over(kq, f"__ts {_ASC[d]}, __side ASC, __tb ASC"))
            ],
        )
    out = state.filter("__side = 1")

    # tolerance / no-match null-out of the whole state
    index = {name: i for i, (name, _, _) in enumerate(specs)}
    tol = None if tolerance is None else f"INTERVAL {tolerance}"

    def ref(d: str, r: str) -> str:
        """State column of ``r`` ('name' or 'name.field') over traversal d."""
        name, _, field = r.partition(".")
        return f"__{d[0]}{index[name]}" + (f".{q(field)}" if field else "")

    def kept(d: str, r: str) -> str:
        ts = ref(d, match)
        if tol is None:
            ok = f"{ts} IS NOT NULL"
        else:
            ok = f"{ts} >= __ts - {tol}" if d == "backward" else f"{ts} <= __ts + {tol}"
        return f"CASE WHEN {ok} THEN {ref(d, r)} END"

    def value(r: str) -> str:
        if direction != "nearest":
            return kept(direction, r)
        # closer match wins, backward on equal distance; timestamp_ntz
        # cannot cast straight to double (route via ltz, session TZ = UTC)
        secs = "CAST(CAST({} AS TIMESTAMP) AS DOUBLE)".format
        b, f = kept("backward", match), kept("forward", match)
        back = (
            f"({f} IS NULL OR ({b} IS NOT NULL AND "
            f"{secs('__ts')} - {secs(b)} <= {secs(f)} - {secs('__ts')}))"
        )
        return f"CASE WHEN {back} THEN {kept('backward', r)} ELSE {kept('forward', r)} END"

    return out.selectExpr(
        *[q(c) if c in keys else f"__l{carried.index(c)} AS {q(c)}" for c in left.columns],
        *[f"{value(r)} AS {q(r.partition('.')[2] or r)}" for r in emit or index],
    )


# ---------------------------------------------------------------------------
# hot-key guard
# ---------------------------------------------------------------------------

#: clamped fixed-width time slot against the broadcast grid (__lo, __w,
#: __nb): pure codegen arithmetic, monotone in ts, equal ts always shares a
#: bucket; rows outside the key's right-side span clamp to the edge buckets
#: (still monotone, so still exact); cold keys (no grid row) take bucket 0
_BUCKET = (
    "CASE WHEN __w IS NULL THEN 0 ELSE CAST(least(greatest(floor(("
    "CAST(CAST(__ts AS TIMESTAMP) AS DOUBLE) - __lo) / __w), 0), "
    "CAST(__nb - 1 AS BIGINT)) AS INT) END"
)


def _hot_bounds(u: DataFrame, kq: list[str], hot_rows: int, n_buckets: int) -> DataFrame:
    """ONE aggregate pass over (key, ts) of the union — column-pruned at the
    scan — giving hot-key detection (UNIONED row count ≥ threshold: left
    rows sit in the same window task, so a key skewed by a huge probe
    frame is just as much a straggler) and a per-key FIXED-WIDTH event-time
    grid over the right side's ts span. Only hot keys survive, so the
    result is tiny and broadcastable.

    Fixed width beats quantile boundaries twice: the fit is a plain
    min/max (no percentile sketch merge), and the per-row lookup is pure
    codegen arithmetic. Balance then depends on the key's event-time
    uniformity; that only affects parallelism, never correctness (any
    monotone pure-function-of-ts cut decomposes exactly)."""
    width = f"(__hi - __lo) / {float(n_buckets)}"
    tsd = "CASE WHEN __side = 0 THEN CAST(CAST(__ts AS TIMESTAMP) AS DOUBLE) END"
    return (
        u.selectExpr(*kq, f"{tsd} AS __tsd")
        .groupBy(*kq)
        .agg(*map(F.expr, ["count(1) AS __n", "min(__tsd) AS __lo", "max(__tsd) AS __hi"]))
        .where(f"__n >= {int(hot_rows)}")
        .selectExpr(
            *kq,
            "__lo",
            f"CASE WHEN {width} > 0 THEN {width} END AS __w",  # degenerate span → bucket 0
            f"{int(n_buckets)} AS __nb",
        )
    )


def _guarded(
    u: DataFrame,
    r_side: DataFrame,
    keys: list[str],
    state: list[Spec],
    hot_rows: int,
    n_buckets: int,
) -> DataFrame:
    """Backward ``state`` of ``u`` with the hot-key guard — ONE window
    pass, partitioned by (key, bucket), for hot and cold keys alike.

    The partials come from the right side only (left rows carry NULL
    inputs, so they cannot change any partial). The carry is DENSIFIED to
    every bucket 0..n_buckets-1 of each hot key: a left row can land in a
    right-free bucket (an activity gap), which must still inherit the
    prefix of all earlier buckets. The carry is broadcast-joined AFTER the
    window, so the shuffle moves only the union columns plus one int."""
    kq = [q(k) for k in keys]
    bounds = _hot_bounds(u, kq, hot_rows, n_buckets)
    partials = (
        r_side.join(F.broadcast(bounds), keys)
        .selectExpr("*", f"{_BUCKET} AS __ob")
        .groupBy(*kq, "__ob")
        .agg(*bucket_partials(state))
    )
    carry = (
        bounds.selectExpr(*kq, "explode(sequence(0, __nb - 1)) AS __ob")
        .join(partials, [*keys, "__ob"], "left")
        .selectExpr(*kq, "__ob", *bucket_carry(state, kq))
    )
    window = over([*kq, "__ob"], "__ts ASC, __side ASC, __tb ASC")
    inner = (
        u.join(F.broadcast(bounds), keys, "left")
        .selectExpr("*", f"{_BUCKET} AS __ob")
        .selectExpr("*", *bucket_running(state, window))
    )
    return inner.join(F.broadcast(carry), [*keys, "__ob"], "left").selectExpr(
        "*", *bucket_combine(state)
    )


def _auto_hot_threshold(
    right: DataFrame, key: str | Sequence[str], left: DataFrame | None = None
) -> int | None:
    """Decide whether the hot-key guard should engage, and at what
    threshold, from ONE column-pruned aggregate over the key column(s).

    Crossover rule (measured, BENCH.md §2c): engage once a single key
    holds more than ~1/n_cores of all rows — below that, the plain per-key
    window's natural parallelism already hides the straggler. What the
    rule optimizes is the STRAGGLER BOUND (max task time — BENCH_SKEW.json
    records the window-stage max task dropping 20.6x → 2.0x at
    pathological skew), NOT single-box wall time: on a lightly-loaded
    local[N] box the guard's extra bucket/carry shuffles can exceed what
    the straggler cost on moderate skew, which is why the threshold stays
    off (returns None) until one key truly dominates a core's share.
    Returns ``total_rows / n_cores`` when the largest key meets it, else
    None. The extra cost is one count-shuffle reduced to a single driver
    row."""
    sc = right.sparkSession.sparkContext
    n_cores = max(sc.defaultParallelism, 2)
    keys = right.select(key)
    if left is not None:
        # the window task holds the UNION of right and left rows per key
        keys = keys.unionByName(left.select(key))
    row = (
        keys.groupBy(key)
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.max("__n").alias("__mx"), F.sum("__n").alias("__tot"))
        .first()
    )
    if row is None or row["__tot"] is None:
        return None
    threshold = max(int(row["__tot"] / n_cores), 2)
    return threshold if row["__mx"] >= threshold else None
