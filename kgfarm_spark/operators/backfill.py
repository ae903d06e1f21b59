"""Fused backfill + point-in-time resolve — the optimized flagship path.

The naive plan (backfill_features → asof_join) shuffles the transcript
table TWICE on conv_id: once for the cumulative windows, once for the
union-window as-of join. But a probe row is just a zero-contribution
event on the same (conv_id, ts) axis — so we can union probes INTO the
transcript stream first and compute the cumulative features in a single
window pass where probe rows contribute nothing and simply read the
running state. ONE shuffle of |turns|+|probes| rows total, and the
``text`` column is projected down to ``length(text)`` before the
exchange (shuffle bytes ∝ fixed-width columns only).

Equivalent to asof_join(probes, backfill_features(t), direction=
'backward', mode='latest') — same oracle SQL, verified by the driver
gate — but with half the shuffle volume. At 10^12 turns this is the
difference between 2 PB and 1 PB of shuffle I/O. Equivalence note: the
fused state is ordered by EVENT TIME; the naive composition orders the
cumulative features by turn_idx. The two agree whenever ts is monotone
in turn_idx within a conversation (the transcript invariant the datagen
and oracle share). On out-of-order event data the ts ordering is the
point-in-time-CORRECT one — "features as of probe ts" must reflect
exactly the turns with ts <= probe ts, and a turn_idx-ordered prefix
would leak later-timestamped turns into earlier probes.

Leakage-free by construction: every window frame ends at the current
row, and probe rows are ordered AFTER transcript rows at equal ts
(inclusive backward semantics, reference api.py:551 strict ``<``).

Hot-conversation guard (``hot_conv_turns``): a per-key window puts each
conversation in ONE task. For transcripts that is normally fine (a
conversation is bounded by its length), but a pathological multi-million
-turn conversation becomes a straggler. When ``hot_conv_turns`` is set,
the kernel's bucket+carry guard (operators/carry.py) splits conversations
whose unioned row count meets the threshold into event-time buckets with
an exclusive prefix carry (every cumulative feature here is a prefix of
an associative aggregate, so the decomposition is exact — pytest-pinned).
Cold keys take bucket 0 and no carry, so hot and cold share ONE window
pass; the guard costs two extra passes over the union (per-key stats,
hot-slice partials), both with tiny broadcastable outputs. Per-task rows
for a hot conversation drop to ~|conv| / n_hot_buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from kgfarm_spark.operators.carry import q, union_carry
from kgfarm_spark.operators.windows import BACKFILL_SPECS, TOOL_CALL_RATE


def backfill_asof_fused(
    transcripts: DataFrame,
    probes: DataFrame,
    key: str = "conv_id",
    ts: str = "ts",
    probe_ts: str = "query_ts",
    tolerance: str | None = None,
    hot_conv_turns: int | str | None = None,
    n_hot_buckets: int = 32,
    probe_pushdown: bool = False,
) -> DataFrame:
    """Resolve each probe (key, probe_ts) to the cumulative transcript
    features as of that instant. Returns probe columns + matched_ts +
    the backfill feature set (same names as windows.backfill_features).

    ``hot_conv_turns``: optional straggler guard — conversations whose
    UNIONED row count (turns + probes — both sit in the same window
    task) meets this threshold take the exact
    bucket+carry path split over ``n_hot_buckets`` event-time buckets
    (see module docstring); everything else stays on the plain
    single-window plan. Pass ``"auto"`` to apply the measured crossover
    rule (engage iff some conversation holds > ~1/n_cores of the rows —
    see ``carry._auto_hot_threshold``) instead of hand-tuning.

    ``probe_pushdown``: semi-join the transcript side down to the
    probe frame's conversation set BEFORE the union-window shuffle.
    Every feature here is conversation-local (all windows partition by
    ``key``), so rows of unprobed conversations can never influence any
    probe's output — the filter is exactness-preserving (driver
    oracle-gated). Turn it on when the probe frame touches a small
    fraction of the corpus (the common backfill-a-sample case): the
    distinct probe-key set is broadcast, so the corpus side is reduced
    map-side at the scan — at 10^12 turns with 0.1 percent of conversations
    probed the window shuffle drops from ~1 PB to ~1 TB, and on
    Iceberg/DSv2 sources the runtime filter can prune whole files.
    Leave it off when probes cover most conversations (the semi-join
    then only adds work) or when the probe key set is too large to
    broadcast (>~100M keys)."""
    probe_cols = [c for c in probes.columns if c != key]
    specs = [("matched_ts", "last", q(ts)), *BACKFILL_SPECS]
    features = [name for name, _, _ in specs]
    clash = sorted(set(probe_cols) & {*features, "tool_call_rate"})
    if clash:
        raise ValueError(
            f"probe columns {clash} collide with the backfill feature "
            f"output names — rename them (a silent overwrite here would "
            f"corrupt re-backfilled frames)"
        )
    out = union_carry(
        transcripts,
        probes,
        [key],
        ts,
        probe_ts,
        specs,
        match="matched_ts",
        tiebreak="turn_idx",
        tolerance=tolerance,
        probe_pushdown=probe_pushdown,
        hot_rows=hot_conv_turns,
        n_hot_buckets=n_hot_buckets,
    )
    # text_len_max stays BIGINT, the fused frame's published type
    return out.selectExpr(
        q(key),
        *map(q, probe_cols),
        *[f"CAST({q(c)} AS BIGINT) AS {q(c)}" if c == "text_len_max" else q(c) for c in features],
        TOOL_CALL_RATE,
    )
