"""Hot-conversation scale path (VERDICT r02 'Wrong #2'): the per-key
order-bucket + prefix-carry decomposition must EQUAL the plain per-key
window output — including on a synthetic 100k-turn single conversation
(the pathological case the plain window serializes into one task)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from kgfarm_spark.operators.backfill import backfill_asof_fused
from kgfarm_spark.operators.windows import (
    backfill_features,
    backfill_features_bucketed,
)
from kgfarm_spark.sources.datagen import gen_probes, gen_transcripts


def _frames_equal(a, b) -> bool:
    assert a.columns == sorted(a.columns) or set(a.columns) == set(b.columns)
    b = b.select(a.columns)
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_bucketed_backfill_equals_plain_on_100k_turn_conversation(spark):
    # skew=3 concentrates mass on conv 0: one conversation carries a large
    # share of the 100k turns — the exact straggler scenario
    t = gen_transcripts(spark, n_turns=100_000, n_convs=50, seed=7, skew=3.0)
    hottest = t.groupBy("conv_id").count().orderBy(F.desc("count")).first()
    assert hottest["count"] > 20_000  # the scenario is real

    plain = backfill_features(t)
    bucketed = backfill_features(t, max_turns_per_task=5_000)
    assert plain.columns == bucketed.columns
    assert _frames_equal(plain, bucketed)


def test_bucketed_backfill_null_text_and_tool_carry(spark):
    # Nulls crossing bucket boundaries: text_len_sum/avg/max must stay
    # NULL until the first non-null text, exactly like the window twin —
    # including when the whole FIRST bucket of a conversation is null text.
    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(10):
        rows.append(
            (
                "c1",
                i,
                "user" if i % 2 == 0 else "assistant",
                None if i < 4 else f"text {i} {'x' * i}",
                "search" if i % 3 == 0 else None,
                base + dt.timedelta(minutes=i),
            )
        )
    rows.append(("c2", 0, "user", None, None, base))
    rows.append(("c2", 1, "assistant", "hi", None, base + dt.timedelta(minutes=1)))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    plain = backfill_features(df)
    bucketed = backfill_features_bucketed(df, bucket_turns=3)
    assert _frames_equal(plain, bucketed)
    # spot-check: the all-null prefix really is NULL, not 0
    r = (
        bucketed.filter((F.col("conv_id") == "c1") & (F.col("turn_idx") == 3))
        .select("text_len_sum", "text_len_avg", "text_len_max")
        .first()
    )
    assert r["text_len_sum"] is None and r["text_len_avg"] is None and r["text_len_max"] is None


def test_fused_hot_guard_equals_plain(spark):
    t = gen_transcripts(spark, n_turns=40_000, n_convs=40, seed=11, skew=3.0)
    probes = gen_probes(spark, t)
    plain = backfill_asof_fused(t, probes, tolerance="1 DAY")
    guarded = backfill_asof_fused(
        t, probes, tolerance="1 DAY", hot_conv_turns=2_000, n_hot_buckets=16
    )
    assert plain.columns == guarded.columns
    assert _frames_equal(plain, guarded)
    # the guard actually engaged: at skew=3 some conversation exceeds the
    # threshold (otherwise this test degenerates to plain == plain)
    n_hot = (
        t.groupBy("conv_id").count().filter(F.col("count") >= 2_000).count()
    )
    assert n_hot >= 1


def test_fused_hot_guard_no_hot_keys_is_identity(spark):
    t = gen_transcripts(spark, n_turns=2_000, n_convs=100, seed=3, skew=1.0)
    probes = gen_probes(spark, t)
    plain = backfill_asof_fused(t, probes, tolerance="1 DAY")
    guarded = backfill_asof_fused(t, probes, tolerance="1 DAY", hot_conv_turns=10**9)
    assert _frames_equal(plain, guarded)


def test_bucketed_max_task_rows_bounded(spark):
    """The point of the decomposition: no task sees more than ~bucket_turns
    rows of one conversation. Verified structurally — the cumulative window
    partitions by (key, bucket) and every (key, bucket) group is ≤
    bucket_turns rows because turn_idx is dense per key."""
    t = gen_transcripts(spark, n_turns=50_000, n_convs=20, seed=5, skew=3.0)
    tagged = t.withColumn("__ob", F.floor(F.col("turn_idx") / F.lit(2_000)).cast("int"))
    biggest_group = (
        tagged.groupBy("conv_id", "__ob").count().agg(F.max("count")).first()[0]
    )
    assert biggest_group <= 2_000
    # and the hot conversation did split into many buckets
    n_buckets_hot = (
        tagged.groupBy("conv_id")
        .agg(F.countDistinct("__ob").alias("nb"))
        .agg(F.max("nb"))
        .first()[0]
    )
    assert n_buckets_hot >= 5


def test_all_window_ops_hot_safe_variants_equal_plain(spark):
    """Round-3 completion of the hot-conversation story: EVERY per-conv
    window op has a straggler-free variant pinned equal to the plain
    window — lag/lead and role transitions via shifted equi-joins on the
    dense (conv_id, turn_idx) axis, sessionize via join-lag + bucket+carry
    cumsum, rolling aggregates via ghost-row overlap buckets."""
    from kgfarm_spark.operators.windows import (
        lag_lead_features,
        role_transitions,
        rolling_aggregates,
        sessionize,
    )

    t = gen_transcripts(spark, n_turns=30_000, n_convs=30, seed=13, skew=3.0)

    a = lag_lead_features(t, cols={"role": 2, "ts": 1})
    b = lag_lead_features(t, cols={"role": 2, "ts": 1}, hot_safe=True)
    assert a.columns == b.columns
    assert _frames_equal(a, b)

    a = role_transitions(t)
    b = role_transitions(t, hot_safe=True)
    assert a.columns == b.columns
    assert _frames_equal(a, b)

    a = sessionize(t, gap="30 MINUTE")
    b = sessionize(t, gap="30 MINUTE", max_turns_per_task=1_000)
    assert a.columns == b.columns
    assert _frames_equal(a, b)

    a = rolling_aggregates(t, n_turns=3)
    b = rolling_aggregates(t, n_turns=3, max_turns_per_task=1_000)
    assert a.columns == b.columns
    assert _frames_equal(a, b)


def test_rolling_ghost_rows_cross_bucket_boundary(spark):
    """Adversarial bucket size: B barely above the frame length, so almost
    every frame crosses a bucket boundary and leans on ghost rows."""
    from kgfarm_spark.operators.windows import rolling_aggregates

    t = gen_transcripts(spark, n_turns=2_000, n_convs=3, seed=17, skew=2.0)
    a = rolling_aggregates(t, n_turns=5)
    b = rolling_aggregates(t, n_turns=5, max_turns_per_task=7)
    assert _frames_equal(a, b)


def test_single_100k_turn_conversation_bucketed_equals_plain(spark):
    """The literal pathological case: ONE conversation with 100k turns.
    The plain window serializes it into one task; the bucketed path must
    produce identical output from 20 parallel buckets."""
    t = gen_transcripts(spark, n_turns=100_000, n_convs=1, seed=23, skew=1.0)
    assert t.select("conv_id").distinct().count() == 1
    plain = backfill_features(t)
    bucketed = backfill_features(t, max_turns_per_task=5_000)
    assert _frames_equal(plain, bucketed)


def test_fused_hot_guard_probe_in_activity_gap(spark):
    """ADVICE r03 (high): a probe whose ts falls in a turn-FREE fixed-width
    time bucket of a hot conversation (an activity gap spanning several
    buckets) must still inherit the prefix state from earlier buckets.
    Before the carry grid densification, such a probe found no carry row
    (the carry was grouped from observed transcript rows only) and was
    reported as no-match with nulled features."""
    base = dt.datetime(2024, 5, 1)
    rows = []
    for i in range(10):  # burst 1: minutes 0..9
        rows.append(("hot", i, "user" if i % 2 == 0 else "assistant",
                     f"a{i}", None, base + dt.timedelta(minutes=i)))
    for i in range(10):  # burst 2: minutes 50..59 — 40-minute gap between
        rows.append(("hot", 10 + i, "assistant", f"b{i}",
                     "code" if i % 2 else None, base + dt.timedelta(minutes=50 + i)))
    rows.append(("cold", 0, "user", "hi", None, base))
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    probes = spark.createDataFrame(
        [
            ("hot", base + dt.timedelta(minutes=30), "gap_probe"),
            ("hot", base + dt.timedelta(minutes=55), "late_probe"),
            ("cold", base + dt.timedelta(minutes=5), "cold_probe"),
        ],
        "conv_id string, query_ts timestamp, probe_id string",
    )
    # 12 buckets over a 59-minute span → ~5-minute buckets; the gap probe
    # at minute 30 lands in a bucket (and neighborhood) with zero turns
    plain = backfill_asof_fused(t, probes)
    guarded = backfill_asof_fused(t, probes, hot_conv_turns=5, n_hot_buckets=12)
    assert _frames_equal(plain, guarded)
    r = guarded.filter(F.col("probe_id") == "gap_probe").first()
    assert r["turns_so_far"] == 10
    assert r["matched_ts"] == base + dt.timedelta(minutes=9)
    # and with a tolerance that the gap violates, the probe nulls out
    tol = backfill_asof_fused(
        t, probes, tolerance="10 MINUTE", hot_conv_turns=5, n_hot_buckets=12
    )
    tol_plain = backfill_asof_fused(t, probes, tolerance="10 MINUTE")
    assert _frames_equal(tol_plain, tol)
    assert tol.filter(F.col("probe_id") == "gap_probe").first()["matched_ts"] is None


def test_fused_hot_guard_auto_mode(spark):
    """VERDICT r03 next-step #7: hot_conv_turns='auto' engages the guard
    iff some conversation holds more than ~1/n_cores of the rows (the
    measured crossover, BENCH.md §2c) — no hand-tuning."""
    from kgfarm_spark.operators.carry import _auto_hot_threshold

    hot_t = gen_transcripts(spark, n_turns=20_000, n_convs=20, seed=31, skew=3.0)
    uni_t = gen_transcripts(spark, n_turns=2_000, n_convs=100, seed=31, skew=1.0)
    assert _auto_hot_threshold(hot_t, "conv_id") is not None
    assert _auto_hot_threshold(uni_t, "conv_id") is None

    jvm = spark._jvm
    fmt = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    probes = gen_probes(spark, hot_t)
    plain = backfill_asof_fused(hot_t, probes, tolerance="1 DAY")
    auto = backfill_asof_fused(hot_t, probes, tolerance="1 DAY", hot_conv_turns="auto")
    assert _frames_equal(plain, auto)
    assert "__ob" in auto._jdf.queryExecution().explainString(fmt), (
        "auto mode must engage the bucketed window on the pathological table"
    )

    up = gen_probes(spark, uni_t)
    off = backfill_asof_fused(uni_t, up, tolerance="1 DAY", hot_conv_turns="auto")
    assert "__ob" not in off._jdf.queryExecution().explainString(fmt), (
        "auto mode must stay on the plain single-window plan for uniform data"
    )


def test_fused_hot_guard_rejects_unknown_string(spark):
    """ADVICE r04: a typo like 'Auto' used to fall through to the numeric
    _hot_bounds path and die deep in Spark — must be an immediate
    ValueError naming the accepted values."""
    t = gen_transcripts(spark, n_turns=200, n_convs=5, seed=2)
    probes = gen_probes(spark, t)
    with pytest.raises(ValueError, match="'auto'"):
        backfill_asof_fused(t, probes, hot_conv_turns="Auto")


def test_auto_hot_threshold_stays_off_on_moderate_skew(spark):
    """VERDICT r04 #6: the auto crossover optimizes the straggler bound,
    so on MODERATE skew (largest conversation well under a core's share
    of rows) the guard must stay off — the plain window's parallelism
    already hides it and the guard's extra shuffles would be pure cost."""
    from kgfarm_spark.operators.carry import _auto_hot_threshold

    mod_t = gen_transcripts(spark, n_turns=20_000, n_convs=200, seed=5, skew=1.5)
    from pyspark.sql import functions as F

    top = (
        mod_t.groupBy("conv_id").count().agg(F.max("count")).first()[0]
    )
    n_cores = spark.sparkContext.defaultParallelism
    assert top < 20_000 / n_cores, "fixture must actually be moderate-skew"
    assert _auto_hot_threshold(mod_t, "conv_id") is None


def test_rolling_guard_rejects_bucket_not_exceeding_frame(spark):
    """ADVICE r03 (medium): ghost rows replicate only from the immediately
    preceding bucket, so max_turns_per_task <= n_turns would silently
    truncate frames spanning two boundaries — must be rejected."""
    from kgfarm_spark.operators.windows import rolling_aggregates

    t = gen_transcripts(spark, n_turns=100, n_convs=2, seed=1)
    with pytest.raises(ValueError, match="must exceed n_turns"):
        rolling_aggregates(t, n_turns=5, max_turns_per_task=5)
    with pytest.raises(ValueError, match="must exceed n_turns"):
        rolling_aggregates(t, n_turns=5, max_turns_per_task=3)


def test_fused_hot_guard_exact_ts_ties_at_bucket_boundaries(spark):
    """Adversarial ties: multiple turns share the SAME timestamp, and
    probes land at exactly those timestamps. Bucket id is a pure function
    of ts, so tied rows must share a bucket and the (ts, side, turn)
    ordering must survive the decomposition — inclusive backward
    semantics (probe at ts T sees all turns at T) included."""
    base = dt.datetime(2024, 3, 1)
    rows = []
    for i in range(60):
        # blocks of 4 turns share one timestamp -> heavy ties
        ts = base + dt.timedelta(minutes=i // 4)
        rows.append(("c1", i, "user" if i % 2 == 0 else "assistant",
                     f"t{i}", "code" if i % 5 == 0 else None, ts))
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    probe_rows = [
        ("c1", base + dt.timedelta(minutes=m), f"p{m}") for m in range(0, 15, 2)
    ]
    probes = spark.createDataFrame(
        probe_rows, "conv_id string, query_ts timestamp, probe_id string"
    )
    plain = backfill_asof_fused(t, probes, tolerance="1 DAY")
    guarded = backfill_asof_fused(
        t, probes, tolerance="1 DAY", hot_conv_turns=10, n_hot_buckets=7
    )
    assert _frames_equal(plain, guarded)
    # inclusive backward at a tie: the probe at minute 0 sees all 4 turns
    r = guarded.filter(F.col("probe_id") == "p0").first()
    assert r["turns_so_far"] == 4


def test_probe_pushdown_equals_plain_and_prunes_plan(spark):
    """probe_pushdown semi-joins the transcript side down to probed
    conversations before the union-window shuffle; features are
    conversation-local so the output must be IDENTICAL to the plain
    plan on the same probe frame, and the executed plan must carry a
    broadcast left-semi join (the map-side corpus reduction)."""
    t = gen_transcripts(spark, n_turns=20_000, n_convs=40, seed=23)
    all_probes = gen_probes(spark, t)
    sub = all_probes.filter(F.crc32(F.col("conv_id")) % 4 == 0)
    assert 0 < sub.select("conv_id").distinct().count() < 40

    plain = backfill_asof_fused(t, sub, tolerance="1 DAY")
    pushed = backfill_asof_fused(t, sub, tolerance="1 DAY", probe_pushdown=True)
    assert plain.columns == pushed.columns
    assert _frames_equal(plain, pushed)

    plan = pushed._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, "pushdown must plan a left-semi reduction"
    assert "Broadcast" in plan, "the probe key set must broadcast"


def test_probe_heavy_skew_engages_guard_and_stays_exact(spark):
    """Review finding: a conversation skewed by a huge PROBE frame (few
    turns) must trip the auto guard — probe rows sit in the same window
    task — and the guarded output must equal the plain path exactly."""
    from pyspark.sql import functions as F

    from kgfarm_spark.operators.backfill import backfill_asof_fused
    from kgfarm_spark.operators.carry import _auto_hot_threshold

    turns = spark.createDataFrame(
        [(f"c{i % 20}", i, f"t {i}", "user", None)
         for i in range(200)],
        "conv_id string, turn_idx long, text string, role string, tool string",
    ).withColumn("ts", F.timestamp_seconds(F.col("turn_idx") * 60 + 1))
    # c0 gets a probe flood: 5000 probes vs 10 turns
    probes = spark.createDataFrame(
        [("c0", i) for i in range(5000)] + [(f"c{i % 20}", i) for i in range(100)],
        "conv_id string, n long",
    ).withColumn("query_ts", F.timestamp_seconds(F.col("n") % 9000 + 30))
    thr = _auto_hot_threshold(turns, "conv_id", probes.select("conv_id", "query_ts"))
    assert thr is not None  # probe flood detected
    p = probes.select("conv_id", "query_ts", "n")
    plain = backfill_asof_fused(turns, p, hot_conv_turns=None)
    guarded = backfill_asof_fused(turns, p, hot_conv_turns="auto")
    assert sorted(map(repr, plain.collect())) == sorted(map(repr, guarded.collect()))


def test_probe_feature_name_collision_raises(spark):
    from pyspark.sql import functions as F

    from kgfarm_spark.operators.backfill import backfill_asof_fused

    turns = spark.createDataFrame(
        [("c0", 0, "t", "user", None)],
        "conv_id string, turn_idx long, text string, role string, tool string",
    ).withColumn("ts", F.timestamp_seconds(F.lit(1)))
    probes = spark.createDataFrame(
        [("c0", 1.0)], "conv_id string, tool_call_rate double"
    ).withColumn("query_ts", F.timestamp_seconds(F.lit(2)))
    with pytest.raises(ValueError, match="collide"):
        backfill_asof_fused(turns, probes)
