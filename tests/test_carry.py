"""Union-carry kernel (operators/carry.py): both callers quote every
interpolated identifier, and the fused backfill equals its documented
two-step composition."""

from __future__ import annotations

import datetime as dt

import pytest

from kgfarm_spark.operators.asof import asof_join
from kgfarm_spark.operators.backfill import backfill_asof_fused
from kgfarm_spark.operators.windows import backfill_features
from kgfarm_spark.sources.datagen import gen_probes, gen_transcripts

T0 = dt.datetime(2024, 1, 1)


@pytest.fixture(scope="module")
def turns(spark):
    return spark.createDataFrame(
        [
            ("a", 0, "user", "hi", None, T0),
            ("a", 1, "assistant", "hello", "search", T0 + dt.timedelta(minutes=5)),
            ("b", 0, "user", "yo", None, T0),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )


@pytest.mark.parametrize(
    "name, ddl, values",
    [
        ("p`id", "string", ["x", "y"]),
        ("s", "struct<`my field`: int>", [(1,), (2,)]),
    ],
    ids=["backtick_name", "struct_field_with_space"],
)
def test_probe_columns_with_awkward_identifiers(spark, turns, name, ddl, values):
    probes = spark.createDataFrame(
        [("a", T0 + dt.timedelta(minutes=6), values[0]), ("b", T0, values[1])],
        f"conv_id string, query_ts timestamp, `{name.replace('`', '``')}` {ddl}",
    )
    a = asof_join(
        probes, turns, direction="backward", tolerance="1 DAY",
        right_cols=["turn_idx"], tiebreak="turn_idx",
    )
    b = backfill_asof_fused(turns, probes, tolerance="1 DAY")
    for out in (a, b):
        assert name in out.columns
        assert out.schema[name].dataType == probes.schema[name].dataType
    got = {r["conv_id"]: (r[name], r["turn_idx"]) for r in a.collect()}
    assert got == {"a": (probes.collect()[0][name], 1), "b": (probes.collect()[1][name], 0)}
    got = {r["conv_id"]: (r[name], r["turns_so_far"]) for r in b.collect()}
    assert got == {"a": (probes.collect()[0][name], 2), "b": (probes.collect()[1][name], 1)}


def test_fused_equals_backfill_then_asof(spark):
    """backfill_asof_fused == asof_join(probes, backfill_features(t)) on
    every shared feature column (the documented equivalence)."""
    t = gen_transcripts(spark, n_turns=3000, n_convs=30, seed=11)
    p = gen_probes(spark, t)
    features = [
        "matched_ts", "turns_so_far", "tool_calls_so_far", "text_len_sum",
        "text_len_avg", "text_len_max", "user_turns_so_far",
        "assistant_turns_so_far", "tool_call_rate",
    ]
    fused = backfill_asof_fused(t, p, tolerance="1 DAY")
    naive = asof_join(
        p, backfill_features(t), direction="backward", tolerance="1 DAY", tiebreak="turn_idx"
    )
    cols = ["probe_id", *features]
    a = sorted(tuple(r) for r in fused.select(cols).collect())
    b = sorted(tuple(r) for r in naive.select(cols).collect())
    assert len(a) == p.count()
    assert any(r[1] is not None for r in a)  # the probes do match turns
    assert a == b
