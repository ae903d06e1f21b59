"""As-of join semantics: reference parity (J2 interval windows,
operations/api.py:518-571), tie handling, tolerance, probe pushdown, leakage."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from kgfarm_spark.operators.asof import asof_join

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def ts(minutes: float) -> dt.datetime:
    return T0 + dt.timedelta(minutes=minutes)


@pytest.fixture(scope="module")
def tiny(spark):
    left = spark.createDataFrame(
        [
            ("a", ts(10), "p1"),   # between r rows
            ("a", ts(5), "p2"),    # exact tie with a right row
            ("a", ts(0), "p3"),    # before first right row
            ("b", ts(100), "p4"),  # far after last right row (tolerance test)
            ("c", ts(50), "p5"),   # key missing on right
        ],
        "conv_id string, query_ts timestamp, probe_id string",
    )
    right = spark.createDataFrame(
        [
            ("a", ts(5), 0, "r_a5"),
            ("a", ts(5), 1, "r_a5b"),  # duplicate ts → tiebreak
            ("a", ts(12), 2, "r_a12"),
            ("b", ts(1), 0, "r_b1"),
        ],
        "conv_id string, ts timestamp, turn_idx int, val string",
    )
    return left, right


def rows_by_probe(df):
    return {r["probe_id"]: r for r in df.collect()}


class TestBackward:
    def test_semantics(self, tiny):
        left, right = tiny
        out = asof_join(
            left, right, on="conv_id", left_ts="query_ts", right_ts="ts",
            direction="backward", tiebreak="turn_idx",
        )
        r = rows_by_probe(out)
        assert r["p1"]["val"] == "r_a5b"          # most recent ≤ 10min
        assert r["p2"]["val"] == "r_a5b"          # tie is INCLUDED (api.py:551)
        assert r["p2"]["matched_ts"] == ts(5)
        assert r["p3"]["val"] is None             # nothing before
        assert r["p4"]["val"] == "r_b1"           # unbounded tolerance
        assert r["p5"]["val"] is None             # unknown key
        assert out.count() == left.count()        # left rows preserved

    def test_tolerance(self, tiny):
        left, right = tiny
        out = asof_join(
            left, right, on="conv_id", left_ts="query_ts", right_ts="ts",
            direction="backward", tolerance="30 MINUTE", tiebreak="turn_idx",
        )
        r = rows_by_probe(out)
        assert r["p1"]["val"] == "r_a5b"
        assert r["p4"]["val"] is None             # 99min gap > 30min window

    def test_no_temporal_leakage(self, tiny):
        """Property (north_rule): deleting all right rows with ts > query_ts
        never changes a backward match."""
        left, right = tiny
        full = rows_by_probe(
            asof_join(left, right, on="conv_id", left_ts="query_ts",
                      right_ts="ts", direction="backward", tiebreak="turn_idx")
        )
        for p in full.values():
            trimmed = right.filter(F.col("ts") <= F.lit(p["query_ts"]))
            got = rows_by_probe(
                asof_join(left.filter(F.col("probe_id") == p["probe_id"]),
                          trimmed, on="conv_id", left_ts="query_ts",
                          right_ts="ts", direction="backward", tiebreak="turn_idx")
            )[p["probe_id"]]
            assert got["val"] == p["val"] and got["matched_ts"] == p["matched_ts"]


class TestForward:
    def test_semantics(self, tiny):
        left, right = tiny
        out = asof_join(
            left, right, on="conv_id", left_ts="query_ts", right_ts="ts",
            direction="forward", tiebreak="turn_idx",
        )
        r = rows_by_probe(out)
        assert r["p1"]["val"] == "r_a12"          # next ≥ 10min
        assert r["p2"]["val"] == "r_a5b"          # tie included, max tiebreak
        assert r["p3"]["val"] == "r_a5b"          # first row at 5min, max tb
        assert r["p4"]["val"] is None             # nothing after 100min


class TestNearest:
    def test_semantics(self, tiny):
        left, right = tiny
        out = asof_join(
            left, right, on="conv_id", left_ts="query_ts", right_ts="ts",
            direction="nearest", tiebreak="turn_idx",
        )
        r = rows_by_probe(out)
        assert r["p1"]["val"] == "r_a12"          # 2min fwd beats 5min back
        assert r["p2"]["val"] == "r_a5b"          # distance 0
        assert r["p3"]["val"] == "r_a5b"          # only forward exists
        assert r["p4"]["val"] == "r_b1"           # only backward exists

    def test_equal_distance_prefers_backward(self, spark):
        left = spark.createDataFrame(
            [("k", ts(10), "p")], "conv_id string, query_ts timestamp, probe_id string"
        )
        right = spark.createDataFrame(
            [("k", ts(7), 0, "back"), ("k", ts(13), 1, "fwd")],
            "conv_id string, ts timestamp, turn_idx int, val string",
        )
        out = asof_join(left, right, on="conv_id", left_ts="query_ts",
                        right_ts="ts", direction="nearest", tiebreak="turn_idx")
        assert out.collect()[0]["val"] == "back"


class TestAllInWindow:
    def test_reference_j2_parity(self, tiny):
        """mode='all_in_window' == reference interval semantics: keep every
        row in [query_ts - tol, query_ts], ties kept, inner join."""
        left, right = tiny
        out = asof_join(
            left, right, on="conv_id", left_ts="query_ts", right_ts="ts",
            tolerance="6 MINUTE", mode="all_in_window", right_cols=["val"],
        )
        got = sorted((r["probe_id"], r["val"]) for r in out.collect())
        assert got == [("p1", "r_a5"), ("p1", "r_a5b"), ("p2", "r_a5"), ("p2", "r_a5b")]


class TestProbePushdown:
    """probe_pushdown semi-reduces the right side to the left key set —
    output must equal the plain plan in every mode/direction."""

    @pytest.mark.parametrize(
        "kw",
        [
            dict(direction="backward", tolerance="10 minutes", tiebreak="turn_idx"),
            dict(direction="forward", tiebreak="turn_idx"),
            dict(direction="nearest", tiebreak="turn_idx"),
            dict(mode="all_in_window", tolerance="10 minutes"),
        ],
        ids=["backward", "forward", "nearest", "all_in_window"],
    )
    def test_equals_plain(self, tiny, kw):
        left, right = tiny
        plain = asof_join(left, right, **kw)
        pushed = asof_join(left, right, probe_pushdown=True, **kw)
        assert plain.columns == pushed.columns
        cols = sorted(plain.columns)
        a = sorted(map(str, plain.select(*cols).collect()))
        b = sorted(map(str, pushed.select(*cols).collect()))
        assert a == b

    def test_plan_has_semi_reduction(self, tiny):
        left, right = tiny
        pushed = asof_join(left, right, probe_pushdown=True)
        plan = pushed._jdf.queryExecution().executedPlan().toString()
        assert "LeftSemi" in plan
