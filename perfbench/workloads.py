"""The benchmark's workloads. ``BENCHMARK.json`` runs ``backfill_dense``
and ``asof_sparse``; ``checkpoint_resume`` and ``driver_suite`` run with the
same command but cost too much per run for its time budget (README.md).

Each workload prepares its inputs and oracles once per run (outside every
timed region), loads them into a session, and runs one *job* at a time. A
job is a list of calls into the engine's public functions; every call is
tagged with its own job group so the status stores attribute its stages
and operators to it. Each job is checked against the oracle's row count
as soon as it ends; ``full_check`` compares whole outputs after timing.
"""

from __future__ import annotations

import dataclasses
import functools
import os
import shutil
import statistics
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench import WORK, inputs, oracle
from perfbench.stores import plan_counts

#: transcript turns of the generated table shared by three workloads
TURNS = 200_000
#: driver-table size of ``driver_suite`` (sf0.1 has 100k events)
DRIVER_EVENTS = 20_000

HEADLINE = [
    "flagship_backfill_asof",
    "asof_backward_latest",
    "asof_interval_all",
    "backfill_features",
    "sessionize",
    "rolling_aggregates",
    "dedup_minhash_lsh",
    "cosine_topk",
    "text_quality",
]


@dataclasses.dataclass
class Call:
    """One tagged call into the engine: builds a DataFrame and sinks it."""

    label: str
    build: Callable[[], DataFrame] | None
    expected_rows: int | None = None
    #: applied to the built frame before the whole-output check
    check_projection: Callable[[DataFrame], DataFrame] | None = None
    oracle_table: str | None = None


class Workload:
    name = ""
    n_buckets = 0
    #: jobs the JVM runs, the set-ups' included, before any is measured: job
    #: times fall steeply over the first 20 after the JVM starts (the JIT
    #: compiles Spark's planner and the job's code), then slowly until about
    #: 50, and a fixed count puts every run's measurement at the same point
    #: of that curve
    warm_jobs = 20
    #: per-layer metrics beyond report.PER_LAYER that this workload reports
    extra_layers: tuple[str, ...] = ()

    def __init__(self, seed: int, tracer):
        self.seed = seed
        self.tracer = tracer
        self.con = oracle.connect()
        self.datagen_s = 0.0
        self.rounding_ties = 0
        self.turns = 0
        self.spark = None

    # -- lifecycle ---------------------------------------------------------

    def prepare(self, spark) -> None:
        """Generate (or reuse) inputs and compute oracles."""

    def load(self, spark) -> None:
        self.spark = spark

    def reset(self) -> None:
        """Runs before each job, outside its timer."""

    def calls(self) -> list[Call]:
        raise NotImplementedError

    def run_call(self, call: Call) -> dict:
        """Build and sink one call; return what the post-job check needs."""
        tr = self.tracer
        df = call.build()
        info = {}
        if tr.enabled:
            with tr.span("catalyst.plan"):
                info["plan"] = plan_counts(df)
        with tr.span("spark.execute"):
            df.write.format("noop").mode("overwrite").save()
        return info

    def job_check(self, call: Call, info: dict, rows: int | None) -> str | None:
        if call.expected_rows is None:
            return None
        if rows != call.expected_rows:
            return f"{call.label}: {rows} output rows, oracle has {call.expected_rows}"
        return None

    def full_check(self, jobs: list[dict]) -> list[str]:
        """Whole-output comparison with the oracles, after timing; one error
        per mismatch. ``jobs`` are the run's job records."""
        errors = []
        for call in self.calls():
            if call.oracle_table is None:
                continue
            out = os.path.join(WORK, "check", self.name, call.label)
            shutil.rmtree(out, ignore_errors=True)
            df = call.build()
            if call.check_projection is not None:
                df = call.check_projection(df)
            df.write.parquet(out)
            err, ties = oracle.compare(self.con, call.oracle_table, out)
            self.rounding_ties += ties
            if err:
                errors.append(f"{call.label}: {err}")
        return errors

    def output_rows(self, call_rec: dict) -> int:
        """Rows one traced call produced (its sink's output rows)."""
        return call_rec["rows"] or 0

    def explain_frames(self) -> dict:
        """The DataFrames whose formatted plans are saved with each run."""
        return {c.label: c.build() for c in self.calls() if c.build is not None}

    def extra_metrics(self, jobs: list[dict]) -> dict:
        return {}


# ---------------------------------------------------------------------------
# generated-transcripts workloads
# ---------------------------------------------------------------------------


class _Transcripts(Workload):
    def prepare(self, spark) -> None:
        self.path, self.datagen_s = inputs.transcripts(spark, self.seed, TURNS)
        self.turns = TURNS

    def _table(self):
        return self.spark.read.parquet(self.path)

    def _probes(self, t):
        from kgfarm_spark.sources.datagen import gen_probes

        return gen_probes(self.spark, t)


def _flagship_projection(df):
    # the select of entry_queries.q_flagship, which its oracle expects, plus
    # the raw values of the rounded columns (see oracle.compare)
    return df.select(
        "probe_id", "conv_id", "query_ts", "matched_ts", "turns_so_far",
        "tool_calls_so_far",
        F.round("tool_call_rate", 4).alias("tool_call_rate"),
        F.round("text_len_avg", 4).alias("text_len_avg"),
        "user_turns_so_far",
        F.col("tool_call_rate").alias(oracle.RAW + "tool_call_rate"),
        F.col("text_len_avg").alias(oracle.RAW + "text_len_avg"),
    )


def _asof_projection(df):
    # the select of entry_queries.q_asof_backward, which its oracle expects
    return df.select(
        "probe_id", "conv_id", "query_ts", "matched_ts",
        F.col("turn_idx").alias("matched_turn_idx"),
        F.col("role").alias("matched_role"),
        F.col("text").alias("matched_text"),
    )


class BackfillDense(_Transcripts):
    name = "backfill_dense"

    def prepare(self, spark) -> None:
        super().prepare(spark)
        sql = oracle.transcript_oracle("flagship_backfill_asof", self.path)
        self.expected = oracle.materialize(self.con, "oracle_out", sql)

    def _build(self):
        from kgfarm_spark.operators.backfill import backfill_asof_fused

        with self.tracer.span("sources.build"):
            t = self._table()
            p = self._probes(t)
        with self.tracer.span("operators.backfill.build"):
            return backfill_asof_fused(t, p, tolerance="1 DAY")

    def calls(self):
        return [Call("backfill_asof_fused", self._build, self.expected, _flagship_projection, "oracle_out")]


class AsofSparse(_Transcripts):
    name = "asof_sparse"

    def prepare(self, spark) -> None:
        super().prepare(spark)
        sql = oracle.transcript_oracle(
            "asof_backward_latest", self.path, probe_filter="conv_id LIKE '%00'"
        )
        self.expected = oracle.materialize(self.con, "oracle_out", sql)

    def _build(self):
        from kgfarm_spark.operators.asof import asof_join

        with self.tracer.span("sources.build"):
            t = self._table()
            p = self._probes(t).filter(F.col("conv_id").endswith("00"))
        with self.tracer.span("operators.asof.build"):
            return asof_join(
                p, t, direction="backward", tolerance="1 DAY",
                right_cols=["turn_idx", "role", "text"], tiebreak="turn_idx",
            )

    def calls(self):
        return [Call("asof_join", self._build, self.expected, _asof_projection, "oracle_out")]


class CheckpointResume(_Transcripts):
    """``plans.lineage.run_checkpointed`` over 4 buckets: a first call that
    stops after 2 buckets (a simulated crash), then a resuming call."""

    name = "checkpoint_resume"
    # a job holds some 30 Spark jobs: the set-ups' nine warm the JIT
    warm_jobs = 0
    n_buckets = 4
    extra_layers = (
        "operators.windows.build_s", "lineage.run_s", "lineage.resume_s",
        "lineage.feature_hash_s", "lineage.bucket_s", "lineage.jobs_per_bucket",
        "lineage.out_mb", "lineage.write_amp",
    )

    def load(self, spark) -> None:
        super().load(spark)
        self.out_dir = os.path.join(WORK, "checkpoint", "out")
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.path, f))
            for f in os.listdir(self.path)
            if f.endswith(".parquet")
        )

    def calls(self):
        return [Call("run_checkpointed", None)]

    def prepare(self, spark) -> None:
        from kgfarm_spark.plans import lineage

        super().prepare(spark)
        self.tracer.wrap(lineage, "feature_hash", "lineage.feature_hash")

    def explain_frames(self) -> dict:
        from kgfarm_spark.plans.lineage import bucket_of

        bucket0 = self._table().filter(bucket_of("conv_id", self.n_buckets) == 0)
        return {"bucket_backfill_features": self._build_bucket(bucket0)}

    def _build_bucket(self, part):
        from kgfarm_spark.operators.windows import backfill_features

        with self.tracer.span("operators.windows.build"):
            return backfill_features(part)

    def run_call(self, call: Call) -> dict:
        from kgfarm_spark.plans import lineage

        with self.tracer.span("sources.build"):
            t = self._table()
        with self.tracer.span("lineage.run"):
            first = lineage.run_checkpointed(
                self._build_bucket, t, "conv_id", self.out_dir,
                n_buckets=self.n_buckets, max_buckets=self.n_buckets // 2,
            )
        with self.tracer.span("lineage.resume"):
            second = lineage.run_checkpointed(
                self._build_bucket, t, "conv_id", self.out_dir, n_buckets=self.n_buckets
            )
        return {"manifest": first + second}

    def output_rows(self, call_rec: dict) -> int:
        return self.turns

    def reset(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def job_check(self, call: Call, info: dict, rows: int | None) -> str | None:
        manifest = info["manifest"]
        if sorted(r["bucket"] for r in manifest) != list(range(self.n_buckets)):
            return f"buckets written: {sorted(r['bucket'] for r in manifest)}"
        total = sum(r["rows"] for r in manifest)
        if total != self.turns:
            return f"resumed output has {total} rows, input has {self.turns} turns"
        # feature_hash is a bit-xor over rows, so the buckets' hashes fold
        # into the whole output's; checked against the single-shot hash in
        # full_check, which runs after timing
        info["folded_hash"] = functools.reduce(lambda a, b: a ^ b, (r["feature_hash"] for r in manifest))
        return None

    def full_check(self, jobs: list[dict]) -> list[str]:
        from kgfarm_spark.operators.windows import backfill_features
        from kgfarm_spark.plans.lineage import feature_hash, read_checkpointed_output

        single = feature_hash(backfill_features(self._table()))
        resumed_df = read_checkpointed_output(self.spark, self.out_dir, self.n_buckets)
        errors = []
        if feature_hash(resumed_df) != single:
            errors.append("resumed output's feature_hash differs from the single-shot run")
        if resumed_df.count() != self.turns:
            errors.append("resumed output's row count differs from the input turn count")
        for i, job in enumerate(jobs):
            folded = job["infos"][0].get("folded_hash")
            if folded is not None and folded != single:
                errors.append(f"job {i}: bucket hashes fold to {folded}, single-shot is {single}")
        return errors

    def extra_metrics(self, jobs: list[dict]) -> dict:
        def med(xs):
            return statistics.median(xs) if xs else 0.0

        out_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(self.out_dir)
            for f in files
            if f.endswith(".parquet")
        )
        walls = [r["wall_sec"] for j in jobs for r in j["infos"][0]["manifest"]]
        return {
            "lineage.bucket_s": med(walls),
            "lineage.out_mb": out_bytes / 1024**2,
            "lineage.write_amp": out_bytes / self.input_bytes,
        }


# ---------------------------------------------------------------------------
# driver_suite: the bench.py headline queries plus one pipeline pass
# ---------------------------------------------------------------------------


class DriverSuite(Workload):
    name = "driver_suite"
    # a job holds ten queries: the set-ups' nine warm the JIT
    warm_jobs = 0
    extra_layers = (
        "operators.backfill.build_s", "operators.asof.build_s",
        "operators.windows.build_s", "operators.dedup.build_s",
        "operators.similarity.build_s", "operators.textstats.build_s",
        *(f"entry_queries.{q}.build_s" for q in HEADLINE),
        "pipeline.run_auto_pipeline_s", "pipeline.manifest_coverage",
    )

    def prepare(self, spark) -> None:
        self.sf_dir, self.datagen_s = inputs.driver_tables(self.seed, DRIVER_EVENTS)
        oracle.register_driver_tables(self.con, self.sf_dir)
        from kgfarm_spark.entry_queries import ORACLES

        self.expected = {
            q: oracle.materialize(self.con, f"oracle_{q}", ORACLES[q]) for q in HEADLINE
        }
        self.turns = DRIVER_EVENTS
        self.n_orders = self.con.execute("SELECT count(*) FROM orders").fetchone()[0]

        # spans inside the query builders: wrap the layer functions the
        # query modules call (a no-op unless this run traces)
        from kgfarm_spark import entry_pipeline, entry_queries
        from kgfarm_spark.operators import asof

        tr = self.tracer
        for mod in (entry_queries, entry_pipeline):
            for attr in ("transcripts", "probes", "load_table", "scan_repartition"):
                if hasattr(mod, attr):
                    tr.wrap(mod, attr, "sources.build")
        tr.wrap(entry_queries, "asof_join", "operators.asof.build")
        tr.wrap(asof, "asof_join", "operators.asof.build")
        tr.wrap(entry_queries, "backfill_asof_fused", "operators.backfill.build")
        for attr in ("backfill_features", "sessionize", "rolling_aggregates"):
            tr.wrap(entry_queries, attr, "operators.windows.build")
        tr.wrap(entry_pipeline, "minhash_lsh_dedup_pairs", "operators.dedup.build")
        tr.wrap(entry_pipeline, "cosine_topk", "operators.similarity.build")
        tr.wrap(entry_pipeline, "quality_features", "operators.textstats.build")

    def _query(self, name):
        from kgfarm_spark.entry_queries import QUERIES

        with self.tracer.span(f"entry_queries.{name}.build"):
            return QUERIES[name](self.spark, self.sf_dir)

    def calls(self):
        out = [
            Call(q, functools.partial(self._query, q), self.expected[q], None, f"oracle_{q}")
            for q in HEADLINE
        ]
        out.append(Call("run_auto_pipeline", None, None))
        return out

    def run_call(self, call: Call) -> dict:
        if call.label != "run_auto_pipeline":
            return super().run_call(call)
        # as bench.run_pipeline_e2e: orders enriched from events, then
        # clean → split → engineer_features, train split sunk to noop
        from kgfarm_spark.pipeline import run_auto_pipeline
        from kgfarm_spark.sources.transcripts import load_table

        tr = self.tracer
        with tr.span("sources.build"):
            orders = load_table(self.spark, self.sf_dir, "orders").select(
                "o_custkey", "o_orderstatus", "o_totalprice",
                F.col("o_orderdate").alias("event_timestamp"),
            )
            events = load_table(self.spark, self.sf_dir, "events").select(
                F.col("user_id").alias("o_custkey"),
                F.col("ts").alias("fv_ts"),
                F.col("value").alias("g_value"),
                "event_type",
            )
        with tr.span("pipeline.run_auto_pipeline"):
            train, _test, manifest = run_auto_pipeline(
                orders, events, target="o_orderstatus", on="o_custkey",
                entity_ts="event_timestamp", view_ts="fv_ts", freshness_days=10000,
            )
        with tr.span("spark.execute"):
            train.write.format("noop").mode("overwrite").save()
        return {"manifest": manifest}

    def job_check(self, call: Call, info: dict, rows: int | None) -> str | None:
        if call.label != "run_auto_pipeline":
            return super().job_check(call, info, rows)
        stages = {s["stage"]: s["rows"] for s in info["manifest"]["stages"]}
        if stages.get("enrich") != self.n_orders:
            return f"pipeline enrich kept {stages.get('enrich')} of {self.n_orders} orders"
        if stages["split_train"] + stages["split_test"] != stages["clean"]:
            return "pipeline split lost rows"
        if rows is not None and rows != stages["split_train"]:
            return f"pipeline sink wrote {rows} rows, manifest says {stages['split_train']}"
        return None

    def extra_metrics(self, jobs: list[dict]) -> dict:
        # share of the pipeline call's wall time its manifest stages explain
        cover = [
            sum(s["sec"] for s in j["infos"][-1]["manifest"]["stages"]) / j["call_walls"][-1]
            for j in jobs
        ]
        return {"pipeline.manifest_coverage": statistics.median(cover)}


WORKLOADS = {
    w.name: w for w in (BackfillDense, AsofSparse, CheckpointResume, DriverSuite)
}
