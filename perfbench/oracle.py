"""Output checks: the repo's DuckDB oracle SQL, run on the benchmark's own
inputs, compared with Spark's output as an exact multiset of rows."""

from __future__ import annotations

import decimal

import duckdb

from kgfarm_spark.entry_queries import ORACLES
from kgfarm_spark.sources.transcripts import TABLES, oracle_ctes

#: the probe frame ``sources.datagen.gen_probes`` builds, in SQL
GEN_PROBES_SQL = """
SELECT conv_id,
       ts + INTERVAL 37 MINUTE                           AS query_ts,
       conv_id || '#' || CAST(turn_idx AS VARCHAR)       AS probe_id
FROM transcripts WHERE turn_idx % 7 = 3
"""


def connect() -> duckdb.DuckDBPyConnection:
    import os

    from perfbench import WORK

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(WORK, 'tmp', 'duckdb')}'")
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    return con


def transcript_oracle(name: str, transcripts_dir: str, probe_filter: str = "TRUE") -> str:
    """``ORACLES[name]`` with its events-derived CTEs swapped for the
    generated transcripts table and the ``gen_probes`` frame."""
    prefix = oracle_ctes()
    sql = ORACLES[name]
    if not sql.startswith(prefix):
        raise ValueError(f"oracle {name!r} does not start with the transcript CTEs")
    return (
        f"WITH transcripts AS (SELECT * FROM read_parquet('{transcripts_dir}/*.parquet')),\n"
        f"probes AS (SELECT * FROM ({GEN_PROBES_SQL}) WHERE {probe_filter})\n"
        + sql[len(prefix):]
    )


def register_driver_tables(con: duckdb.DuckDBPyConnection, sf_dir: str) -> None:
    import os

    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')")


def materialize(con: duckdb.DuckDBPyConnection, table: str, sql: str) -> int:
    """Run an oracle into a DuckDB table; return its row count."""
    con.execute(f"CREATE OR REPLACE TABLE {table} AS {sql}")
    return con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]


def _family(duck_type: str) -> str:
    t = duck_type.upper()
    if t.startswith(("DOUBLE", "FLOAT", "REAL", "DECIMAL")):
        return "float"
    if "INT" in t:
        return "int"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    return t


#: prefix of the extra check columns holding a rounded column's raw value
RAW = "raw__"


def _is_tie(raw: float, digits: int) -> bool:
    """Whether ``raw``, read as the decimal Spark rounds (its shortest repr),
    sits exactly halfway between two ``digits``-place decimals."""
    scaled = decimal.Decimal(repr(raw)).scaleb(digits)
    return scaled - scaled.to_integral_value(decimal.ROUND_FLOOR) == decimal.Decimal("0.5")


def compare(con: duckdb.DuckDBPyConnection, oracle_table: str, spark_parquet_dir: str) -> tuple[str | None, int]:
    """Compare Spark's parquet output with a materialized oracle table as
    exact multisets of rows.

    Returns ``(None, ties)`` when they agree, else ``(reason, ties)``.
    One divergence is accepted and counted as a tie: a value rounded to 4
    places that sits exactly on a decimal tie (139/800 = 0.17375), which
    Spark rounds half-up from its decimal form (0.1738) and DuckDB from the
    binary double just below it (0.1737). Spark's output carries the raw
    value as ``raw__<column>`` so the tie is verified, not assumed.
    """
    con.execute(
        "CREATE OR REPLACE TEMP VIEW __spark_out AS "
        f"SELECT * FROM read_parquet('{spark_parquet_dir}/*.parquet')"
    )
    got = {r[0]: r[1] for r in con.execute("DESCRIBE __spark_out").fetchall()}
    raw = {c[len(RAW):] for c in got if c.startswith(RAW)}
    got = {c: t for c, t in got.items() if not c.startswith(RAW)}
    want = {r[0]: r[1] for r in con.execute(f"DESCRIBE {oracle_table}").fetchall()}
    if sorted(got) != sorted(want):
        return f"columns differ: spark={sorted(got)} oracle={sorted(want)}", 0
    for c in want:
        if _family(got[c]) != _family(want[c]):
            return f"column {c}: spark type {got[c]} vs oracle type {want[c]}", 0

    def proj(c: str) -> str:
        # LTZ timestamps come back as TIMESTAMPTZ; compare wall-clock UTC
        return f'CAST("{c}" AS TIMESTAMP) AS "{c}"' if _family(want[c]) == "timestamp" else f'"{c}"'

    names = sorted(want)
    cols = ", ".join(proj(c) for c in names)
    n_got = con.execute("SELECT count(*) FROM __spark_out").fetchone()[0]
    n_want = con.execute(f"SELECT count(*) FROM {oracle_table}").fetchone()[0]
    if n_got != n_want:
        return f"rows: spark={n_got} oracle={n_want}", 0
    raw_cols = "".join(f', "{RAW}{c}"' for c in sorted(raw))
    same = " AND ".join(f's."{c}" IS NOT DISTINCT FROM r."{c}"' for c in names)
    spark_only = con.execute(
        f"SELECT s.*{raw_cols.replace(', ', ', r.')} FROM (SELECT {cols} FROM __spark_out EXCEPT ALL "
        f"SELECT {cols} FROM {oracle_table}) s JOIN (SELECT {cols}{raw_cols} FROM __spark_out) r "
        f"ON {same}"
    ).fetchall()
    oracle_only = con.execute(
        f"SELECT {cols} FROM {oracle_table} EXCEPT ALL SELECT {cols} FROM __spark_out"
    ).fetchall()
    if not spark_only and not oracle_only:
        return None, 0
    floats = [i for i, c in enumerate(names) if _family(want[c]) == "float"]
    keyed = {}
    for row in oracle_only:
        key = tuple(v for i, v in enumerate(row) if i not in floats)
        keyed.setdefault(key, []).append(row)
    ties = 0
    for row in spark_only:
        key = tuple(v for i, v in enumerate(row[: len(names)]) if i not in floats)
        candidates = keyed.get(key) or [None]
        theirs = candidates.pop()
        if theirs is None or not _all_ties(names, floats, raw, row, theirs):
            return f"{len(spark_only)} spark-only rows, {len(oracle_only)} oracle-only rows", ties
        ties += 1
    if any(keyed.values()):
        return f"{len(spark_only)} spark-only rows, {len(oracle_only)} oracle-only rows", ties
    return None, ties


def _all_ties(names, floats, raw, mine, theirs) -> bool:
    raw_values = dict(zip(sorted(raw), mine[len(names):]))
    for i in floats:
        a, b = mine[i], theirs[i]
        if a == b:
            continue
        c = names[i]
        if c not in raw_values or abs(abs(a - b) - 1e-4) > 1e-9 or not _is_tie(raw_values[c], 4):
            return False
    return True
