"""Output checks: per-repetition digests, the DuckDB oracle gate, the
flagship backfill on the seeded inputs against its DuckDB oracle, and the
online/offline consistency check of served features."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GATE_SF = "sf0.01"  # the oracles' transcript inputs are baked at this scale


def batch_digest(df: DataFrame) -> tuple[int, int]:
    """Order-insensitive digest of a whole result: the wrapping sum of a
    64-bit hash of every row, and the row count. Computing it reads every
    column of every row, so it also forces the full result."""
    h = F.xxhash64(*[df[c] for c in df.columns]).alias("h")
    r = df.select(h).agg(F.sum("h").alias("s"), F.count(F.lit(1)).alias("n")).first()
    return (r["s"] or 0, r["n"])


def write_gate_events(base: Path, seed: int, n: int = 2000, users: int = 40) -> str:
    """A small ``events`` table (the schema the oracles read) generated from
    the seed, written where the oracle queries and DuckDB both read it.
    Returns the directory to pass as the queries' ``sf_dir``."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    sf_dir = base / GATE_SF
    sf_dir.mkdir(parents=True, exist_ok=True)
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    pd.DataFrame({
        "event_id": np.arange(n, dtype="int64"),
        "ts": (np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]")),
        "user_id": rng.integers(0, users, n).astype("int64"),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n),
        "value": np.round(rng.uniform(0.01, 500.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }).to_parquet(sf_dir / "events.parquet", index=False)
    return str(sf_dir)


def run_gate(spark, names: tuple[str, ...], sf_dir: str) -> list[tuple[str, list[str]]]:
    """Run each named ``__spark_entry__`` query on Spark and its DuckDB oracle, and
    compare them with the repository's own comparison. Returns
    ``(name, errors)`` per query; no errors means a match."""
    import duckdb

    import __spark_entry__ as entry
    from tools.check_oracles import compare

    queries, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')")
        out = []
        for name in names:
            try:
                got = queries[name](spark, sf_dir).toPandas()
                exp = con.execute(oracles[name]).fetchdf()
                out.append((name, compare(name, got, exp)))
            except Exception as e:  # noqa: BLE001 — a failing query is a failed check
                out.append((name, [f"error: {e!r}"[:500]]))
        return out
    finally:
        con.close()


def consistency(served: list, offline, columns: list[str]) -> list[str]:
    """Served rows must equal the offline batch result for the same
    request rows (the paper's online/offline consistency)."""
    import pandas as pd

    from tools.check_oracles import compare

    got = pd.DataFrame([tuple(r) for r in served], columns=columns)
    return compare("serve", got, offline[columns])


# the columns backfill_transcripts returns, timestamps as epoch ms
BACKFILL_COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts_ms", "n_tool_calls_10",
                    "n_distinct_tools_10", "prev_tool", "prev_role", "m_ts_ms", "m_model",
                    "m_channel", "m_priority", "session_id")


def _ms(col: str):
    return F.unix_millis(F.col(col).cast("timestamp"))


def seeded_backfill_oracle(features: DataFrame, turns: DataFrame, meta: DataFrame) -> list[str]:
    """Compare ``features``, the flagship backfill over ``turns`` and
    ``meta``, with the repository's DuckDB oracle for the flagship
    (``backfill_transcripts``) run over the same tables.

    The oracle regenerates fixed LCG inputs as CTEs; here those CTEs are
    swapped for the given tables, so the check follows the seed."""
    import duckdb

    import __spark_entry__ as entry
    from openmldb_spark.data.lcg import duckdb_conv_meta_cte, duckdb_transcripts_cte
    from tools.check_oracles import compare

    sql = entry.oracle_sql()["backfill_transcripts"]
    # the oracle is baked at 100 conversations x 80 turns, seed 42
    for cte, table in ((duckdb_transcripts_cte(100, 80, 42), "lcg_t"),
                       (duckdb_conv_meta_cte(100, 42), "lcg_meta")):
        if cte not in sql:
            return [f"the backfill_transcripts oracle no longer builds {table} from LCG CTEs"]
        sql = sql.replace(cte, f"{table} AS (SELECT * FROM seeded_{table})")
    con = duckdb.connect()
    try:
        con.register("seeded_lcg_t", turns.select(
            "conv_id", "turn_idx", "role", "text", "tool", _ms("ts").alias("ts_ms")).toPandas())
        con.register("seeded_lcg_meta", meta.select(
            "conv_id", _ms("ts").alias("ts_ms"), "model", "channel", "priority").toPandas())
        exp = con.execute(sql).fetchdf()
    finally:
        con.close()
    got = features.withColumn("ts_ms", _ms("ts")).withColumn("m_ts_ms", _ms("m_ts"))
    return compare("backfill_seeded", got.select(*BACKFILL_COLUMNS).toPandas(), exp)
