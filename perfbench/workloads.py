"""The benchmark's three workloads.

Each workload generates its inputs from the seed with
``openmldb_spark.data``, then offers a cycle of ops ("one pass"). An op is
one call into the engine's public API; a read op's result is consumed in
full by the runner, a write op is an ``INSERT``. Route selection is left
to the engine everywhere: no ``impl=``, ``bounded_impl=`` or ``how=``
overrides, so a later change of the default routes is measured on what
users get.

- ``backfill``: the offline point-in-time backfill over transcripts with a
  hot conversation (~10% of rows on one key). Executor work in windows,
  joins and the hot key's tasks is most of a pass; no Python plan nodes.
- ``kernel_windows``: window aggregates only the Arrow kernel evaluates,
  over uniform keys. Dominated by the Python boundary.
- ``serve``: online request mode over a cached history, with INSERTs
  beside reads. Time inside ``request()`` (SQL rewrite, eager probes, the
  long-window pre-aggregate catch-up) is over half of a request.

perfbench/README.md records where each workload's time goes.

The batch workloads carry writes too: a late ``conv_meta`` version, dated
after every turn, lands through ``INSERT`` before each pass, and the
pass's first read takes ``conv_meta`` from the engine. Such versions leave
the as-of join's output unchanged (it only takes versions at or before
each turn), so every repetition's output digest must still match.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class Op:
    """One call into the engine. ``call`` returns the DataFrame a read
    produces (consumed by the runner) or, for a write, the INSERT's result."""

    name: str
    layer: str  # per-layer metric that records the call's wall time
    call: Callable[[], DataFrame]
    write: bool = False
    collect: bool = False  # collect the rows (serve) instead of a digest
    check: dict | None = None  # serve: what the consistency check needs


@dataclass
class Scale:
    n_convs: int
    avg_turns: int


# Input sizes: "full" is what a timed run uses; "smoke" is for the
# benchmark's own tests.
SCALES = {
    "backfill": {"full": Scale(200, 500), "smoke": Scale(12, 30)},
    "kernel_windows": {"full": Scale(100, 400), "smoke": Scale(8, 40)},
    "serve": {"full": Scale(300, 60), "smoke": Scale(12, 30)},
}


# conversations besides the hot one in the backfill oracle check
ORACLE_CONVS = 3


def _epoch_ms(ts: dt.datetime) -> int:
    return int(ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)


class _Batch:
    """Shared set-up of the two batch workloads: cached transcripts and
    conv_meta, an engine over both, and the late-meta writer."""

    gate: tuple[str, ...] = ()
    batch = True

    def __init__(self, seed: int, scale: Scale):
        self.seed = seed
        self.scale = scale
        self._inserted = 0

    def inputs(self) -> DataFrame:
        return self.turns

    def pass_rows(self) -> int:
        return self.n_rows

    def checks(self, timed: list[dict]) -> list[tuple[str, Callable[[], list[str]]]]:
        """Output checks on the seeded inputs, run after the timed phase:
        (name, check); a check returns its errors."""
        return []

    def _load(self, spark, hot_frac: float) -> None:
        from openmldb_spark.data import generate_conv_meta, generate_transcripts
        from openmldb_spark.sql import SqlEngine

        s = self.scale
        self.turns = generate_transcripts(
            spark, n_convs=s.n_convs, avg_turns=s.avg_turns, seed=self.seed,
            hot_frac=hot_frac).cache()
        self.meta = generate_conv_meta(spark, n_convs=s.n_convs, seed=self.seed).cache()
        self.n_rows = self.turns.count()
        self.meta.count()
        hi = max(self.turns.agg(F.max("ts")).first()[0], self.meta.agg(F.max("ts")).first()[0])
        self._late_ms = _epoch_ms(hi) + 86_400_000
        self.engine = SqlEngine(spark)
        self.engine.register("turns", self.turns, index_ts="ts")
        self.engine.register("meta", self.meta, index_ts="ts")

    def _late_meta(self) -> Op:
        self._inserted += 1
        conv = f"conv_{self._inserted % self.scale.n_convs:06d}"
        ts = self._late_ms + self._inserted
        sql = f"INSERT INTO meta VALUES ('{conv}', {ts}, 'late-model', 'web', 1)"
        return Op("meta_insert", "sql.insert_call_ms", lambda: self.engine.sql(sql), write=True)


class Backfill(_Batch):
    name = "backfill"
    # no fixed-input gate: backfill_transcripts generates its own inputs
    # whatever the seed, and checks() runs that oracle on the seeded ones

    def setup(self, spark, tracer) -> None:
        self._load(spark, hot_frac=0.10)
        # the hot conversation holds ~10% of rows; salt keys above 2% so
        # it is the one key the skew path splits
        self.hot_threshold = max(10, self.n_rows // 50)

    def _flagship(self, turns: DataFrame, meta: DataFrame) -> DataFrame:
        from openmldb_spark.operators.window import Agg, WindowSpec
        from openmldb_spark.plans.backfill import AsOfSource, FeatureWindow, backfill_features

        primary = turns.withColumn("__is_tool__", F.col("role") == "tool")
        fw = FeatureWindow(
            spec=WindowSpec(["conv_id"], "ts", "rows", 10, tiebreak=["turn_idx"]),
            aggs=[Agg("count_where", "turn_idx", "n_tool_calls_10", cond="__is_tool__"),
                  Agg("distinct_count", "tool", "n_distinct_tools_10"),
                  Agg("lag", "tool", "prev_tool", n=1),
                  Agg("lag", "role", "prev_role", n=1),
                  Agg("count", None, "n_turns_10")],
            skew=True, skew_quantiles=8, skew_hot_threshold=self.hot_threshold,
            row_key=["conv_id", "turn_idx"])
        return backfill_features(
            primary, "ts", [fw],
            asof=[AsOfSource(meta, on=["conv_id"], right_ts="ts", prefix="m_")],
            session_key="conv_id", session_gap=1800.0, session_tiebreak=["turn_idx"],
        ).drop("__is_tool__")

    def checks(self, timed: list[dict]) -> list[tuple[str, Callable[[], list[str]]]]:
        """The flagship on the seeded inputs against its DuckDB oracle, over
        the hot conversation and ORACLE_CONVS others. Every feature is per
        conversation, so a subset of conversations gives exactly their
        rows of the full output; the hot one still takes the skew path."""
        from checks import seeded_backfill_oracle

        def check():
            others = sorted(random.Random(self.seed).sample(range(1, self.scale.n_convs),
                                                            ORACLE_CONVS))
            convs = ["conv_000000"] + [f"conv_{i:06d}" for i in others]
            turns = self.turns.filter(F.col("conv_id").isin(convs))
            meta = self.meta.filter(F.col("conv_id").isin(convs))
            return seeded_backfill_oracle(self._flagship(turns, meta), turns, meta)

        return [("oracle backfill_transcripts on the seeded inputs", check)]

    def cycle(self) -> list[Callable[[], Op]]:
        from openmldb_spark.operators.long_window import long_window_agg
        from openmldb_spark.operators.skew import window_agg_skewed
        from openmldb_spark.operators.window import Agg, WindowSpec, window_agg

        t = self.turns

        def flagship():
            # conv_meta as the engine holds it, with the late versions
            return self._flagship(t, self.engine.sql("SELECT * FROM meta"))

        unbounded = WindowSpec(["conv_id"], "ts", "rows_range", None, tiebreak=["turn_idx"])
        four_h = WindowSpec(["conv_id"], "ts", "rows_range", 4 * 3_600_000, tiebreak=["turn_idx"])
        lj = ("SELECT turns.conv_id, turns.turn_idx, meta.model, meta.channel, meta.priority "
              "FROM turns LAST JOIN meta ORDER BY meta.ts "
              "ON turns.conv_id = meta.conv_id AND meta.ts <= turns.ts")
        return [
            self._late_meta,
            lambda: Op("flagship", "plans.backfill_call_ms", flagship),
            lambda: Op("unbounded_skewed", "operators.skew_call_ms", lambda: window_agg_skewed(
                t, unbounded, [Agg("count", None, "cnt"), Agg("sum", "turn_idx", "s"),
                               Agg("distinct_count", "tool", "dt")],
                quantiles=8, hot_threshold=self.hot_threshold)),
            lambda: Op("range_4h", "operators.window_call_ms", lambda: window_agg(
                t, four_h, [Agg("sum", "turn_idx", "s4h"), Agg("count", None, "c4h"),
                            Agg("avg", "turn_idx", "a4h")])),
            lambda: Op("long_window", "operators.long_window_call_ms", lambda: long_window_agg(
                t, unbounded, [Agg("count", None, "cnt"), Agg("sum", "turn_idx", "s"),
                               Agg("min", "turn_idx", "mn"), Agg("max", "turn_idx", "mx")],
                bucket_ms=3_600_000)),
            lambda: Op("sql_last_join", "sql.call_ms", lambda: self.engine.sql(lj)),
        ]


class KernelWindows(_Batch):
    name = "kernel_windows"
    gate = ("entropy_window", "cate_window")

    def setup(self, spark, tracer) -> None:
        self._load(spark, hot_frac=0.0)

    def cycle(self) -> list[Callable[[], Op]]:
        from openmldb_spark.operators.window import Agg, WindowSpec, window_agg

        t = self.turns
        rows_1k = WindowSpec(["conv_id"], "ts", "rows", 1000, tiebreak=["turn_idx"])
        range_1h = WindowSpec(["conv_id"], "ts", "rows_range", 3_600_000, tiebreak=["turn_idx"])
        flagged = t.withColumn("__is_tool__", F.col("role") == "tool")
        sql = ("SELECT turns.conv_id, turns.turn_idx, ew_avg(turns.turn_idx, 0.9) OVER w AS ew, "
               "top1_ratio(turns.role) OVER w AS t1, meta.model "
               "FROM turns LAST JOIN meta ORDER BY meta.ts "
               "ON turns.conv_id = meta.conv_id AND meta.ts <= turns.ts "
               "WINDOW w AS (PARTITION BY turns.conv_id ORDER BY turns.turn_idx "
               "ROWS BETWEEN 1000 PRECEDING AND CURRENT ROW)")
        return [
            lambda: Op("generic_1k", "operators.window_call_ms", lambda: window_agg(
                t, rows_1k, [Agg("entropy", "role", "ent"),
                             Agg("ew_avg", "turn_idx", "ew", param=0.5),
                             Agg("top1_ratio", "tool", "t1")])),
            lambda: Op("cate_1k", "operators.window_call_ms", lambda: window_agg(
                flagged, rows_1k, [Agg("sum_cate", "turn_idx", "sc", cate="role"),
                                   Agg("top_n_key_count_cate_where", "turn_idx", "tnc",
                                       cond="__is_tool__", cate="tool", n=3)]).drop("__is_tool__")),
            lambda: Op("range_1h_kernel", "operators.window_call_ms", lambda: window_agg(
                t, range_1h, [Agg("top1_ratio", "role", "t1_1h"),
                              Agg("count_cate", "turn_idx", "cc_1h", cate="role")])),
            self._late_meta,
            lambda: Op("sql_kernel", "sql.call_ms", lambda: self.engine.sql(sql)),
        ]


# Serve deployments. The ROWS windows order by a column that is unique
# per conversation (turn_idx follows ts), so a request's frame is well
# defined and the offline recomputation must match it exactly.
_ROWS_W = ("WINDOW w AS (PARTITION BY hist.conv_id ORDER BY hist.turn_idx "
           "ROWS BETWEEN 10 PRECEDING AND CURRENT ROW)")
_ROWS_AGGS = ("SELECT hist.conv_id, hist.turn_idx, count(hist.turn_idx) OVER w AS n10, "
              "sum(hist.turn_idx) OVER w AS s10, distinct_count(hist.tool) OVER w AS dt10, "
              "count_where(hist.turn_idx, hist.role = 'tool') OVER w AS nt10")
DEPLOYMENTS = {
    # ROWS window + as-of LAST JOIN: batches with one request per conversation
    "d_rows": (f"{_ROWS_AGGS}, meta.model AS m_model, meta.channel AS m_channel "
               "FROM hist LAST JOIN meta ORDER BY meta.ts "
               f"ON hist.conv_id = meta.conv_id AND meta.ts <= hist.ts {_ROWS_W}"),
    # the same window without the join: batches with two requests on one
    # conversation (INSTANCE_NOT_IN_WINDOW). With the LAST JOIN in the same
    # deployment, such batches come back without their history rows (see
    # README.md, "Known defects"), which would fail every run.
    "d_hist": f"{_ROWS_AGGS} FROM hist {_ROWS_W}",
    # UNBOUNDED window served from long-window pre-aggregates
    "d_long": ("SELECT conv_id, turn_idx, sum(turn_idx) OVER w AS s, "
               "count(turn_idx) OVER w AS c, max(turn_idx) OVER w AS mx FROM hist "
               "WINDOW w AS (PARTITION BY conv_id ORDER BY ts "
               "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"),
}
REQUEST_ROWS = 4


@dataclass
class _Clock:
    """Event time of the serving loop: every write and request is later
    than all stored history, so long-window state only ever appends."""

    now_ms: int
    next_turn: dict[str, int] = field(default_factory=dict)

    def tick(self) -> int:
        self.now_ms += 1_000
        return self.now_ms


class Serve:
    name = "serve"
    batch = False
    # request mode itself is checked against offline batch per run
    gate = ("preagg_incremental",)

    def __init__(self, seed: int, scale: Scale):
        self.seed = seed
        self.scale = scale

    def setup(self, spark, tracer) -> None:
        from openmldb_spark.data import generate_conv_meta, generate_transcripts
        from openmldb_spark.sql import SqlEngine

        s = self.scale
        self.spark = spark
        self.hist = generate_transcripts(
            spark, n_convs=s.n_convs, avg_turns=s.avg_turns, seed=self.seed).cache()
        self.meta = generate_conv_meta(spark, n_convs=s.n_convs, seed=self.seed).cache()
        self.hist.count()
        self.meta.count()
        last = {r["conv_id"]: r["t"] for r in
                self.hist.groupBy("conv_id").agg(F.max("turn_idx").alias("t")).collect()}
        hi = max(self.hist.agg(F.max("ts")).first()[0], self.meta.agg(F.max("ts")).first()[0])
        self.clock = _Clock(_epoch_ms(hi) + 60_000, {c: t + 1 for c, t in last.items()})
        self.convs = sorted(last)
        self.rng = random.Random(self.seed)
        self.inserted: list[tuple] = []
        self.engine = SqlEngine(spark)
        self.engine.register("hist", self.hist, index_ts="ts")
        self.engine.register("meta", self.meta, index_ts="ts")
        for dep, sql in DEPLOYMENTS.items():
            opts = 'OPTIONS(long_windows="w:1h") ' if dep == "d_long" else ""
            with tracer.span("sql.deploy"):
                self.engine.sql(f"DEPLOY {dep} {opts}{sql}")

    def inputs(self) -> DataFrame:
        return self.hist

    def pass_rows(self) -> int:
        return REQUEST_ROWS * sum(op != self._insert for op in self.cycle())

    def checks(self, timed: list[dict]) -> list[tuple[str, Callable[[], list[str]]]]:
        """The first successful response of every request kind against
        the offline batch result (online/offline consistency)."""
        from checks import consistency

        seen, out = set(), []
        for r in timed:
            if r["check"] and r["ok"] and r["name"] not in seen:
                seen.add(r["name"])
                out.append((f"consistency {r['name']}#{r['id']}", lambda r=r: consistency(
                    r["result"], self.offline(r["check"]), r["columns"])))
        return out

    def _row(self, conv: str, turn: int, ts_ms: int, role: str, tool: str | None) -> tuple:
        ts = dt.datetime.fromtimestamp(ts_ms / 1000, dt.timezone.utc).replace(tzinfo=None)
        return (conv, turn, role, f"{role} turn {turn}", tool, ts)

    def _request(self, dep: str, shared: bool) -> Op:
        """A request batch of REQUEST_ROWS rows, one per conversation, or
        with two rows on one conversation when ``shared`` (the engine then
        serves each in isolation, INSTANCE_NOT_IN_WINDOW)."""
        convs = self.rng.sample(self.convs, REQUEST_ROWS - (1 if shared else 0))
        if shared:
            convs.append(convs[0])
        rows, seen = [], {}
        for c in convs:
            k = seen[c] = seen.get(c, -1) + 1
            role = self.rng.choice(("user", "assistant", "tool"))
            rows.append(self._row(c, self.clock.next_turn[c] + k, self.clock.tick(), role,
                                  "search" if role == "tool" else None))
        reqs = self.spark.createDataFrame(rows, self.hist.schema)
        check = {"dep": dep, "requests": rows, "n_inserted": len(self.inserted)}
        name = f"{dep}_{'shared' if shared else 'single'}"
        return Op(name, "sql.request_call_ms", lambda: self.engine.request(dep, reqs),
                  collect=True, check=check)

    def _insert(self) -> Op:
        rows = []
        for c in self.rng.sample(self.convs, 2):
            role = self.rng.choice(("user", "tool"))
            rows.append(self._row(c, self.clock.next_turn[c], self.clock.tick(), role,
                                  "search" if role == "tool" else None))
            self.clock.next_turn[c] += 1
        self.inserted.extend(rows)
        values = ", ".join(
            f"('{c}', {t}, '{r}', '{x}', {('%r' % tool) if tool else 'NULL'}, {_epoch_ms(ts)})"
            for c, t, r, x, tool, ts in rows)
        return Op("hist_insert", "sql.insert_call_ms",
                  lambda: self.engine.sql(f"INSERT INTO hist VALUES {values}"), write=True)

    def cycle(self) -> list[Callable[[], Op]]:
        # every 4th op is a write, and the d_long read after it catches
        # the long-window state up with it; one request batch in three
        # puts two requests on one conversation. The round runs twice per
        # pass, so a one-pass run still has two reads after a write.
        round_ = [
            self._insert,
            lambda: self._request("d_long", shared=False),
            lambda: self._request("d_rows", shared=False),
            lambda: self._request("d_hist", shared=True),
        ]
        return round_ * 2

    def offline(self, check: dict):
        """The same feature query run offline in batch mode over history
        plus the request rows, for the rows of ``check['requests']``.

        Requests that share a conversation are appended in separate
        batches, because request mode serves each one in isolation."""
        import pandas as pd

        from openmldb_spark.sql import SqlEngine

        batches: list[list[tuple]] = []
        for row in check["requests"]:
            for b in batches:
                if all(r[0] != row[0] for r in b):
                    b.append(row)
                    break
            else:
                batches.append([row])
        # every feature is per conversation, so only theirs are needed
        convs = sorted({r[0] for r in check["requests"]})
        stored = self.hist.filter(F.col("conv_id").isin(convs))
        if check["n_inserted"]:
            stored = stored.unionByName(self.spark.createDataFrame(
                self.inserted[:check["n_inserted"]], self.hist.schema))
        frames = []
        for b in batches:
            eng = SqlEngine(self.spark)
            eng.register("hist", stored.unionByName(
                self.spark.createDataFrame(b, self.hist.schema)), index_ts="ts")
            eng.register("meta", self.meta, index_ts="ts")
            keys = [(r[0], r[1]) for r in b]
            out = eng.sql(DEPLOYMENTS[check["dep"]])
            cond = F.lit(False)
            for c, t in keys:
                cond = cond | ((F.col("conv_id") == c) & (F.col("turn_idx") == t))
            frames.append(out.filter(cond).toPandas())
        return pd.concat(frames, ignore_index=True)


WORKLOADS = {w.name: w for w in (Backfill, KernelWindows, Serve)}


def make(name: str, seed: int, scale: str):
    return WORKLOADS[name](seed, SCALES[name][scale])
