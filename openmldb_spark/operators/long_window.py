"""Long-window pre-aggregation — bucketed partials + carry-in.

Batch re-expression of the reference's long-window optimization
(``hybridse/src/passes/physical/long_window_optimized.cc:29-40``;
pre-agg storage ``src/storage/aggregator.h:40-56``): instead of
evaluating an UNBOUNDED (or very long) window by carrying every
previous row, decomposable aggregates split into

    result(row) = combine( carry(all full buckets before this row's
                           bucket), running(within-bucket prefix) )

- **bucket partials**: one ``groupBy(key, bucket)`` — the analogue of
  the reference's pre-agg table rows (one per key × time bucket).
- **carry**: cumulative combine over the tiny partial table (window
  over keys × buckets rows), shifted by one bucket.
- **running**: native Catalyst cumulative window partitioned by
  ``(key, bucket)`` — a hot key's timeline is split across buckets, so
  no single task owns the whole conversation.

Everything is JVM-native (zero Python) and the only shuffles are the
partial groupBy and the (key, bucket) repartition that the running
window needs — which the carry join reuses.

Versus ``skew.window_agg_skewed`` on unbounded frames: the salted
kernel replicates each earlier bucket's FULL history into every later
bucket (O(quantiles × hot rows) expansion — VERDICT r1); here the
carried state per bucket is one row of partials, so a 10^12-turn hot
conversation costs O(rows) total regardless of bucket count.

Supported: UNBOUNDED PRECEDING .. CURRENT ROW frames (ROWS or
ROWS_RANGE — identical for unbounded), aggregates sum / count / avg /
min / max (+ ``*_where``) — the same decomposable set the reference's
aggregator supports (``aggregator.h``: sum/min/max/count/avg). For
non-decomposable aggregates (distinct_count, median, …) use the
window kernel / skew salting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from openmldb_spark.operators.window import Agg, WindowSpec

__all__ = ["long_window_agg", "long_window_eligible", "split_decomposable",
           "rewrite_unbounded_distinct_count", "partial_exprs", "partial_cols",
           "merge_exprs", "carry_exprs", "running_cols", "combine_cols",
           "long_window_agg_bounded", "bounded_range_eligible", "unbounded_route"]

_DECOMPOSABLE = {"sum", "count", "avg", "min", "max",
                 "sum_where", "count_where", "avg_where", "min_where", "max_where"}

_B = "__lw_bucket__"


_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType)


def _eligible_agg(a: Agg, df: DataFrame | None = None) -> bool:
    if a.func not in _DECOMPOSABLE or a.split is not None or a.cate is not None:
        return False
    if a.pair is not None or a.cond_pair is not None:
        return False  # anchor-pair semantics are kernel-only
    if df is not None:
        base = a.func[:-6] if a.func.endswith("_where") else a.func
        if base in ("sum", "avg"):
            # Spark can't SUM timestamps/strings/bools; the kernel's
            # ms-coercion path handles those
            if a.col is None or not isinstance(df.schema[a.col].dataType, _NUMERIC):
                return False
    return True


def long_window_eligible(spec: WindowSpec, aggs: list[Agg],
                         union=None, df: DataFrame | None = None) -> bool:
    """True when ``long_window_agg`` can evaluate (spec, aggs) exactly:
    a plain UNBOUNDED..CURRENT ROW frame and all-decomposable
    aggregates. Used by ``window_agg(impl='auto')`` and
    ``window_agg_skewed`` to pick the O(rows)-carry pre-agg plan over
    per-key single-task windows / O(quantiles × hot) salted expansion."""
    if union:
        return False
    if spec.preceding is not None or spec.maxsize:
        return False
    if spec.exclude_current_time or spec.exclude_current_row \
            or spec.instance_not_in_window or spec.end_preceding \
            or spec.end_is_offset or spec.open_preceding or spec.open_end:
        return False
    return all(_eligible_agg(a, df) for a in aggs)


def split_decomposable(aggs: list[Agg], df: DataFrame | None = None) -> tuple[list[Agg], list[Agg]]:
    """(decomposable, rest) partition of an aggregate list."""
    dec = [a for a in aggs if _eligible_agg(a, df)]
    rest = [a for a in aggs if not _eligible_agg(a, df)]
    return dec, rest


def rewrite_unbounded_distinct_count(
    df: DataFrame, spec: WindowSpec, aggs: list[Agg]
) -> tuple[DataFrame, list[Agg]]:
    """Rewrite each plain UNBOUNDED ``distinct_count`` into a SUM over
    a first-occurrence indicator — which IS decomposable, so the whole
    aggregate list can then take the skew-free long-window pre-agg
    plan instead of salted full-history replication.

    dc(frame ≤ i) = #{rows j ≤ i that are the first buffer occurrence
    of their value within the partition}: the indicator is a
    ``row_number() == 1`` over (keys, value) in buffer order — an
    unskewed shuffle (values spread hot keys) — and the cumulative sum
    is exactly what ``long_window_agg`` bucket-decomposes. NULL values
    count as the type default, matching the reference's dc semantics
    (udaf id=5/6).

    Returns ``(df', aggs')`` — unchanged inputs when nothing applies.
    The caller is responsible for dropping the indicator columns
    (select the original columns + agg names)."""
    if spec.preceding is not None:
        return df, aggs
    dcs = [a for a in aggs if a.func == "distinct_count"
           and a.col is not None and a.cond is None and a.split is None
           and a.pair is None and a.cond_pair is None]
    if not dcs:
        return df, aggs
    from openmldb_spark.operators.window import _default_lit

    order_cols = [F.col(spec.order_by)] + [F.col(c) for c in spec.tiebreak]
    # NULL-order rows must not claim a first occurrence (they're
    # outside every frame); drop before computing indicators
    out = df.filter(F.col(spec.order_by).isNotNull())
    new_aggs: list[Agg] = []
    for i, a in enumerate(aggs):
        if a not in dcs:
            new_aggs.append(a)
            continue
        ind = f"__dc_ind_{i}__"
        vfill = F.coalesce(F.col(a.col), _default_lit(df.schema[a.col].dataType))
        w_first = Window.partitionBy(*spec.partition_by, vfill).orderBy(*order_cols)
        out = out.withColumn(
            ind, F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).cast("long")
        )
        new_aggs.append(Agg("sum", ind, a.name))
    return out, new_aggs


def unbounded_route(df: DataFrame, spec: WindowSpec, aggs: list[Agg],
                    union=None) -> DataFrame | None:
    """The pre-agg plan for an UNBOUNDED frame whose aggregates are all
    decomposable once ``distinct_count`` is rewritten; None when the
    shape does not qualify. Shared by ``window_agg(impl='auto')`` and
    ``window_agg_skewed``: O(rows) carry-in, no per-key single-task
    window and no salted full-history replication (VERDICT r2 #5)."""
    if spec.preceding is not None or union:
        return None
    df2, aggs2 = rewrite_unbounded_distinct_count(df, spec, aggs)
    if not long_window_eligible(spec, aggs2, None, df2):
        return None
    out = long_window_agg(df2, spec, aggs2)
    return out.select(*df.columns, *[a.name for a in aggs])


def _order_ms(df: DataFrame, order_by: str) -> Column:
    dt = df.schema[order_by].dataType
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return (F.unix_micros(F.col(order_by).cast("timestamp")) / 1000).cast("long")
    return F.col(order_by).cast("long")


# ---------------------------------------------------------------------------
# partial / carry / merge / combine building blocks — shared by the
# per-job plan (long_window_agg) and the materialized incremental state
# (operators/preagg.py, the batch analogue of src/storage/aggregator.h)
# ---------------------------------------------------------------------------


def _base(a: Agg) -> str:
    return a.func[:-6] if a.func.endswith("_where") else a.func


def _src(a: Agg) -> Column:
    """Per-aggregate masked source column (``*_where`` masks with cond)."""
    c = F.col(a.col) if a.col else F.lit(1)
    if a.cond:
        c = F.when(F.col(a.cond), c)
    return c


def partial_exprs(aggs: list[Agg]) -> list[Column]:
    """Bucket-partial aggregate expressions — one pre-agg table row per
    (key, bucket), the reference's aggregator.h:40-56 storage shape."""
    out = []
    for i, a in enumerate(aggs):
        b, c = _base(a), _src(a)
        if b in ("sum", "avg"):
            out.append(F.sum(c).alias(f"__s{i}__"))
            out.append(F.count(c).alias(f"__c{i}__"))
        elif b == "count":
            out.append(F.count(c).alias(f"__c{i}__"))
        elif b == "min":
            out.append(F.min(c).alias(f"__m{i}__"))
        else:  # max
            out.append(F.max(c).alias(f"__m{i}__"))
    return out


def partial_cols(aggs: list[Agg]) -> list[str]:
    """Names of the partial columns ``partial_exprs`` emits, in order."""
    return [
        n for i, a in enumerate(aggs)
        for n in ((f"__s{i}__", f"__c{i}__") if _base(a) in ("sum", "avg")
                  else (f"__c{i}__",) if _base(a) == "count"
                  else (f"__m{i}__",))
    ]


def merge_exprs(aggs: list[Agg]) -> list[Column]:
    """Re-merge partial rows for the same (key, bucket) — partials are
    associative, so appended generations combine by re-aggregation."""
    out = []
    for i, a in enumerate(aggs):
        b = _base(a)
        if b in ("sum", "avg"):
            out.append(F.sum(f"__s{i}__").alias(f"__s{i}__"))
            out.append(F.sum(f"__c{i}__").alias(f"__c{i}__"))
        elif b == "count":
            out.append(F.sum(f"__c{i}__").alias(f"__c{i}__"))
        elif b == "min":
            out.append(F.min(f"__m{i}__").alias(f"__m{i}__"))
        else:
            out.append(F.max(f"__m{i}__").alias(f"__m{i}__"))
    return out


def carry_col_names(aggs: list[Agg]) -> list[str]:
    """Names of the carry columns ``carry_exprs`` emits, in order."""
    out = []
    for i, a in enumerate(aggs):
        b = _base(a)
        if b in ("sum", "avg"):
            out += [f"__ps{i}__", f"__pc{i}__"]
        elif b == "count":
            out.append(f"__pc{i}__")
        else:
            out.append(f"__pm{i}__")
    return out


def carry_exprs(aggs: list[Agg], wcum) -> list[Column]:
    """Cumulative combine of bucket partials over ``wcum`` → the
    carried state (__ps/__pc/__pm) joined back onto data rows."""
    out = []
    for i, a in enumerate(aggs):
        b = _base(a)
        if b in ("sum", "avg"):
            out.append(F.sum(f"__s{i}__").over(wcum).alias(f"__ps{i}__"))
            out.append(F.sum(f"__c{i}__").over(wcum).alias(f"__pc{i}__"))
        elif b == "count":
            out.append(F.sum(f"__c{i}__").over(wcum).alias(f"__pc{i}__"))
        elif b == "min":
            out.append(F.min(f"__m{i}__").over(wcum).alias(f"__pm{i}__"))
        else:
            out.append(F.max(f"__m{i}__").over(wcum).alias(f"__pm{i}__"))
    return out


def running_cols(df: DataFrame, aggs: list[Agg], wrun) -> DataFrame:
    """Within-bucket running aggregates (__rs/__rc/__rm) — native
    cumulative window in buffer order."""
    for i, a in enumerate(aggs):
        b, c = _base(a), _src(a)
        if b in ("sum", "avg"):
            df = df.withColumn(f"__rs{i}__", F.sum(c).over(wrun))
            df = df.withColumn(f"__rc{i}__", F.count(c).over(wrun))
        elif b == "count":
            df = df.withColumn(f"__rc{i}__", F.count(c).over(wrun))
        elif b == "min":
            df = df.withColumn(f"__rm{i}__", F.min(c).over(wrun))
        else:
            df = df.withColumn(f"__rm{i}__", F.max(c).over(wrun))
    return df


def combine_cols(out: DataFrame, aggs: list[Agg], schema) -> DataFrame:
    """carry ⊕ running → final feature columns (reference result
    types: int sums wrap at declared width, avg → double)."""
    int_wrap = (T.ByteType, T.ShortType, T.IntegerType)
    from openmldb_spark.operators.window import _result_type

    for i, a in enumerate(aggs):
        b = _base(a)
        rt = _result_type(a, schema[a.col].dataType if a.col else T.LongType())
        if b == "sum":
            e = F.coalesce(F.col(f"__ps{i}__"), F.lit(0)) + F.coalesce(F.col(f"__rs{i}__"), F.lit(0))
            e = F.when(F.col(f"__ps{i}__").isNotNull() | F.col(f"__rs{i}__").isNotNull(), e)
            if a.col and isinstance(schema[a.col].dataType, int_wrap):
                dt = schema[a.col].dataType
                bits = {T.ByteType: 8, T.ShortType: 16, T.IntegerType: 32}[type(dt)]
                e = (F.pmod(e + F.lit(2 ** (bits - 1)), F.lit(2 ** bits)) - 2 ** (bits - 1)).cast(dt)
            elif a.col:
                e = e.cast(rt)
        elif b == "count":
            e = F.coalesce(F.col(f"__pc{i}__"), F.lit(0)) + F.col(f"__rc{i}__")
        elif b == "avg":
            s = F.coalesce(F.col(f"__ps{i}__"), F.lit(0)) + F.coalesce(F.col(f"__rs{i}__"), F.lit(0))
            c = F.coalesce(F.col(f"__pc{i}__"), F.lit(0)) + F.coalesce(F.col(f"__rc{i}__"), F.lit(0))
            e = F.when(c > 0, s.cast("double") / c)
        elif b == "min":
            e = F.least(F.col(f"__pm{i}__"), F.col(f"__rm{i}__"))
            e = F.coalesce(e, F.col(f"__pm{i}__"), F.col(f"__rm{i}__")).cast(rt)
        else:
            e = F.greatest(F.col(f"__pm{i}__"), F.col(f"__rm{i}__"))
            e = F.coalesce(e, F.col(f"__pm{i}__"), F.col(f"__rm{i}__")).cast(rt)
        out = out.withColumn(a.name, e)
    return out


def long_window_agg(
    df: DataFrame,
    spec: WindowSpec,
    aggs: list[Agg],
    bucket_ms: int = 3_600_000,
) -> DataFrame:
    """UNBOUNDED-frame window aggregation via pre-aggregated buckets.

    Output is identical to ``window_agg`` with the same spec (buffer
    order ``(order, tiebreak)``); physical shape is 2 shuffles and a
    broadcast-sized carry join, all whole-stage-codegen.
    """
    if spec.preceding is not None:
        raise ValueError("long_window_agg handles UNBOUNDED PRECEDING frames; "
                         "use window_agg for bounded frames")
    if spec.exclude_current_time or spec.exclude_current_row \
            or spec.instance_not_in_window or spec.end_preceding or spec.end_is_offset:
        raise ValueError("long_window_agg supports plain UNBOUNDED..CURRENT ROW frames")
    bad = [a.func for a in aggs if a.func not in _DECOMPOSABLE]
    if bad:
        raise ValueError(f"non-decomposable aggregates for pre-aggregation: {bad}; "
                         f"use window_agg/window_agg_skewed")

    keys = list(spec.partition_by)
    # NULL order keys: skipped rows in reference buffer semantics
    # (neither emitted nor in frames) — same rule as the kernel
    df = df.filter(F.col(spec.order_by).isNotNull())
    work = df.withColumn(_B, (_order_ms(df, spec.order_by) / F.lit(int(bucket_ms))).cast("long"))

    # 1. bucket partials — the pre-agg table (aggregator.h:40-56)
    partials = work.groupBy(*keys, _B).agg(*partial_exprs(aggs))

    # 2. carry = cumulative combine over buckets strictly before ours
    wcum = (Window.partitionBy(*keys).orderBy(_B)
            .rowsBetween(Window.unboundedPreceding, -1))
    carry = partials.select(*keys, _B, *carry_exprs(aggs, wcum))

    # 3. within-bucket running aggregates — native cumulative window
    # over (key, bucket): buffer order = (order key, tiebreak)
    order_cols = [F.col(spec.order_by)] + [F.col(c) for c in spec.tiebreak]
    wrun = (Window.partitionBy(*keys, _B).orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, 0))
    run = running_cols(work, aggs, wrun)

    # 4. combine — the carry table is keys × buckets rows; the join key
    # extends the running window's partitioning, so AQE can plan a
    # broadcast when small or reuse the (key, bucket) exchange when not
    out = combine_cols(run.join(carry, on=keys + [_B], how="left"), aggs, df.schema)
    return out.select(*df.columns, *[a.name for a in aggs])


# ---------------------------------------------------------------------------
# bounded ROWS_RANGE frames via prefix subtraction — the skew-free
# alternative to salted context replication for hot keys
# ---------------------------------------------------------------------------

_SUBTRACTABLE = {"sum", "count", "avg", "sum_where", "count_where", "avg_where"}


def bounded_range_eligible(spec: WindowSpec, aggs: list[Agg],
                           union=None, df: DataFrame | None = None) -> bool:
    """True when ``long_window_agg_bounded`` evaluates (spec, aggs)
    exactly: a plain ROWS_RANGE [Δ PRECEDING, CURRENT ROW] frame and
    all-subtractable aggregates (sum/count/avg ± _where; min/max are
    NOT subtractable)."""
    if union:
        return False
    if spec.frame != "rows_range" or spec.preceding is None or spec.maxsize:
        return False
    if spec.exclude_current_time or spec.exclude_current_row \
            or spec.instance_not_in_window or spec.end_preceding \
            or spec.end_is_offset or spec.open_preceding or spec.open_end:
        return False
    for a in aggs:
        if a.func not in _SUBTRACTABLE or a.split or a.cate \
                or a.pair or a.cond_pair:
            return False
        if df is not None:
            base = a.func[:-6] if a.func.endswith("_where") else a.func
            if base in ("sum", "avg"):
                # float/double sums are EXCLUDED: cum − before suffers
                # catastrophic cancellation once the running total
                # dwarfs the frame sum (at 10^12 rows the error becomes
                # visible); integral and decimal subtraction is exact.
                # Callers who accept the tradeoff can cast to decimal.
                if a.col is None or not isinstance(
                        df.schema[a.col].dataType, _NUMERIC) \
                        or isinstance(df.schema[a.col].dataType,
                                      (T.FloatType, T.DoubleType)):
                    return False
    return True


def long_window_agg_bounded(
    df: DataFrame,
    spec: WindowSpec,
    aggs: list[Agg],
    bucket_ms: int = 3_600_000,
) -> DataFrame:
    """ROWS_RANGE [Δ PRECEDING, CURRENT ROW] window aggregation by
    prefix subtraction over bucketed partials:

        frame(i) = cum(i) − cumBefore(start_i),   start_i = t_i − Δ

    ``cum(i)`` is the UNBOUNDED running aggregate (bucket carry +
    within-bucket running — long_window_agg's shape); ``cumBefore`` is
    the carry at the frame-start bucket β0 plus the running value of
    the last in-β0 row strictly below start_i, found by an as-of merge
    that is partitioned by (key, bucket) — bounded partitions, so a
    10^12-turn hot key never lands on one task and NOTHING is
    replicated (versus the salted plan's O(quantiles × frame) context
    copies). Everything is whole-stage-codegen JVM.

    Matches the reference's ROWS_RANGE tie semantics (frames end at
    the current row's buffer position; rows with ts == start are IN,
    rows below are out) — the same cum-minus-before identity the
    native tie classifier uses, evaluated skew-free.
    """
    if not bounded_range_eligible(spec, aggs, None, df):
        raise ValueError("long_window_agg_bounded: spec/aggs not eligible "
                         "(plain bounded ROWS_RANGE + sum/count/avg only)")
    keys = list(spec.partition_by)
    delta = int(spec.preceding)
    W = int(bucket_ms)

    df = df.filter(F.col(spec.order_by).isNotNull())
    oms = _order_ms(df, spec.order_by)
    work = (df.withColumn("__lwms__", oms)
            .withColumn(_B, (F.col("__lwms__") / F.lit(W)).cast("long")))

    # 1. within-bucket running aggregates + a deterministic row id
    # (key, bucket, position) — shares ONE sort
    order_cols = [F.col(spec.order_by)] + [F.col(c) for c in spec.tiebreak]
    wpos = Window.partitionBy(*keys, _B).orderBy(*order_cols)
    wrun = wpos.rowsBetween(Window.unboundedPreceding, 0)
    run = running_cols(work, aggs, wrun).withColumn(
        "__lwrn__", F.row_number().over(wpos))

    # 2. bucket partials + carry C(β) = combine over buckets < β;
    # frame-start buckets β0 may hold no data → probe rows give them
    # a carry anyway (nulls don't contribute to the cum)
    start = (F.col("__lwms__") - F.lit(delta))
    run = run.withColumn("__lwstart__", start).withColumn(
        "__b0__", (F.col("__lwstart__") / F.lit(W)).cast("long"))
    pcols = partial_cols(aggs)
    partials = work.groupBy(*keys, _B).agg(*partial_exprs(aggs))
    probe = (run.select(*keys, F.col("__b0__").alias(_B)).distinct()
             .join(partials.select(*keys, _B), on=keys + [_B], how="left_anti")
             .select(*keys, _B, *[F.lit(None).alias(c) for c in pcols]))
    wcum = (Window.partitionBy(*keys).orderBy(_B)
            .rowsBetween(Window.unboundedPreceding, -1))
    carry = (partials.unionByName(probe)
             .select(*keys, _B, *carry_exprs(aggs, wcum)))

    # 3+4. cumBefore inputs: C(β0) + R(last in-β0 row with ms < start),
    # via ONE as-of window per (key, bucket): each row rides as an
    # ANCHOR probe at bucket β0 (carrying its full payload + running
    # values), while a slim (key, bucket, ms, runnings) copy of every
    # row is the DATA side. Anchor probes sort at (start, is_anchor=1)
    # BEFORE data rows with ms == start, so `last(ignorenulls)` over
    # the preceding rows is exactly R at the last row strictly below
    # the frame start. No full-size join-back: the only joins left are
    # against the metadata-sized carry table (broadcast-gated).
    rcols = [c.replace("__s", "__rs").replace("__c", "__rc")
              .replace("__m", "__rm") for c in pcols]
    data_side = run.select(
        *keys, F.col(_B).alias("__at__"),
        F.col("__lwms__").alias("__k__"), F.lit(0).alias("__ia__"),
        F.struct(*[F.col(c) for c in rcols]).alias("__rst__"))
    anchor_side = (run.withColumn("__at__", F.col("__b0__"))
                   .withColumn("__k__", F.col("__lwstart__"))
                   .withColumn("__ia__", F.lit(1))
                   .withColumn("__rst__", F.lit(None).cast(
                       data_side.schema["__rst__"].dataType)))
    wasof = (Window.partitionBy(*keys, "__at__")
             .orderBy(F.col("__k__"), F.col("__ia__").desc())
             .rowsBetween(Window.unboundedPreceding, -1))
    merged = (data_side.unionByName(anchor_side, allowMissingColumns=True)
              .withColumn("__rb__", F.last("__rst__", ignorenulls=True).over(wasof))
              .filter(F.col("__ia__") == 1))

    # carry joins: C(b_i) at the row's own bucket, C(β0) at the
    # frame-start bucket — both against the keys × buckets carry table
    pair_cap = 2_000_000
    carry_n = None
    small = None

    def _gate(c):
        nonlocal carry_n, small
        if small is None:
            carry_n = c.limit(pair_cap + 1).count()
            small = carry_n <= pair_cap
        return F.broadcast(c) if small else c

    out = merged.join(_gate(carry), on=keys + [_B], how="left")
    carry0 = carry.select(
        *keys, F.col(_B).alias("__b0__"),
        *[F.col(c).alias(f"__z{c}__")
          for c in carry_col_names(aggs)])
    out = out.join(_gate(carry0), on=keys + ["__b0__"], how="left")

    # 5. subtract: frame = cum − before, with reference null/typing
    int_wrap = (T.ByteType, T.ShortType, T.IntegerType)
    from openmldb_spark.operators.window import _result_type

    for i, a in enumerate(aggs):
        base = a.func[:-6] if a.func.endswith("_where") else a.func
        rt = _result_type(a, df.schema[a.col].dataType if a.col else T.LongType())
        z = lambda c: F.coalesce(c, F.lit(0))  # noqa: E731
        cum_c = z(F.col(f"__pc{i}__")) + z(F.col(f"__rc{i}__"))
        bef_c = z(F.col(f"__z__pc{i}____")) + z(F.col("__rb__").getField(f"__rc{i}__"))
        fc = cum_c - bef_c
        if base == "count":
            e = fc.cast("long")
        else:
            cum_s = z(F.col(f"__ps{i}__")) + z(F.col(f"__rs{i}__"))
            bef_s = z(F.col(f"__z__ps{i}____")) + z(F.col("__rb__").getField(f"__rs{i}__"))
            s = cum_s - bef_s
            if base == "avg":
                e = F.when(fc > 0, s.cast("double") / fc)
            else:  # sum: NULL when the frame holds no non-null source
                e = F.when(fc > 0, s)
                if a.col and isinstance(df.schema[a.col].dataType, int_wrap):
                    dt = df.schema[a.col].dataType
                    bits = {T.ByteType: 8, T.ShortType: 16,
                            T.IntegerType: 32}[type(dt)]
                    e = F.when(fc > 0, (F.pmod(s + F.lit(2 ** (bits - 1)),
                                               F.lit(2 ** bits))
                                        - 2 ** (bits - 1)).cast(dt))
                elif a.col:
                    e = e.cast(rt)
        out = out.withColumn(a.name, e)
    return out.select(*df.columns, *[a.name for a in aggs])
