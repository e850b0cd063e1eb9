"""Request-mode feature computation — point-in-time features for a
set of REQUEST rows against stored history.

The batch analogue of the reference's online request mode (survey
§3.2; hybridse request-mode RequestUnion plan): each request row
triggers a window over the stored history at its own anchor ts, plus
as-of dimension joins. Where ``plans/backfill.py`` computes the
feature vector at EVERY history row, this computes it only at the
request rows — the serving-path shape (thousands of requests against
10^12 stored turns).

Spark-first realization: the request rows are the emitted primary of
a WINDOW UNION pass whose union side is the history table — exactly
the reference's RequestUnionNode (request row + matching history
window buffered together, only the request row emitted). Frames never
read rows with ts > anchor, so temporal leakage is impossible by
construction.

**Request independence.** In the reference's request mode every
request is served in isolation: two requests for the same key never
see each other, only stored rows. A plain WINDOW UNION does NOT give
that — all primary rows share one buffer, so request B at an earlier
ts would enter request A's frame. The dialect's own escape hatch is
``INSTANCE_NOT_IN_WINDOW`` (WINDOW_CLAUSE.md:245-254): non-current
primary rows never enter a frame, which is precisely per-request
isolation. ``request_features`` therefore:

- ``independent="auto"`` (default): one cheap probe over the (small)
  request set per distinct partition-key tuple — when no key holds
  more than one request, the plain union plan is already isolation-
  correct and keeps the zero-Python native route; otherwise the
  window runs with ``INSTANCE_NOT_IN_WINDOW`` (kernel route, exact).
- ``independent=True``: always ``INSTANCE_NOT_IN_WINDOW``.
- ``independent=False``: caller asserts at most one request per key
  (or explicitly wants shared-frame batch semantics); no probe.

With decomposable aggregates and isolated anchors the whole plan is
the native zero-Python window-union route.

Request rows are assumed NOT to be part of ``history`` (they are
incoming rows being served); like the reference, the request row
itself participates in its own frame (CURRENT ROW).
"""

from __future__ import annotations

from dataclasses import replace

from openmldb_spark.operators.last_join import last_join
from openmldb_spark.operators.window import window_agg
from openmldb_spark.plans.backfill import AsOfSource, FeatureWindow

__all__ = ["request_features", "requests_isolated"]


def requests_isolated(requests, keys) -> bool:
    """True when no partition-key tuple holds more than one request
    row — the condition under which a plain WINDOW UNION plan already
    serves each request in isolation. One small aggregation job over
    the request set (requests are the serving batch: thousands of
    rows, not the 10^12-turn history — the probe never touches
    history)."""
    from pyspark.sql import functions as F

    return (
        requests.select(*keys)
        .groupBy(*keys)
        .count()
        .filter(F.col("count") > 1)
        .isEmpty()
    )


def prune_rows_history(requests, history, spec, aggs):
    """Serving-path history pruning for bounded ROWS frames: a history
    row can enter SOME request's frame only if it is among the last
    ``K`` history rows at or below that request in buffer order, where
    ``K = max(frame preceding, largest positional offset)``. One
    native window pass over requests ∪ history computes, per history
    row, its rank among history rows since the nearest request above;
    rows ranked past ``K`` (or with no request above) can never be
    read and are dropped BEFORE the expensive per-request evaluation —
    at 10^12 stored turns the kernel sees O(requests × K) rows, not
    history.

    Bounded ROWS_RANGE frames prune by TIME instead: a history row
    survives iff its order key is within Δ ms of the nearest request
    above it (farther requests are even farther away in time), with a
    rank ≤ max-lag floor because positional ``lag``/``at`` read past
    the frame. Returns ``history`` unchanged for frames it cannot
    bound (unbounded frames read everything)."""
    from pyspark.sql import Window as _W
    from pyspark.sql import functions as F

    from openmldb_spark.operators.long_window import _order_ms

    if spec.preceding is None or spec.preceding < 0:
        return history
    by_rows = spec.frame == "rows"
    pos = max((a.n for a in aggs if a.func in ("lag", "at")), default=0)
    K = max(int(spec.preceding), pos) if by_rows else pos
    keys = list(spec.partition_by)
    ob = spec.order_by
    needed = set(keys) | {ob} | set(spec.tiebreak)
    if not (needed <= set(history.columns) and needed <= set(requests.columns)):
        return history

    hist = history.filter(F.col(ob).isNotNull())
    r = (requests.select(*keys, ob, *[c for c in spec.tiebreak])
         .withColumn("__rq__", F.lit(1)))
    h = hist.withColumn("__rq__", F.lit(0))
    merged = h.unionByName(r, allowMissingColumns=True)
    # buffer order DESC; at equal ORDER KEYS the request (primary)
    # sorts first: union/history rows precede primary rows in buffer
    # order regardless of tiebreak (the WINDOW-UNION (-union) tie
    # rule), so every equal-ts history row is below the request and
    # must count toward its keep-set
    order_desc = ([F.col(ob).desc(), F.col("__rq__").desc()]
                  + [F.col(c).desc() for c in spec.tiebreak])
    w_grp = (_W.partitionBy(*keys).orderBy(*order_desc)
             .rowsBetween(_W.unboundedPreceding, 0))
    merged = merged.withColumn("__ng__", F.sum("__rq__").over(w_grp))
    w_rank = (_W.partitionBy(*keys, "__ng__").orderBy(*order_desc)
              .rowsBetween(_W.unboundedPreceding, 0))
    merged = merged.withColumn("__hr__", F.sum(1 - F.col("__rq__")).over(w_rank))
    keep = F.col("__hr__") <= K
    if not by_rows:
        # nearest request above = the LAST request seen walking down
        ms = _order_ms(merged, ob)
        near = F.last(F.when(F.col("__rq__") == 1, ms),
                      ignorenulls=True).over(w_grp)
        merged = merged.withColumn("__na__", near)
        keep = keep | (ms >= F.col("__na__") - F.lit(int(spec.preceding)))
    kept = (merged.filter((F.col("__rq__") == 0) & (F.col("__ng__") >= 1) & keep)
            .drop("__rq__", "__ng__", "__hr__", *(
                [] if by_rows else ["__na__"])))
    # restore history's exact column set (requests may carry extras)
    return kept.select(*hist.columns)


def request_features(
    requests,
    history,
    anchor_ts: str,
    windows: list[FeatureWindow],
    asof: list[AsOfSource] | None = None,
    independent: bool | str = "auto",
    prune: bool = True,
):
    """Feature vector at every request row.

    ``requests``/``history`` share the transcript schema (columns the
    history lacks are NULL-padded into frames by the union machinery).
    Multiple requests for the same key are independent anchors — a
    request's frame contains history rows and itself, never other
    request rows (see module docstring for how ``independent``
    realizes that).
    """
    out = requests
    iso_cache: dict[tuple, bool] = {}
    for fw in windows:
        keys = tuple(fw.spec.partition_by)
        if independent is True:
            inw = True
        elif independent is False:
            inw = False
        else:
            if keys not in iso_cache:
                iso_cache[keys] = requests_isolated(requests, keys)
            inw = not iso_cache[keys]
        spec = replace(fw.spec, instance_not_in_window=True) if inw else fw.spec
        # prune only ahead of the kernel isolation route: the native
        # zero-Python WINDOW-UNION plan gains nothing from a smaller
        # history (no Python pipe) and the pruning pass costs a sort —
        # measured 0.78→1.34 s native vs 4.68→1.64 s kernel (BENCH r5)
        hist_w = prune_rows_history(requests, history, fw.spec, fw.aggs) \
            if (prune and inw) else history
        union = [hist_w] + list(fw.union or [])
        if fw.skew:
            from openmldb_spark.operators.skew import window_agg_skewed

            out = window_agg_skewed(
                out, spec, fw.aggs,
                quantiles=fw.skew_quantiles,
                hot_threshold=fw.skew_hot_threshold,
                union=union,
                row_key=fw.row_key,
            )
        else:
            out = window_agg(out, spec, fw.aggs, union=union, row_key=fw.row_key)
    for src in asof or []:
        out = last_join(
            out, src.df, on=src.on, order_by=src.right_ts,
            asof_left_ts=anchor_ts, asof_right_ts=src.right_ts,
            how=src.how, right_prefix=src.prefix,
        )
    return out
