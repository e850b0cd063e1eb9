"""Point-in-time feature-vector backfill.

The batch analogue of the reference's online request mode (survey
§3.2): instead of one request row triggering a point-in-time window
over stored history, we compute the feature vector at EVERY
(entity, anchor-ts) row of the primary table — identical semantics,
one distributed pass. Zero temporal leakage by construction: every
frame only contains rows with ``ts <= anchor`` (strict under
EXCLUDE CURRENT_TIME / OPEN), which tests assert.

A backfill = optional as-of enrichment (LAST JOIN dimension tables) +
one multi-feature window pass (+ optional WINDOW UNION history tables)
+ optional sessionization — composed from the engine's operators so the
whole plan stays lazy and Catalyst-optimizable.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from openmldb_spark.operators.last_join import last_join
from openmldb_spark.operators.sessionize import sessionize
from openmldb_spark.operators.window import Agg, WindowSpec, window_agg

__all__ = ["AsOfSource", "FeatureWindow", "backfill_features"]


@dataclass
class AsOfSource:
    """A dimension table joined point-in-time (LAST JOIN)."""

    df: DataFrame
    on: list[str]
    right_ts: str
    prefix: str | None = None
    how: str = "auto"


@dataclass
class FeatureWindow:
    """One window spec + the aggregates computed over it.

    ``skew=True`` routes through the salted kernel (operators/skew.py):
    hot keys' timelines split into ``skew_quantiles`` buckets with
    frame-context replication — required whenever a single key can hold
    a task-dominating share of rows (the 10%-hot-conversation shape).
    """

    spec: WindowSpec
    aggs: list[Agg]
    union: list[DataFrame] | None = None
    skew: bool = False
    skew_quantiles: int = 8
    skew_hot_threshold: int = 100_000
    # unique row identity (e.g. (conv_id, turn_idx)) — when set, wide
    # payload columns (text!) bypass the Arrow↔Python kernel pipe and
    # features join back on the key instead (window_agg row_key)
    row_key: list[str] | None = None


def backfill_features(
    primary: DataFrame,
    anchor_ts: str,
    windows: list[FeatureWindow],
    asof: list[AsOfSource] | None = None,
    session_key: str | list[str] | None = None,
    session_gap: float = 1800.0,
    session_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Compute the full feature vector at every primary row.

    Window passes run BEFORE the as-of enrichment so the Arrow kernel
    only carries primary columns (the joined dimension attributes ride
    the cheap native join afterwards). Windows referencing as-of output
    columns would need the enrich-first order — not supported here.
    """
    out = primary
    # ONE skew-statistics job per distinct partition-key-set, shared by
    # every skewed window over it (the reference precomputes the same
    # distribution via openmldb.window.skew.opt.config —
    # WindowAggPlan.scala:245-251); without this, k skewed windows pay
    # k probe scans of the full primary table
    stats_cache: dict[tuple[str, ...], DataFrame] = {}
    for fw in windows:
        if fw.skew:
            from openmldb_spark.operators.skew import key_counts, window_agg_skewed

            kset = tuple(fw.spec.partition_by)
            if kset not in stats_cache:
                stats_cache[kset] = key_counts(primary, list(kset))
            out = window_agg_skewed(
                out, fw.spec, fw.aggs,
                quantiles=fw.skew_quantiles,
                hot_threshold=fw.skew_hot_threshold,
                union=fw.union,
                row_key=fw.row_key,
                key_stats=stats_cache[kset],
            )
        else:
            out = window_agg(out, fw.spec, fw.aggs, union=fw.union, row_key=fw.row_key)
    for src in asof or []:
        out = last_join(
            out,
            src.df,
            on=src.on,
            order_by=src.right_ts,
            asof_left_ts=anchor_ts,
            asof_right_ts=src.right_ts,
            how=src.how,
            right_prefix=src.prefix,
        )
    if session_key is not None:
        out = sessionize(
            out, session_key, anchor_ts, gap=session_gap, tiebreak=session_tiebreak
        )
    return out
