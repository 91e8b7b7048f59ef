"""Downsampling cascade — the Spark twin of the reference's continuous
queries (A20; reference storage/influxdb_v1.go:72-78, 333-348:
``SELECT mean(*) INTO <next_rp>.:MEASUREMENT FROM <rp>./.*/ GROUP BY
time(X),*`` at 1m -> 10m -> 1h -> 1d).

Each cascade step is a scheduled batch job: read the source tier, mean
every value per (measurement, all tags, bucket), write the target tier.
We keep the column named ``value`` instead of InfluxDB's ``mean_mean_...``
mangling (mapping.go:47 calls those "unusual field names"), so the query
planner needs no field renaming.

Scale notes: the groupBy keys include measurement + all tag columns, which
is exactly the table's partition/sort layout, so partial aggregation is
map-side and the single shuffle is on low-cardinality keys. Each step
reads only its source tier partition (pruning), and AQE coalesces the
output to sanely-sized files.
"""

from __future__ import annotations

import time
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ecollector_spark.functions.timeutil import parse_relative_duration, time_bucket
from ecollector_spark.schema import DATAPOINT_TAG_COLUMNS
from ecollector_spark.tiers import CASCADE


def downsample_step(
    src: DataFrame,
    group_by_time: str,
    tag_cols: Sequence[str] = DATAPOINT_TAG_COLUMNS,
    target_tier: str | None = None,
) -> DataFrame:
    """One CQ step: mean of value per (measurement, tags, bucket).

    Emits the canonical datapoint columns with ``ts`` snapped to the
    bucket start; the target tier is stamped so a plain
    ``partitionBy("tier", "measurement")`` append lands it correctly.
    """
    step = parse_relative_duration(group_by_time)
    keys = ["measurement", *[c for c in tag_cols if c in src.columns]]
    bucket = time_bucket("ts", step).alias("_bucket")
    agg = src.groupBy(*keys, bucket).agg(
        F.avg("value_f").alias("value_f"),
        F.first("series_id", ignorenulls=True).alias("series_id"),
        F.first("unit", ignorenulls=True).alias("unit"),
    )
    out = agg.withColumn("ts", F.timestamp_seconds(F.col("_bucket"))).drop("_bucket")
    if target_tier:
        out = out.withColumn("tier", F.lit(target_tier))
    return out


def run_cascade_incremental(
    tier_reader,
    tier_writer,
    high_water_mark,
    now_epoch: int | float | None = None,
    reprocess_trailing_buckets: int = 0,
    tier_rewriter=None,
    stages: Sequence[tuple] = CASCADE,
) -> dict:
    """Incremental cascade: each step aggregates only source buckets
    STRICTLY AFTER the target tier's high-water mark — the property that
    makes the CQ equivalent affordable at 100 TB (each run touches the
    new tail, not the full history; with the warehouse's
    tier/measurement partition layout + a ts predicate, the tail read is
    partition-and-rowgroup pruned, never a full scan).

    ``high_water_mark(tier) -> epoch seconds | None`` is the max bucket
    ts already materialized in the target. Source rows inside that
    bucket are excluded (the bucket is done); rows in the current
    still-filling bucket (per ``now_epoch``) are held back for the next
    run, so every materialized bucket is computed exactly once, from
    complete data. Late data older than a materialized bucket needs a
    trailing-window re-run — the same contract as InfluxDB CQs, which
    the reference relies on. Returns {target_tier: written DataFrame}.

    ``now_epoch`` defaults to wall-clock time so the still-filling-bucket
    holdback is ALWAYS applied — without it a partial current bucket would
    be materialized, the high-water mark would advance past it, and that
    bucket's remaining rows would be silently lost on every later run.
    Pass ``now_epoch=float("inf")`` only to explicitly opt out (e.g.
    replaying a closed historical dataset where every bucket is final).

    ``reprocess_trailing_buckets=N`` (with a ``tier_rewriter``) absorbs
    late data: instead of starting strictly after the HWM, each step
    re-aggregates from the Nth-newest materialized bucket onward and
    *replaces* the target's tail idempotently via
    ``tier_rewriter(df, tier, from_epoch)`` (e.g.
    :meth:`Warehouse.replace_points_from` — rename-aside rewrite).
    Late rows landing inside the trailing window are incorporated on the
    next run; rows older than the window remain out, by the same CQ
    contract as before (``RESAMPLE FOR``-style bounded lateness). The
    re-read is bounded to N buckets of source per step — the incremental
    property survives.

    ``stages`` defaults to the full reference cascade; pass the API's
    live CQ set (``EcollectorApi.cascade_stages()``) so deleted CQs stop
    running (admin.go:363-364).
    """
    if now_epoch is None:
        now_epoch = int(time.time())
    if reprocess_trailing_buckets and tier_rewriter is None:
        raise ValueError("reprocess_trailing_buckets requires a tier_rewriter")
    written: dict = {}
    for src_tier, dst_tier, step in stages:
        src = tier_reader(src_tier)
        if src is None:
            continue
        step_s = parse_relative_duration(step)
        hwm = high_water_mark(dst_tier)
        from_epoch = None
        if hwm is not None:
            # first source row of the next unmaterialized bucket, pulled
            # back N buckets when a trailing re-run is requested
            from_epoch = int(hwm) + step_s - reprocess_trailing_buckets * step_s
            src = src.where(F.col("ts") >= F.timestamp_seconds(F.lit(from_epoch)))
        if now_epoch != float("inf"):
            cur_bucket = (int(now_epoch) // step_s) * step_s
            src = src.where(F.col("ts") < F.timestamp_seconds(F.lit(cur_bucket)))
        out = downsample_step(src, step, target_tier=dst_tier)
        if reprocess_trailing_buckets and from_epoch is not None:
            tier_rewriter(out, dst_tier, from_epoch)
        else:
            tier_writer(out, dst_tier)
        written[dst_tier] = out
    return written
