"""Driver queries for the downsampling cascade (A20) and the hour
re-attribution time rewrite (A9) — the two SURVEY §2 operators not yet
pinned by a DuckDB oracle (they were test-only before).

Both run over a canonical datapoint view derived from ``events`` with
identical expressions on both engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ecollector_spark.aggregate import hour_reattribution
from ecollector_spark.downsample import downsample_step
from ecollector_spark.driver_queries import register
from ecollector_spark.functions import barriers
from ecollector_spark.sources.events_adapter import read_events


def _dp_view(spark, sf_dir):
    """events -> minimal canonical datapoints: measurement = event_type,
    one series per (event_type, user_id%7)."""
    ev = read_events(spark, sf_dir)
    dev = (F.col("user_id") % 7).cast("string")
    return ev.select(
        F.col("event_type").alias("measurement"),
        F.col("ts"),
        F.concat(F.col("event_type"), F.lit(";"), dev).alias("series_id"),
        dev.alias("dev_id"),
        F.lit("sensor.generic").alias("dev_type"),
        F.lit("import").alias("dir"),
        (F.col("user_id") % 3).cast("string").alias("location_id"),
        F.col("event_type").alias("service"),
        F.lit("drv").alias("src"),
        F.concat(F.lit("t/"), dev).alias("topic"),
        F.lit("site").alias("domain"),
        F.col("value").alias("value_f"),
        F.lit("W").alias("unit"),
    )


_DP_SQL = """dp AS (
  SELECT event_type AS measurement, ts,
         event_type || ';' || CAST(user_id % 7 AS VARCHAR) AS series_id,
         CAST(user_id % 7 AS VARCHAR) AS dev_id,
         'sensor.generic' AS dev_type, 'import' AS dir,
         CAST(user_id % 3 AS VARCHAR) AS location_id,
         event_type AS service, 'drv' AS src,
         't/' || CAST(user_id % 7 AS VARCHAR) AS topic, 'site' AS domain,
         value AS value_f, 'W' AS unit
  FROM events)"""


@register(
    "downsample_cascade_10m",
    f"""WITH {_DP_SQL}
SELECT measurement, dev_id, dev_type, dir, location_id, service, topic, domain,
       CAST(floor(epoch(ts)/600) AS BIGINT)*600 AS time,
       round(avg(value_f), 6) AS value,
       min(series_id) AS series_id, min(unit) AS unit
FROM dp
GROUP BY measurement, dev_id, dev_type, dir, location_id, service, topic, domain,
         CAST(floor(epoch(ts)/600) AS BIGINT)*600
ORDER BY measurement, dev_id, time
""",
    shelved=True,
)
def downsample_cascade_10m(spark, sf_dir):
    """A20 CQ step: mean of value per (measurement, all tags, 10m bucket)
    — the gen_day -> gen_week cascade job, oracle-matched."""
    dp = _dp_view(spark, sf_dir)
    out = downsample_step(dp, "10m", target_tier=None)
    return out.select(
        "measurement", "dev_id", "dev_type", "dir", "location_id", "service",
        "topic", "domain",
        F.unix_timestamp("ts").alias("time"),
        F.round("value_f", 6).alias("value"),
        "series_id", "unit",
    )


@register(
    "hour_reattribution",
    """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS time,
       CAST(epoch(date_trunc('hour', ts - INTERVAL 1 HOUR) + INTERVAL 59 MINUTE) AS BIGINT)
         AS adjusted_time
FROM events WHERE user_id % 97 = 0
ORDER BY user_id, time
""",
)
def hour_reattribution_q(spark, sf_dir):
    """A9: HAN main-meter samples re-stamped to the previous hour :59
    (agreggator.go:307-310) as a column rewrite."""
    ev = read_events(spark, sf_dir).where(F.col("user_id") % 97 == 0)
    return ev.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.unix_timestamp("ts").alias("time"),
        F.unix_timestamp(hour_reattribution(F.col("ts"))).alias("adjusted_time"),
    )


# ---------------------------------------------------------------------------
# r6 (VERDICT r5 #6): composed lifecycle gate — ingest -> 30s preagg ->
# full cascade -> tier-upgraded relative query -> raw/day TTL expiry ->
# same query, still correct. Every stage is individually gated; this row
# value-checks the COMPOSITION (especially post-expiry tier-upgrade
# correctness, mapping.go:63-103 semantics) against a DuckDB twin that
# recomputes the answer from the ORIGINAL events.
# ---------------------------------------------------------------------------

#: fixed clock: 2024-02-10, comfortably after the January events; the
#: 2w relative range starts 2024-01-27 and routes to gen_week
_LC_NOW_EPOCH = 1707523200
_LC_FROM_EPOCH = _LC_NOW_EPOCH - 14 * 86400  # 1706313600 = 2024-01-27Z

_LIFECYCLE_SQL = f"""WITH dp AS (
  SELECT event_type, user_id, ts, value FROM events),
p30 AS (SELECT event_type, user_id,
               CAST(floor(epoch(ts)/30) AS BIGINT)*30 AS t, avg(value) AS v
        FROM dp GROUP BY 1, 2, 3),
m1 AS (SELECT event_type, user_id,
              CAST(floor(t/60) AS BIGINT)*60 AS t, avg(v) AS v
       FROM p30 GROUP BY 1, 2, 3),
m10 AS (SELECT event_type, user_id,
               CAST(floor(t/600) AS BIGINT)*600 AS t, avg(v) AS v
        FROM m1 GROUP BY 1, 2, 3),
-- the 1e-9 nudge shifts the rounding boundary off the exact-decimal
-- points chained means structurally land on (x.00005: sum/count of
-- 2-decimal inputs) — a 1-ulp cross-engine difference at such a point
-- would otherwise flip the rounded digit (observed at sf0.1)
q AS (SELECT t AS time, round(avg(v) + 0.000000001, 4) AS value
      FROM m10 WHERE t > {_LC_FROM_EPOCH} GROUP BY 1)
SELECT 'pre' AS phase, time, value FROM q
UNION ALL
SELECT 'post' AS phase, time, value FROM q
ORDER BY phase, time
"""


@register("lifecycle_tiered_query", _LIFECYCLE_SQL)
def lifecycle_tiered_query(spark, sf_dir):
    """Day-in-the-life value gate. The Spark side runs the REAL
    machinery end to end on a scratch warehouse:

    1. events -> canonical datapoints under ONE high-frequency
       measurement (tier routing engages; series = (event_type, user));
    2. `windowed_preaggregate` (A1-A4, 30 s mean) -> `write_points`
       (ingest routing stamps gen_raw);
    3. `run_cascade_incremental` materializes gen_day(1m) ->
       gen_week(10m) -> gen_month(1h) -> gen_year(1d);
    4. a RELATIVE 2w / GROUP BY time(10m) mean query: the tier chooser
       (mapping.go:63-103) answers it from gen_week — asserted;
    5. TTL expiry empties gen_raw AND gen_day (override clock);
    6. the same query re-runs on the expired warehouse.

    The oracle recomputes both phases from the original events through
    the cascade's mean-of-means semantics; 'pre' != 'post' or either
    != recomputed is a hash mismatch."""
    import tempfile

    import shutil as _sh

    from ecollector_spark import tiers
    from ecollector_spark.aggregate import windowed_preaggregate
    from ecollector_spark.downsample import run_cascade_incremental
    from ecollector_spark.query import DataPointsRequest, QueryPlanner
    from ecollector_spark.schema import DATAPOINT_TAG_COLUMNS
    from ecollector_spark.sources.events_adapter import events_as_datapoints
    from ecollector_spark.warehouse import Warehouse
    from datetime import datetime, timezone

    now_dt = datetime.fromtimestamp(_LC_NOW_EPOCH, tz=timezone.utc)
    meas = "electricity_meter_power"
    dp = (
        events_as_datapoints(spark, sf_dir)
        .withColumn("measurement", F.lit(meas))
        .withColumn(
            "series_id",
            F.concat_ws(";", F.lit(meas), "service", "dev_id", F.lit("import")),
        )
        .drop("tier")  # ingest routing must stamp it (gen_raw)
    )
    pre30 = windowed_preaggregate(
        dp, 30, keep_cols=("measurement", *DATAPOINT_TAG_COLUMNS, "unit")
    )
    pts = pre30.select(
        "measurement",
        F.timestamp_seconds("time").alias("ts"),
        "series_id",
        *DATAPOINT_TAG_COLUMNS,
        F.lit("preagg").alias("src"),
        F.col("value").alias("value_f"),
        F.lit(None).cast("boolean").alias("value_b"),
        F.lit(None).cast("string").alias("value_s"),
        "unit",
        F.lit("mean").alias("agg_func"),
    )

    root = tempfile.mkdtemp(prefix="ec_lifecycle_")
    try:
        w = Warehouse(spark, root)
        w.write_points(pts)
        if w.read_tier("gen_raw") is None:
            raise RuntimeError("ingest routing did not land in gen_raw")
        run_cascade_incremental(
            w.read_tier,
            lambda df, tier: w.write_points(df),
            w.high_water_mark,
            now_epoch=_LC_NOW_EPOCH,
        )

        req = DataPointsRequest(
            measurement_name=meas,
            relative_time="2w",
            group_by_time="10m",
            data_function="mean",
            fill_type="none",
        )
        choice = tiers.choose_query_tier(
            meas, relative_time="2w", group_by_time="10m", data_function="mean"
        )
        if choice.tier != "gen_week":
            raise RuntimeError(f"expected gen_week routing, got {choice.tier}")
        planner = QueryPlanner(w.tier_reader())
        pre = barriers.snapshot(  # computed BEFORE expiry
            planner.plan(req, now=now_dt).withColumn(
                "value", F.round(F.col("value") + 1e-9, 4)
            )
        )

        # TTL expiry: raw + day fully expired (their youngest point is
        # 9 days old at the override TTL of 1 day), gen_week untouched
        w.enforce_retention(
            _LC_NOW_EPOCH, ttl_overrides={"gen_raw": 86400, "gen_day": 86400}
        )
        if w.read_tier("gen_raw") is not None or w.read_tier("gen_day") is not None:
            raise RuntimeError("retention did not empty the raw/day tiers")
        post = barriers.snapshot(  # computed before rmtree
            planner.plan(req, now=now_dt).withColumn(
                "value", F.round(F.col("value") + 1e-9, 4)
            )
        )
        return (
            pre.select(F.lit("pre").alias("phase"), "time", "value")
            .unionByName(post.select(F.lit("post").alias("phase"), "time", "value"))
        )
    finally:
        _sh.rmtree(root, ignore_errors=True)
