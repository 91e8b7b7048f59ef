"""Oracle gates for the extended InfluxQL function surface (round 5+).

The reference's API only *generates* the A14/A15 set (influxdb_v1.go:
159-188), but a drop-in user's hand-written queries draw on InfluxDB's
full public function list. Each gate here parses a raw InfluxQL string
(``parse_influxql``) and runs it through the structured planner, so the
parser and the planner path are pinned together against a DuckDB oracle.

Determinism notes: percentile/mode/spread/count_distinct/derivative/
elapsed are exact (selector values or IEEE-identical expressions on both
engines); stddev/integral/cumulative_sum/moving_average round to 6
decimals because their summation order is engine-dependent.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ecollector_spark.driver_queries import register
from ecollector_spark.driver_queries.core import (
    F_EPOCH,
    FROM_T,
    NOW,
    T_EPOCH,
    TO_T,
    _bucket,
    _DP,
    _planner,
    _src_sql,
)


def _run(spark, sf_dir, q: str):
    from ecollector_spark.influxql import parse_influxql

    iq = parse_influxql(q)
    return _planner(spark, sf_dir).plan(iq.request, now=NOW)


_RANGE = f"WHERE time >= '{FROM_T}' AND time <= '{TO_T}'"


@register(
    "ts_agg_percentile95",
    f"""{_DP},
src AS ({_src_sql('purchase')}),
b AS (SELECT {_bucket(86400)} AS time, list_sort(list(value_f)) AS arr, count(*) AS n
      FROM src GROUP BY 1),
i AS (SELECT time, arr, n, CAST(floor(n * 95.0 / 100.0 + 0.5) AS INT) AS idx FROM b)
SELECT time, CASE WHEN idx BETWEEN 1 AND n THEN arr[idx] END AS value
FROM i ORDER BY time
""",
    shelved=True,  # rotated out r9 (family keeps a main-gate twin)
)
def ts_agg_percentile95(spark, sf_dir):
    """InfluxQL ``percentile(field, 95)``: nearest-rank (an actual field
    value at 1-based index floor(n*95/100+0.5)), never an interpolation —
    matching InfluxDB's PercentileReduceSlice. [public-docs surface
    beyond influxdb_v1.go:159-188]"""
    q = f'SELECT percentile("value", 95) FROM "purchase" {_RANGE} GROUP BY time(1d) FILL(none)'
    return _run(spark, sf_dir, q)


@register(
    "ts_agg_stddev_by_tag",
    f"""{_DP},
src AS ({_src_sql('click')}),
agg AS (SELECT {_bucket(86400)} AS time, location_id,
               round(stddev_samp(value_f), 6) AS value
        FROM src GROUP BY 1, 2)
-- single-sample buckets emit NO row (InfluxDB), not a null row
SELECT time, location_id, value FROM agg WHERE value IS NOT NULL
ORDER BY time, location_id
""",
    shelved=True,
)
def ts_agg_stddev_by_tag(spark, sf_dir):
    """InfluxQL ``stddev()`` (sample stddev) under a tag group. Rounded
    to 6 decimals on both sides — Welford vs two-pass accumulation order
    differs across engines."""
    q = (
        f'SELECT stddev("value") FROM "click" {_RANGE} '
        "GROUP BY time(1d), location_id FILL(none)"
    )
    df = _run(spark, sf_dir, q)
    return df.withColumn("value", F.round("value", 6))


@register(
    "ts_agg_spread",
    f"""{_DP},
src AS ({_src_sql('view')}),
agg AS (SELECT {_bucket(86400)} AS time, max(value_f) - min(value_f) AS value
        FROM src GROUP BY 1)
SELECT time, value FROM agg ORDER BY time
""",
    shelved=True,
)
def ts_agg_spread(spark, sf_dir):
    """InfluxQL ``spread()`` = max - min per bucket. Exact: both sides
    subtract the same two field values."""
    q = f'SELECT spread("value") FROM "view" {_RANGE} GROUP BY time(1d) FILL(none)'
    return _run(spark, sf_dir, q)


@register(
    "ts_agg_mode",
    f"""{_DP},
src AS ({_src_sql('purchase')}),
c AS (SELECT {_bucket(21600)} AS time, value_f AS value, count(*) AS n,
             min(epoch(ts)) AS ft
      FROM src GROUP BY 1, 2),
r AS (SELECT time, value,
             row_number() OVER (PARTITION BY time ORDER BY n DESC, ft ASC, value ASC) AS rn
      FROM c)
SELECT time, value FROM r WHERE rn = 1 ORDER BY time
""",
    shelved=True,
)
def ts_agg_mode(spark, sf_dir):
    """InfluxQL ``mode()``: most frequent value per bucket, deterministic
    tie-break (count desc, earliest first-appearance, smallest value) —
    query._mode_agg's two-stage aggregation vs a window-ranked oracle."""
    q = f'SELECT mode("value") FROM "purchase" {_RANGE} GROUP BY time(6h) FILL(none)'
    return _run(spark, sf_dir, q)


@register(
    "ts_agg_integral_1h",
    f"""{_DP},
src AS ({_src_sql('purchase')}),
-- t truncated to whole seconds: the planner's unix_timestamp() floors
-- sub-second timestamps, and the pair order must match its (t, v) sort
p AS (SELECT {_bucket(86400)} AS time, CAST(floor(epoch(ts)) AS BIGINT) AS t,
             value_f AS v FROM src),
d AS (SELECT time, (v + lag(v) OVER w) / 2 * CAST(t - lag(t) OVER w AS DOUBLE) AS a
      FROM p WINDOW w AS (PARTITION BY time ORDER BY t, v)),
s AS (SELECT time, round(coalesce(sum(a), 0) / 3600, 6) AS value FROM d GROUP BY time)
SELECT time, value FROM s ORDER BY time
""",
    shelved=True,
)
def ts_agg_integral_1h(spark, sf_dir):
    """InfluxQL ``integral(field, 1h)``: trapezoidal area under the
    time-ordered curve per bucket in watt-hour-style units — the energy
    domain's W->Wh shape. Expression-only pairwise fold (query
    _trapezoid_expr) vs a lag-window oracle; rounded (sum order)."""
    q = f'SELECT integral("value", 1h) FROM "purchase" {_RANGE} GROUP BY time(1d) FILL(none)'
    df = _run(spark, sf_dir, q)
    return df.withColumn("value", F.round("value", 6))


@register(
    "ts_agg_count_distinct",
    f"""{_DP},
src AS ({_src_sql('click')}),
agg AS (SELECT {_bucket(86400)} AS time,
               CAST(count(DISTINCT value_f) AS DOUBLE) AS value
        FROM src GROUP BY 1)
SELECT time, value FROM agg ORDER BY time
""",
    shelved=True,
)
def ts_agg_count_distinct(spark, sf_dir):
    """InfluxQL ``count(distinct(field))`` parsed as the nested shape."""
    q = f'SELECT count(distinct("value")) FROM "click" {_RANGE} GROUP BY time(1d) FILL(none)'
    return _run(spark, sf_dir, q)


@register(
    "ts_transform_cumulative_sum",
    f"""{_DP},
src AS ({_src_sql('signup')}),
agg AS (SELECT {_bucket(86400)} AS time, arg_max(value_f, ts) AS value FROM src GROUP BY 1)
SELECT time, round(sum(value) OVER (ORDER BY time
  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS value
FROM agg ORDER BY time
""",
    shelved=True,
)
def ts_transform_cumulative_sum(spark, sf_dir):
    """``cumulative_sum(last(field))``: running sum over the bucketed
    series (tag-partitioned window over the bounded bucket spine)."""
    q = f'SELECT cumulative_sum(last("value")) FROM "signup" {_RANGE} GROUP BY time(1d) FILL(none)'
    df = _run(spark, sf_dir, q)
    return df.withColumn("value", F.round("value", 6))


@register(
    "ts_transform_nn_derivative",
    f"""{_DP},
src AS ({_src_sql('purchase')}),
agg AS (SELECT {_bucket(86400)} AS time, arg_max(value_f, ts) AS value FROM src GROUP BY 1),
d AS (SELECT time, (value - lag(value) OVER (ORDER BY time))
                   / ((time - lag(time) OVER (ORDER BY time)) / 3600.0) AS value
      FROM agg)
SELECT time, value FROM d WHERE value IS NOT NULL AND value >= 0 ORDER BY time
""",
    shelved=True,
)
def ts_transform_nn_derivative(spark, sf_dir):
    """``non_negative_derivative(last(field), 1h)``: per-hour rate of
    change between consecutive buckets; negative results dropped
    (InfluxQL emission rule). Exact — identical IEEE expression shape on
    both engines."""
    q = (
        f'SELECT non_negative_derivative(last("value"), 1h) FROM "purchase" {_RANGE} '
        "GROUP BY time(1d) FILL(none)"
    )
    return _run(spark, sf_dir, q)


@register(
    "ts_transform_moving_average",
    f"""{_DP},
src AS ({_src_sql('click')}),
agg AS (SELECT {_bucket(86400)} AS time, max(value_f) AS value FROM src GROUP BY 1),
r AS (SELECT time,
             round(avg(value) OVER (ORDER BY time ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS value,
             row_number() OVER (ORDER BY time) AS rn
      FROM agg)
SELECT time, value FROM r WHERE rn >= 3 ORDER BY time
""",
    shelved=True,
)
def ts_transform_moving_average(spark, sf_dir):
    """``moving_average(max(field), 3)``: rolling mean over a 3-bucket
    window, emitted only once the window is full (InfluxQL starts at the
    Nth point)."""
    q = f'SELECT moving_average(max("value"), 3) FROM "click" {_RANGE} GROUP BY time(1d) FILL(none)'
    df = _run(spark, sf_dir, q)
    return df.withColumn("value", F.round("value", 6))


@register(
    "ts_transform_elapsed",
    f"""{_DP},
src AS ({_src_sql('view')}),
agg AS (SELECT {_bucket(86400)} AS time, arg_max(value_f, ts) AS value FROM src GROUP BY 1),
d AS (SELECT time, CAST(floor((time - lag(time) OVER (ORDER BY time)) / 60) AS DOUBLE) AS value
      FROM agg)
SELECT time, value FROM d WHERE value IS NOT NULL ORDER BY time
""",
    shelved=True,
)
def ts_transform_elapsed(spark, sf_dir):
    """``elapsed(last(field), 1m)``: minutes between consecutive emitted
    buckets — the gap detector over a sparse series."""
    q = f'SELECT elapsed(last("value"), 1m) FROM "view" {_RANGE} GROUP BY time(1d) FILL(none)'
    return _run(spark, sf_dir, q)


@register(
    "influxql_multi_select",
    f"""{_DP},
src AS ({_src_sql('purchase')}),
agg AS (SELECT {_bucket(86400)} AS time, location_id,
               round(avg(value_f), 3) AS avg_v,
               max(value_f) AS max,
               CAST(count(value_f) AS DOUBLE) AS n
        FROM src GROUP BY 1, 2)
SELECT time, location_id, avg_v, max, n FROM agg ORDER BY time, location_id
""",
    shelved=True,
)
def influxql_multi_select(spark, sf_dir):
    """Hand-written multi-selector query: ``SELECT mean(v), max(v),
    count(v)`` computed by ONE bucketed groupBy (plan_multi — one scan,
    one shuffle, never a per-selector re-plan), with InfluxDB-style
    column naming (alias, else function name)."""
    from pyspark.sql import functions as F
    from ecollector_spark.influxql import parse_influxql

    q = (
        'SELECT mean("value") AS avg_v, max("value"), count("value") AS n '
        f'FROM "purchase" {_RANGE} GROUP BY time(1d), location_id FILL(none)'
    )
    iq = parse_influxql(q)
    df = _planner(spark, sf_dir).plan_multi(iq.request, iq.selectors, now=NOW)
    return df.withColumn("avg_v", F.round("avg_v", 3))


@register(
    "ts_raw_difference",
    f"""{_DP},
src AS ({_src_sql('purchase')}),
p AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t, value_f AS v FROM src),
d AS (SELECT t AS time, v - lag(v) OVER (ORDER BY t, v) AS value FROM p)
SELECT time, value FROM d WHERE value IS NOT NULL ORDER BY time
""",
    shelved=True,  # rotated out r8 (family keeps a main-gate twin)
)
def ts_raw_difference(spark, sf_dir):
    """``difference("value")`` over RAW points (no GROUP BY time): the
    chunk-partitioned window with O(1) boundary seeds vs the oracle's
    single global lag window — bit-equal output proves the chunked
    decomposition."""
    q = f'SELECT difference("value") FROM "purchase" {_RANGE}'
    return _run(spark, sf_dir, q)


@register(
    "ts_raw_derivative_by_tag",
    f"""{_DP},
src AS ({_src_sql('view')}),
p AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t, location_id, value_f AS v FROM src),
-- dt = 0 (same-second points after truncation): rate undefined, dropped
d AS (SELECT t AS time, location_id,
             CASE WHEN t - lag(t) OVER w <> 0
                  THEN (v - lag(v) OVER w) / ((t - lag(t) OVER w) / 60.0) END AS value
      FROM p WINDOW w AS (PARTITION BY location_id ORDER BY t, v))
SELECT time, location_id, value FROM d WHERE value IS NOT NULL AND value >= 0
ORDER BY time, location_id
""",
    shelved=True,  # rotated out r11 (on signal since r7); selector_arith
    # keeps A15's transform/window family, raw-window twins shelved-green
)
def ts_raw_derivative_by_tag(spark, sf_dir):
    """``non_negative_derivative("value", 1m)`` per tag over raw points:
    per-minute rate between consecutive raw samples of each
    location_id series, negatives dropped."""
    q = (
        f'SELECT non_negative_derivative("value", 1m) FROM "view" {_RANGE} '
        "GROUP BY location_id"
    )
    return _run(spark, sf_dir, q)


@register(
    "ts_raw_cumulative_sum",
    f"""{_DP},
src AS ({_src_sql('signup')}),
p AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t, value_f AS v FROM src)
SELECT t AS time, round(sum(v) OVER (ORDER BY t, v
  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS value
FROM p ORDER BY time
""",
    shelved=True,
)
def ts_raw_cumulative_sum(spark, sf_dir):
    """``cumulative_sum("value")`` over raw points: per-chunk running
    sums + prefix-summed chunk offsets vs the oracle's global running
    sum (rounded — chunked addition order differs at the ulp)."""
    q = f'SELECT cumulative_sum("value") FROM "signup" {_RANGE}'
    df = _run(spark, sf_dir, q)
    return df.withColumn("value", F.round("value", 6))


@register(
    "ts_group_by_time_offset",
    f"""{_DP},
src AS ({_src_sql('purchase')}),
agg AS (SELECT CAST(floor((epoch(ts)-14400)/86400) AS BIGINT)*86400+14400 AS time,
               round(avg(value_f), 3) AS value
        FROM src GROUP BY 1),
spine AS (SELECT CAST(g.generate_series AS BIGINT) AS time
          FROM generate_series(1703995200, 1706745600, 86400) g)
SELECT spine.time AS time, agg.value AS value
FROM spine LEFT JOIN agg USING (time) ORDER BY time
""",
    shelved=True,
)
def ts_group_by_time_offset(spark, sf_dir):
    """``GROUP BY time(1d, 4h)``: every day bucket shifted to start at
    04:00 (InfluxQL's boundary-alignment offset) — bucket arithmetic AND
    the FILL(null) spine both offset-aligned."""
    q = (
        f'SELECT mean("value") FROM "purchase" {_RANGE} '
        "GROUP BY time(1d, 4h) FILL(null)"
    )
    df = _run(spark, sf_dir, q)
    return df.withColumn("value", F.round("value", 3))


@register(
    "influxql_subquery",
    f"""{_DP},
src AS ({_src_sql('purchase')}),
sub AS (SELECT {_bucket(21600)} AS time, location_id, arg_max(value_f, ts) AS value
          FROM src GROUP BY 1, 2),
outer_q AS (SELECT CAST(floor(time/86400) AS BIGINT)*86400 AS time, location_id,
                   max(value) AS value
            FROM sub GROUP BY 1, 2)
SELECT time, location_id, value FROM outer_q ORDER BY time, location_id
""",
    shelved=True,  # rotated out r8 (family keeps a main-gate twin)
)
def influxql_subquery(spark, sf_dir):
    """``FROM (SELECT ...)``: the outer statement plans against the
    inner statement's result — daily max of per-6h last() per tag, as
    ONE composed Catalyst plan (plan_tree), no materialization between
    levels. Exact: last/max are selectors."""
    from ecollector_spark.influxql import parse_influxql, plan_tree
    from ecollector_spark.driver_queries.core import _planner

    q = (
        'SELECT max("value") FROM (SELECT last("value") FROM "purchase" '
        f"{_RANGE} GROUP BY time(6h), location_id FILL(none)) "
        "GROUP BY time(1d), location_id FILL(none)"
    )
    iq = parse_influxql(q)
    return plan_tree(_planner(spark, sf_dir), iq, now=NOW)


@register(
    "ts_agg_distinct",
    f"""{_DP},
src AS ({_src_sql('click')}),
agg AS (SELECT {_bucket(86400)} AS time, list_sort(list(DISTINCT value_f)) AS vals
        FROM src GROUP BY 1)
SELECT time, unnest(vals) AS value FROM agg ORDER BY time, value
""",
    shelved=True,
)
def ts_agg_distinct(spark, sf_dir):
    """InfluxQL ``distinct()``: the sorted distinct values per bucket —
    a cardinality-changing selector (multiple rows per bucket)."""
    q = f'SELECT distinct("value") FROM "click" {_RANGE} GROUP BY time(1d) FILL(none)'
    return _run(spark, sf_dir, q)


@register(
    "ts_selector_top3",
    f"""{_DP},
src AS ({_src_sql('purchase')}),
r AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t, value_f AS v,
             row_number() OVER (PARTITION BY {_bucket(86400)}
               ORDER BY value_f DESC, CAST(floor(epoch(ts)) AS BIGINT) ASC) AS rn
      FROM src)
SELECT t AS time, v AS value FROM r WHERE rn <= 3 ORDER BY time, value
""",
    shelved=True,
)
def ts_selector_top3(spark, sf_dir):
    """InfluxQL ``top(field, 3)``: the three greatest POINTS per bucket,
    each keeping its own timestamp; ties break by earliest point. A
    bucket-partitioned rank window (bounded by bucket contents), never
    a global sort."""
    q = f'SELECT top("value", 3) FROM "purchase" {_RANGE} GROUP BY time(1d) FILL(none)'
    return _run(spark, sf_dir, q)


@register(
    "influxql_field_predicate",
    f"""{_DP},
src AS ({_src_sql('purchase')}),
f AS (SELECT * FROM src WHERE value_f > 20 AND value_f <= 120),
agg AS (SELECT {_bucket(86400)} AS time, round(avg(value_f), 3) AS value
        FROM f GROUP BY 1)
SELECT time, value FROM agg ORDER BY time
""",
    shelved=True,
)
def influxql_field_predicate(spark, sf_dir):
    """Numeric field predicates in WHERE (``"value" > 20 AND "value"
    <= 120``, public InfluxDB docs): pushed to the scan like every
    other filter, ANDed with the time range."""
    q = (
        f'SELECT mean("value") FROM "purchase" {_RANGE} '
        'AND "value" > 20 AND "value" <= 120 GROUP BY time(1d) FILL(none)'
    )
    df = _run(spark, sf_dir, q)
    return df.withColumn("value", F.round("value", 3))


@register(
    "influxql_select_into",
    f"""{_DP},
src AS ({_src_sql('purchase')})
SELECT {_bucket(3600)} AS time, location_id, round(avg(value_f), 3) AS value
FROM src GROUP BY 1, 2 ORDER BY time, location_id
""",
)
def influxql_select_into(spark, sf_dir):
    """``SELECT ... INTO`` (public InfluxQL — the one-off twin of the CQ
    template): the hourly per-tag mean is planned, written into the
    target measurement through the ordinary tier-routed sink, and the
    gate reads the WRITTEN points back — so the oracle recomputing the
    same aggregate from the source table value-checks the entire
    plan-write-read loop, not just the query half."""
    import os
    import tempfile

    from ecollector_spark.api import EcollectorApi
    from ecollector_spark.sources.events_adapter import events_as_datapoints
    from ecollector_spark.warehouse import Warehouse

    root = tempfile.mkdtemp(prefix="ec_into_")
    wh = Warehouse(spark, os.path.join(root, "wh"))
    # drop the adapter's blanket gen_raw stamp: tier routes by
    # measurement (purchase is low-frequency -> gen_default, where the
    # FROM clause and choose_query_tier both look)
    wh.write_points(events_as_datapoints(spark, sf_dir).drop("tier"))
    api = EcollectorApi(spark, wh)
    rsp = api.run_query(
        'SELECT mean("value") INTO "purchase_1h" FROM "gen_default"."purchase" '
        f"{_RANGE} GROUP BY time(1h), \"location_id\" FILL(none)",
        now=NOW,
    )
    if rsp["val"].get("error"):
        raise RuntimeError(rsp["val"]["error"])
    back = wh.read_tier("gen_default")
    return (
        back.where(F.col("measurement") == "purchase_1h")
        .select(
            F.unix_timestamp("ts").alias("time"),
            "location_id",
            F.round("value_f", 3).alias("value"),
        )
    )


@register(
    "influxql_delete_window",
    f"""{_DP},
src AS ({_src_sql('purchase')})
SELECT CAST(floor(epoch(ts)) AS BIGINT) AS time, dev_id, value_f AS value
FROM src
WHERE NOT (epoch(ts) >= {{cut_lo}} AND epoch(ts) < {{cut_hi}})
ORDER BY time, dev_id, value
""".replace("{cut_lo}", "1704672000").replace("{cut_hi}", "1705276800"),
    shelved=True,
)
def influxql_delete_window(spark, sf_dir):
    """``DELETE FROM m WHERE time >= a AND time < b`` as a value gate:
    the warehouse is populated, the second week of January deleted
    through the query endpoint, and the SURVIVING rows read back — the
    oracle recomputes the complement from the source table, so a delete
    that removes too much, too little, or corrupts surviving partitions
    is a hash mismatch."""
    import os
    import tempfile

    from ecollector_spark.api import EcollectorApi
    from ecollector_spark.sources.events_adapter import events_as_datapoints
    from ecollector_spark.warehouse import Warehouse

    root = tempfile.mkdtemp(prefix="ec_del_")
    wh = Warehouse(spark, os.path.join(root, "wh"))
    wh.write_points(events_as_datapoints(spark, sf_dir).drop("tier"))
    api = EcollectorApi(spark, wh)
    rsp = api.run_query(
        'DELETE FROM "purchase" '
        "WHERE time >= '2024-01-08T00:00:00Z' AND time < '2024-01-15T00:00:00Z'",
        now=NOW,
    )
    if rsp["val"].get("error"):
        raise RuntimeError(rsp["val"]["error"])
    out = None
    for tier in ("gen_default", "gen_raw"):
        df = wh.read_tier(tier)
        if df is None:
            continue
        out = df if out is None else out.unionByName(df)
    return (
        out.where(
            (F.col("measurement") == "purchase")
            & (F.unix_timestamp("ts") >= 1704067200)
            & (F.unix_timestamp("ts") <= 1706745600)
        ).select(
            F.unix_timestamp("ts").alias("time"), "dev_id", F.col("value_f").alias("value")
        )
    )


# ---------------------------------------------------------------------------
# r6: selector arithmetic + tz() (VERDICT r5 #4 — the public-InfluxQL
# residue: binary expressions over selectors and zone-aligned buckets)
# ---------------------------------------------------------------------------


def _run_tree(spark, sf_dir, q: str):
    """Parse + plan the FULL statement surface (selector arithmetic,
    multi-select, subqueries) — the same plan_tree the API uses."""
    from ecollector_spark.influxql import parse_influxql, plan_tree

    iq = parse_influxql(q)
    return plan_tree(_planner(spark, sf_dir), iq, now=NOW)


@register(
    "influxql_selector_arith",
    f"""{_DP},
src AS ({_src_sql('purchase')}),
agg AS (SELECT {_bucket(43200)} AS time, location_id,
               max(value_f) AS mx, min(value_f) AS mn
        FROM src GROUP BY 1, 2)
SELECT time, location_id, (mx - mn) * 2 + 1 AS value
FROM agg ORDER BY time, location_id
""",
    # r12 optimization round: restored to main — the optimization driver
    # re-runs every query declared in r11; none may disappear.
)
def influxql_selector_arith(spark, sf_dir):
    """Binary arithmetic BETWEEN selectors (public InfluxQL:
    ``SELECT (max("value") - min("value")) * 2 + 1``): both aggregates
    computed in ONE plan_multi groupBy, combined per bucket — exact
    (selectors return stored values, scalar ops are IEEE-identical)."""
    q = (
        'SELECT (max("value") - min("value")) * 2 + 1 FROM "purchase" '
        f'{_RANGE} GROUP BY time(12h), "location_id" FILL(none)'
    )
    return _run_tree(spark, sf_dir, q)


@register(
    "influxql_value_scale",
    f"""{_DP},
src AS ({_src_sql('purchase')})
SELECT CAST(floor(epoch(ts)) AS BIGINT) AS time, value_f * 1000 AS value
FROM src ORDER BY time, value
""",
    shelved=True,
)
def influxql_value_scale(spark, sf_dir):
    """Raw-field scaling (``SELECT "value" * 1000`` — the reference's
    own kW→W habit as a hand-written query, transform.go:173-176
    semantics): per-point multiply on the raw-series shape."""
    q = f'SELECT "value" * 1000 FROM "purchase" {_RANGE}'
    return _run_tree(spark, sf_dir, q)


@register(
    "influxql_select_star",
    f"""{_DP},
src AS ({_src_sql('purchase')})
SELECT CAST(floor(epoch(ts)) AS BIGINT) AS time,
       dev_id, dev_type, dir, location_id, service, topic, domain,
       value_f AS value
FROM src
ORDER BY time, dev_id, dev_type, dir, location_id, service, topic, domain,
         value
""",
    # r11 rotation: the star family's head query onto the signal (the
    # oracle ORDER BY was aligned to the full tag sort in r10 ADVICE)
)
def influxql_select_star(spark, sf_dir):
    """``SELECT *`` (r9 second session — the first query every
    migrating user types): raw points with EVERY tag column plus the
    value, via ``QueryPlanner.plan_star`` — one pruned scan, a
    projection, the result sort; no join, no shuffle beyond the sort.
    GROUP BY / fills / INTO / ``*::field`` narrowing refuse loudly
    (parser pins)."""
    q = f'SELECT * FROM "purchase" {_RANGE}'
    return _run_tree(spark, sf_dir, q)


@register(
    "influxql_select_star_field",
    f"""{_DP},
src AS ({_src_sql('purchase')})
SELECT CAST(floor(epoch(ts)) AS BIGINT) AS time, value_f AS value
FROM src
ORDER BY time, value
""",
    shelved=True,  # rotated out r11 (driver-green r10); influxql_select_star
    # keeps the star family's plan_star path on the signal
)
def influxql_select_star_field(spark, sf_dir):
    """``SELECT *::field`` (r10 — VERDICT r9 missing #4): the star
    narrowed to field columns only — on the canonical one-field schema
    that is (time, value), no tag columns. Same pruned scan +
    projection as bare star; the narrowing is pure column selection."""
    q = f'SELECT *::field FROM "purchase" {_RANGE}'
    return _run_tree(spark, sf_dir, q)


@register(
    "influxql_select_star_group",
    f"""{_DP},
src AS ({_src_sql('purchase')})
SELECT CAST(floor(epoch(ts)) AS BIGINT) AS time,
       dev_id, dev_type, dir, location_id, service, topic, domain,
       value_f AS value
FROM src
ORDER BY time, dev_id, dev_type, dir, location_id, service, topic, domain,
         value
""",
    shelved=True,  # influxql_select_star (main, r11) pins the same frame;
    # the GROUP BY * parse acceptance stays on the shelved sweep
)
def influxql_select_star_group(spark, sf_dir):
    """``SELECT * ... GROUP BY *`` (r10): raw points regrouped per
    series. At the DataFrame level the frame is identical to bare star
    (tags stay as columns — the Series serializer moves the grouped
    ones into the per-series key; that wire shape is pytest-pinned in
    test_influxql.TestSelectStar). The gate pins that the parse path
    ACCEPTS the composition and changes no row."""
    q = f'SELECT * FROM "purchase" {_RANGE} GROUP BY *'
    return _run_tree(spark, sf_dir, q)


@register(
    "influxql_agg_star",
    f"""{_DP},
src AS ({_src_sql('purchase')}),
agg AS (SELECT {_bucket(86400)} AS time, round(avg(value_f), 6) AS mean_value
        FROM src GROUP BY 1)
SELECT time, mean_value FROM agg ORDER BY time
""",
    shelved=True,
)
def influxql_agg_star(spark, sf_dir):
    """``SELECT mean(*)`` (r10 — the aggregate-over-every-field
    wildcard): on the canonical one-field schema this is mean("value")
    under InfluxDB's wildcard output name ``mean_value``; fills, tag
    groups and transforms compose unchanged (the rewrite happens before
    selector parsing)."""
    q = f'SELECT mean(*) FROM "purchase" {_RANGE} GROUP BY time(1d) FILL(none)'
    df = _run_tree(spark, sf_dir, q)
    return df.select("time", F.round("value", 6).alias("mean_value"))


@register(
    "influxql_lone_lower_bound",
    f"""{_DP}
SELECT CAST(floor(epoch(ts)) AS BIGINT) AS time, value_f AS value
FROM dp
WHERE measurement = 'purchase' AND ts >= '{FROM_T}'::TIMESTAMP
ORDER BY time, value
""",
    shelved=True,  # rotated out r11 (driver-green r10); every ts_* gate +
    # the influx family keep F5's range predicates on the signal
)
def influxql_lone_lower_bound(spark, sf_dir):
    """``WHERE time >= 'abs'`` with NO upper bound (r10): valid
    InfluxQL that pre-r10 silently returned an EMPTY result (the lone
    absolute bound fell into the relative branch with rel=0). The open
    upper side admits every point from the bound on."""
    q = f"SELECT \"value\" FROM \"purchase\" WHERE time >= '{FROM_T}'"
    return _run_tree(spark, sf_dir, q)


@register(
    "influxql_multi_field",
    f"""{_DP},
src AS ({_src_sql('purchase')}),
-- the engine sees dir/measurement TWIN rows (import = value, export =
-- value * 0.25 — exact in IEEE) and re-assembles the multi-field point
-- by pivoting on the dir suffix of each mangled field name; the oracle
-- predicts the pivot directly from the per-(ts, dev) max (duplicate
-- points collapse last-write-wins, engine uses max for determinism)
g AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS time, dev_id,
             max(value_f) AS v
      FROM src GROUP BY 1, 2)
SELECT time, v AS e_import, v * 0.25 AS e_export
FROM g ORDER BY time, e_import
""",
    # r12 rotation: the multi-field pivot veteran onto the hard signal
)
def influxql_multi_field(spark, sf_dir):
    """Multi-FIELD select (r9, VERDICT r8 missing #2): the reference
    writes multi-field points (transform.go:115-184, names dir-mangled
    per mapping.go:48-61) which the engine stores as dir twin rows;
    ``SELECT "e_import", "e_export" FROM "electricity_meter_energy"``
    re-assembles the point via QueryPlanner.plan_fields — one scan, one
    conditional-aggregate groupBy on the point identity, no join. The
    gate synthesizes twin rows from the purchase events (export =
    import * 0.25, exact) with ONE explode over one scan, then runs the
    raw InfluxQL string through parse -> plan_tree -> plan_fields."""
    from ecollector_spark.influxql import parse_influxql, plan_tree
    from ecollector_spark.query import QueryPlanner
    from ecollector_spark.transform import M_ENERGY

    twin = _twin_energy_rows(spark, sf_dir)
    q = (
        f'SELECT "e_import", "e_export" FROM "{M_ENERGY}" '
        f"WHERE time >= '{FROM_T}' AND time <= '{TO_T}'"
    )
    return plan_tree(QueryPlanner(lambda tier: twin), parse_influxql(q), now=NOW)


@register(
    "influxql_multi_field_agg",
    f"""{_DP},
src AS ({_src_sql('purchase')}),
-- engine side aggregates the dir twin rows per mangled field (import =
-- value, export = value * 0.25 — exact scaling): mean over the import
-- twins is mean(value_f); max over the export twins is max(value_f)/4
-- (max commutes with exact positive scaling)
b AS (SELECT CAST(floor(epoch(ts)/86400) AS BIGINT)*86400 AS time,
             round(avg(value_f), 3) AS mi,
             max(value_f) * 0.25 AS me
      FROM src GROUP BY 1)
SELECT time, mi, me FROM b ORDER BY time
""",
    # r12 rotation: per-mangled-field aggregates onto the hard signal
)
def influxql_multi_field_agg(spark, sf_dir):
    """Aggregates over dir-mangled multi-field names (r9, completing
    VERDICT r8 missing #2): ``SELECT mean("e_import"), max("e_export")
    ... GROUP BY time(1d)`` — each selector aggregates ITS direction's
    twin rows via a projected conditional column inside ONE plan_multi
    groupBy (no join, no per-field re-plan); single-selector aggregates,
    transform wraps and selector arithmetic over mangled fields ride the
    ordinary plan() path through its pushed dir predicate. The
    gate reuses influxql_multi_field's synthesized twin corpus."""
    from ecollector_spark.influxql import parse_influxql, plan_tree
    from ecollector_spark.query import QueryPlanner
    from ecollector_spark.transform import M_ENERGY

    twin = _twin_energy_rows(spark, sf_dir)
    q = (
        f'SELECT mean("e_import") AS mi, max("e_export") AS me '
        f'FROM "{M_ENERGY}" '
        f"WHERE time >= '{FROM_T}' AND time <= '{TO_T}' "
        "GROUP BY time(1d) FILL(none)"
    )
    df = plan_tree(QueryPlanner(lambda tier: twin), parse_influxql(q), now=NOW)
    return df.withColumn("mi", F.round("mi", 3))


@register(
    "influxql_agg_star_fields",
    f"""{_DP},
src AS ({_src_sql('purchase')}),
-- the twin corpus scales export by exactly 0.25 (a power of two, so the
-- scale commutes with IEEE sums bit-exactly): mean over the export
-- twins = mean over the import twins * 0.25
b AS (SELECT CAST(floor(epoch(ts)/86400) AS BIGINT)*86400 AS time,
             round(avg(value_f), 3) AS mean_e_import,
             round(avg(value_f) * 0.25, 3) AS mean_e_export
      FROM src GROUP BY 1)
SELECT time, mean_e_import, mean_e_export FROM b ORDER BY time
""",
    # r12 rotation: fn(*) over the mangled multi-field shape onto
    # the hard signal
)
def influxql_agg_star_fields(spark, sf_dir):
    """``fn(*)`` over a MULTI-FIELD mangled measurement (r11 — VERDICT
    r10 #10's residue): ``SELECT mean(*) FROM "electricity_meter_energy"
    GROUP BY time(1d)`` expands the wildcard to one aggregate per field
    of the measurement's write shape (mapping.go:48-61 —
    ``mean_e_import``, ``mean_e_export``), each aggregating ITS
    direction's twin rows via a conditional column inside ONE
    plan_multi groupBy — InfluxDB's per-field wildcard expansion, never
    a silent blend of both directions and never a per-field re-plan.
    The single-field shape (``influxql_agg_star``) is untouched: its
    parse-time rewrite to ``fn("value")`` still runs everything else."""
    from ecollector_spark.influxql import parse_influxql, plan_tree
    from ecollector_spark.query import QueryPlanner
    from ecollector_spark.transform import M_ENERGY

    twin = _twin_energy_rows(spark, sf_dir)
    q = (
        f'SELECT mean(*) FROM "{M_ENERGY}" '
        f"WHERE time >= '{FROM_T}' AND time <= '{TO_T}' "
        "GROUP BY time(1d) FILL(none)"
    )
    df = plan_tree(QueryPlanner(lambda tier: twin), parse_influxql(q), now=NOW)
    return df.select(
        "time",
        F.round("mean_e_import", 3).alias("mean_e_import"),
        F.round("mean_e_export", 3).alias("mean_e_export"),
    )


@register(
    "influxql_multi_field_arith",
    f"""{_DP},
src AS ({_src_sql('purchase')}),
-- the engine pivots the dir twin rows (import = value, export =
-- value * 0.25, exact in IEEE) per point identity and combines the
-- pivoted columns per point: _f0 + _f1 = v + v * 0.25 in the same
-- IEEE evaluation order the Spark expression uses
g AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS time, dev_id,
             max(value_f) AS v
      FROM src GROUP BY 1, 2)
SELECT time, v + v * 0.25 AS value
FROM g ORDER BY time, value
""",
    shelved=True,
)
def influxql_multi_field_arith(spark, sf_dir):
    """FIELD arithmetic over dir-mangled names (r9 late, completing
    VERDICT r8 missing #2): ``SELECT "e_import" + "e_export" FROM
    "electricity_meter_energy"`` — InfluxDB's per-point binary
    expression across the fields of one multi-field point (the write
    shape of transform.go:115-184). plan_fields pivots the twin rows
    once (one scan, one conditional-aggregate groupBy, no join), then
    arith_column combines the pivoted columns per point; null results
    (a point missing an operand field) drop, InfluxDB's null-result
    rule. The gate reuses influxql_multi_field's synthesized twin
    corpus, where export = import * 0.25 exactly."""
    from ecollector_spark.influxql import parse_influxql, plan_tree
    from ecollector_spark.query import QueryPlanner
    from ecollector_spark.transform import M_ENERGY

    twin = _twin_energy_rows(spark, sf_dir)
    q = (
        f'SELECT "e_import" + "e_export" FROM "{M_ENERGY}" '
        f"WHERE time >= '{FROM_T}' AND time <= '{TO_T}'"
    )
    return plan_tree(QueryPlanner(lambda tier: twin), parse_influxql(q), now=NOW)


def _twin_energy_rows(spark, sf_dir):
    """Shared twin-row corpus of the multi-field gates: each purchase
    event becomes an import point (value) and an export point
    (value * 0.25, exact in IEEE) under the energy measurement — ONE
    explode over one scan."""
    from ecollector_spark.sources.events_adapter import events_as_datapoints
    from ecollector_spark.transform import M_ENERGY

    dp = events_as_datapoints(spark, sf_dir).where(
        F.col("measurement") == "purchase"
    )
    return (
        dp.withColumn(
            "_d",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("import").alias("dir"),
                        F.col("value_f").alias("v"),
                    ),
                    F.struct(
                        F.lit("export").alias("dir"),
                        (F.col("value_f") * 0.25).alias("v"),
                    ),
                )
            ),
        )
        .withColumn("measurement", F.lit(M_ENERGY))
        .withColumn("dir", F.col("_d.dir"))
        .withColumn("value_f", F.col("_d.v"))
        .drop("_d")
    )


_LA = "America/Los_Angeles"


def _fixed_zone_offset(zone: str, from_epoch: int, to_epoch: int) -> int:
    """UTC offset (seconds) of ``zone`` over [from_epoch, to_epoch],
    asserting it is CONSTANT across the range (no DST transition).

    Oracle-portability rule (VERDICT r7 #1): the one r7 hash-red gate was
    the only main oracle calling DuckDB's ICU extension (``timezone()``,
    ``make_timestamp()``) — a driver container with a different DuckDB/ICU
    build can move the oracle without touching the engine. So zone math in
    oracle SQL is precomputed HERE with stdlib ``zoneinfo`` and injected as
    literal integer arithmetic; a registry contract test bans ICU calls in
    every registered oracle string.
    """
    from datetime import datetime, timezone as _tz
    from zoneinfo import ZoneInfo

    z = ZoneInfo(zone)
    offs = {
        int(datetime.fromtimestamp(t, tz=z).utcoffset().total_seconds())
        for t in range(from_epoch, to_epoch + 1, 3600)
    }
    offs.add(int(datetime.fromtimestamp(to_epoch, tz=z).utcoffset().total_seconds()))
    if len(offs) != 1:
        raise AssertionError(f"{zone} offset not constant over range: {offs}")
    return offs.pop()


#: January 2024 is all-PST: −28800 s, stable across tzdata versions.
#: Guarded (ADVICE r8): a host-tzdata skew must fail ONLY the tz gates
#: with a clear error at run time, never the module import (which would
#: take every registered gate down). On failure the expected value keeps
#: the oracle SQL syntactically valid; the builder raises before any
#: comparison can happen.
try:
    _LA_OFF = _fixed_zone_offset(_LA, F_EPOCH, T_EPOCH)
    _TZ_LIT_ERR = None
except Exception as _e:  # pragma: no cover - requires a skewed tzdata
    _LA_OFF, _TZ_LIT_ERR = -28800, _e


def _require_tz_literals(err):
    if err is not None:
        raise RuntimeError(
            f"tz oracle literals unavailable (host tzdata disagrees with the "
            f"expected zone history): {err}"
        )


@register(
    "influxql_tz_clause",
    f"""{_DP},
src AS ({_src_sql('purchase')}),
-- wall-clock bucketing via a Python-precomputed LITERAL zone offset
-- ({_LA_OFF} s — constant over the January range, asserted by
-- _fixed_zone_offset), so the oracle never calls DuckDB's ICU
-- extension; value hashed as integer milli-units on both sides
w AS (SELECT epoch(ts) + {_LA_OFF} AS wall, value_f FROM src),
agg AS (SELECT CAST(floor(wall/86400) AS BIGINT)*86400 AS wb,
               avg(value_f) AS mean_v
        FROM w GROUP BY 1)
SELECT wb - {_LA_OFF} AS time,
       CAST(round(mean_v * 1000) AS BIGINT) AS value_milli
FROM agg ORDER BY time
""",
)
def influxql_tz_clause(spark, sf_dir):
    """``tz('America/Los_Angeles')`` (public InfluxQL): GROUP BY
    time(1d) buckets align to the zone's WALL-clock days (08:00 UTC
    boundaries in January PST), DST-aware by construction (the planner
    buckets in wall-second space and converts bucket starts back
    through the zone; see also the DST-crossing pytest). The gate hashes
    CAST(round(value*1000) AS BIGINT) — an integer — on both sides, so
    driver-side float canonicalization can't flip it."""
    _require_tz_literals(_TZ_LIT_ERR)
    q = (
        f'SELECT mean("value") FROM "purchase" {_RANGE} '
        f"GROUP BY time(1d) FILL(none) tz('{_LA}')"
    )
    df = _run_tree(spark, sf_dir, q)
    return df.select(
        "time",
        F.round(F.col("value") * 1000).cast("long").alias("value_milli"),
    )


_STAR_TAGS = "dev_id, dev_type, dir, location_id, service, topic, domain"


@register(
    "influxql_group_by_star",
    f"""{_DP},
src AS ({_src_sql('purchase')})
SELECT {_bucket(86400)} AS time, {_STAR_TAGS}, round(avg(value_f), 3) AS value
FROM src GROUP BY time, {_STAR_TAGS}
ORDER BY time, {_STAR_TAGS}
""",
    # r12 optimization round: restored to main — the optimization driver
    # re-runs every query declared in r11; none may disappear.
)
def influxql_group_by_star(spark, sf_dir):
    """``GROUP BY time(1d), *`` (public InfluxQL): * expands to every
    tag column — one series per distinct tag combination, missing tags
    grouping as null. [r6; beyond influxdb_v1.go's generated grammar]"""
    q = f'SELECT mean("value") FROM "purchase" {_RANGE} GROUP BY time(1d), * FILL(none)'
    return _run_tree(spark, sf_dir, q).withColumn("value", F.round("value", 3))


@register(
    "ts_scalar_sqrt",
    f"""{_DP},
src AS ({_src_sql('purchase')})
SELECT {_bucket(86400)} AS time, round(sqrt(avg(value_f)), 6) AS value
FROM src GROUP BY 1 ORDER BY time
""",
    shelved=True,  # rotated out r10: influxql_selector_arith + the transform gates keep the scalar surface
)
def ts_scalar_sqrt(spark, sf_dir):
    """Scalar math wrap (public InfluxQL transformation functions, r6):
    ``sqrt(mean("value"))`` — a per-bucket projection after the
    aggregate, before FILL. sqrt itself is IEEE-exact cross-engine;
    the rounding covers the engine-order-dependent mean."""
    q = f'SELECT sqrt(mean("value")) FROM "purchase" {_RANGE} GROUP BY time(1d) FILL(none)'
    return _run_tree(spark, sf_dir, q).withColumn("value", F.round("value", 6))


@register(
    "influxql_multi_from",
    f"""{_DP},
p AS ({_src_sql('purchase')}),
c AS ({_src_sql('click')}),
u AS (
  SELECT 'purchase' AS measurement, {_bucket(86400)} AS time, round(avg(value_f), 3) AS value
  FROM p GROUP BY 2
  UNION ALL
  SELECT 'click', {_bucket(86400)}, round(avg(value_f), 3) FROM c GROUP BY 2)
SELECT measurement, time, value FROM u ORDER BY measurement, time
""",
    shelved=True,  # rotated out r10: 2.10 keeps raw_sql_query + influxql_select_into
)
def influxql_multi_from(spark, sf_dir):
    """``FROM "purchase", "click"`` (public InfluxQL measurement lists,
    r6): one planned statement per listed measurement, one series each —
    the same per-measurement loop the API uses for regex FROM."""
    from dataclasses import replace as _dc_replace

    from ecollector_spark.influxql import parse_influxql

    q = (
        'SELECT mean("value") FROM "purchase", "click" '
        f"{_RANGE} GROUP BY time(1d) FILL(none)"
    )
    iq = parse_influxql(q)
    pl = _planner(spark, sf_dir)
    outs = [
        pl.plan(_dc_replace(iq.request, measurement_name=name), now=NOW).select(
            F.lit(name).alias("measurement"), "time", F.round("value", 3).alias("value")
        )
        for name in iq.measurement_list
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# r8: DST fall-back gate (VERDICT r7 #2). The testdata events span January
# 2024 only and NO tzdata zone has a January-2024 transition, so both
# engines shift ts by +307 days — landing the corpus on the US 2024-11-03
# fall-back (the repeated 01:00 wall hour) — before bucketing. The oracle
# replicates timeutil.tz_bucket_expr's key formula with the transition
# instant and both offsets precomputed via stdlib zoneinfo and injected as
# literals (no ICU calls, per the portability contract).
# ---------------------------------------------------------------------------

_FB_SHIFT_DAYS = 307
_FB_FROM = F_EPOCH + _FB_SHIFT_DAYS * 86400  # 2024-11-03T00:00:00Z
_FB_TO = _FB_FROM + 30 * 86400  # 2024-12-03T00:00:00Z


def _zone_transition(zone: str, from_epoch: int, to_epoch: int):
    """(epoch, off_before, off_after) of the single offset change in the
    range — asserted to exist and be unique (hourly scan; transitions are
    hour-aligned and regimes last months)."""
    from datetime import datetime, timezone as _tz
    from zoneinfo import ZoneInfo

    z = ZoneInfo(zone)
    hits = []
    prev = None
    for t in range(from_epoch, to_epoch + 1, 3600):
        o = int(datetime.fromtimestamp(t, tz=z).utcoffset().total_seconds())
        if prev is not None and o != prev[1]:
            hits.append((t, prev[1], o))
        prev = (t, o)
    if len(hits) != 1:
        raise AssertionError(f"expected one {zone} transition in range, got {hits}")
    return hits[0]


#: Same import-survival guard as _LA_OFF: placeholders are the expected
#: 2024-11-03 09:00Z fall-back (PDT −25200 -> PST −28800); the builder
#: raises via _require_tz_literals before the oracle is ever compared.
try:
    _FB_TR, _FB_O1, _FB_O2 = _zone_transition(_LA, _FB_FROM, _FB_TO)
    _FB_LIT_ERR = None
except Exception as _e:  # pragma: no cover - requires a skewed tzdata
    (_FB_TR, _FB_O1, _FB_O2), _FB_LIT_ERR = (1730624400, -25200, -28800), _e

from datetime import datetime as _dt, timezone as _utc  # noqa: E402

_FB_NOW = _dt(2024, 12, 31, tzinfo=_utc.utc)


@register(
    "influxql_tz_fallback_hour",
    f"""{_DP},
src AS (SELECT ts + INTERVAL {_FB_SHIFT_DAYS} DAY AS ts2, value_f FROM dp
        WHERE measurement = 'purchase'
          AND epoch(ts + INTERVAL {_FB_SHIFT_DAYS} DAY) >= {_FB_FROM}
          AND epoch(ts + INTERVAL {_FB_SHIFT_DAYS} DAY) <= {_FB_TO}),
-- tz_bucket_expr's key formula with zoneinfo-precomputed literals:
-- off(t) flips at the injected transition instant {_FB_TR}
o AS (SELECT epoch(ts2) AS e, value_f,
             CASE WHEN epoch(ts2) < {_FB_TR} THEN ({_FB_O1}) ELSE ({_FB_O2}) END AS off
      FROM src),
b AS (SELECT CAST(floor((e + off)/3600) AS BIGINT)*3600 AS wb, off, value_f FROM o),
k AS (SELECT wb - (CASE WHEN (wb - off) < {_FB_TR} THEN ({_FB_O1}) ELSE ({_FB_O2}) END) AS time,
             value_f
      FROM b)
SELECT time, CAST(round(avg(value_f) * 1000) AS BIGINT) AS value_milli
FROM k GROUP BY 1 ORDER BY 1
""",
    shelved=True,  # rotated out r10: tz family keeps influxql_tz_clause
)
def influxql_tz_fallback_hour(spark, sf_dir):
    """Hourly tz() buckets ACROSS the 2024-11-03 fall-back: the repeated
    01:00 wall hour must emit two distinct rows (08:00Z and 09:00Z
    instants) — the r7 deviation, closed by the sub-day UTC-instant key
    (timeutil.tz_bucket_expr). Events are shifted +307 days on both
    engines to land January data on the transition."""
    _require_tz_literals(_FB_LIT_ERR)
    from ecollector_spark.influxql import parse_influxql, plan_tree
    from ecollector_spark.query import QueryPlanner
    from ecollector_spark.sources.events_adapter import events_as_datapoints

    dp = events_as_datapoints(spark, sf_dir).withColumn(
        "ts", F.col("ts") + F.expr(f"INTERVAL {_FB_SHIFT_DAYS} DAYS")
    )
    q = (
        'SELECT mean("value") FROM "purchase" '
        "WHERE time >= '2024-11-03T00:00:00Z' AND time <= '2024-12-03T00:00:00Z' "
        f"GROUP BY time(1h) FILL(none) tz('{_LA}')"
    )
    iq = parse_influxql(q)
    df = plan_tree(QueryPlanner(lambda tier: dp), iq, now=_FB_NOW)
    return df.select(
        "time",
        F.round(F.col("value") * 1000).cast("long").alias("value_milli"),
    )
