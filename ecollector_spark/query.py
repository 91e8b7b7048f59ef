"""Structured query planner — the Spark twin of the reference's
``GetDataPoints`` (reference src/integration/tsdb/storage/influxdb_v1.go:
97-200 and src/api/types.go:8-21).

The reference compiles its request struct to an InfluxQL *string* and ships
it to InfluxDB; the planner here compiles the same struct to a DataFrame
plan — Catalyst is the query engine the reference never had. Each stage is
a pure function, so tier routing, predicates, aggregation and gap-fill are
all unit-testable without I/O.

Planner pipeline (matching influxdb_v1.go step for step):
  defaults -> tier routing (tiers.choose_query_tier) -> scan chosen tier
  (partition-pruned) -> time + tag predicates (pushed to parquet) ->
  bucket/tag aggregation -> optional transform wrap (abs/difference) ->
  gap fill -> order by time.

Output schema is the reference's wire shape: ``time`` = epoch seconds
(bigint — influxdb_v1.go:191 uses precision "s"), ``value`` = double,
plus the group-by tag column when requested.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ecollector_spark import tiers
from ecollector_spark.functions.timeutil import bucketing, parse_relative_duration
from ecollector_spark.gapfill import gap_fill


@dataclass
class DataPointsFilter:
    """Tag predicates (reference storage/influxdb_v1.go:18-23).

    The reference's devices/locations/dev_types loops iterate *indices*
    (``for v := range filter.Devices``) — a bug producing ``dev_id='0'``;
    per SURVEY §2.2 F4 the intent is value-equality, so lists compile to
    ``IN`` predicates here.
    """

    tags: dict = field(default_factory=dict)
    devices: list = field(default_factory=list)
    locations: list = field(default_factory=list)
    dev_types: list = field(default_factory=list)
    #: hand-written InfluxQL surface beyond the reference's generated
    #: equality predicates (public InfluxDB docs): ``tag != 'v'`` and
    #: ``tag =~ /re/`` / ``tag !~ /re/``
    neg_tags: dict = field(default_factory=dict)
    regex_tags: dict = field(default_factory=dict)
    neg_regex_tags: dict = field(default_factory=dict)
    #: numeric FIELD predicates (``WHERE "value" > 50``): list of
    #: (op, number) with op in > >= < <= = !=; ANDed, applied to the
    #: selected field column and pushed to the scan like every filter
    field_predicates: list = field(default_factory=list)


@dataclass
class Selector:
    """One select-list entry of a multi-selector InfluxQL query
    (``SELECT mean(v) AS a, max(v), ...``). The reference struct is
    single-selector (types.go:8-21); this is the hand-written surface."""

    data_function: str
    function_param: str = ""
    alias: str = ""
    #: the selector's own field — each aggregate reads ITS field, never
    #: silently the first selector's
    field: str = "value"


@dataclass
class DataPointsRequest:
    """Mirror of GetDataPointsRequest (src/api/types.go:8-21)."""

    measurement_name: str
    field_name: str = "value"
    data_function: str = ""
    #: parameter of a parameterized aggregate — percentile N ("95"),
    #: integral unit ("1h"); "" for the reference's parameterless surface
    function_param: str = ""
    transform_function: str = ""
    #: parameter of a parameterized transform — derivative/elapsed unit
    #: ("10s"), moving_average window ("5"); "" = the InfluxQL default
    transform_param: str = ""
    relative_time: str = ""
    #: optional relative UPPER bound (hand-written InfluxQL windowed
    #: relative ranges: ``time > now()-24h AND time < now()-1h``); the
    #: reference struct has no such field, so "" keeps full parity
    relative_to_time: str = ""
    from_time: str = ""  # RFC3339
    to_time: str = ""  # RFC3339
    group_by_time: str = ""  # e.g. "30m"
    #: bucket-boundary shift (InfluxQL ``GROUP BY time(interval, offset)``,
    #: the day-alignment knob; may be negative, e.g. "-4h"); "" = aligned
    group_by_offset: str = ""
    group_by_tag: str = ""
    fill_type: str = ""
    filters: DataPointsFilter = field(default_factory=DataPointsFilter)
    #: InfluxQL ``tz('America/Los_Angeles')`` (public docs; not in the
    #: reference struct): GROUP BY time buckets align to the named
    #: zone's wall clock (DST-aware) instead of UTC epochs. "" = UTC.
    tz: str = ""


def _mangled_dir(field_name: str) -> str | None:
    """dir of a dir-mangled multi-field name (``e_import`` -> "import",
    mapping.go:48-61), None for ordinary fields. Aggregating such a
    field means aggregating the twin rows of that direction."""
    base, _, d = (field_name or "").rpartition("_")
    return d if base and d in ("import", "export") else None


#: the reference's multi-field write shape (mapping.go:48-61, mirrored
#: by transform.py's ext_point fan-out): measurement -> the dir-mangled
#: field names its points carry. This is the catalog ``fn(*)`` expands
#: against on a multi-field measurement (r11 — the star wildcard means
#: "every field", and these measurements have two); every other
#: measurement has the single canonical ``value`` field.
MANGLED_MEASUREMENT_FIELDS: dict[str, tuple[str, ...]] = {
    "electricity_meter_energy": ("e_import", "e_export"),
    "electricity_meter_energy_sampled": ("e_import", "e_export"),
    "electricity_meter_power": ("p_import", "p_export"),
}


def _field_col(field_name: str) -> str:
    """The stored column a field reads: the canonical ``value`` and
    every dir-mangled name (its twin rows' value) read ``value_f``."""
    if field_name == "value" or _mangled_dir(field_name) is not None:
        return "value_f"
    return field_name


_AGG_BUILDERS = {
    "mean": lambda v, ts: F.avg(v),
    "sum": lambda v, ts: F.sum(v),
    "min": lambda v, ts: F.min(v),
    "max": lambda v, ts: F.max(v),
    "count": lambda v, ts: F.count(v).cast("double"),
    "median": lambda v, ts: F.expr(f"percentile({v}, 0.5)"),
    # InfluxQL last() = value of the most recent point in the bucket
    "last": lambda v, ts: F.max_by(v, ts),
    "first": lambda v, ts: F.min_by(v, ts),
    # hand-written InfluxQL surface (public docs) beyond the functions the
    # reference's API generates (influxdb_v1.go:159-188):
    "stddev": lambda v, ts: F.stddev_samp(v),  # InfluxQL stddev = sample
    "spread": lambda v, ts: F.max(v) - F.min(v),
    "count_distinct": lambda v, ts: F.count_distinct(v).cast("double"),
}


def _parse_group_interval(s: str) -> int:
    """GROUP BY time interval. The reference's relative-time parser
    (mapping.go:106-122) has no seconds unit, but InfluxQL group
    intervals do — ``time(30s)`` must bucket at 30 s, not silently
    degrade to raw points."""
    import re as _re

    m = _re.fullmatch(r"(\d+)s", s.strip())
    if m:
        return int(m.group(1))
    return parse_relative_duration(s)


def _parse_signed_duration(s: str) -> int:
    """Bucket offsets may be negative (``GROUP BY time(1d, -4h)``)."""
    if s.startswith("-"):
        return -_parse_param_duration(s[1:])
    return _parse_param_duration(s)


def _parse_param_duration(s: str) -> int:
    """Duration parameter of derivative/integral/elapsed/moving windows:
    ``Ns/Nm/Nh/Nd/Nw`` -> seconds. Unlike the reference's relative-time
    format (timeutil.parse_relative_duration, mapping.go:106-122 — no
    seconds unit), InfluxQL function parameters allow ``s``."""
    import re as _re

    m = _re.fullmatch(r"(\d+)(s|m|h|d|w)", s.strip())
    if not m:
        raise ValueError(f"bad duration parameter: {s!r}")
    return int(m.group(1)) * {"s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800}[
        m.group(2)
    ]


def _percentile_builder(param: str):
    """InfluxQL ``percentile(field, N)``: nearest-rank — the sorted list's
    element at index ``floor(len*N/100 + 0.5)`` (1-based; out-of-range ->
    null), matching InfluxDB's PercentileReduceSlice. Returns an actual
    field value, never an interpolation (unlike median/percentile_cont)."""
    p = float(param)
    if not (0.0 < p <= 100.0):
        raise ValueError(f"percentile parameter out of range: {param!r}")

    def build(v, ts):
        arr = F.array_sort(F.collect_list(F.col(v).cast("double")))
        idx = F.floor(F.size(arr) * F.lit(p) / 100.0 + 0.5).cast("int")
        return F.when(
            (idx >= 1) & (idx <= F.size(arr)), F.element_at(arr, idx)
        )

    return build


def _trapezoid_expr(pts_col: str, unit_seconds: int):
    """Trapezoidal integral over a sorted array<struct<t,v>> column:
    sum of (v_i + v_{i+1})/2 * (t_{i+1} - t_i), divided by the unit.
    Expression-only (fold over adjacent pairs) — no UDF, bucket-bounded."""
    p = pts_col
    return F.expr(
        f"aggregate(zip_with(slice({p}, 1, size({p}) - 1),"
        f" slice({p}, 2, size({p}) - 1),"
        f" (a, b) -> (a.v + b.v) / 2 * CAST(b.t - a.t AS DOUBLE)),"
        f" CAST(0 AS DOUBLE), (acc, x) -> acc + x) / {unit_seconds}"
    )


#: cardinality-changing selectors (InfluxQL distinct/top/bottom): emit
#: multiple rows per bucket, so gap fill and transform wraps don't apply
_CARDINALITY_FUNCS = {"distinct", "top", "bottom"}

#: transforms computed as a window over the aggregated series (partitioned
#: by the group tags, ordered by bucket time) — the f(g(x)) surface
_WINDOW_TRANSFORMS = {
    "difference",
    "non_negative_difference",
    "derivative",
    "non_negative_derivative",
    "cumulative_sum",
    "moving_average",
    "elapsed",
}

#: per-row scalar math wraps (public InfluxQL transformation functions:
#: ``SELECT sqrt(mean("value")) ...``) — pure projections on the value
#: column, applied like abs (before FILL, so null buckets fill the
#: function's OUTPUT series, matching InfluxDB). All JVM built-ins;
#: sqrt/ceil/floor are IEEE-exact cross-engine, transcendentals are
#: correct to ~1 ulp (gates round).
_SCALAR_TRANSFORMS = {
    "abs": F.abs,
    "ceil": F.ceil,
    "floor": F.floor,
    "round": F.round,
    "sqrt": F.sqrt,
    "exp": F.exp,
    "ln": F.log,
    "log2": F.log2,
    "log10": F.log10,
    "sin": F.sin,
    "cos": F.cos,
    "tan": F.tan,
    "asin": F.asin,
    "acos": F.acos,
    "atan": F.atan,
}


def _mode_agg(df, bucket_cols, group_cols, value_col, ts_epoch):
    """InfluxQL ``mode()``: the most frequent value per bucket. Tie-break
    is fully deterministic — most frequent, then earliest first-appearance
    timestamp, then smallest value (InfluxDB breaks ties by earliest
    timestamp; the final value tie-break covers same-timestamp inputs).
    Two-stage aggregation: a (bucket, tags, value) count (map-side
    combinable, one shuffle) then a tiny per-bucket max_by over a
    lexicographic struct — never a per-bucket collect."""
    counts = df.groupBy(
        *bucket_cols, *group_cols, F.col(value_col).cast("double").alias("value")
    ).agg(F.count("*").alias("_n"), F.min(ts_epoch).alias("_ft"))
    key_cols = ([F.col("time")] if bucket_cols else []) + [F.col(c) for c in group_cols]
    return counts.groupBy(*key_cols).agg(
        F.max_by(
            "value", F.struct(F.col("_n"), (-F.col("_ft")).alias("_nt"), (-F.col("value")).alias("_nv"))
        ).alias("value")
    )


def _integral_agg(df, bucket_cols, group_cols, value_col, param: str):
    """InfluxQL ``integral(field, unit)``: trapezoidal area under the
    time-ordered curve per bucket, in units of ``unit`` (default 1s) —
    the W->Wh shape for the reference's energy domain. Points collected
    per bucket (bounded by bucket width), sorted once, folded with an
    expression-only pairwise trapezoid — no UDF."""
    unit = _parse_param_duration(param) if param else 1
    pts = F.array_sort(
        F.collect_list(
            F.struct(
                F.unix_timestamp("ts").alias("t"), F.col(value_col).cast("double").alias("v")
            )
        )
    ).alias("_pts")
    lst = df.groupBy(*bucket_cols, *group_cols).agg(pts)
    keep = ([F.col("time")] if bucket_cols else []) + [F.col(c) for c in group_cols]
    return lst.select(*keep, _trapezoid_expr("_pts", unit).alias("value"))


def _raw_window_transform(
    df,
    tf: str,
    param: str,
    tag_cols: list[str],
    ts_epoch,
    value_col: str,
    from_epoch: int,
    to_epoch: int,
    n_chunks: int = 1024,
):
    """The lag-family transforms (difference / derivative / elapsed /
    their non_negative variants) and cumulative_sum over RAW points —
    the hand-written InfluxQL ``derivative("value")`` shape with no
    GROUP BY time.

    A raw series has no bucket spine to bound a window, and a single
    unpartitioned window would funnel the whole range through one task.
    Instead the range is cut into <= ``n_chunks`` time chunks and each
    per-series window is chunk-partitioned; what crosses the boundary is
    O(1) per (series, chunk): the previous non-empty chunk's last (t, v)
    row seeds each chunk's first lag (lag family), or the per-chunk sums
    are prefix-summed into chunk offsets (cumulative_sum) — the same
    two-level decomposition as gapfill's chunked fill and
    datapipe.packing's prefix sum. The boundary frame is bounded by
    |series| x n_chunks, joined back on the window's own partition key.
    """
    span = max(1, (to_epoch - from_epoch) // n_chunks + 1)
    base = df.select(
        ts_epoch.alias("_t"), *tag_cols, F.col(value_col).cast("double").alias("_v")
    ).withColumn("_ck", F.floor((F.col("_t") - F.lit(from_epoch)) / span).cast("long"))
    w = (
        Window.partitionBy(*tag_cols, "_ck")
        .orderBy("_t", "_v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_lag = Window.partitionBy(*tag_cols, "_ck").orderBy("_t", "_v")
    w_chunks = Window.partitionBy(*tag_cols).orderBy("_ck")

    if tf == "cumulative_sum":
        sums = base.groupBy(*tag_cols, "_ck").agg(F.sum("_v").alias("_s"))
        offs = sums.select(
            *tag_cols,
            "_ck",
            (
                F.sum("_s").over(w_chunks.rowsBetween(Window.unboundedPreceding, 0))
                - F.col("_s")
            ).alias("_off"),
        )
        out = base.join(offs, [*tag_cols, "_ck"]).withColumn(
            "value", F.col("_off") + F.sum("_v").over(w)
        )
    else:
        lasts = base.groupBy(*tag_cols, "_ck").agg(
            F.max_by(
                F.struct(F.col("_t").alias("t"), F.col("_v").alias("v")),
                F.struct("_t", "_v"),
            ).alias("_last")
        )
        seeds = lasts.select(
            *tag_cols, "_ck", F.lag("_last").over(w_chunks).alias("_seed")
        )
        j = base.join(seeds, [*tag_cols, "_ck"], "left")
        lag_v = F.coalesce(F.lag("_v").over(w_lag), F.col("_seed.v"))
        lag_t = F.coalesce(F.lag("_t").over(w_lag), F.col("_seed.t"))
        if tf in ("difference", "non_negative_difference"):
            out = j.withColumn("value", F.col("_v") - lag_v)
        elif tf in ("derivative", "non_negative_derivative"):
            unit = _parse_param_duration(param) if param else 1  # raw default 1s
            # same-second raw points (dt = 0): the rate is undefined —
            # drop the row (null filters below) instead of an ANSI
            # divide-by-zero; InfluxDB can't hit this (unique timestamps
            # per series), raw telemetry can
            dt = F.col("_t") - lag_t
            out = j.withColumn(
                "value",
                F.when(dt != 0, (F.col("_v") - lag_v) / (dt / F.lit(float(unit)))),
            )
        elif tf == "elapsed":
            unit = _parse_param_duration(param) if param else 1
            out = j.withColumn(
                "value", F.floor((F.col("_t") - lag_t) / F.lit(unit)).cast("double")
            )
        else:
            raise ValueError(f"unsupported raw-series transform: {tf!r}")
        out = out.where(F.col("value").isNotNull())
        if tf.startswith("non_negative"):
            out = out.where(F.col("value") >= 0)
    return out.select(
        F.col("_t").cast("long").alias("time"),
        *tag_cols,
        F.col("value").cast("double").alias("value"),
    ).orderBy("time", *tag_cols)


def _cardinality_select(
    df,
    fn: str,
    param: str,
    bucket_key,
    group_cols,
    value_col: str,
    ts_epoch,
    from_epoch: int,
):
    """InfluxQL's cardinality-changing selectors: ``distinct()`` (the
    sorted distinct values per bucket, bucket-stamped) and
    ``top/bottom(field, N)`` (the N extreme POINTS per bucket, each
    keeping its own timestamp; ties break by earliest point — a
    deterministic rank over a bucket-partitioned window, bounded by
    bucket contents, never a global sort). ``bucket_key`` is the
    bucket start column, None with no GROUP BY time."""
    keys = [bucket_key] if bucket_key is not None else []
    if fn == "distinct":
        agg = df.groupBy(*[k.alias("time") for k in keys], *group_cols).agg(
            F.array_sort(F.collect_set(F.col(value_col).cast("double"))).alias("_vals")
        )
        if not keys:
            agg = agg.select(
                F.lit(from_epoch).cast("long").alias("time"), *group_cols, "_vals"
            )
        out = agg.select("time", *group_cols, F.explode("_vals").alias("value"))
        return out.select(
            F.col("time").cast("long").alias("time"),
            *group_cols,
            F.col("value").cast("double").alias("value"),
        ).orderBy("time", *group_cols, "value")
    n = int(param) if param else 0
    if n < 1:
        raise ValueError(f"{fn} needs an integer N >= 1: {param!r}")
    v = F.col(value_col).cast("double")
    order = [v.desc() if fn == "top" else v.asc(), ts_epoch.asc()]
    part = keys + [F.col(c) for c in group_cols]
    if part:
        w = Window.partitionBy(*part).orderBy(*order)
        sel = df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= n)
    else:
        # whole-range top-N with no partition: TakeOrdered (distributed
        # per-partition top-N + merge), never an unpartitioned window
        sel = df.orderBy(*order).limit(n)
    return sel.select(
        ts_epoch.cast("long").alias("time"),
        *group_cols,
        v.alias("value"),
    ).orderBy("time", *group_cols, "value")


def _apply_window_transform(agg, tf: str, param: str, group_cols, step: int):
    """The window-transform family over the aggregated series. All run as
    one tag-partitioned window over the already-bucketed result (bounded
    by the bucket spine — never over raw points). Rows the function is
    undefined for (the first point's lag; short moving-average prefixes;
    negative values under the non_negative variants) are dropped, matching
    InfluxQL's emission rules."""
    w = Window.partitionBy(*group_cols).orderBy("time")
    lag_v = F.lag("value").over(w)
    lag_t = F.lag("time").over(w)
    if tf == "cumulative_sum":
        return agg.withColumn(
            "value", F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
    if tf == "moving_average":
        n = int(param) if param else 0
        if n < 2:
            raise ValueError(f"moving_average window must be >= 2: {param!r}")
        out = agg.withColumn("value", F.avg("value").over(w.rowsBetween(-(n - 1), 0)))
        rn = F.row_number().over(w)
        return out.withColumn("_rn", rn).where(F.col("_rn") >= n).drop("_rn")
    if tf in ("difference", "non_negative_difference"):
        out = agg.withColumn("value", F.col("value") - lag_v)
    elif tf in ("derivative", "non_negative_derivative"):
        # default unit: the group-by interval for bucketed series (the
        # InfluxQL GROUP BY time() default), else 1s
        unit = _parse_param_duration(param) if param else (step or 1)
        out = agg.withColumn(
            "value",
            (F.col("value") - lag_v)
            / ((F.col("time") - lag_t) / F.lit(float(unit))),
        )
    elif tf == "elapsed":
        unit = _parse_param_duration(param) if param else 1
        out = agg.withColumn(
            "value", F.floor((F.col("time") - lag_t) / F.lit(unit)).cast("double")
        )
    else:  # pragma: no cover - guarded by _WINDOW_TRANSFORMS membership
        raise ValueError(f"unsupported transform_function: {tf!r}")
    out = out.where(F.col("value").isNotNull())
    if tf.startswith("non_negative"):
        out = out.where(F.col("value") >= 0)
    return out


def rfc3339_epoch(s: str) -> int:
    """Epoch seconds of an InfluxQL time literal. The one helper every
    read/write/delete boundary uses. InfluxQL treats offset-less
    literals ('2024-01-08', '2024-01-08 00:00:00') as UTC, so a naive
    parse gets UTC attached — never the host's local zone
    (``.timestamp()`` on a naive datetime would shift the boundary by
    the host's UTC offset)."""
    dt = datetime.fromisoformat(str(s).replace("Z", "+00:00"))
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp())


def split_group_tags(group_by_tag: str) -> list[str]:
    """``group_by_tag`` holds one tag (the reference struct,
    types.go:8-21) or a comma-separated list (hand-written InfluxQL
    ``GROUP BY time(1h), tag1, tag2``). One splitter everywhere so the
    planner, serializer and result-shape clauses agree."""
    return [t.strip().strip('"') for t in group_by_tag.split(",") if t.strip()]


@dataclass(frozen=True)
class Resolution:
    """Every ``now``-derived input of a plan (:meth:`QueryPlanner.resolve`).
    Two resolutions of one request that compare equal build the same
    plan: the invariant ``EcollectorApi``'s series cache keys on."""

    tier: str
    #: inclusive epoch-second row bounds (None = open)
    lo: int | None
    hi: int | None
    #: the fill spine's range, epoch seconds
    from_epoch: int
    to_epoch: int
    #: the defaulted function and fill type
    data_function: str
    fill_type: str
    #: the defaulted group interval in seconds (0 = no buckets)
    step: int


class QueryPlanner:
    """Compiles DataPointsRequest -> DataFrame.

    ``tier_reader(tier) -> DataFrame`` abstracts the warehouse: the real
    warehouse returns the tier's partition (pruned scan); tests and the
    driver's single-table datasets return one DataFrame for every tier.
    A reader accepting ``(tier, from_epoch, to_epoch)`` (e.g.
    ``Warehouse.read_tier`` over a dated layout) additionally receives
    the query's resolved time bounds so day partitions prune before the
    row-exact ``ts`` predicate applies.
    """

    def __init__(self, tier_reader, profile: str = tiers.PROFILE_OPTIMIZED):
        self.tier_reader = tier_reader
        self.profile = profile
        import inspect

        try:
            self._reader_takes_bounds = (
                len(inspect.signature(tier_reader).parameters) >= 3
            )
        except (TypeError, ValueError):
            self._reader_takes_bounds = False

    # -- planning ----------------------------------------------------------
    def resolve(self, req: DataPointsRequest, now: datetime | None = None) -> Resolution:
        """Every ``now``-derived input of the plan of ``req``: defaults,
        time range and tier. Pure (no I/O, no Spark); the frame build
        (:meth:`_frame`) reads ``now`` only through the result."""
        now = now or datetime.now(timezone.utc)
        now_epoch = int(now.timestamp())

        # defaults (influxdb_v1.go:102-114)
        group_by_time = "" if req.group_by_time == "auto" else req.group_by_time
        data_function = req.data_function
        if (req.group_by_tag or group_by_time) and not data_function:
            data_function = "mean"
        fill_type = req.fill_type or "null"

        # time range (influxdb_v1.go:119-139). A LONE absolute bound
        # (``time >= 'abs'`` with no upper, or ``time <= 'abs'`` with no
        # lower — both valid InfluxQL) is open-ended on the other side:
        # pre-r10 it silently fell into the relative branch with rel=0
        # and returned an EMPTY result.
        if req.from_time or req.to_time:
            from_epoch = rfc3339_epoch(req.from_time) if req.from_time else 0
            to_abs_epoch = rfc3339_epoch(req.to_time) if req.to_time else None
            # the fill spine needs a finite upper; open-ended ends now,
            # like the relative shape
            to_epoch = to_abs_epoch if to_abs_epoch is not None else now_epoch
            # tier routing by elapsed-to-from (influxdb_v1.go:119-139);
            # a LONE upper bound has no from — route by the upper bound
            # (the newest tier that can hold data at that time; the
            # epoch-0 alternative always lands on the oldest tier and
            # answers the common recent-history case with nothing)
            route_epoch = from_epoch if req.from_time else to_epoch
            choice = tiers.choose_query_tier(
                req.measurement_name,
                from_time_elapsed_seconds=now_epoch - route_epoch,
                profile=self.profile,
            )
        else:
            rel = parse_relative_duration(req.relative_time)
            from_epoch, to_epoch = now_epoch - rel, now_epoch
            choice = tiers.choose_query_tier(
                req.measurement_name,
                relative_time=req.relative_time,
                group_by_time=group_by_time,
                data_function=data_function,
                profile=self.profile,
            )
        # windowed relative range (time > now()-A AND time < now()-B):
        # resolved against the same `now`; exclusive upper, like InfluxQL
        rel_to_epoch = (
            now_epoch - parse_relative_duration(req.relative_to_time)
            if req.relative_to_time
            else None
        )
        if rel_to_epoch is not None:
            # the fill spine ends where the data can: the last bucket
            # starting strictly before the relative upper bound
            to_epoch = rel_to_epoch - 1

        # Inclusive epoch bounds of the row predicate (None = open). The
        # plain relative shape is `time > now()-rel` with NO upper bound
        # (influxdb_v1.go:138), so future-stamped points (clock skew,
        # replay) stay in; a windowed relative range adds the exclusive
        # `time < now()-B`, and a lone `time < now()-B` has no lower.
        lo = hi = None
        if req.from_time or req.to_time:
            lo = from_epoch if req.from_time else None
            hi = to_abs_epoch
        elif req.relative_time or rel_to_epoch is None:
            lo = from_epoch + 1
        if rel_to_epoch is not None:
            hi = rel_to_epoch - 1 if hi is None else min(hi, rel_to_epoch - 1)
        return Resolution(
            choice.tier,
            lo,
            hi,
            from_epoch,
            to_epoch,
            data_function,
            fill_type,
            _parse_group_interval(group_by_time),
        )

    def _frame(self, req: DataPointsRequest, res: Resolution):
        """Shared front half of every plan, built from the request and
        its :meth:`resolve` result: the (optionally bounds-pruned) scan
        and the time/tag predicates. Returns the filtered frame plus the
        context consumed by the aggregation stage."""
        if self._reader_takes_bounds:
            # a bounds-aware reader gets exactly the row bounds, so its
            # ts conjuncts and the planner's fold into one per side
            df = self.tier_reader(res.tier, res.lo, res.hi)
        else:
            df = self.tier_reader(res.tier)
        # a reader that narrowed its scan to one partition says so
        # (Warehouse.read_tier); gap fill then shuffles nothing to one
        one_partition = df.__dict__.get("one_partition", False)
        df = df.where(F.col("measurement") == req.measurement_name)
        # the sargable ts literal is the row-exact bound (and is pushed to the scan)
        ts_lit = lambda e: F.timestamp_seconds(F.lit(int(e)))  # noqa: E731
        if res.lo is not None:
            df = df.where(F.col("ts") >= ts_lit(res.lo))
        if res.hi is not None:
            df = df.where(F.col("ts") < ts_lit(res.hi + 1))

        # tag predicates (influxdb_v1.go:145-156; list bug fixed to IN)
        flt = req.filters
        for k, v in flt.tags.items():
            df = df.where(F.col(k) == v)
        for k, v in flt.neg_tags.items():
            # InfluxDB's != matches series where the tag exists and
            # differs; NULL (tag absent) does not match — Spark's <>
            # null-propagation already gives that semantics
            df = df.where(F.col(k) != v)
        for k, v in flt.regex_tags.items():
            df = df.where(F.col(k).rlike(v))
        for k, v in flt.neg_regex_tags.items():
            df = df.where(~F.col(k).rlike(v))
        if flt.devices:
            df = df.where(F.col("dev_id").isin(flt.devices))
        if flt.locations:
            df = df.where(F.col("location_id").isin(flt.locations))
        if flt.dev_types:
            df = df.where(F.col("dev_type").isin(flt.dev_types))
        value_col = _field_col(req.field_name or "value")
        if flt.field_predicates:
            fcol = F.col(value_col)
            ops = {
                ">": fcol.__gt__,
                ">=": fcol.__ge__,
                "<": fcol.__lt__,
                "<=": fcol.__le__,
                "=": fcol.__eq__,
                "!=": fcol.__ne__,
            }
            for op, num in flt.field_predicates:
                if op not in ops:
                    raise ValueError(f"unsupported field predicate op: {op!r}")
                df = df.where(ops[op](F.lit(float(num))))

        bucket_off = (
            _parse_signed_duration(req.group_by_offset) if req.group_by_offset else 0
        )
        return df, {
            "res": res,
            "ts_epoch": F.unix_timestamp("ts"),
            "value_col": value_col,
            "tag_cols": split_group_tags(req.group_by_tag),
            "bucket_off": bucket_off,
            "one_partition": one_partition,
            # tz('<zone>') (public InfluxQL) aligns buckets to the zone's
            # wall clock, DST-exact (timeutil.bucketing). Raw (unbucketed)
            # shapes are unaffected: tz only moves bucket boundaries, and
            # the wire format is epoch seconds either way.
            "bk": (
                bucketing(req.tz, res.step, bucket_off, res.from_epoch, res.to_epoch)
                if res.step
                else None
            ),
        }

    def plan(
        self,
        req: DataPointsRequest,
        now: datetime | None = None,
        post_agg=None,
    ) -> DataFrame:
        """``post_agg`` (optional ``DataFrame -> DataFrame`` over the
        ``value`` column) applies at the same point as the scalar
        transform wraps — after the aggregate/transform, BEFORE gap
        fill — so FILL(0)/FILL(linear) buckets carry the literal fill
        value, not the expression applied to it (InfluxDB fills the
        expression's output; ADVICE r6). The InfluxQL selector-arithmetic
        path rides this hook."""
        _post = post_agg if post_agg is not None else (lambda d: d)
        df, ctx = self._frame(req, self.resolve(req, now))
        # dir-mangled field (r9): selecting/aggregating "e_import" means
        # the import-direction twin rows of the measurement — ONE pushed
        # dir predicate, then the query is an ordinary single-field plan
        # over the canonical value column (every downstream shape —
        # aggregates, transforms, fills, tags — works unchanged)
        mangled = _mangled_dir(req.field_name)
        if mangled is not None:
            df = df.where(F.col("dir") == mangled)
        res, ts_epoch = ctx["res"], ctx["ts_epoch"]
        value_col, tag_cols = ctx["value_col"], ctx["tag_cols"]
        step, data_function = res.step, res.data_function

        # selector shapes (influxdb_v1.go:159-188). NB the reference's
        # tag-only shape selects the RAW field (series organized by tag,
        # no aggregation) even though dataFunction defaults to mean — the
        # default only applies to bucketed shapes. An *explicitly*
        # requested function with a tag (no buckets) is our extension:
        # whole-range aggregate per tag value.
        if not step and (
            not req.data_function
            or (req.data_function == "difference" and not req.transform_function)
        ):
            # raw-series shape; hand-written transforms over raw points
            # (``derivative("value")`` with no GROUP BY time) run the
            # chunk-partitioned window form. ``difference("value")``
            # without buckets is the raw adjacent difference.
            tf = req.transform_function or (
                "difference" if req.data_function == "difference" else ""
            )
            if tf == "moving_average":
                raise ValueError("moving_average requires GROUP BY time or an aggregate")
            if tf and tf not in _SCALAR_TRANSFORMS:
                return _post(
                    _raw_window_transform(
                        df,
                        tf,
                        req.transform_param,
                        tag_cols,
                        ts_epoch,
                        value_col,
                        res.from_epoch,
                        res.to_epoch,
                    )
                )
            value = F.col(value_col)
            if tf:
                value = _SCALAR_TRANSFORMS[tf](value).cast("double")
            out = df.select(ts_epoch.alias("time"), *tag_cols, value.alias("value"))
            return _post(out).orderBy("time", *tag_cols)

        if data_function == "percentile":
            agg_builder = _percentile_builder(req.function_param)
        else:
            agg_builder = _AGG_BUILDERS.get(data_function or "mean")
        if agg_builder is None and data_function not in (
            ("difference", "mode", "integral") + tuple(_CARDINALITY_FUNCS)
        ):
            raise ValueError(f"unsupported data_function: {data_function!r}")

        if data_function in _CARDINALITY_FUNCS:
            if req.transform_function:
                raise ValueError(
                    f"{data_function} emits multiple rows per bucket; transform wraps do not apply"
                )
            if req.tz:
                raise ValueError(f"tz() is not supported with {data_function}")
            return _post(_cardinality_select(
                df,
                data_function,
                req.function_param,
                ctx["bk"].key if step else None,
                tag_cols,
                value_col,
                ts_epoch,
                res.from_epoch,
            ))
        if data_function == "mode":
            def grouped(keys):
                return _mode_agg(df, keys, tag_cols, value_col, ts_epoch)
        elif data_function == "integral":
            def grouped(keys):
                return _integral_agg(df, keys, tag_cols, value_col, req.function_param)
        else:
            builder = (
                _AGG_BUILDERS["last"] if data_function == "difference" and step else agg_builder
            )

            def grouped(keys):
                return df.groupBy(*keys, *tag_cols).agg(builder(value_col, "ts").alias("value"))

        def shape(agg):
            if data_function == "difference":
                w = Window.partitionBy(*tag_cols).orderBy("time")
                agg = agg.withColumn("value", F.col("value") - F.lag("value").over(w)).where(
                    F.col("value").isNotNull()
                )
            # an aggregate that has no defined value for a bucket (stddev
            # of a single sample, percentile whose nearest-rank index
            # rounds to 0) emits NO row, like InfluxDB — FILL then re-adds
            # the bucket per the spine, so the point is absent, not
            # present-but-null
            if data_function in ("percentile", "stddev"):
                agg = agg.where(F.col("value").isNotNull())
            # transform wrap (influxdb_v1.go:184-186): f(g(field)). abs
            # and difference are the reference's own surface; the rest of
            # the window family is the hand-written InfluxQL set (public
            # docs)
            if req.transform_function in _SCALAR_TRANSFORMS:
                agg = agg.withColumn(
                    "value", _SCALAR_TRANSFORMS[req.transform_function](F.col("value"))
                )
            elif req.transform_function in _WINDOW_TRANSFORMS:
                agg = _apply_window_transform(
                    agg, req.transform_function, req.transform_param, tag_cols, step
                )
            elif req.transform_function:
                raise ValueError(f"unsupported transform_function: {req.transform_function!r}")
            return _post(agg)

        fill = req.transform_function not in _WINDOW_TRANSFORMS and data_function != "difference"
        return self._finish(grouped, ctx, ["value"], fill, shape)

    def _finish(self, grouped, ctx, names: list[str], fill: bool, shape=None) -> DataFrame:
        """Shared back half of :meth:`plan` and :meth:`plan_multi`.
        ``grouped(bucket_keys)`` aggregates the filtered frame per bucket
        key and group tag; with no GROUP BY time the one row per tag set
        is stamped with the range start, like InfluxQL. ``shape`` runs
        on the aggregate before gap fill (``fill``: spine the buckets
        per the request's fill type); the result is the wire shape
        (epoch-second ``time``, tags, double ``names``) sorted by time."""
        res, bk, tag_cols = ctx["res"], ctx["bk"], ctx["tag_cols"]
        if bk is not None:
            agg = grouped([bk.key.alias("time")])
        else:
            agg = grouped([]).select(
                F.lit(res.from_epoch).cast("long").alias("time"), *tag_cols, *names
            )
        if shape is not None:
            agg = shape(agg)
        if bk is not None and fill:
            agg = gap_fill(
                agg,
                res.fill_type,
                bk.fill_from,
                bk.fill_to,
                res.step,
                tag_cols,
                offset_seconds=ctx["bucket_off"],
                spine=bk.spine,
                one_partition=ctx["one_partition"],
            )
        time_out = bk.time_out if bk is not None else F.col("time").cast("long")
        return agg.select(
            time_out.alias("time"),
            *tag_cols,
            *[F.col(n).cast("double").alias(n) for n in names],
        ).orderBy("time", *tag_cols)

    def plan_fields(
        self,
        req: DataPointsRequest,
        fields: list[tuple[str, str]],
        now: datetime | None = None,
    ) -> DataFrame:
        """Multi-FIELD raw select (r9, VERDICT r8 missing #2): the
        reference WRITES multi-field points (transform.go:115-184 —
        ``e_import``, ``e_export``, ``p_import``... in one point, field
        names dir-mangled per mapping.go:48-61), which this engine's
        canonical one-value schema stores as dir/measurement twin rows
        (transform.py ext_point). A hand-written
        ``SELECT "e_import", "e_export" FROM "electricity_meter_energy"``
        re-assembles the original point: each field name maps to its
        ``dir`` via the ``_import``/``_export`` suffix, and ONE scan +
        ONE groupBy on the point identity (time x tag columns minus dir)
        computes every field as a conditional aggregate — no self-join,
        no two-pass pivot, no per-field re-scan at 100 TB.

        ``fields``: [(field_name, output_column)]. Raw-points shape only
        (no GROUP BY time — parser-enforced, like InfluxDB, which rejects
        bare fields under GROUP BY time). Duplicate points per
        (series, ts) collapse by max() for cross-engine determinism
        (InfluxDB is last-write-wins per point; ingest dedups upstream).
        Rows where every selected field is absent are dropped, matching
        InfluxDB's emit-if-any-field rule."""
        if req.filters.field_predicates:
            raise ValueError(
                "numeric field predicates are not supported with a "
                "multi-field select (ambiguous against the pivoted columns)"
            )
        from ecollector_spark.schema import DATAPOINT_TAG_COLUMNS

        mapped: list[tuple[str, str]] = []  # (output name, dir)
        seen = set()
        for fld, alias in fields:
            base, _, d = fld.rpartition("_")
            if not base or d not in ("import", "export"):
                raise ValueError(
                    f"field {fld!r} does not map to a dir-mangled twin row "
                    "(expected <name>_import / <name>_export, the reference's "
                    "multi-field write shape)"
                )
            name = alias or fld
            if name in seen:
                raise ValueError(f"duplicate output column {name!r}")
            seen.add(name)
            mapped.append((name, d))
        df, ctx = self._frame(req, self.resolve(req, now))
        ts_epoch = ctx["ts_epoch"]
        value_col = "value_f"
        df = df.where(F.col("dir").isin(sorted({d for _, d in mapped})))
        keys = [c for c in DATAPOINT_TAG_COLUMNS if c != "dir" and c in df.columns]
        aggs = [
            F.max(F.when(F.col("dir") == d, F.col(value_col))).alias(name)
            for name, d in mapped
        ]
        out = df.groupBy(ts_epoch.alias("time"), *keys).agg(*aggs)
        names = [n for n, _ in mapped]
        return (
            out.where(F.coalesce(*[F.col(n) for n in names]).isNotNull())
            .select("time", *names)
            .orderBy("time", *names)
        )

    def plan_star(
        self,
        req: DataPointsRequest,
        now: datetime | None = None,
        fields_only: bool = False,
    ) -> DataFrame:
        """``SELECT *`` (public InfluxQL — the first query every
        migrating user types): raw points with EVERY tag column and the
        value. On the canonical one-field schema the star expands to
        tags + ``value``; a dir-mangled multi-field measurement shows
        its twin rows with the ``dir`` tag visible (select the mangled
        names to re-assemble the point instead —
        :meth:`plan_fields`). Raw-points shape only, like bare fields
        (parser-enforced: no GROUP BY time, no fill); tag and time
        predicates, ORDER/LIMIT ride the normal result clauses.
        ``GROUP BY <tag>/*`` (r10) changes nothing HERE — the tag
        columns stay in the frame and the Series serializer moves the
        grouped ones into the series key, which is InfluxDB's
        ``SELECT * ... GROUP BY *`` wire shape. ``fields_only`` is the
        ``*::field`` narrowing (r10): time + value, no tag columns.
        One pruned scan, a projection, and the result sort — nothing
        else."""
        from ecollector_spark.schema import DATAPOINT_TAG_COLUMNS

        df, ctx = self._frame(req, self.resolve(req, now))
        keys = (
            []
            if fields_only
            else [c for c in DATAPOINT_TAG_COLUMNS if c in df.columns]
        )
        return df.select(
            ctx["ts_epoch"].alias("time"),
            *keys,
            F.col("value_f").alias("value"),
        ).orderBy("time", *keys, "value")

    def plan_multi(
        self,
        req: DataPointsRequest,
        selectors: list["Selector"],
        now: datetime | None = None,
    ) -> DataFrame:
        """Multi-selector query (hand-written InfluxQL
        ``SELECT mean(v), max(v), ... FROM m``): ONE scan and ONE
        bucketed groupBy computing every aggregate side by side — never
        a per-selector re-plan. Output columns are named InfluxDB-style
        (alias, else the function name, ``_1``/``_2``-suffixed on
        repeats). Single-stage aggregates only (incl. percentile);
        two-stage shapes (difference/mode/integral) and transforms stay
        single-selector. FILL(null) and FILL(0) go through ``gap_fill``;
        the parser rejects previous/linear for multi-select."""
        from dataclasses import replace as _dc_replace

        # Tier routing upgrades to a coarser pre-aggregated tier only for
        # mean (tiers.choose_query_tier — identical answer on stored
        # means). That holds for a multi-select ONLY if every selector is
        # mean; any count/max/... must read the native tier, so the
        # request handed to routing carries a non-upgrading function.
        if not all(s.data_function == "mean" for s in selectors):
            req = _dc_replace(req, data_function="last")
        df, ctx = self._frame(req, self.resolve(req, now))

        # dir-mangled selector fields (r9): mean("e_import"),
        # mean("e_export") side by side — each aggregates ITS direction's
        # twin rows via a projected conditional column (nulls are ignored
        # by every aggregate here), still ONE scan + ONE groupBy; when
        # every selector is mangled the dir set is pushed to the scan
        sel_dirs = [_mangled_dir(s.field or "value") for s in selectors]
        if all(d is not None for d in sel_dirs):
            df = df.where(F.col("dir").isin(sorted(set(sel_dirs))))
        proj: dict[str, object] = {}

        names: list[str] = []
        aggs = []
        for sel in selectors:
            fn = sel.data_function
            if fn == "percentile":
                builder = _percentile_builder(sel.function_param)
            else:
                builder = _AGG_BUILDERS.get(fn)
            if builder is None:
                raise ValueError(
                    f"multi-select supports single-stage aggregates only: {fn!r}"
                )
            # each selector aggregates ITS OWN field column
            fld = sel.field or "value"
            d = _mangled_dir(fld)
            if d is not None:
                sel_col = f"_f_{fld}"
                proj[sel_col] = F.when(F.col("dir") == d, F.col("value_f"))
            else:
                sel_col = _field_col(fld)
            base = sel.alias or fn
            name = base
            i = 0
            while name in names:
                i += 1
                name = f"{base}_{i}"
            names.append(name)
            aggs.append(builder(sel_col, "ts").alias(name))
        if proj:
            df = df.withColumns(proj)

        # FILL(null) is InfluxQL's default and must not silently change
        # when a second selector is added: every column rides the spine;
        # FILL(0) coalesces each. previous/linear stay rejected by the
        # parser for multi-select.
        return self._finish(
            lambda keys: df.groupBy(*keys, *ctx["tag_cols"]).agg(*aggs),
            ctx,
            names,
            ctx["res"].fill_type in ("null", "0"),
        )
