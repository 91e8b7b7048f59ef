"""FILL(...) semantics for time-bucketed results (reference A16).

InfluxDB materializes empty time buckets according to FILL(null|previous|
0|none|linear) (query built at influxdb_v1.go:161-183; default null at
influxdb_v1.go:112-114, README.md:43 documents `previous`). Spark's groupBy
only yields buckets that exist, so we synthesize the bucket spine:

    sequence(from, to, step)  ->  explode  ->  cross join distinct groups
    ->  left join aggregated result  ->  fill policy

Scale notes: the spine is |buckets| x |groups| rows generated *without*
reading the fact table; the join key (bucket, group) matches the
aggregation's own grouping so AQE plans a cheap join (the aggregated side
is already small — it's post-aggregation).

`previous`/`linear` fill is *chunked*: windows partition by (group...,
coarse time chunk of ``CHUNK_BUCKETS`` buckets), so no fill ever plans an
unpartitioned WindowExec over the whole spine — a year of 1-minute
buckets without a group tag would otherwise serialize ~525k rows through
one task. Chunk boundaries are fixed up with a second window over the
per-chunk edge values (|chunks| rows, ~1000x smaller than the spine),
whose result is broadcast-joined back.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ecollector_spark.functions import quote_ident

FILL_NULL = "null"
FILL_PREVIOUS = "previous"
FILL_ZERO = "0"
FILL_NONE = "none"
FILL_LINEAR = "linear"

#: buckets per fill chunk: each window task handles at most this many rows,
#: and the boundary pass is |spine| / CHUNK_BUCKETS rows
CHUNK_BUCKETS = 1024


def bucket_spine(
    df_any: DataFrame,
    from_epoch: int,
    to_epoch: int,
    step_seconds: int,
    group_cols: Sequence[str] = (),
    groups_df: DataFrame | None = None,
    time_col: str = "time",
    offset_seconds: int = 0,
    times_df: DataFrame | None = None,
) -> DataFrame:
    """All (bucket, group...) combinations in [from_epoch, to_epoch).

    ``groups_df`` defaults to the distinct group values present in
    ``df_any`` (InfluxDB's behavior: series that exist in the range).
    ``offset_seconds`` shifts bucket alignment (GROUP BY time(i, off)).
    ``times_df`` (one ``time_col`` column) overrides the uniform sequence
    — sub-day tz() buckets need a NON-uniform UTC spine (two instants per
    wall label on DST fall-back, zero on spring-forward; see
    timeutil.tz_spine_times).
    """
    spark = df_any.sparkSession
    n_from = int(
        (from_epoch - offset_seconds) // step_seconds * step_seconds + offset_seconds
    )
    # one selectExpr parse instead of the Column-built explode(sequence)
    # chain (r13, guide §5 — same tree, ~15 fewer py4j round-trips)
    spine = times_df if times_df is not None else spark.range(
        1, numPartitions=1
    ).selectExpr(
        f"explode(sequence({n_from}L, {int(to_epoch)}L, "
        f"{int(step_seconds)}L)) AS {quote_ident(time_col)}"
    )
    if group_cols:
        if groups_df is None:
            groups_df = df_any.select(*map(quote_ident, group_cols)).distinct()
        spine = spine.crossJoin(F.broadcast(groups_df))
    return spine


def gap_fill(
    agg_df: DataFrame,
    fill_type: str,
    from_epoch: int,
    to_epoch: int,
    step_seconds: int,
    group_cols: Sequence[str] = (),
    time_col: str = "time",
    value_col: str = "value",
    offset_seconds: int = 0,
    times_df: DataFrame | None = None,
) -> DataFrame:
    """Left-join ``agg_df`` onto the full spine and apply the fill policy."""
    if fill_type in (FILL_NONE, "", None) or step_seconds <= 0:
        return agg_df
    spine = bucket_spine(
        agg_df,
        from_epoch,
        to_epoch,
        step_seconds,
        group_cols,
        time_col=time_col,
        offset_seconds=offset_seconds,
        times_df=times_df,
    )
    joined = spine.join(agg_df, on=[time_col, *group_cols], how="left")

    if fill_type == FILL_NULL:
        return joined
    if fill_type == FILL_ZERO:
        return joined.withColumn(value_col, F.coalesce(F.col(value_col), F.lit(0.0)))
    if fill_type in (FILL_PREVIOUS, FILL_LINEAR):
        # Scale-adaptive single-chunk fast path: the uniform spine's
        # bucket count is a driver-side constant (from/to/step are
        # literals), and when it fits in ONE chunk the chunked
        # machinery is provably inert — every group has exactly one
        # chunk, so the carried edges (_cprev/_cnext: values from
        # PREVIOUS/NEXT chunks) are NULL for every row and the
        # checkpoint + edge aggregate + carry window + broadcast join
        # compute nothing. Skip straight to the per-group window
        # (task-bounded by n_buckets <= CHUNK_BUCKETS); identical
        # values by construction, pinned by the chunked==unchunked
        # property test. The non-uniform tz spine (times_df) has no
        # driver-side count, so it always takes the chunked path.
        if times_df is None:
            n_from = int(
                (from_epoch - offset_seconds) // step_seconds * step_seconds
                + offset_seconds
            )
            n_buckets = (int(to_epoch) - n_from) // int(step_seconds) + 1
            if n_buckets <= CHUNK_BUCKETS:
                return _window_fill(
                    joined, fill_type, group_cols, time_col, value_col
                )
        return _chunked_fill(joined, fill_type, step_seconds, group_cols, time_col, value_col)
    raise ValueError(f"unknown fill type: {fill_type!r}")


def _window_fill(
    joined: DataFrame,
    fill_type: str,
    group_cols: Sequence[str],
    time_col: str,
    value_col: str,
) -> DataFrame:
    """previous/linear fill over one group-partitioned window — the
    single-chunk specialization of :func:`_chunked_fill` (its expressions
    with the carried chunk edges replaced by their known-NULL values).
    Only safe when the caller has bounded the per-group row count."""
    out_cols = [quote_ident(c) for c in joined.columns]
    # SQL-string window fragments (r13, guide §5): one parser call per
    # filled column instead of the Window-builder chain (~45 py4j
    # round-trips per fill build). Identical expression trees — the SQL
    # window syntax resolves to the same WindowSpec.
    part = (
        "PARTITION BY " + ", ".join(map(quote_ident, group_cols)) + " "
        if group_cols
        else ""
    )
    t, v = quote_ident(time_col), quote_ident(value_col)
    wprev = f"OVER ({part}ORDER BY {t} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    wnext = f"OVER ({part}ORDER BY {t} ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
    prev_v = f"last({v}, true) {wprev}"
    if fill_type == FILL_PREVIOUS:
        return joined.withColumn(value_col, F.expr(prev_v)).select(*out_cols)

    nn_struct = f"CASE WHEN {v} IS NOT NULL THEN struct({t}, {v}) END"
    prev_t = f"last(({nn_struct}).{t}, true) {wprev}"
    next_v = f"first({v}, true) {wnext}"
    next_t = f"first(({nn_struct}).{t}, true) {wnext}"
    interp = (
        f"{prev_v} + ({next_v} - {prev_v}) * ({t} - {prev_t}) / ({next_t} - {prev_t})"
    )
    return joined.withColumn(
        value_col,
        F.expr(
            f"CASE WHEN {v} IS NOT NULL THEN {v} "
            f"WHEN {prev_t} = {next_t} THEN {prev_v} "
            f"ELSE {interp} END"
        ),
    ).select(*out_cols)


def _chunked_fill(
    joined: DataFrame,
    fill_type: str,
    step_seconds: int,
    group_cols: Sequence[str],
    time_col: str,
    value_col: str,
) -> DataFrame:
    """previous/linear fill with (group..., chunk)-partitioned windows.

    Three stages, none of which ever sees the whole spine in one task:
    1. within-chunk window fill (partitioned by group + chunk);
    2. per-chunk edge aggregate — first/last non-null (time, value) per
       (group, chunk), |chunks| rows total;
    3. carry window over the edge table (previous chunks' last value /
       next chunks' first value), broadcast-joined back on (group, chunk).
    The carry window *is* group-partitioned only; its input is the edge
    table, bounded by |spine| / CHUNK_BUCKETS — the whole point.
    """
    span = step_seconds * CHUNK_BUCKETS
    out_cols = joined.columns
    # materialized once (lazily): the spine join feeds both the edge
    # aggregate and the fill windows — without this it would execute twice
    joined = joined.withColumn(
        "_ck", F.floor(F.col(time_col) / F.lit(span))
    ).localCheckpoint(eager=False)
    keys = [*group_cols, "_ck"]

    nn_struct = F.when(
        F.col(value_col).isNotNull(), F.struct(F.col(time_col), F.col(value_col))
    )
    # stage 2: per-chunk non-null edges (struct order = time order)
    edges = joined.groupBy(*keys).agg(
        F.max(nn_struct).alias("_last_nn"), F.min(nn_struct).alias("_first_nn")
    )
    # stage 3: carry across chunks (tiny input)
    w_ck = Window.partitionBy(*group_cols).orderBy("_ck")
    carry_prev = F.last("_last_nn", ignorenulls=True).over(
        w_ck.rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = edges.select(*keys, carry_prev.alias("_cprev"))
    if fill_type == FILL_LINEAR:
        carry_next = F.first("_first_nn", ignorenulls=True).over(
            w_ck.rowsBetween(1, Window.unboundedFollowing)
        )
        carry = edges.select(*keys, carry_prev.alias("_cprev"), carry_next.alias("_cnext"))
    joined = joined.join(F.broadcast(carry), on=keys, how="left")

    # stage 1: within-chunk windows, combined with the carried edges
    wp = Window.partitionBy(*keys).orderBy(time_col)
    wprev = wp.rowsBetween(Window.unboundedPreceding, 0)
    in_prev_v = F.last(value_col, ignorenulls=True).over(wprev)
    prev_v = F.coalesce(in_prev_v, F.col(f"_cprev.{value_col}"))

    if fill_type == FILL_PREVIOUS:
        return joined.withColumn(value_col, prev_v).select(*out_cols)

    wnext = wp.rowsBetween(0, Window.unboundedFollowing)
    in_prev_t = F.last(nn_struct[time_col], ignorenulls=True).over(wprev)
    in_next_v = F.first(value_col, ignorenulls=True).over(wnext)
    in_next_t = F.first(nn_struct[time_col], ignorenulls=True).over(wnext)
    prev_t = F.coalesce(in_prev_t, F.col(f"_cprev.{time_col}"))
    next_v = F.coalesce(in_next_v, F.col(f"_cnext.{value_col}"))
    next_t = F.coalesce(in_next_t, F.col(f"_cnext.{time_col}"))
    interp = prev_v + (next_v - prev_v) * (F.col(time_col) - prev_t) / (next_t - prev_t)
    return joined.withColumn(
        value_col,
        F.when(F.col(value_col).isNotNull(), F.col(value_col)).otherwise(
            F.when(prev_t == next_t, prev_v).otherwise(interp)
        ),
    ).select(*out_cols)
