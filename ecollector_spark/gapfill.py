"""FILL(...) semantics for time-bucketed results (reference A16).

InfluxDB materializes empty time buckets according to FILL(null|previous|
0|none|linear) (query built at influxdb_v1.go:161-183; default null at
influxdb_v1.go:112-114, README.md:43 documents `previous`). Spark's groupBy
only yields buckets that exist, so we synthesize the bucket spine from the
aggregate being filled:

    aggregate  ->  [repartition(1)]  ->  groupBy(group...):
                   map_from_entries(collect_list(struct(time, struct(values))))
    spine array (sequence(from, to, step), or the tz() instant set)
               ->  map_zip_with(spine, map): keep the spine's keys
               ->  explode  ->  one row per (bucket, group)  ->  fill policy

The spine covers the groups that have at least one aggregated row
(InfluxDB's behavior: series that exist in the range). ``groupBy`` keeps a
NULL group as its own series — no equi-join on the group can drop it. An
ungrouped fill is a global aggregate, which emits one row even on empty
input, so an empty range still comes back as an all-null spine.

Scale notes: the fact table is scanned once, by the aggregate; the spine
reads nothing. The aggregated rows go to ONE partition, and every
operator above it (the spine, the fill window, the caller's final sort)
is satisfied by that partition and plans no further exchange. When the
planner's read is already one partition (``Warehouse.read_tier`` narrows
a small tier to one, and the aggregate over it plans no exchange),
``one_partition`` says so and the spine adds nothing: the whole request
is one Spark job. Otherwise the one new exchange is a
single-partition shuffle of aggregated rows — at most what the API
collects anyway — and a request runs three jobs (the aggregate shuffle,
that shuffle, the result). The merge is ``map_zip_with``, which pairs
keys through a hash map — O(|spine| + |agg|) per group. A per-bucket
``map[time]`` lookup scans the map linearly instead (O(|spine| x |agg|):
85 s against 1.3 s for one 320k-bucket series on a 4-core box).

`previous`/`linear` fill is *chunked* past ``CHUNK_BUCKETS`` buckets:
windows partition by (group..., coarse time chunk), so no WindowExec
partition ever buffers more than ``CHUNK_BUCKETS`` rows — a year of
1-minute buckets without a group tag would otherwise be one ~525k-row
window partition. Chunk boundaries are fixed up with a second window over
the per-chunk edge values (|chunks| rows, ~1000x smaller than the spine),
whose result is broadcast-joined back null-safely on (group..., chunk).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ecollector_spark.functions import barriers, quote_ident

FILL_NULL = "null"
FILL_PREVIOUS = "previous"
FILL_ZERO = "0"
FILL_NONE = "none"
FILL_LINEAR = "linear"

#: buckets per fill chunk: each window partition holds at most this many
#: rows, and the boundary pass is |spine| / CHUNK_BUCKETS rows
CHUNK_BUCKETS = 1024


def uniform_spine(
    from_epoch: int, to_epoch: int, step_seconds: int, offset_seconds: int = 0
) -> tuple[str, int]:
    """Bucket starts in [from_epoch, to_epoch] as a SQL ``array<bigint>``
    expression, with its length. ``offset_seconds`` shifts bucket
    alignment (GROUP BY time(i, off))."""
    n_from = int(
        (from_epoch - offset_seconds) // step_seconds * step_seconds + offset_seconds
    )
    n_buckets = (int(to_epoch) - n_from) // int(step_seconds) + 1
    return f"sequence({n_from}L, {int(to_epoch)}L, {int(step_seconds)}L)", n_buckets


def bucket_spine(
    agg_df: DataFrame,
    spine_sql: str,
    group_cols: Sequence[str] = (),
    time_col: str = "time",
    one_partition: bool = False,
) -> DataFrame:
    """``agg_df`` on the full spine: one row per (spine bucket, group), with
    every other column of ``agg_df`` read from the matching aggregated row
    (NULL where the bucket is empty). ``spine_sql`` is a SQL
    ``array<bigint>`` of distinct bucket starts; aggregated rows whose time
    is not on it are dropped. ``agg_df`` must be keyed by (time, group...)
    — a duplicate key raises in ``map_from_entries``. ``one_partition``
    says ``agg_df`` is one partition already, so it is not shuffled to
    one."""
    t = quote_ident(time_col)
    keys = [quote_ident(c) for c in group_cols]
    vals = [quote_ident(c) for c in agg_df.columns if c != time_col and c not in group_cols]
    one = agg_df if one_partition else agg_df.repartition(1)
    per_group = one.groupBy(*keys).agg(
        F.expr(
            f"map_from_entries(collect_list(struct(CAST({t} AS BIGINT), "
            f"struct({', '.join(vals)}))) FILTER (WHERE {t} IS NOT NULL)) AS _m"
        )
    )
    spine_map = f"map_from_entries(transform({spine_sql}, _t -> struct(_t, true)))"
    on_spine = (
        f"map_filter(map_zip_with({spine_map}, _m, "
        f"(_k, _s, _v) -> IF(_s, named_struct('v', _v), NULL)), (_k, _e) -> _e IS NOT NULL)"
    )
    return per_group.selectExpr(*keys, f"explode({on_spine}) AS ({t}, _e)").selectExpr(
        t, *keys, *[f"_e.v.{c} AS {c}" for c in vals]
    )


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
    spine: tuple[str, int] | None = None,
    one_partition: bool = False,
) -> DataFrame:
    """Put ``agg_df`` on the full bucket spine and apply the fill policy.

    ``spine`` — ``(SQL array<bigint> expression, upper bound on its
    length)`` — overrides the uniform ``sequence(from, to, step)``: sub-day
    tz() buckets need a NON-uniform UTC spine (two instants per wall label
    on DST fall-back, zero on spring-forward; see timeutil.tz_spine_times).
    FILL(0) coalesces every non-key column; previous/linear fill
    ``value_col``. ``one_partition``: ``agg_df`` is one partition
    already (the planner read a tier narrowed to one), see
    :func:`bucket_spine`."""
    if fill_type in (FILL_NONE, "", None) or step_seconds <= 0:
        return agg_df
    spine_sql, n_buckets = spine or uniform_spine(
        from_epoch, to_epoch, step_seconds, offset_seconds
    )
    filled = bucket_spine(agg_df, spine_sql, group_cols, time_col, one_partition)

    if fill_type == FILL_NULL:
        return filled
    if fill_type == FILL_ZERO:
        keys = {time_col, *group_cols}
        cols = [quote_ident(c) for c in filled.columns]
        return filled.selectExpr(
            *[q if c in keys else f"coalesce({q}, 0D) AS {q}" for c, q in zip(filled.columns, cols)]
        )
    if fill_type in (FILL_PREVIOUS, FILL_LINEAR):
        # Scale-adaptive single-chunk fast path: the spine's bucket bound
        # is a driver-side constant, and when it fits in ONE chunk the
        # chunked machinery is provably inert — every group has exactly
        # one chunk, so the carried edges (_cprev/_cnext: values from
        # PREVIOUS/NEXT chunks) are NULL for every row and the
        # checkpoint + edge aggregate + carry window + broadcast join
        # compute nothing. Skip straight to the per-group window
        # (bounded by n_buckets <= CHUNK_BUCKETS rows per group);
        # identical values by construction, pinned by the
        # chunked==unchunked property test.
        if n_buckets <= CHUNK_BUCKETS:
            return _window_fill(filled, fill_type, group_cols, time_col, value_col)
        return _chunked_fill(filled, fill_type, step_seconds, group_cols, time_col, value_col)
    raise ValueError(f"unknown fill type: {fill_type!r}")


def _fill_expr(
    fill_type: str, t: str, v: str, wprev: str, wnext: str, cprev: str | None, cnext: str | None
) -> str:
    """The previous/linear fill of ``v`` as one SQL expression over the
    within-partition windows ``wprev``/``wnext``. ``cprev``/``cnext`` name
    the carried struct(time, value) edges of the neighbouring chunks, or
    are None when there is a single chunk (the edges are known NULL)."""
    nn_struct = f"CASE WHEN {v} IS NOT NULL THEN struct({t}, {v}) END"

    def carried(expr: str, edge: str | None, field: str) -> str:
        return f"coalesce({expr}, {edge}.{field})" if edge else expr

    prev_v = carried(f"last({v}, true) {wprev}", cprev, v)
    if fill_type == FILL_PREVIOUS:
        return prev_v
    prev_t = carried(f"last(({nn_struct}).{t}, true) {wprev}", cprev, t)
    next_v = carried(f"first({v}, true) {wnext}", cnext, v)
    next_t = carried(f"first(({nn_struct}).{t}, true) {wnext}", cnext, t)
    interp = f"{prev_v} + ({next_v} - {prev_v}) * ({t} - {prev_t}) / ({next_t} - {prev_t})"
    return (
        f"CASE WHEN {v} IS NOT NULL THEN {v} "
        f"WHEN {prev_t} = {next_t} THEN {prev_v} "
        f"ELSE {interp} END"
    )


def _windows(part_cols: Sequence[str], t: str) -> tuple[str, str]:
    """The running-to-here and here-to-end OVER clauses, ordered by ``t``."""
    part = "PARTITION BY " + ", ".join(part_cols) + " " if part_cols else ""
    return (
        f"OVER ({part}ORDER BY {t} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
        f"OVER ({part}ORDER BY {t} ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)",
    )


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
    # SQL-string window fragments (r13, guide §5): one parser call per
    # filled column instead of the Window-builder chain (~45 py4j
    # round-trips per fill build). Identical expression trees — the SQL
    # window syntax resolves to the same WindowSpec.
    t, v = quote_ident(time_col), quote_ident(value_col)
    wprev, wnext = _windows([quote_ident(c) for c in group_cols], t)
    fill = _fill_expr(fill_type, t, v, wprev, wnext, None, None)
    return joined.selectExpr(
        *[f"{fill} AS {v}" if c == value_col else quote_ident(c) for c in joined.columns]
    )


def _chunked_fill(
    joined: DataFrame,
    fill_type: str,
    step_seconds: int,
    group_cols: Sequence[str],
    time_col: str,
    value_col: str,
) -> DataFrame:
    """previous/linear fill with (group..., chunk)-partitioned windows.

    Three stages, none of which ever puts more than one chunk of one
    group in a window partition:
    1. within-chunk window fill (partitioned by group + chunk);
    2. per-chunk edge aggregate — first/last non-null (time, value) per
       (group, chunk), |chunks| rows total;
    3. carry window over the edge table (previous chunks' last value /
       next chunks' first value), broadcast-joined back on (group, chunk)
       with null-safe equality, so a NULL group keeps its carry.
    The carry window *is* group-partitioned only; its input is the edge
    table, bounded by |spine| / CHUNK_BUCKETS — the whole point.
    """
    span = step_seconds * CHUNK_BUCKETS
    out_cols = [quote_ident(c) for c in joined.columns]
    t, v = quote_ident(time_col), quote_ident(value_col)
    gk = [quote_ident(c) for c in group_cols]
    keys = [*gk, "_ck"]
    # materialized once (lazily): the spine feeds both the edge aggregate
    # and the fill windows — without this it would execute twice
    joined = barriers.materialize(joined.selectExpr(*out_cols, f"floor({t} / {span}) AS _ck"))

    nn_struct = f"CASE WHEN {v} IS NOT NULL THEN struct({t}, {v}) END"
    # stage 2: per-chunk non-null edges (struct order = time order)
    edges = joined.groupBy(*keys).agg(
        F.expr(f"max({nn_struct}) AS _last_nn"), F.expr(f"min({nn_struct}) AS _first_nn")
    )
    # stage 3: carry across chunks (tiny input); the carry's own key
    # columns are renamed so the join condition names each side plainly
    part = "PARTITION BY " + ", ".join(gk) + " " if gk else ""
    carry_cols = [f"{k} AS _j{i}" for i, k in enumerate(keys)]
    carry_cols.append(
        f"last(_last_nn, true) OVER ({part}ORDER BY _ck "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS _cprev"
    )
    if fill_type == FILL_LINEAR:
        carry_cols.append(
            f"first(_first_nn, true) OVER ({part}ORDER BY _ck "
            "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS _cnext"
        )
    carry = edges.selectExpr(*carry_cols)
    on = [F.col(k).eqNullSafe(F.col(f"_j{i}")) for i, k in enumerate(keys)]
    joined = joined.join(F.broadcast(carry), on=on, how="left")

    # stage 1: within-chunk windows, combined with the carried edges
    wprev, wnext = _windows(keys, t)
    fill = _fill_expr(
        fill_type, t, v, wprev, wnext, "_cprev", "_cnext" if fill_type == FILL_LINEAR else None
    )
    return joined.selectExpr(*[f"{fill} AS {v}" if c == v else c for c in out_cols])
