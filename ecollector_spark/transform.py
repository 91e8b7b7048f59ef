"""DefaultTransform — FIMP events -> canonical datapoints (reference
T1-T12, src/integration/tsdb/transform.go:26-351, the biggest operator in
the reference).

The reference walks each event imperatively and emits 0..N InfluxDB
points. Here the whole dispatch — service branch, typed value extraction,
unit normalization, guards, 1->N fan-out — is ONE declarative expression:
each possible emitted point is a `when(cond, struct)` candidate in an
array column, which is compacted and exploded. One scan of the input, no
Python in the loop, fully codegen'd; fan-out via `explode` parallelizes
with the data (the Spark-native shape of the reference's
"transform returns []*DataPoint").

Faithfully ported semantics (each cites transform.go):
- measurement naming serv+"."+type with meter overrides (T1/T6; 63-83)
- kW -> W x1000, unit field keeps the reported unit (T5; 54-58)
- power guard: >30 kW drops the WHOLE event, all its points (F3; 60-62,
  199-201, 226-228 return error)
- energy report fan-out: energy + energy_sampled/difference twin (T7;
  69-78); chargepoint session -> sampled/sum + generic point (90-113)
- meter_ext float_map -> up to 4 points with dir import/export (T8;
  115-243), no generic point (fields=nil, 240)
- thermostat str_map temp parse (T10; 245-269)
- price_forecast object array -> one point per element, event time =
  startsAt, dir=export quirk preserved (T9; 270-297)
- val_t dispatch incl. null->0, object->"object", ""->error (T4; 299-336)
- series-id synthesis, including the reference's double-prefix quirk for
  meter measurements (the generic point prepends measurement to an
  already-prefixed series id, 64-67 + 345; preserved bit-for-bit) (T12)
- src carried as a field, not a tag (39-40)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ecollector_spark.functions import barriers

MAX_ALLOWED_POWER = 30000.0  # transform.go:22

M_POWER = "electricity_meter_power"
M_ENERGY = "electricity_meter_energy"
M_ENERGY_SAMPLED = "electricity_meter_energy_sampled"
M_PRICE = "electricity_price_info"

_METER_SERVICES = ("meter_elec", "sensor_power", "chargepoint")

_PRICE_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("level", T.StringType()),
            T.StructField("total", T.DoubleType()),
            T.StructField("energy", T.DoubleType()),
            T.StructField("tax", T.DoubleType()),
            T.StructField("currency", T.StringType()),
            T.StructField("startsAt", T.StringType()),
        ]
    )
)

_POINT_FIELDS = (
    "measurement string, ts timestamp, series_id string, dir string, "
    "value_f double, value_b boolean, value_s string, unit string, agg_func string"
)
_POINT_ARRAY_DDL = "array<struct<" + _POINT_FIELDS.replace(", ", ",").replace(" ", ":") + ">>"


def _pt(measurement, ts, series_id, dir_, value_f, value_b, value_s, unit, agg_func) -> Column:
    return F.struct(
        measurement.alias("measurement"),
        ts.alias("ts"),
        series_id.alias("series_id"),
        dir_.alias("dir"),
        value_f.cast("double").alias("value_f"),
        value_b.cast("boolean").alias("value_b"),
        value_s.cast("string").alias("value_s"),
        unit.alias("unit"),
        agg_func.alias("agg_func"),
    )


#: prepared expression fragments, cached per live SparkContext (r12
#: optimization, guide §5 — the driver should do almost no work): the
#: transform's Column forest is schema-static (every expression is built
#: from fixed column names), but rebuilding it cost ~1,600 py4j
#: round-trips per call. Standard prepared-statement practice: the
#: UNRESOLVED expression objects are reused; nothing data-dependent is
#: cached — every invocation still analyzes, optimizes and executes its
#: own plan on the JVM. Keyed weakly on the SparkContext object so a
#: restarted context (dead gateway -> dead JVM expression handles) can
#: never serve stale fragments.
import weakref

_PREPARED: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def default_transform(events: DataFrame) -> DataFrame:
    """events (FIMP schema + enrichment cols dev_id/location_id/dev_type/
    domain, ts) -> canonical datapoints.

    Expects columns: topic, type, serv, val_t, val, props, src, ts,
    dev_id, location_id, dev_type, domain. Emits the canonical datapoint
    columns (FIXTURES.md §3) minus tier (stamped by the writer).
    """
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        fragments = _build_exprs()
    else:
        fragments = _PREPARED.get(sc)
        if fragments is None:
            fragments = _PREPARED[sc] = _build_exprs()
    parse_gen, unpack_cols, err_col, row_filter, explode_col, final_cols = fragments
    # Parse the polymorphic payload ONCE per row, through a one-element
    # explode (Generate barrier — see _build_exprs); then the error
    # verdict, the row filter + point fan-out, and the canonical
    # projection.
    # "*" instead of *df.columns: star-expansion resolves to the same
    # explicit column list at analysis, without re-converting every name
    # string through py4j per layer (~80 round-trips saved per build)
    e = events.select("*", parse_gen)
    e = e.select("*", *unpack_cols).drop("_parsed")
    e = e.select("*", err_col)
    combined = e.where(row_filter).select("*", explode_col)
    return combined.select(*final_cols)


def _build_exprs():
    """Build the transform's expression fragments: the payload-parse
    projection, the event-error verdict, the row filter, the point
    fan-out generator and the canonical output projection. Pure
    expression construction over fixed column names — see
    default_transform for how they are applied (and cached)."""
    _NS = F.lit(None).cast("string")
    _NF = F.lit(None).cast("double")
    _NB = F.lit(None).cast("boolean")
    serv, typ, val_t = F.col("serv"), F.col("type"), F.col("val_t")
    ts = F.col("ts")
    unit_prop = F.col("props").getItem("unit")
    # Parse the polymorphic payload ONCE per row, in its own projection:
    # the parsed values are referenced by a dozen branch conditions below,
    # and inlining from_json into each reference would re-parse the JSON
    # per branch per row (CollapseProject only inlines cheap aliases, so
    # the materialized columns survive optimization).
    # ...and only for rows whose branch consumes that parse: the float_map
    # is meter_ext-only, the str_map thermostat-only, the price array
    # price-service-only (val_t discriminates too, so mismatched payloads
    # for other branches can't slip through a dropped guard).
    # Measured alternatives at sf0.1 (median of 5, local[32]) before
    # keeping this shape: ungated triple parse 6.0 s vs 3.96 s e2e for
    # the gated one; a single unified parse via try_parse_json +
    # try_variant_get lost too (1.52 s vs 1.36 s for the parse
    # projection alone) — the when-gates skip whole-shape parses for the
    # ~5/6 of rows whose branch never reads them, which a single union
    # parse cannot.
    _serv, _typ, _vt = F.col("serv"), F.col("type"), F.col("val_t")
    _need_fmap = (_vt == "float_map") | (_serv.isin(*_METER_SERVICES) & (_typ == "evt.meter_ext.report"))
    _need_smap = (_vt == "str_map") | (_serv == "thermostat")
    _need_prices = (_vt == "object") & (_serv == "price_info_elec")
    parse_cols = [
        F.col("val").try_cast("double").alias("_fval"),
        F.when(_need_fmap, F.from_json("val", "map<string,double>")).alias("_fmap"),
        F.when(_need_smap, F.from_json("val", "map<string,string>")).alias("_smap"),
        F.when(_need_prices, F.from_json("val", _PRICE_SCHEMA)).alias("_prices"),
    ]
    # ...and behind a fence (functions.barriers): the row filter below
    # references the error verdict, which references these parses, so
    # without it the physical Filter re-derived try_cast 6x and
    # from_json 4x per row (and the fan-out projection parsed again for
    # the survivors). Behind the fence the parse runs exactly once and
    # the filter lands directly above it, on the cheap extracted fields.
    parse_gen = barriers.fence(F.struct(*parse_cols)).alias("_parsed")
    unpack_cols = [
        F.col("_parsed._fval").alias("_fval"),
        F.col("_parsed._fmap").alias("_fmap"),
        F.col("_parsed._smap").alias("_smap"),
        F.col("_parsed._prices").alias("_prices"),
    ]
    fval = F.col("_fval")
    fmap = F.col("_fmap")
    smap = F.col("_smap")
    prices = F.col("_prices")

    # series base: dev_id tag (set to "" when metadata missing —
    # transform.go:30-35; the topic fallback is unreachable because
    # getDefaultTags always sets the key)
    base = F.coalesce(F.col("dev_id"), F.lit(""))

    is_meter_srv = serv.isin(*_METER_SERVICES)
    is_meter_report = is_meter_srv & typ.isin("evt.meter.report", "evt.sensor.report")
    is_session = is_meter_srv & (typ == "evt.current_session.report")
    is_meter_ext = is_meter_srv & (typ == "evt.meter_ext.report")
    is_thermostat = (serv == "thermostat") & typ.isin("cmd.setpoint.set", "cmd.setpoint.report")
    is_price_srv = serv == "price_info_elec"
    is_price = is_price_srv & (typ == "evt.price_forecast.report")

    # ---- branch (a): meter/sensor float report (transform.go:46-88) ----
    w_val = F.when(unit_prop == "kW", fval * 1000).otherwise(fval)
    rep_power = is_meter_report & fval.isNotNull() & unit_prop.isin("W", "kW")
    rep_energy = is_meter_report & fval.isNotNull() & (unit_prop == "kWh")

    power_series = F.concat(F.lit(M_POWER + ";"), base, F.lit(";import"))
    energy_series = F.concat(F.lit(M_ENERGY + ";"), base, F.lit(";import"))
    session_series = F.concat(F.lit(M_ENERGY_SAMPLED + ";"), base, F.lit(";import"))

    # event-level errors drop every point of the event (return nil, err)
    err_power_guard = rep_power & (w_val > MAX_ALLOWED_POWER)
    err_bad_unit = (
        is_meter_report & fval.isNotNull() & ~unit_prop.isin("W", "kW", "kWh")
    ) | (is_meter_report & fval.isNull())
    pimp = fmap.getItem("p_import")
    pexp = fmap.getItem("p_export")
    err_ext_guard = is_meter_ext & (
        (pimp > MAX_ALLOWED_POWER) | (pexp > MAX_ALLOWED_POWER)
    )
    therm_temp = smap.getItem("temp").try_cast("double")
    err_thermostat = is_thermostat & (smap.isNull() | therm_temp.isNull())
    err_no_valtype = val_t == ""
    # coalesce: missing map keys make comparisons NULL (3-valued logic);
    # an unknown verdict must read "no error" or ~event_error drops the row
    event_error = F.coalesce(
        err_power_guard | err_bad_unit | err_ext_guard | err_thermostat | err_no_valtype,
        F.lit(False),
    )
    # materialized: referenced by the row filter and every generic
    # candidate — one evaluation instead of seven
    err_col = event_error.alias("_event_error")
    event_error = F.col("_event_error")

    # generic trailing point applies unless a branch set _skip_/fields=nil
    skip_generic = (
        (is_meter_report & fval.isNotNull())
        | is_session
        | is_meter_ext
        | is_thermostat
        | is_price_srv  # price service skips generic for ALL its types (transform.go:298)
    )

    # power point (generic emission path with overridden measurement)
    p_power = F.when(
        rep_power,
        _pt(
            F.lit(M_POWER),
            ts,
            F.concat(F.lit(M_POWER + ";"), power_series),  # double-prefix quirk
            F.lit("import"),
            w_val,
            _NB,
            _NS,
            unit_prop,
            F.lit("mean"),
        ),
    )
    # energy: generic point + sampled/difference twin (transform.go:65-79)
    p_energy = F.when(
        rep_energy,
        _pt(
            F.lit(M_ENERGY),
            ts,
            F.concat(F.lit(M_ENERGY + ";"), energy_series),
            F.lit("import"),
            fval,
            _NB,
            _NS,
            unit_prop,
            F.lit("mean"),
        ),
    )
    p_energy_sampled = F.when(
        rep_energy,
        _pt(
            F.lit(M_ENERGY_SAMPLED),
            ts,
            energy_series,  # reuses the energy series id (transform.go:67,73)
            F.lit("import"),
            fval,
            _NB,
            _NS,
            unit_prop,
            F.lit("difference"),
        ),
    )
    # chargepoint session (transform.go:90-113): sampled/sum + generic
    p_session = F.when(
        is_session & fval.isNotNull(),
        _pt(
            F.lit(M_ENERGY_SAMPLED),
            ts,
            session_series,
            F.lit("import"),
            fval,
            _NB,
            _NS,
            F.lit("kWh"),
            F.lit("sum"),
        ),
    )
    p_session_generic = F.when(
        is_session & fval.isNotNull(),
        _pt(
            F.concat_ws(".", serv, typ),
            ts,
            F.concat(F.concat_ws(".", serv, typ), F.lit(";"), session_series),
            F.lit("import"),
            fval,
            _NB,
            _NS,
            F.lit("kWh"),
            F.lit("mean"),
        ),
    )

    # ---- meter_ext float_map fan-out (transform.go:115-243) ----
    def ext_point(key, meas, dir_, unit, aggf, series_meas):
        v = fmap.getItem(key)
        return F.when(
            is_meter_ext & v.isNotNull(),
            _pt(
                F.lit(meas),
                ts,
                F.concat(F.lit(series_meas + ";"), base, F.lit(";" + dir_)),
                F.lit(dir_),
                v,
                _NB,
                _NS,
                F.lit(unit),
                F.lit(aggf),
            ),
        )

    p_ext = [
        ext_point("e_import", M_ENERGY, "import", "kWh", "last", M_ENERGY),
        ext_point("e_import", M_ENERGY_SAMPLED, "import", "kWh", "difference", M_ENERGY_SAMPLED),
        ext_point("e_export", M_ENERGY, "export", "kWh", "last", M_ENERGY),
        ext_point("e_export", M_ENERGY_SAMPLED, "export", "kWh", "difference", M_ENERGY_SAMPLED),
        ext_point("p_import", M_POWER, "import", "W", "mean", M_POWER),
        ext_point("p_export", M_POWER, "export", "W", "mean", M_POWER),
    ]

    # ---- thermostat setpoint (transform.go:245-269) ----
    p_thermostat = F.when(
        is_thermostat & therm_temp.isNotNull(),
        _pt(
            F.concat_ws(".", serv, typ),
            ts,
            F.concat(F.concat_ws(".", serv, typ), F.lit(";"), base),
            _NS,
            therm_temp,
            _NB,
            F.coalesce(smap.getItem("type"), F.lit("heat")),
            F.coalesce(smap.getItem("unit"), F.lit("C")),
            F.lit("mean"),
        ),
    )

    # ---- generic val_t dispatch (transform.go:299-336) ----
    generic_ok = ~skip_generic & ~event_error
    gm = F.concat_ws(".", serv, typ)
    gseries = F.concat(gm, F.lit(";"), base)

    # one candidate slot for all six val_t cases (they're mutually
    # exclusive per event, so a single struct with per-field dispatch
    # emits the same row at a third of the expression count)
    g_cond = (
        ((val_t == "float") & fval.isNotNull())
        | ((val_t == "int") & fval.isNotNull())
        | val_t.isin("bool", "string", "null", "object")
    )
    g_vf = (
        F.when(val_t.isin("float", "int"), fval)
        .when(val_t == "null", F.lit(0.0))
        .otherwise(_NF)
    )
    g_vb = F.when(val_t == "bool", F.col("val").try_cast("boolean")).otherwise(_NB)
    g_vs = (
        F.when(val_t == "string", F.regexp_replace("val", r'^"|"$', ""))
        .when(val_t == "object", F.lit("object"))
        .otherwise(_NS)
    )
    g_unit = F.when(val_t == "float", unit_prop).otherwise(_NS)
    p_generic = [
        F.when(
            generic_ok & g_cond,
            _pt(gm, ts, gseries, _NS, g_vf, g_vb, g_vs, g_unit, F.lit("mean")),
        )
    ]

    # ---- price forecast explode (transform.go:270-297) ----
    # each array element becomes a point with its own event time; emitted
    # from the SAME scan as every other branch by mapping the parsed array
    # to point-structs with F.transform and concatenating onto the
    # candidate array (a separate select + union would execute the whole
    # adapter/parse subtree twice)
    price_arr = F.when(
        is_price & prices.isNotNull(),
        F.transform(
            prices,
            lambda p: _pt(
                F.lit(M_PRICE),
                F.to_timestamp(p["startsAt"]),
                F.concat(F.lit(M_PRICE + ";"), base),
                F.lit("export"),  # dir=export quirk (transform.go:278)
                p["total"],
                _NB,
                p["level"],
                p["currency"],
                F.lit("mean"),
            ),
        ),
    )
    _empty_pts = F.array().cast(_POINT_ARRAY_DDL)

    candidates = [
        p_power,
        p_energy,
        p_energy_sampled,
        p_session,
        p_session_generic,
        *p_ext,
        p_thermostat,
        *p_generic,
    ]
    all_points = F.concat(
        F.array_compact(F.array(*candidates)), F.coalesce(price_arr, _empty_pts)
    )
    # The candidate array is deliberately INLINE in the generator:
    # staging it as its own projection (select(..., all_points.alias)
    # then explode the column) was measured 2× SLOWER at 1M rows
    # (43–47 s vs 21.9 s) even though it puts Generate back into
    # whole-stage codegen — the staged Project must materialize every
    # 16-field candidate struct into UnsafeRow format per input row,
    # and that copy dwarfs what interpreted-vs-codegen evaluation of
    # the when-array saves. Don't re-try.
    row_filter = (serv != "ecollector") & ~event_error  # F2 + error drop
    explode_col = F.explode(all_points).alias("_point")
    final_cols = [
        F.col("_point.measurement").alias("measurement"),
        F.col("_point.ts").alias("ts"),
        F.col("_point.series_id").alias("series_id"),
        F.col("dev_id"),
        F.col("dev_type"),
        F.col("_point.dir").alias("dir"),
        F.col("location_id"),
        serv.alias("service"),
        F.col("src"),
        F.col("topic"),
        F.col("domain"),
        F.col("_point.value_f").alias("value_f"),
        F.col("_point.value_b").alias("value_b"),
        F.col("_point.value_s").alias("value_s"),
        F.col("_point.unit").alias("unit"),
        F.col("_point.agg_func").alias("agg_func"),
    ]
    return parse_gen, unpack_cols, err_col, row_filter, explode_col, final_cols
