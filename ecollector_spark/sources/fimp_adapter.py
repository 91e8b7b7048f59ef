"""Adapter: driver ``events`` -> FIMP-shaped event stream covering every
DefaultTransform branch (FIXTURES.md §1 event-shape cases 1-9).

Deterministic mapping keyed on (event_type, user_id):
- purchase            -> meter_elec evt.meter.report, float, unit W/kW
- click, uid%3 != 0   -> meter_elec evt.meter.report, float, unit kWh
- click, uid%3 == 0   -> chargepoint evt.current_session.report, float
- signup              -> thermostat cmd.setpoint.set, str_map
- error, uid%5 != 0   -> meter_elec evt.meter_ext.report, float_map
- error, uid%5 == 0   -> price_info_elec evt.price_forecast.report, object
- view, uid%7 == 0    -> ecollector self-traffic (must be dropped)
- view otherwise      -> sensor_temp evt.sensor.report with val_t cycling
                         float/bool/string/null by uid%4

Every generated value is an exact double expression both engines compute
identically (see the oracle in driver_queries.core), so the end-to-end
transform is value-hash checkable.

The synthesis is ONE ``F.expr`` SQL expression (r12 optimization, guide
§5 "the driver should do almost no work"): the Column-builder version of
this mapping cost ~250 Column API invocations ≈ 2,000 py4j round-trips
per construction — the single heaviest driver-side build in the bench,
and proportionally worse whenever the gateway's per-call latency spikes
(measured 0.3–2.3 ms/call on this box). One SQL string is a handful of
round-trips; the analyzer produces the same expression tree, and the
oracle pins the values at both SFs. This module is the synthetic input
adapter, not the semantic port — transform.py keeps the typed builder
API with its per-branch reference citations.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecollector_spark.functions import barriers
from ecollector_spark.session import spread_small_scan
from ecollector_spark.sources.events_adapter import read_events

# -- expression pieces (composed into _FIMP_ROW_SQL below) -------------------

_SERV = """CASE WHEN event_type = 'purchase' THEN 'meter_elec'
  WHEN event_type = 'click' THEN CASE WHEN user_id % 3 = 0 THEN 'chargepoint' ELSE 'meter_elec' END
  WHEN event_type = 'signup' THEN 'thermostat'
  WHEN event_type = 'error' THEN CASE WHEN user_id % 5 = 0 THEN 'price_info_elec' ELSE 'meter_elec' END
  ELSE CASE WHEN user_id % 7 = 0 THEN 'ecollector' ELSE 'sensor_temp' END END"""

_TYP = """CASE WHEN event_type = 'purchase' THEN 'evt.meter.report'
  WHEN event_type = 'click' THEN CASE WHEN user_id % 3 = 0 THEN 'evt.current_session.report' ELSE 'evt.meter.report' END
  WHEN event_type = 'signup' THEN 'cmd.setpoint.set'
  WHEN event_type = 'error' THEN CASE WHEN user_id % 5 = 0 THEN 'evt.price_forecast.report' ELSE 'evt.meter_ext.report' END
  ELSE 'evt.sensor.report' END"""

_VAL_T = """CASE WHEN event_type IN ('purchase', 'click') THEN 'float'
  WHEN event_type = 'signup' THEN 'str_map'
  WHEN event_type = 'error' THEN CASE WHEN user_id % 5 = 0 THEN 'object' ELSE 'float_map' END
  ELSE CASE WHEN user_id % 4 = 0 THEN 'float' WHEN user_id % 4 = 1 THEN 'bool'
            WHEN user_id % 4 = 2 THEN 'string' ELSE 'null' END END"""

_HOUR1 = """date_format(date_trunc('hour', ts) + INTERVAL 1 HOUR, "yyyy-MM-dd'T'HH:mm:ss'Z'")"""
_HOUR2 = """date_format(date_trunc('hour', ts) + INTERVAL 2 HOURS, "yyyy-MM-dd'T'HH:mm:ss'Z'")"""
_LEVEL = "CASE WHEN value > 100 THEN 'HIGH' ELSE 'LOW' END"

# price forecast body (error, uid%5 == 0): two hourly points at v/100, v/50
_PRICE_JSON = (
    "concat('[{\"level\":\"', " + _LEVEL + ", '\",\"total\":',"
    " CAST(value / 100 AS STRING),"
    " ',\"energy\":0.0,\"tax\":0.0,\"currency\":\"NOK\",\"startsAt\":\"', " + _HOUR1 + ","
    " '\"},{\"level\":\"', " + _LEVEL + ", '\",\"total\":',"
    " CAST(value / 50 AS STRING),"
    " ',\"energy\":0.0,\"tax\":0.0,\"currency\":\"NOK\",\"startsAt\":\"', " + _HOUR2 + ","
    " '\"}]')"
)

# meter_ext body (error, uid%5 != 0): e_import always, e_export for even uids
_EXT_JSON = (
    "concat('{\"e_import\":', CAST(value AS STRING),"
    " CASE WHEN user_id % 2 = 0 THEN concat(',\"e_export\":', CAST(value / 2 AS STRING)) ELSE '' END,"
    " ',\"p_import\":', CAST(value * 200 AS STRING), '}')"
)

_SIGNUP_JSON = (
    "concat('{\"temp\":\"', CAST(value AS STRING), '\",\"unit\":\"C\",\"type\":\"heat\"}')"
)

_VAL = (
    "CASE WHEN event_type = 'purchase' THEN"
    " CASE WHEN user_id % 2 = 0 THEN CAST(value * 50 AS STRING) ELSE CAST(value AS STRING) END\n"
    "  WHEN event_type = 'click' THEN CAST(value AS STRING)\n"
    "  WHEN event_type = 'signup' THEN " + _SIGNUP_JSON + "\n"
    "  WHEN event_type = 'error' THEN CASE WHEN user_id % 5 = 0 THEN " + _PRICE_JSON
    + " ELSE " + _EXT_JSON + " END\n"
    "  ELSE CASE WHEN user_id % 4 = 0 THEN CAST(value AS STRING)\n"
    "    WHEN user_id % 4 = 1 THEN CASE WHEN value > 50 THEN 'true' ELSE 'false' END\n"
    "    WHEN user_id % 4 = 2 THEN concat('\"lvl_', CAST(CAST(floor(value) AS BIGINT) AS STRING), '\"')\n"
    "    ELSE 'null' END END"
)

_UNIT = """CASE WHEN event_type = 'purchase' THEN CASE WHEN user_id % 2 = 0 THEN 'W' ELSE 'kW' END
  WHEN event_type = 'click' AND user_id % 3 != 0 THEN 'kWh'
  WHEN event_type = 'view' AND user_id % 4 = 0 THEN 'C' END"""

_PROPS = (
    "CASE WHEN (" + _UNIT + ") IS NOT NULL THEN map('unit', " + _UNIT + ")"
    " ELSE CAST(map() AS MAP<STRING, STRING>) END"
)

# The row struct goes behind a fence (functions.barriers). Without it,
# Catalyst pushes the transform's row filters (self-traffic, 30 kW
# guard, val_t validity) BELOW the spread exchange — re-deriving the
# full JSON-synthesis CASE trees per row on the (single) scan task.
# Behind the fence the synthesis is evaluated exactly once, after the
# exchange, on all cores. Measured interleaved: pipeline 2.30 -> 1.69 s
# sf0.1.
_FIMP_ROW_SQL = (
    "named_struct(\n"
    "  'topic', concat('pt:j1/mt:evt/rt:dev/rn:test/ad:1/sv:', " + _SERV + ",\n"
    "                  '/ad:', CAST(user_id AS STRING)),\n"
    "  'type', " + _TYP + ",\n"
    "  'serv', " + _SERV + ",\n"
    "  'val_t', " + _VAL_T + ",\n"
    "  'val', " + _VAL + ",\n"
    "  'props', " + _PROPS + ",\n"
    "  'src', 'driver',\n"
    "  'ts', ts,\n"
    "  'dev_id', CAST(user_id AS STRING),\n"
    "  'location_id', CAST(user_id % 5 AS STRING),\n"
    "  'dev_type', CASE WHEN user_id % 3 = 0 THEN 'meter.main_elec' ELSE 'sensor.generic' END,\n"
    "  'domain', 'site1')"
)


def fimp_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The adapter's JSON-synthesis expressions and the transform behind it
    # are the heaviest per-row work in the engine; a single-row-group
    # input would run them on one core (guide §2: the scan task count caps
    # the stage). Inert at real scale — see spread_small_scan.
    ev = spread_small_scan(
        read_events(spark, sf_dir),
        input_path=f"{sf_dir}/events.parquet",
    )
    return ev.select(barriers.fence(F.expr(_FIMP_ROW_SQL)).alias("_r")).select("_r.*")
