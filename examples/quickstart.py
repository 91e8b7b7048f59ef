"""End-to-end quickstart — the migration path for a reference user.

Everything an ecollector deployment does, in one script:
ingest FIMP events (batch replay here; swap in read_fimp_stream /
read_kafka_stream for live) -> filter/enrich/transform -> tiered
warehouse -> downsample cascade -> structured query + raw SQL, answered
in the reference's Series JSON shape.

    python examples/quickstart.py [workdir]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ecollector_spark.api import EcollectorApi
from ecollector_spark.downsample import run_cascade_incremental
from ecollector_spark.query import DataPointsFilter, DataPointsRequest
from ecollector_spark.session import get_spark
from ecollector_spark.streaming.pipeline import build_points, route_points
from ecollector_spark.warehouse import Warehouse


def main() -> None:
    workdir = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="ecollector_qs_")
    spark = get_spark("quickstart")

    # -- 1. some FIMP events (normally: read_fimp_stream / kafka / replay log)
    events = spark.createDataFrame(
        [
            (
                "pt:j1/mt:evt/rt:dev/rn:zw/ad:1/sv:meter_elec/ad:7",
                "evt.meter.report", "meter_elec", "float", str(1.0 + i / 10),
                {"unit": "kW"}, "qs", f"2024-01-01T00:{i:02d}:00", f"u{i}",
            )
            for i in range(30)
        ],
        "topic string, type string, serv string, val_t string, val string, "
        "props map<string,string>, src string, ctime string, uid string",
    ).withColumn("ts", F.col("ctime").cast("timestamp"))

    # -- 2. device registry dimension (vinculum/file store equivalent)
    metadata = spark.createDataFrame(
        [("/rt:dev/rn:zw/ad:1/sv:meter_elec/ad:7", 7, 1, "meter.main_elec")],
        "address string, device_id int, location_id int, device_type string",
    )

    # -- 3. pipeline: filter -> enrich -> transform -> route -> warehouse
    points = build_points(events, metadata=metadata)
    branches = route_points(points, profile="optimized")
    wh = Warehouse(spark, f"{workdir}/warehouse")
    for branch in ("raw", "preagg", "diff"):
        df = branches[branch]
        if df is not None and df.take(1):
            wh.write_points(df)

    # -- 4. the CQ cascade (scheduled job in production)
    run_cascade_incremental(
        wh.read_tier,
        lambda df, tier: wh.write_points(df),
        wh.high_water_mark,
        now_epoch=float("inf"),
    )

    # -- 5. query: structured API (Q2) and raw SQL (Q1)
    api = EcollectorApi(spark, wh)
    report = api.get_data_points(
        DataPointsRequest(
            measurement_name="electricity_meter_power",
            relative_time="1d",
            group_by_time="10m",
            data_function="mean",
            group_by_tag="dev_id",
            fill_type="null",
            filters=DataPointsFilter(devices=["7"]),
        ),
        now=__import__("datetime").datetime(2024, 1, 1, 1, tzinfo=__import__("datetime").timezone.utc),
    )
    print("structured query (Series shape):")
    print(json.dumps(report, indent=2, default=str)[:800])

    wh.register_views("datapoints")
    sql_report = api.run_query(
        "SELECT measurement, count(*) AS points, round(avg(value_f), 1) AS avg_w "
        "FROM datapoints GROUP BY measurement ORDER BY measurement"
    )
    print("\nraw SQL:")
    print(json.dumps(sql_report, indent=2, default=str))

    print("\nmeasurements:", wh.measurements())

    # -- 5b. InfluxQL: a reference user's saved queries run verbatim —
    # including the hand-written public-docs surface (ORDER BY time DESC,
    # LIMIT/OFFSET, SLIMIT, regex FROM, !=/=~ tag predicates); all of it
    # compiles onto the structured planner, not a string rewrite
    import datetime as _dt

    now = _dt.datetime(2024, 1, 1, 1, tzinfo=_dt.timezone.utc)
    influx_report = api.run_query(
        'SELECT mean("value") FROM /^electricity_meter_/ '
        "WHERE time > now()-1d AND \"dev_id\"!='999' "
        "GROUP BY time(10m) FILL(none) ORDER BY time DESC LIMIT 3",
        now=now,
    )
    print("\nInfluxQL (regex FROM + DESC LIMIT):")
    print(json.dumps(influx_report, indent=2, default=str)[:600])

    # -- 5b². r6 surface: selector arithmetic (the reference's own kW→W
    # habit as a hand-written query) and zone-aligned buckets via tz()
    arith_report = api.run_query(
        'SELECT mean("value") * 2 + 1 FROM "electricity_meter_power" '
        "WHERE time > now()-1d GROUP BY time(30m) FILL(none) LIMIT 2",
        now=now,
    )
    print("\nselector arithmetic (mean*2+1):",
          arith_report["val"]["Results"][0]["Series"][0]["values"])
    tz_report = api.run_query(
        'SELECT mean("value") FROM "electricity_meter_power" '
        "WHERE time > now()-1d GROUP BY time(1d), * FILL(none) "
        "tz('America/Los_Angeles')",
        now=now,
    )
    print("tz('America/Los_Angeles') day buckets + GROUP BY *:",
          len(tz_report["val"]["Results"][0].get("Series", [])), "series")

    # -- 5c. write-path InfluxQL: one-off downsampling with INTO, the CQ
    # lifecycle via the reference's own generated DDL strings, and
    # time-windowed deletion — all through the same query endpoint
    into_report = api.run_query(
        'SELECT mean("value") INTO "power_10m" FROM "gen_raw"."electricity_meter_power" '
        "WHERE time > now()-1d GROUP BY time(10m) FILL(none)",
        now=now,
    )
    print("\nSELECT INTO:", into_report["val"]["Results"][0]["Series"][0])
    api.run_query("DROP CONTINUOUS QUERY week_to_month ON ecollector")
    cqs = api.run_query("SHOW CONTINUOUS QUERIES")["val"]["Results"][0]["Series"][0]
    print("live CQs after drop:", [v[0] for v in cqs["values"]])
    deleted = api.run_query(
        'DELETE FROM "power_10m" WHERE time < now()', now=now
    )
    print("DELETE report:", deleted["val"]["Results"][0]["Series"][0])

    # -- 6. the MQTT command bus (what a reference client actually speaks):
    # feed recorded FIMP command envelopes through the dispatcher; with a
    # broker, `CommandDispatcher(api).connect(host).loop_start()` instead
    from ecollector_spark.command_bus import COMMAND_TOPIC, CommandDispatcher

    bus = CommandDispatcher(api)
    replies = bus.replay_session(
        [
            (
                COMMAND_TOPIC,
                json.dumps(
                    {
                        "type": "cmd.tsdb.query",
                        "serv": "ecollector",
                        "val_t": "str_map",
                        "uid": "q-1",
                        "resp_to": "pt:j1/mt:rsp/rt:cloud/rn:backend/ad:1",
                        "val": {"proc_id": "1", "query": "SHOW MEASUREMENTS"},
                    }
                ),
            ),
            (
                COMMAND_TOPIC,
                json.dumps(
                    {
                        "type": "cmd.tsdb.get_retention_policies",
                        "serv": "ecollector",
                        "val_t": "str_map",
                        "uid": "q-2",
                        "val": {"proc_id": "1"},
                    }
                ),
            ),
        ]
    )
    print("\ncommand bus replies:")
    for env in replies:
        print(f"  -> {env['type']} corid={env['corid']} val={str(env['val'])[:90]}")

    print("workdir:", workdir)


if __name__ == "__main__":
    main()
