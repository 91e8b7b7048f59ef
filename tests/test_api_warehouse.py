"""Warehouse layout / retention / catalog + API surface tests
(reference §2.10 admin commands, S4/S7 sinks, RP TTL enforcement)."""

import json
import os
import re
import subprocess
import sys
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from ecollector_spark.api import EcollectorApi, ProcessManager, to_series_shape
from ecollector_spark.query import DataPointsFilter, DataPointsRequest, QueryPlanner
from ecollector_spark.schema import DATAPOINT_SCHEMA
from ecollector_spark.warehouse import Warehouse, write_csv


def _mk_points(spark, rows):
    """rows: (measurement, iso_ts, dev_id, value_f)"""
    data = [
        {
            "measurement": m,
            "ts": datetime.fromisoformat(ts),
            "series_id": f"{m};{dev};import",
            "dev_id": dev,
            "dev_type": "sensor.generic",
            "dir": "import",
            "location_id": "1",
            "service": m.split(".")[0],
            "src": "t",
            "topic": f"t/{dev}",
            "domain": "site",
            "value_f": v,
            "value_b": None,
            "value_s": None,
            "unit": "W",
            "agg_func": "mean",
            "tier": None,
        }
        for (m, ts, dev, v) in rows
    ]
    return spark.createDataFrame(data, DATAPOINT_SCHEMA).drop("tier")


#: the ``wh`` fixture's points
WH_ROWS = [
    ("electricity_meter_power", "2024-01-01T00:00:10", "7", 100.0),
    ("electricity_meter_power", "2024-01-01T00:10:10", "7", 200.0),
    ("electricity_meter_power", "2024-01-01T00:10:20", "8", 300.0),
    ("sensor_temp.evt.sensor.report", "2024-01-01T00:05:00", "9", 21.5),
]


@pytest.fixture()
def wh(spark, tmp_path):
    w = Warehouse(spark, str(tmp_path / "warehouse"))
    w.write_points(_mk_points(spark, WH_ROWS))
    return w


class TestWarehouse:
    def test_partition_layout_and_pruned_read(self, wh):
        df = wh.read_tier("gen_raw")
        assert df is not None
        # both measurements are high-frequency (mapping.go:156-168) -> gen_raw
        assert set(r.measurement for r in df.collect()) == {
            "electricity_meter_power",
            "sensor_temp.evt.sensor.report",
        }
        got = wh.read_tier("gen_raw").where(F.col("measurement") == "electricity_meter_power")
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan or got.count() == 3

    def test_measurements_catalog(self, wh):
        ms = wh.measurements()
        assert "electricity_meter_power" in ms
        assert "sensor_temp.evt.sensor.report" in ms

    def test_retention_policies(self, wh):
        rps = {r["name"]: r for r in wh.retention_policies()}
        assert rps["gen_raw"]["duration_seconds"] == 2 * 7 * 86400
        assert rps["gen_year"]["duration_seconds"] == 240 * 7 * 86400

    def test_enforce_retention_deletes_expired(self, wh):
        # 2024-01-01 + 2 weeks TTL -> cutoff just after the data
        now = int(datetime(2024, 1, 20, tzinfo=timezone.utc).timestamp())
        deleted = wh.enforce_retention(now)
        assert deleted.get("gen_raw", 0) == 4
        assert wh.read_tier("gen_raw") is None

    def test_enforce_retention_keeps_young(self, wh):
        now = int(datetime(2024, 1, 2, tzinfo=timezone.utc).timestamp())
        deleted = wh.enforce_retention(now)
        assert deleted == {}
        assert wh.read_tier("gen_raw").count() == 4

    def test_drop_measurement(self, wh):
        assert wh.drop_measurement("electricity_meter_power") == 1
        assert "electricity_meter_power" not in wh.measurements()

    def test_csv_sink_canonical_header(self, wh, spark, tmp_path):
        out = str(tmp_path / "csv")
        write_csv(wh.read_tier("gen_raw"), out)
        df = spark.read.option("header", True).csv(out)
        assert df.columns == [
            "name", "time", "dev_id", "dev_type", "dir", "location_id",
            "service", "src", "topic", "value", "unit",
        ]
        assert df.count() == 4


class TestSeriesShape:
    def test_regroup_by_tags(self, spark):
        df = spark.createDataFrame(
            [(1, "a", 1.0), (2, "a", 2.0), (1, "b", 3.0)],
            "time long, dev_id string, value double",
        )
        series = to_series_shape(df.orderBy("time", "dev_id"), "m", ["dev_id"])
        by_tag = {s["tags"]["dev_id"]: s for s in series}
        assert by_tag["a"]["columns"] == ["time", "value"]
        assert by_tag["a"]["values"] == [[1, 1.0], [2, 2.0]]
        assert by_tag["b"]["values"] == [[1, 3.0]]

    def test_no_tags_single_series(self, spark):
        df = spark.createDataFrame([(1, 1.0)], "time long, value double")
        series = to_series_shape(df, "m", [])
        assert len(series) == 1 and "tags" not in series[0]


class TestApi:
    def test_raw_sql_query(self, wh):
        api = EcollectorApi(wh.spark, wh)
        wh.read_tier("gen_raw").createOrReplaceTempView("dp")
        rep = api.run_query("SELECT count(*) AS n FROM dp")
        assert rep["val"]["Results"][0]["Series"][0]["values"] == [[4]]

    def test_raw_sql_error_envelope(self, wh):
        # a COLUMN-LIST select is Spark-SQL-shaped (InfluxQL has no
        # grammar for it), so it falls through to the SQL path and the
        # missing table surfaces in the error envelope. (Bare
        # "SELECT * FROM x" is valid InfluxQL since r9b — plan_star —
        # and an unknown measurement returns EMPTY series, InfluxDB's
        # own behavior, covered below.)
        api = EcollectorApi(wh.spark, wh)
        rep = api.run_query("SELECT a, b FROM no_such_table_xyz")
        assert rep["val"]["Results"] is None and "no_such_table_xyz" in rep["val"]["error"]
        star = api.run_query("SELECT * FROM no_such_measurement")
        assert star["val"]["Results"][0]["Series"] == []

    def test_structured_query_reads_downsampled_tier(self, wh):
        """Full loop: raw write -> CQ cascade -> the planner's tier upgrade
        (10m mean over a 1d range -> gen_week) answers from the
        pre-aggregated tier, like the reference's RP routing."""
        from ecollector_spark.downsample import run_cascade_incremental

        run_cascade_incremental(
            wh.read_tier,
            lambda df, tier: wh.write_points(df),
            wh.high_water_mark,
            now_epoch=float("inf"),
        )
        api = EcollectorApi(wh.spark, wh)
        req = DataPointsRequest(
            measurement_name="electricity_meter_power",
            relative_time="1d",
            group_by_time="10m",
            data_function="mean",
            group_by_tag="dev_id",
            fill_type="none",
        )
        rep = api.get_data_points(req, now=datetime(2024, 1, 1, 1, tzinfo=timezone.utc))
        series = {s["tags"]["dev_id"]: s["values"] for s in rep["val"]["Results"][0]["Series"]}
        assert [v[1] for v in series["7"]] == [100.0, 200.0]
        assert [v[1] for v in series["8"]] == [300.0]

    def test_structured_query_empty_tier_returns_no_series(self, wh):
        """A routed-to tier with no data behaves like an empty RP."""
        api = EcollectorApi(wh.spark, wh)
        req = DataPointsRequest(
            measurement_name="electricity_meter_power",
            relative_time="1d",
            group_by_time="10m",
            data_function="mean",
            fill_type="none",
        )
        rep = api.get_data_points(req, now=datetime(2024, 1, 1, 1, tzinfo=timezone.utc))
        assert rep["val"]["Results"][0]["Series"] == []

    def test_structured_query_device_filter(self, wh):
        api = EcollectorApi(wh.spark, wh)
        req = DataPointsRequest(
            measurement_name="electricity_meter_power",
            relative_time="1d",
            filters=DataPointsFilter(devices=["8"]),
        )
        rep = api.get_data_points(req, now=datetime(2024, 1, 1, 1, tzinfo=timezone.utc))
        vals = rep["val"]["Results"][0]["Series"][0]["values"]
        assert [v[-1] for v in vals] == [300.0]

    def test_write_data_points_roundtrip(self, wh):
        api = EcollectorApi(wh.spark, wh)
        r = api.write_data_points(
            [{"measurement": "custom_metric", "value": 5.0, "dev_id": "42"}],
            now=datetime(2024, 1, 1, tzinfo=timezone.utc),
        )
        assert r == {"status": "ok", "written": 1}
        assert "custom_metric" in wh.measurements()
        # low-frequency custom measurement -> gen_default tier
        got = wh.read_tier("gen_default").where(F.col("measurement") == "custom_metric")
        assert got.count() == 1

    def test_energy_rollup_endpoint(self, wh, spark):
        pts = _mk_points(
            spark,
            [
                ("electricity_meter_energy_sampled", "2024-01-01T00:10:00", "7", 1.5),
                ("electricity_meter_energy_sampled", "2024-01-01T00:20:00", "7", 2.5),
                ("electricity_meter_energy_sampled", "2024-01-01T01:10:00", "7", 4.0),
            ],
        ).withColumn("agg_func", F.lit("difference"))
        wh.write_points(pts)  # energy_sampled routes to gen_year
        api = EcollectorApi(wh.spark, wh)
        rep = api.get_energy_data_points(
            "2024-01-01T00:00:00Z", "2024-01-01T01:59:59Z", group_by_time="1h"
        )
        vals = rep["val"]["Results"][0]["Series"][0]["values"]
        assert [v[1] for v in vals] == [4.0, 4.0]

    def test_energy_rollup_bad_group_falls_back(self, wh):
        api = EcollectorApi(wh.spark, wh)
        rep = api.get_energy_data_points(
            "2024-01-01T00:00:00Z", "2024-01-01T00:59:59Z", group_by_time="100y; DROP"
        )
        assert "error" not in rep["val"]

    def test_energy_rollup_empty_gen_year_has_no_series(self, wh):
        # the fixture writes nothing to gen_year: no series, grouped or
        # not (no all-null FILL(null) spine for the ungrouped rollup)
        assert wh.read_tier("gen_year") is None
        api = EcollectorApi(wh.spark, wh)
        for tag in ("", "dev_id"):
            rep = api.get_energy_data_points(
                "2024-01-01T00:00:00Z", "2024-01-01T01:59:59Z", group_by_tag=tag
            )
            assert rep["val"]["Results"][0]["Series"] == []

    def test_energy_rollup_is_the_planned_sum(self, wh, spark):
        """The rollup answers exactly what QueryPlanner.plan answers for
        the same sum/FILL(null) request over gen_year."""
        wh.write_points(_mk_points(spark, [
            ("electricity_meter_energy_sampled", "2024-01-01T00:10:00", "7", 1.5),
            ("electricity_meter_energy_sampled", "2024-01-01T00:20:00", "8", 2.5),
            ("electricity_meter_energy_sampled", "2024-01-01T02:10:00", "7", 4.0),
            ("electricity_meter_energy_sampled", "2024-01-01T05:00:00", "8", 8.0),
        ]))
        api = EcollectorApi(spark, wh)
        planner = QueryPlanner(lambda tier, lo, hi: wh.read_tier("gen_year", lo, hi))
        for tag in ("", "dev_id"):
            req = DataPointsRequest(
                "electricity_meter_energy_sampled",
                data_function="sum",
                fill_type="null",
                from_time="2024-01-01T00:00:00Z",
                to_time="2024-01-01T03:59:59Z",
                group_by_time="1h",
                group_by_tag=tag,
            )
            want = to_series_shape(planner.plan(req), req.measurement_name, [tag] if tag else [])
            rep = api.get_energy_data_points(req.from_time, req.to_time, "1h", tag)
            assert rep["val"]["Results"][0]["Series"] == want
            if not tag:
                assert want[0]["values"] == [
                    [1704067200, 4.0], [1704070800, None], [1704074400, 4.0], [1704078000, None]
                ]
            else:
                assert [s["tags"]["dev_id"] for s in want] == ["7", "8"]

    def test_catalog_endpoints(self, wh):
        api = EcollectorApi(wh.spark, wh)
        ms = api.get_measurements()["val"]["Results"][0]["Series"][0]["values"]
        assert ["electricity_meter_power"] in ms
        rps = api.get_retention_policies()["val"]["Results"][0]["Series"][0]["values"]
        assert ["gen_raw", 1209600, True] in rps

    def test_retention_policy_ddl(self, wh):
        api = EcollectorApi(wh.spark, wh)
        assert api.add_retention_policy("gen_custom", 3600)["status"] == "ok"
        assert api.add_retention_policy("gen_raw", 1)["status"] == "error"  # exists
        assert api.update_retention_policy("gen_raw", 1)["status"] == "ok"  # ALTER built-in
        assert api.update_retention_policy("nope", 1)["status"] == "error"
        rps = {
            v[0]: v[1]
            for v in api.get_retention_policies()["val"]["Results"][0]["Series"][0]["values"]
        }
        assert rps["gen_custom"] == 3600 and rps["gen_raw"] == 1
        # enforcement uses the ALTERed 1s TTL: everything expires
        deleted = api.enforce_retention(now=datetime(2024, 1, 2, tzinfo=timezone.utc))
        assert deleted.get("gen_raw", 0) == 4

    def test_set_log_level(self, wh):
        api = EcollectorApi(wh.spark, wh)
        assert api.set_log_level("warn") == {"status": "ok", "level": "WARN"}

    def test_delete_object(self, wh):
        api = EcollectorApi(wh.spark, wh)
        assert api.delete_object("measurement", "sensor_temp.evt.sensor.report")["status"] == "ok"
        assert api.delete_object("nonsense", "x")["status"] == "error"

    def test_delete_object_retention_policy(self, wh):
        api = EcollectorApi(wh.spark, wh)
        assert api.delete_object("retention_policy", "gen_raw")["status"] == "ok"
        assert wh.read_tier("gen_raw") is None
        assert api.delete_object("retention_policy", "gen_raw")["status"] == "not_found"

    def test_delete_object_database_drops_everything(self, wh):
        api = EcollectorApi(wh.spark, wh)
        api.add_retention_policy("custom", 3600)
        res = api.delete_object("database", "ecollector")
        assert res["status"] == "ok" and res["dropped"] >= 1
        assert wh.measurements() == []
        for t in ("gen_raw", "gen_default"):
            assert wh.read_tier(t) is None
        assert api.ttl_overrides == {}

    def test_delete_object_cq_removes_cascade_stage(self, wh):
        from ecollector_spark.downsample import run_cascade_incremental
        from ecollector_spark.tiers import CQ_STAGES

        api = EcollectorApi(wh.spark, wh)
        assert api.delete_object("cq", "raw_to_day")["status"] == "ok"
        assert api.delete_object("cq", "raw_to_day")["status"] == "not_found"
        assert "raw_to_day" not in api.cq_stages
        assert len(api.cascade_stages()) == len(CQ_STAGES) - 1
        # a cascade wired through the live stage set skips the deleted CQ
        run_cascade_incremental(
            wh.read_tier,
            lambda df, tier: wh.write_points(df),
            wh.high_water_mark,
            now_epoch=float("inf"),
            stages=api.cascade_stages(),
        )
        assert wh.read_tier("gen_day") is None  # raw_to_day no longer runs

    def test_add_cq_registers_stage_that_runs(self, wh):
        """AddCQ twin (influxdb_v1.go:333-348): a newly registered CQ
        over a user-added retention policy executes in the next cascade
        run, writing mean-per-bucket rows into its target tier."""
        from ecollector_spark.downsample import run_cascade_incremental

        api = EcollectorApi(wh.spark, wh)
        api.add_retention_policy("custom", 30 * 86400)
        assert api.add_cq("raw_to_custom", "gen_raw", "custom", "10m")["status"] == "ok"
        assert ("gen_raw", "custom", "10m") in api.cascade_stages()
        # unknown RPs are rejected before they can poison the cascade
        assert api.add_cq("bad", "nope", "custom", "10m")["status"] == "error"
        run_cascade_incremental(
            wh.read_tier,
            lambda df, tier: wh.write_points(df.withColumn("tier", F.lit(tier))),
            wh.high_water_mark,
            now_epoch=float("inf"),
            stages=[s for s in api.cascade_stages() if s[1] == "custom"],
        )
        out = wh.read_tier("custom")
        assert out is not None
        got = {
            (r["measurement"], r["dev_id"], r["ts"].minute, r["value_f"])
            for r in out.collect()
        }
        # mean per (measurement, tag set, 10m bucket): each input point
        # is alone in its bucket, so the means equal the raw values
        assert got == {
            ("electricity_meter_power", "7", 0, 100.0),
            ("electricity_meter_power", "7", 10, 200.0),
            ("electricity_meter_power", "8", 10, 300.0),
            ("sensor_temp.evt.sensor.report", "9", 0, 21.5),
        }


class TestProcessManager:
    def test_lifecycle(self):
        pm = ProcessManager()
        pm.add("p1", {"profile": "optimized"})
        assert pm.get_list()[0]["state"] == "STOPPED"

        class FakeQuery:
            stopped = False

            def stop(self):
                self.stopped = True

        q = FakeQuery()
        pm.start("p1", lambda cfg: [q])
        assert pm.get_list()[0]["state"] == "RUNNING"
        with pytest.raises(ValueError):
            pm.update_config("p1", {})
        pm.stop("p1")
        assert q.stopped and pm.get_list()[0]["state"] == "STOPPED"
        pm.update_config("p1", {"profile": "raw"})
        pm.remove("p1")
        assert pm.get_list() == []

    def test_duplicate_add_rejected(self):
        pm = ProcessManager()
        pm.add("p1", {})
        with pytest.raises(ValueError):
            pm.add("p1", {})


class TestDiskGuard:
    def test_stops_running_processes_over_threshold(self, tmp_path):
        from ecollector_spark.api import DiskGuard, ProcessManager

        pm = ProcessManager()
        pm.add("p1", {})
        pm.add("p2", {})
        pm.start("p1", lambda cfg: [])
        guard = DiskGuard(str(tmp_path), threshold_pct=85.0, usage_fn=lambda p: 90.0)
        assert guard.should_stop()
        assert guard.enforce(pm) == ["p1"]
        assert all(p["state"] == "STOPPED" for p in pm.get_list())

    def test_noop_under_threshold(self, tmp_path):
        from ecollector_spark.api import DiskGuard, ProcessManager

        pm = ProcessManager()
        pm.add("p1", {})
        pm.start("p1", lambda cfg: [])
        guard = DiskGuard(str(tmp_path), threshold_pct=85.0, usage_fn=lambda p: 40.0)
        assert guard.enforce(pm) == []
        assert pm.get_list()[0]["state"] == "RUNNING"

    def test_real_disk_usage_readable(self, tmp_path):
        from ecollector_spark.api import DiskGuard

        pct = DiskGuard(str(tmp_path)).usage_pct()
        assert 0.0 <= pct <= 100.0

    def test_exact_boundary_does_not_stop(self, tmp_path):
        # reference: UsedPercent > DiskMonitorShutdownLimit (integration.go:299)
        from ecollector_spark.api import DiskGuard

        guard = DiskGuard(str(tmp_path), threshold_pct=85.0, usage_fn=lambda p: 85.0)
        assert not guard.should_stop()


class TestIncrementalCascade:
    def test_each_bucket_materialized_exactly_once(self, spark, tmp_path):
        from ecollector_spark.downsample import run_cascade_incremental

        w = Warehouse(spark, str(tmp_path / "w"))
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:00:10", "7", 100.0),
            ("electricity_meter_power", "2024-01-01T00:00:40", "7", 300.0),
            ("electricity_meter_power", "2024-01-01T00:01:10", "7", 500.0),
            ("electricity_meter_power", "2024-01-01T00:02:05", "7", 700.0),  # current bucket
        ]))

        def writer(df, tier):
            w.write_points(df)

        now1 = int(datetime(2024, 1, 1, 0, 2, 30, tzinfo=timezone.utc).timestamp())
        run_cascade_incremental(w.read_tier, writer, w.high_water_mark, now_epoch=now1)
        day = {r["ts"].isoformat(): r["value_f"]
               for r in w.read_tier("gen_day").where(F.col("dev_id") == "7").collect()}
        # complete buckets 00:00 (mean 200) and 00:01; 00:02 held back
        assert day == {"2024-01-01T00:00:00": 200.0, "2024-01-01T00:01:00": 500.0}

        # complete bucket 00:02 with a second point, add 00:03
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:02:40", "7", 900.0),
            ("electricity_meter_power", "2024-01-01T00:03:10", "7", 1100.0),
        ]))
        now2 = int(datetime(2024, 1, 1, 0, 4, 10, tzinfo=timezone.utc).timestamp())
        run_cascade_incremental(w.read_tier, writer, w.high_water_mark, now_epoch=now2)
        rows = w.read_tier("gen_day").where(F.col("dev_id") == "7").collect()
        day2 = {r["ts"].isoformat(): r["value_f"] for r in rows}
        assert day2 == {
            "2024-01-01T00:00:00": 200.0,
            "2024-01-01T00:01:00": 500.0,
            "2024-01-01T00:02:00": 800.0,   # mean(700, 900) — complete data
            "2024-01-01T00:03:00": 1100.0,
        }
        # exactly once: no duplicate bucket rows after the second run
        assert len(rows) == 4

    def test_default_now_applies_holdback(self, spark, tmp_path):
        """now_epoch omitted -> wall clock: a fresh point in the current
        (still-filling) bucket must be held back, not materialized."""
        import time as _time

        from ecollector_spark.downsample import run_cascade_incremental

        w = Warehouse(spark, str(tmp_path / "w"))
        # a point safely in the future stays inside a still-filling bucket
        # regardless of when this test runs (no minute-boundary race)
        now = int(_time.time()) + 3600
        cur_minute = datetime.fromtimestamp((now // 60) * 60 + 5, tz=timezone.utc)
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", cur_minute.strftime("%Y-%m-%dT%H:%M:%S"), "7", 123.0),
        ]))

        def writer(df, tier):
            w.write_points(df)

        run_cascade_incremental(w.read_tier, writer, w.high_water_mark)
        day = w.read_tier("gen_day")
        assert day is None or day.where(F.col("dev_id") == "7").count() == 0

    def test_trailing_reprocess_absorbs_late_rows(self, spark, tmp_path):
        """reprocess_trailing_buckets=N re-materializes the last N target
        buckets idempotently: a late row landing inside the trailing
        window is absorbed on the next run, tier contents stay
        duplicate-free and stable under re-runs."""
        from ecollector_spark.downsample import run_cascade_incremental

        w = Warehouse(spark, str(tmp_path / "w"))
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:00:10", "7", 100.0),
            ("electricity_meter_power", "2024-01-01T00:01:10", "7", 500.0),
        ]))

        def writer(df, tier):
            w.write_points(df)

        now = int(datetime(2024, 1, 1, 0, 2, 30, tzinfo=timezone.utc).timestamp())
        run_cascade_incremental(w.read_tier, writer, w.high_water_mark, now_epoch=now)
        day = {r["ts"].isoformat(): r["value_f"]
               for r in w.read_tier("gen_day").where(F.col("dev_id") == "7").collect()}
        assert day == {"2024-01-01T00:00:00": 100.0, "2024-01-01T00:01:00": 500.0}

        # a LATE row lands inside the newest materialized bucket (00:01)
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:01:40", "7", 700.0),
        ]))
        run_cascade_incremental(
            w.read_tier, writer, w.high_water_mark, now_epoch=now,
            reprocess_trailing_buckets=1, tier_rewriter=w.replace_points_from,
        )
        rows = w.read_tier("gen_day").where(F.col("dev_id") == "7").collect()
        day2 = {r["ts"].isoformat(): r["value_f"] for r in rows}
        # 00:01 re-meaned with the late row; 00:00 untouched; no duplicates
        assert day2 == {"2024-01-01T00:00:00": 100.0, "2024-01-01T00:01:00": 600.0}
        assert len(rows) == 2

        # idempotent: a second trailing re-run with no new data leaves the
        # tier contents identical (hash-stable)
        run_cascade_incremental(
            w.read_tier, writer, w.high_water_mark, now_epoch=now,
            reprocess_trailing_buckets=1, tier_rewriter=w.replace_points_from,
        )
        rows3 = sorted(
            (r["ts"].isoformat(), r["value_f"])
            for r in w.read_tier("gen_day").where(F.col("dev_id") == "7").collect()
        )
        assert rows3 == sorted((k, v) for k, v in day2.items())

        # a row OLDER than the trailing window stays out (documented CQ
        # bounded-lateness contract)
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:00:50", "7", 900.0),
        ]))
        run_cascade_incremental(
            w.read_tier, writer, w.high_water_mark, now_epoch=now,
            reprocess_trailing_buckets=1, tier_rewriter=w.replace_points_from,
        )
        day4 = {r["ts"].isoformat(): r["value_f"]
                for r in w.read_tier("gen_day").where(F.col("dev_id") == "7").collect()}
        assert day4["2024-01-01T00:00:00"] == 100.0  # untouched: outside window
        assert day4["2024-01-01T00:01:00"] == 600.0

        # widening the window absorbs it too
        run_cascade_incremental(
            w.read_tier, writer, w.high_water_mark, now_epoch=now,
            reprocess_trailing_buckets=2, tier_rewriter=w.replace_points_from,
        )
        day5 = {r["ts"].isoformat(): r["value_f"]
                for r in w.read_tier("gen_day").where(F.col("dev_id") == "7").collect()}
        assert day5["2024-01-01T00:00:00"] == 500.0  # mean(100, 900)

    def test_trailing_requires_rewriter(self, spark, tmp_path):
        from ecollector_spark.downsample import run_cascade_incremental

        w = Warehouse(spark, str(tmp_path / "w"))
        with pytest.raises(ValueError, match="tier_rewriter"):
            run_cascade_incremental(
                w.read_tier, lambda df, t: None, w.high_water_mark,
                reprocess_trailing_buckets=2,
            )

    def test_hwm_sidecar_preferred_over_scan(self, spark, tmp_path):
        w = Warehouse(spark, str(tmp_path / "w"))
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:00:10", "7", 100.0),
        ]))
        scanned = w.high_water_mark("gen_raw")
        assert scanned is not None
        w.record_high_water_mark("gen_raw", 1234567890)
        assert w.high_water_mark("gen_raw") == 1234567890
        # sidecar must not break the parquet tier read (underscore-prefixed
        # files are hidden to Spark's file index)
        assert w.read_tier("gen_raw").count() == 1

    def test_hwm_survives_compact_and_tail_rewrite(self, spark, tmp_path):
        """The r3-advice fix: directory rewrites must not silently demote
        the next high_water_mark call to a full column scan. compact()
        preserves the sidecar value (bytes moved, rows unchanged);
        replace_points_from() re-records it from the rewritten tail."""
        import os

        w = Warehouse(spark, str(tmp_path / "w"))
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:00:10", "7", 100.0),
            ("electricity_meter_power", "2024-01-01T01:00:10", "7", 200.0),
        ]))
        t1 = int(datetime.fromisoformat("2024-01-01T01:00:10+00:00").timestamp())
        w.record_high_water_mark("gen_raw", t1)
        assert w.compact("gen_raw")
        assert os.path.isfile(os.path.join(w.tier_path("gen_raw"), "_hwm"))
        assert w.high_water_mark("gen_raw") == t1

        # tail rewrite from 00:30 replaces the 01:00 row; the sidecar must
        # follow the new tail max, not keep the stale value
        t_new = int(datetime.fromisoformat("2024-01-01T00:45:00+00:00").timestamp())
        newpts = _mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:45:00", "7", 150.0),
        ])
        from_epoch = int(datetime.fromisoformat("2024-01-01T00:30:00+00:00").timestamp())
        w.replace_points_from(newpts, "gen_raw", from_epoch)
        assert os.path.isfile(os.path.join(w.tier_path("gen_raw"), "_hwm"))
        assert w.high_water_mark("gen_raw") == t_new
        rows = {int(r["ts"].timestamp()) for r in w.read_tier("gen_raw").collect()}
        assert max(rows) == t_new

        # retention that drops only old rows keeps the sidecar too
        deleted = w.enforce_retention(
            now_epoch=t_new + 14 * 24 * 3600 - 600, ttl_overrides={"gen_raw": 14 * 24 * 3600}
        )
        assert deleted.get("gen_raw", 0) >= 1
        assert os.path.isfile(os.path.join(w.tier_path("gen_raw"), "_hwm"))
        assert w.high_water_mark("gen_raw") == t_new

    def test_hwm_sidecar_not_trusted_after_plain_appends(self, spark, tmp_path):
        """A trailing re-run records ``_hwm``; a later plain run appends
        through write_points, which records none. The next plain run
        must not trust the stale sidecar (it would re-materialize the
        appended buckets): every bucket lands exactly once."""
        from ecollector_spark.downsample import run_cascade_incremental

        w = Warehouse(spark, str(tmp_path / "w"))
        t0 = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp())

        def run(minutes, trailing=0):
            w.write_points(_mk_points(spark, [
                ("electricity_meter_power", f"2024-01-01T00:{m:02d}:10", "7", float(m))
                for m in minutes
            ]))
            run_cascade_incremental(
                w.read_tier, lambda df, tier: w.write_points(df), w.high_water_mark,
                now_epoch=t0 + 60 * (minutes[-1] + 1),
                reprocess_trailing_buckets=trailing,
                tier_rewriter=w.replace_points_from,
                stages=[("gen_raw", "gen_day", "1m")],
            )

        run(range(0, 5))
        run(range(5, 10), trailing=1)  # rewrites from 00:04, records _hwm
        assert os.path.isfile(os.path.join(w.tier_path("gen_day"), "_hwm"))
        run(range(10, 15))
        run(range(15, 20))
        buckets = sorted(int(r["ts"].timestamp()) for r in w.read_tier("gen_day").collect())
        assert buckets == [t0 + 60 * m for m in range(20)]
        assert w.high_water_mark("gen_day") == t0 + 60 * 19


class TestDatedWarehouse:
    """The opt-in dt=yyyy-MM-dd subpartition layout (SCALE.md's 100 TB
    retention design): partition-drop TTL, pruned ranged reads, and full
    row-equivalence with the flat layout."""

    def _pts(self, spark):
        return _mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T05:00:00", "7", 1.0),
            ("electricity_meter_power", "2024-01-02T05:00:00", "7", 2.0),
            ("electricity_meter_power", "2024-01-03T05:00:00", "7", 3.0),
            ("sensor_presence.evt.presence.report", "2024-01-01T06:00:00", "9", 1.0),
        ])

    def test_layout_and_roundtrip_equivalence(self, spark, tmp_path):
        import os

        flat = Warehouse(spark, str(tmp_path / "flat"))
        dated = Warehouse(spark, str(tmp_path / "dated"), date_partition=True)
        flat.write_points(self._pts(spark))
        dated.write_points(self._pts(spark))
        mdir = os.path.join(
            dated.tier_path("gen_raw"), "measurement=electricity_meter_power"
        )
        assert sorted(os.listdir(mdir)) == ["dt=2024-01-01", "dt=2024-01-02", "dt=2024-01-03"]
        key = lambda df: sorted(
            (r["measurement"], int(r["ts"].timestamp()), r["value_f"])
            for r in df.collect()
        )
        assert key(dated.read_tier("gen_raw")) == key(flat.read_tier("gen_raw"))
        assert dated.read_tier("gen_raw").columns == flat.read_tier("gen_raw").columns

    def test_ranged_read_prunes_day_partitions(self, spark, tmp_path):
        w = Warehouse(spark, str(tmp_path / "w"), date_partition=True)
        w.write_points(self._pts(spark))
        t0 = int(datetime.fromisoformat("2024-01-02T00:00:00+00:00").timestamp())
        t1 = int(datetime.fromisoformat("2024-01-02T23:59:59+00:00").timestamp())
        df = w.read_tier("gen_raw", from_epoch=t0, to_epoch=t1)
        assert [r["value_f"] for r in df.collect()] == [2.0]
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "dt" in plan.split("PartitionFilters")[1][:200]

    def test_query_path_prunes_days_through_planner(self, spark, tmp_path):
        """The planner hands its resolved time bounds to a bounds-aware
        tier reader, so a structured query over a dated warehouse prunes
        day partitions — asserted at the plan level through the full
        EcollectorApi -> QueryPlanner -> read_tier path."""
        w = Warehouse(spark, str(tmp_path / "w"), date_partition=True)
        w.write_points(self._pts(spark))
        api = EcollectorApi(spark, w)
        req = DataPointsRequest(
            measurement_name="electricity_meter_power",
            from_time="2024-01-02T00:00:00Z",
            to_time="2024-01-02T23:59:59Z",
        )
        # pin `now` next to the data so elapsed-time tier routing picks
        # gen_raw (a year-later now would route to an empty coarse tier)
        now = datetime(2024, 1, 2, 23, 59, 59, tzinfo=timezone.utc)
        df = api.planner.plan(req, now=now)
        plan = df._jdf.queryExecution().executedPlan().toString()
        pf = plan.split("PartitionFilters")[1][:250]
        assert "dt" in pf, plan
        rep = api.get_data_points(req, now=now)
        vals = [v for s in rep["val"]["Results"][0]["Series"] for _, v in s["values"]]
        assert vals == [2.0]

    def test_retention_is_partition_drop(self, spark, tmp_path):
        import os

        w = Warehouse(spark, str(tmp_path / "w"), date_partition=True)
        w.write_points(self._pts(spark))
        # cutoff inside Jan 3: days 1 and 2 fully expired -> dropped;
        # Jan 3's partial day survives (day-granularity TTL lag)
        now = int(datetime.fromisoformat("2024-01-03T12:00:00+00:00").timestamp())
        deleted = w.enforce_retention(now, ttl_overrides={t: 6 * 3600 for t in (
            "gen_raw", "gen_day", "gen_week", "gen_month", "gen_year", "gen_default")})
        assert deleted.get("gen_raw") == 2 and deleted.get("gen_default") == 1
        mdir = os.path.join(
            w.tier_path("gen_raw"), "measurement=electricity_meter_power"
        )
        assert sorted(os.listdir(mdir)) == ["dt=2024-01-03"]
        assert [r["value_f"] for r in w.read_tier("gen_raw").collect()] == [3.0]

    def test_tail_rewrite_and_compact_keep_dated_layout(self, spark, tmp_path):
        import os

        w = Warehouse(spark, str(tmp_path / "w"), date_partition=True)
        w.write_points(self._pts(spark))
        new = _mk_points(spark, [
            ("electricity_meter_power", "2024-01-03T07:00:00", "7", 9.0),
        ])
        from_epoch = int(datetime.fromisoformat("2024-01-03T00:00:00+00:00").timestamp())
        w.replace_points_from(new, "gen_raw", from_epoch)
        assert w.compact("gen_raw")
        mdir = os.path.join(
            w.tier_path("gen_raw"), "measurement=electricity_meter_power"
        )
        assert sorted(os.listdir(mdir)) == ["dt=2024-01-01", "dt=2024-01-02", "dt=2024-01-03"]
        vals = sorted(r["value_f"] for r in w.read_tier("gen_raw").collect())
        assert vals == [1.0, 2.0, 9.0]


class TestBucketedWarehouse:
    def test_bucketed_agg_and_join_have_no_shuffle(self, spark, tmp_path):
        """The bucket spec (CLUSTERED BY series_id) lets Catalyst plan
        per-series aggregation AND self-join with zero Exchange — the
        write-once-shuffle-never layout for reprocessing jobs."""
        import uuid

        w = Warehouse(spark, str(tmp_path / "w"))
        pts = _mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:00:10", "7", 100.0),
            ("electricity_meter_power", "2024-01-01T00:01:10", "7", 200.0),
            ("electricity_meter_power", "2024-01-01T00:00:20", "8", 300.0),
        ])
        table = f"bucketed_{uuid.uuid4().hex[:8]}"
        try:
            w.write_bucketed(pts.withColumn("tier", F.lit("gen_raw")), table, n_buckets=4)
            t = spark.table(table)

            agg = t.groupBy("series_id").agg(F.avg("value_f").alias("v"))
            plan = agg._jdf.queryExecution().executedPlan().toString()
            assert "Exchange hashpartitioning" not in plan
            assert {(r["series_id"], r["v"]) for r in agg.collect()} == {
                ("electricity_meter_power;7;import", 150.0),
                ("electricity_meter_power;8;import", 300.0),
            }

            j = t.alias("a").join(t.alias("b"), "series_id").groupBy("series_id").count()
            jplan = j._jdf.queryExecution().executedPlan().toString()
            assert "Exchange hashpartitioning" not in jplan
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")


class TestAdviceR4Fixes:
    """Regression pins for the round-4 ADVICE items: relative-time upper
    bound, session-timezone retention cutoff, and rename-aside crash
    recovery."""

    def test_relative_query_keeps_future_stamped_points(self, spark, tmp_path):
        """The reference's relative-time shape is `time > now()-rel` with
        NO upper bound (influxdb_v1.go:138). A bounds-aware reader must
        not sneak in ts <= now: future-stamped points (clock skew,
        replay) have to survive, and the same request must return the
        same rows through a bounds-aware and a plain reader."""
        w = Warehouse(spark, str(tmp_path / "w"), date_partition=True)
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", "2024-01-02T10:00:00+00:00", "7", 1.0),
            # stamped one hour in the query's future
            ("electricity_meter_power", "2024-01-02T13:00:00+00:00", "7", 2.0),
        ]))
        api = EcollectorApi(spark, w)
        req = DataPointsRequest(
            measurement_name="electricity_meter_power", relative_time="6h"
        )
        now = datetime(2024, 1, 2, 12, 0, 0, tzinfo=timezone.utc)
        vals = sorted(
            r["value"] for r in api.planner.plan(req, now=now).collect()
        )
        assert vals == [1.0, 2.0], "future-stamped point dropped by reader bound"

    def test_dated_retention_cutoff_in_session_timezone(self, spark, tmp_path):
        """dt= partitions are stamped via date_format (session timezone);
        the TTL cutoff day must be derived the same way. With a UTC-8
        session, a UTC-derived cutoff day would drop a directory up to
        8 hours before its TTL expires (early data deletion)."""
        prev = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        try:
            w = Warehouse(spark, str(tmp_path / "w"), date_partition=True)
            # 2024-01-02T04:00 UTC == 2024-01-01T20:00 LA -> dt=2024-01-01
            w.write_points(_mk_points(spark, [
                ("electricity_meter_power", "2024-01-02T04:00:00+00:00", "7", 1.0),
            ]))
            mdir = os.path.join(
                w.tier_path("gen_raw"), "measurement=electricity_meter_power"
            )
            assert sorted(os.listdir(mdir)) == ["dt=2024-01-01"]
            # TTL 24h, now 2024-01-03T02:00 UTC: the point is 22h old ->
            # NOT expired. UTC cutoff day would be 2024-01-02 and drop
            # dt=2024-01-01 early; the session-tz cutoff day (2024-01-01
            # 18:00 LA -> "2024-01-01") keeps it.
            now = int(datetime(2024, 1, 3, 2, 0, 0, tzinfo=timezone.utc).timestamp())
            deleted = w.enforce_retention(
                now, ttl_overrides={t: 86400 for t in (
                    "gen_raw", "gen_day", "gen_week", "gen_month",
                    "gen_year", "gen_default")}
            )
            assert deleted == {}
            assert [r["value_f"] for r in w.read_tier("gen_raw").collect()] == [1.0]
        finally:
            spark.conf.set("spark.sql.session.timeZone", prev)

    def test_read_tier_recovers_crashed_swap(self, spark, tmp_path):
        """A crash between the two renames of the rename-aside swap
        leaves `.old` as the only complete copy; the next read must
        restore it, not let a later swap delete it."""
        w = Warehouse(spark, str(tmp_path / "w"))
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:00:10", "7", 100.0),
        ]))
        tp = w.tier_path("gen_raw")
        os.rename(tp, tp + ".old")  # simulate the crash window
        df = w.read_tier("gen_raw")
        assert df is not None and [r["value_f"] for r in df.collect()] == [100.0]
        assert os.path.isdir(tp) and not os.path.isdir(tp + ".old")

    def test_tail_rewrite_after_crashed_swap_keeps_history(self, spark, tmp_path):
        """replace_points_from reads the live tier before swapping; after
        a crashed swap the read-side recovery is what stops it from
        rewriting the tier from the new tail only."""
        w = Warehouse(spark, str(tmp_path / "w"))
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:00:10", "7", 100.0),
            ("electricity_meter_power", "2024-01-02T00:00:10", "7", 200.0),
        ]))
        tp = w.tier_path("gen_raw")
        os.rename(tp, tp + ".old")  # simulate the crash window
        new_tail = _mk_points(spark, [
            ("electricity_meter_power", "2024-01-02T00:00:10", "7", 250.0),
        ])
        from_epoch = int(datetime(2024, 1, 2, tzinfo=timezone.utc).timestamp())
        w.replace_points_from(new_tail, "gen_raw", from_epoch)
        vals = sorted(r["value_f"] for r in w.read_tier("gen_raw").collect())
        assert vals == [100.0, 250.0], "pre-rewrite history lost after crash"


class TestDeletePoints:
    def test_delete_in_dated_layout(self, spark, tmp_path):
        """delete_points in the dt-subpartitioned layout keeps the day
        partitioning on the rewritten files and leaves other days
        untouched."""
        w = Warehouse(spark, str(tmp_path / "wdated"), date_partition=True)
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T10:00:00", "7", 1.0),
            ("electricity_meter_power", "2024-01-02T10:00:00", "7", 2.0),
            ("electricity_meter_power", "2024-01-02T11:00:00", "7", 3.0),
        ]))
        cut = int(datetime(2024, 1, 2, 10, 30, tzinfo=timezone.utc).timestamp())
        n = w.delete_points("electricity_meter_power", to_epoch=cut)
        assert n == 2
        df = w.read_tier("gen_raw")  # read_tier prunes then drops dt
        rows = df.select("value_f", F.to_date("ts").alias("d")).collect()
        assert [(r["value_f"], str(r["d"])) for r in rows] == [(3.0, "2024-01-02")]
        # idempotent: nothing left to delete in the window
        assert w.delete_points("electricity_meter_power", to_epoch=cut) == 0

    def test_delete_crash_recovery_at_measurement_level(self, spark, tmp_path):
        """A crash between the swap's two renames leaves only
        measurement=m.old; the next delete_points (or read) must restore
        it instead of skipping the 'missing' directory forever."""
        import os

        w = Warehouse(spark, str(tmp_path / "wcrash"))
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:01:00", "7", 1.0),
            ("electricity_meter_power", "2024-01-01T01:01:00", "7", 2.0),
        ]))
        mdir = os.path.join(str(tmp_path / "wcrash"), "tier=gen_raw",
                            "measurement=electricity_meter_power")
        os.rename(mdir, mdir + ".old")  # simulate the crash window
        cut = int(datetime(2024, 1, 1, 0, 30, tzinfo=timezone.utc).timestamp())
        assert w.delete_points("electricity_meter_power", to_epoch=cut) == 1
        assert [r["value_f"] for r in w.read_tier("gen_raw").collect()] == [2.0]


class TestConcurrentReadDuringSwap:
    """VERDICT r5 #3: the reference serves reads during writes
    (storage/influxdb_v1.go:87-95 is a live HTTP query path); the
    parquet warehouse's rename-aside swap must not fail a reader whose
    plan predates the swap. Both orders are exercised: reader-plans-
    before-swap (the stale-listing hazard, healed by with_read_retry)
    and swap-before-read (trivially fresh)."""

    def _replacement(self, spark):
        return _mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:10:10", "7", 999.0),
        ])

    def test_stale_plan_heals_via_retry(self, spark, wh):
        # plan BEFORE the swap: this DataFrame holds the pre-swap file
        # listing (InMemoryFileIndex snapshots at read time)
        stale = wh.read_tier("gen_raw")
        cut = int(datetime(2024, 1, 1, 0, 5, 30, tzinfo=timezone.utc).timestamp())
        wh.replace_points_from(self._replacement(spark), "gen_raw", cut)
        # the stale snapshot either fails on the renamed-away files or
        # (if the listing was re-resolved) succeeds; the retry closure
        # must ALWAYS return the post-swap truth
        try:
            stale.count()
        except Exception as e:  # noqa: BLE001
            assert "FileNotFoundException" in str(e) or "does not exist" in str(e)
        vals = wh.with_read_retry(
            lambda: sorted(
                r["value_f"] for r in wh.read_tier("gen_raw").collect()
            )
        )
        # kept: the two pre-cut rows; replaced tail: the single 999 row
        assert vals == [21.5, 100.0, 999.0]

    def test_swap_then_read_is_fresh(self, spark, wh):
        cut = int(datetime(2024, 1, 1, 0, 5, 30, tzinfo=timezone.utc).timestamp())
        wh.replace_points_from(self._replacement(spark), "gen_raw", cut)
        vals = sorted(r["value_f"] for r in wh.read_tier("gen_raw").collect())
        assert vals == [21.5, 100.0, 999.0]

    def test_api_reads_survive_interleaved_swaps(self, spark, wh):
        """End-to-end: a reader thread issues get_data_points while the
        main thread repeatedly rewrites the tier tail — every response
        must be a result, never an error report."""
        import threading

        api = EcollectorApi(spark, wh)
        req = DataPointsRequest(
            measurement_name="electricity_meter_power",
            from_time="2024-01-01T00:00:00Z",
            to_time="2024-01-01T01:00:00Z",
            group_by_time="10m",
            data_function="mean",
            fill_type="none",
        )
        errors: list[str] = []
        stop = threading.Event()

        def reader():
            while not stop.is_set():
                rep = api.get_data_points(req)
                if rep.get("error"):
                    errors.append(rep["error"])
                    return

        t = threading.Thread(target=reader)
        t.start()
        try:
            cut = int(datetime(2024, 1, 1, 0, 5, 30, tzinfo=timezone.utc).timestamp())
            for i in range(5):
                wh.replace_points_from(
                    _mk_points(spark, [
                        ("electricity_meter_power", "2024-01-01T00:10:10", "7",
                         float(100 + i)),
                    ]),
                    "gen_raw",
                    cut,
                )
        finally:
            stop.set()
            t.join(timeout=60)
        assert errors == []

    def test_influxql_read_retries_across_swap(self, spark, wh, monkeypatch):
        """An InfluxQL series read plans and collects inside the read
        retry too: one swap lands between the first tier read and the
        collect, and the statement returns the post-swap rows."""
        api = EcollectorApi(spark, wh)
        cut = int(datetime(2024, 1, 1, 0, 5, 30, tzinfo=timezone.utc).timestamp())
        real_read = wh.read_tier
        swapped = []

        def read_then_swap(*args, **kwargs):
            df = real_read(*args, **kwargs)
            if not swapped:
                swapped.append(True)
                wh.replace_points_from(self._replacement(spark), "gen_raw", cut)
            return df

        monkeypatch.setattr(wh, "read_tier", read_then_swap)
        rep = api.run_query(
            'SELECT "value" FROM "electricity_meter_power" WHERE '
            "time >= '2024-01-01T00:00:00Z' AND time <= '2024-01-01T01:00:00Z'",
            now=datetime(2024, 1, 1, 1, tzinfo=timezone.utc),
        )
        assert swapped and not rep["val"].get("error"), rep["val"]
        (series,) = rep["val"]["Results"][0]["Series"]
        assert [v[1] for v in series["values"]] == [100.0, 999.0]

    def test_recovery_mid_swap_does_not_break_writer(self, spark, wh, monkeypatch):
        """ADVICE r6: a reader's recovery pass landing between publish's
        rename(dst, old) and rename(tmp, dst) must not rename the .old
        copy back over dst (which fails the writer's final rename and
        abandons the replacement). The injected recovery blocks on the
        publish lock until the swap completes, then no-ops."""
        import threading
        import time

        from ecollector_spark.functions import publish

        tier_dir = wh.tier_path("gen_raw")
        real_rename = os.rename
        recovered = threading.Event()
        injected: list[threading.Thread] = []

        def racy_rename(src, dst):
            real_rename(src, dst)
            if src == tier_dir and dst == tier_dir + ".old":
                # mid-swap window: dst missing, .old present — fire the
                # reader-side recovery exactly here
                def reader_recovery():
                    publish.recover(tier_dir)
                    recovered.set()

                t = threading.Thread(target=reader_recovery)
                t.start()
                injected.append(t)
                time.sleep(0.3)  # give the racer a chance to misbehave

        monkeypatch.setattr(publish.os, "rename", racy_rename)
        cut = int(datetime(2024, 1, 1, 0, 5, 30, tzinfo=timezone.utc).timestamp())
        wh.replace_points_from(self._replacement(spark), "gen_raw", cut)
        monkeypatch.undo()
        for t in injected:
            t.join(timeout=30)
        assert injected and recovered.is_set()
        # writer won: the replacement row is live, no .old residue
        vals = sorted(r["value_f"] for r in wh.read_tier("gen_raw").collect())
        assert vals == [21.5, 100.0, 999.0]
        assert not os.path.isdir(tier_dir + ".old")

    def test_orphan_old_dir_is_cleaned(self, spark, wh):
        """ADVICE r5: a crash between rename(tmp, dst) and rmtree(old)
        leaves BOTH measurement=m and measurement=m.old; recovery must
        drop the orphan instead of surfacing a phantom pre-delete copy."""
        mdir = os.path.join(wh.tier_path("gen_raw"),
                            "measurement=electricity_meter_power")
        import shutil
        shutil.copytree(mdir, mdir + ".old")
        assert wh.measurements() == [
            "electricity_meter_power", "sensor_temp.evt.sensor.report"
        ]
        assert not os.path.isdir(mdir + ".old")
        # and the live data is untouched
        assert wh.read_tier("gen_raw").count() == 4


class TestTimePredicates:
    """The planner bounds ``ts`` by sargable literals only: no
    ``unix_timestamp(ts)`` comparison is evaluated per row."""

    def test_relative_range_filters_only_on_ts_literals(self, wh):
        req = DataPointsRequest(
            measurement_name="electricity_meter_power",
            relative_time="1h",
            group_by_time="10m",
            data_function="max",
        )
        now = datetime(2024, 1, 1, 1, tzinfo=timezone.utc)
        qe = EcollectorApi(wh.spark, wh).planner.plan(req, now=now)._jdf.queryExecution()
        filters = [
            line for line in qe.optimizedPlan().toString().splitlines() if "Filter " in line
        ]
        assert filters and not any("unix_timestamp" in line for line in filters), filters
        assert "GreaterThanOrEqual(ts," in qe.executedPlan().toString()

    @pytest.mark.parametrize("relative_to_time", ["", "10m"])
    def test_reader_bounds_equal_row_bounds(self, spark, tmp_path, relative_to_time):
        """The bounds-aware reader gets the planner's own row bounds, so
        the optimized plan carries one ``ts >=`` and at most one ``ts <``
        comparison, and the rows equal a bounds-less reader's."""
        w = Warehouse(spark, str(tmp_path / "w"))
        # values are powers of two, so the bucket sums name the rows kept
        edges = ["00:00:00", "00:00:01", "00:30:00", "00:49:59", "00:50:00", "01:00:00"]
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", f"2024-01-01T{t}", "7", float(1 << i))
            for i, t in enumerate(edges)
        ]))
        req = DataPointsRequest(
            measurement_name="electricity_meter_power",
            relative_time="1h",
            relative_to_time=relative_to_time,
            group_by_time="10m",
            data_function="sum",
        )
        now = datetime(2024, 1, 1, 1, tzinfo=timezone.utc)
        bounded = QueryPlanner(w.tier_reader()).plan(req, now=now)
        plan = bounded._jdf.queryExecution().optimizedPlan().toString()
        assert len(re.findall(r"\bts#\d+ >= ", plan)) == 1, plan
        assert len(re.findall(r"\bts#\d+ < ", plan)) <= 1, plan
        unbounded = QueryPlanner(lambda tier: w.read_tier(tier)).plan(req, now=now)
        rows = sorted(map(tuple, bounded.collect()))
        assert rows == sorted(map(tuple, unbounded.collect()))
        # (now-1h, now] for the relative shape; (now-1h, now-10m) windowed
        kept = 2 + 4 + 8 + (0 if relative_to_time else 16 + 32)
        assert sum(r[-1] for r in rows if r[-1] is not None) == kept


class TestCanonicalSchema:
    """Every warehouse scan reads with the canonical schema
    (``warehouse_schema``) and every write projects onto it."""

    #: the counter-difference writer's file shape: 8 data columns
    DIFF_COLS = ("measurement", "ts", "series_id", "dev_id", "dir", "src",
                 "value_f", "unit", "agg_func")

    def test_read_tier_launches_no_spark_job(self, spark, tmp_path):
        """Schema inference is a Spark job (``parquet at ...``); the
        canonical reader plans without one, ranged or not."""
        w = Warehouse(spark, str(tmp_path / "w"))
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:10:00", "7", 1.0),
        ]))
        tracker = spark.sparkContext.statusTracker()
        before = set(tracker.getJobIdsForGroup(None))
        w.read_tier("gen_raw")
        w.read_tier("gen_raw", 1704067200, 1704070800)
        assert set(tracker.getJobIdsForGroup(None)) == before

    def test_tier_scan_reused_until_files_change(self, spark, tmp_path):
        """read_tier reuses a tier's scan while its parquet listing is
        unchanged; an append or a rewrite rebuilds it, so new rows are
        always visible."""
        w = Warehouse(spark, str(tmp_path / "w"))
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:10:00", "7", 1.0),
        ]))
        assert w.read_tier("gen_raw").count() == 1
        scan = w._tier_scans["gen_raw"][1]
        w.read_tier("gen_raw", 1704067200, 1704070800)
        assert w._tier_scans["gen_raw"][1] is scan
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:20:00", "7", 2.0),
        ]))
        assert w.read_tier("gen_raw").count() == 2
        assert w._tier_scans["gen_raw"][1] is not scan
        assert w.delete_points("electricity_meter_power", to_epoch=1704068000) == 1
        assert [r["value_f"] for r in w.read_tier("gen_raw").collect()] == [2.0]
        w.drop_tier("gen_raw")
        assert w.read_tier("gen_raw") is None

    @pytest.mark.parametrize("diff_first", [True, False])
    def test_mixed_file_shapes_keep_every_column(self, spark, tmp_path, diff_first):
        """A tier mixing full raw files with 8-column counter-difference
        files exposes the full column list whichever file sorts first
        (inference reads only the first footer), and its tags answer a
        GROUP BY."""
        w = Warehouse(spark, str(tmp_path / "w"))
        full = _mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:10:00", "7", 10.0),
            ("electricity_meter_power", "2024-01-01T00:20:00", "8", 20.0),
        ]).withColumn("location_id", F.when(F.col("dev_id") == "7", "L1").otherwise("L2"))
        # same partition, a day before the query range
        diff = full.select(*self.DIFF_COLS).withColumn(
            "ts", F.col("ts") - F.expr("INTERVAL 1 DAY"))
        mdir = os.path.join(w.tier_path("gen_raw"), "measurement=electricity_meter_power")

        def write_renamed(df, prefix):
            w.write_points(df.coalesce(1))
            for f in os.listdir(mdir):
                if f.startswith("part-") and f.endswith(".parquet"):
                    os.rename(os.path.join(mdir, f), os.path.join(mdir, f"{prefix}-{f}"))

        write_renamed(diff, "0" if diff_first else "9")
        write_renamed(full, "5")
        files = sorted(f for f in os.listdir(mdir) if f.endswith(".parquet"))
        assert files[0].startswith("0" if diff_first else "5")

        df = w.read_tier("gen_raw")
        assert sorted(df.columns) == sorted(DATAPOINT_SCHEMA.names)
        assert df.columns == [
            *(n for n in DATAPOINT_SCHEMA.names if n not in ("measurement", "tier")),
            "tier", "measurement"]
        rsp = EcollectorApi(spark, w).run_query(
            'SELECT last("value") FROM "gen_raw"."electricity_meter_power" '
            "WHERE time > now()-2h GROUP BY time(10m), location_id FILL(none)",
            now=datetime(2024, 1, 1, 1, 0, 0, tzinfo=timezone.utc),
        )
        series = rsp["val"]["Results"][0]["Series"]
        got = {s["tags"]["location_id"]: [v[-1] for v in s["values"]] for s in series}
        assert got == {"L1": [10.0], "L2": [20.0]}

    def test_write_points_casts_and_rejects(self, spark, tmp_path):
        import glob

        import pyarrow.parquet as pq

        w = Warehouse(spark, str(tmp_path / "w"))
        pts = _mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:10:00", "7", 1.0),
        ])
        with pytest.raises(ValueError, match="bogus"):
            w.write_points(pts.withColumn("bogus", F.lit(1)))
        assert not os.path.exists(w.root)
        # an integer location_id is stored as the canonical string
        w.write_points(pts.withColumn("location_id", F.lit(42)))
        (f,) = glob.glob(f"{w.tier_path('gen_raw')}/measurement=*/*.parquet")
        assert str(pq.read_schema(f).field("location_id").type) == "string"
        assert [r["location_id"] for r in w.read_tier("gen_raw").collect()] == ["42"]

    def test_stream_sink_rejects_unknown_column(self, spark, tmp_path):
        from ecollector_spark.streaming.pipeline import write_warehouse_stream

        stream = spark.readStream.format("rate").load()  # timestamp, value
        with pytest.raises(ValueError, match="outside the warehouse schema"):
            write_warehouse_stream(
                stream, str(tmp_path / "w"), str(tmp_path / "ck"), available_now=True)

    def test_dated_layout_still_prunes_days(self, spark, tmp_path):
        """``dt`` is part of the canonical read schema (as a string): a
        ranged read must prune whole day directories. The pruned days'
        files are corrupted, so a read that opened them would fail."""
        w = Warehouse(spark, str(tmp_path / "w"), date_partition=True)
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T05:00:00", "7", 1.0),
            ("electricity_meter_power", "2024-01-02T05:00:00", "7", 2.0),
            ("electricity_meter_power", "2024-01-03T05:00:00", "7", 3.0),
        ]))
        mdir = os.path.join(w.tier_path("gen_raw"), "measurement=electricity_meter_power")
        for day in ("dt=2024-01-01", "dt=2024-01-03"):
            for f in os.listdir(os.path.join(mdir, day)):
                if f.endswith(".parquet"):
                    with open(os.path.join(mdir, day, f), "wb") as fh:
                        fh.write(b"not parquet")
        t0 = int(datetime(2024, 1, 2, tzinfo=timezone.utc).timestamp())
        df = w.read_tier("gen_raw", t0, t0 + 86399)
        assert [r["value_f"] for r in df.collect()] == [2.0]
        assert "dt" not in df.columns

    def test_energy_rollup_pushes_ts_bounds(self, wh, spark):
        """get_energy_data_points hands its range to read_tier, so the
        ts bounds reach the parquet scan's PushedFilters; the report is
        the one the unbounded read gave."""
        wh.write_points(_mk_points(spark, [
            ("electricity_meter_energy_sampled", "2024-01-01T00:10:00", "7", 1.5),
            ("electricity_meter_energy_sampled", "2024-01-01T00:20:00", "7", 2.5),
            ("electricity_meter_energy_sampled", "2024-01-01T01:10:00", "7", 4.0),
            ("electricity_meter_energy_sampled", "2024-01-01T02:00:00", "7", 8.0),
        ]))
        reads = []
        read_tier = wh.read_tier

        def spy(tier, from_epoch=None, to_epoch=None):
            df = read_tier(tier, from_epoch, to_epoch)
            reads.append(df)
            return df

        wh.read_tier = spy
        rep = EcollectorApi(spark, wh).get_energy_data_points(
            "2024-01-01T00:00:00Z", "2024-01-01T01:59:59Z", group_by_time="1h"
        )
        vals = rep["val"]["Results"][0]["Series"][0]["values"]
        assert [v[1] for v in vals] == [4.0, 4.0]
        (df,) = reads
        plan = df._jdf.queryExecution().executedPlan().toString()
        pushed = plan.split("PushedFilters: ")[1].split("]")[0]
        assert "GreaterThanOrEqual(ts,2024-01-01 00:00:00.0)" in pushed
        assert "LessThan(ts,2024-01-01 02:00:00.0)" in pushed


def final_plan(df) -> str:
    """The physical plan ``df`` ran, adaptive query stages included."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName().startswith("AdaptiveSparkPlan"):
        plan = plan.executedPlan()
    return plan.toString()


#: Child process of TestGapFillPlanShape's wide-tier test: the ``wh``
#: fixture in a session that charges 1 KB per file open, below the
#: tier's bytes. Prints one JSON line per fill type.
_WIDE_CHILD = """
import json, sys
sys.path.insert(0, sys.argv[1])
from ecollector_spark.api import EcollectorApi
from ecollector_spark.session import get_spark
from ecollector_spark.warehouse import Warehouse
from tests.test_api_warehouse import WH_ROWS, TestGapFillPlanShape, _mk_points, final_plan

spark = get_spark("wide-tier", master="local[2]", shuffle_partitions=4,
                  extra_conf={"spark.sql.files.openCostInBytes": "1024"})
w = Warehouse(spark, sys.argv[2])
w.write_points(_mk_points(spark, WH_ROWS))
api = EcollectorApi(spark, w)
sc = spark.sparkContext
for fill in ("null", "previous"):
    req = TestGapFillPlanShape._req(fill)
    sc.setJobGroup(fill, fill)
    rep = api.get_data_points(req, now=TestGapFillPlanShape.NOW)
    sc.setLocalProperty("spark.jobGroup.id", None)
    df = api.planner.plan(req, now=TestGapFillPlanShape.NOW)
    df.collect()
    print(json.dumps({
        "tier_bytes": sum(size for _, size, _ in w.tier_listing("gen_raw")),
        "one_partition": w.read_tier("gen_raw").one_partition,
        "jobs": len(sc.statusTracker().getJobIdsForGroup(fill)),
        "series": rep["val"]["Results"][0]["Series"],
        "plan": final_plan(df),
    }))
"""


class TestGapFillPlanShape:
    """A grouped gap-filled request scans its tier once and joins nothing:
    the spine is built from the aggregate's own rows (gapfill.bucket_spine).
    The fixture's tier is smaller than one file open, so it reads as one
    partition (Warehouse.read_tier): no operator above the scan plans an
    exchange and the request runs as one Spark job. A tier above that
    size keeps the distributed plan: the aggregate shuffle, one
    single-partition shuffle of aggregated rows and the result — three
    Spark jobs."""

    NOW = datetime(2024, 1, 1, 1, tzinfo=timezone.utc)

    @staticmethod
    def _req(fill):
        # max keeps the request on gen_raw (only mean upgrades the tier)
        return DataPointsRequest(
            measurement_name="electricity_meter_power",
            relative_time="1h",
            group_by_time="10m",
            data_function="max",
            group_by_tag="dev_id",
            fill_type=fill,
        )

    @pytest.mark.parametrize("fill", ["null", "previous"])
    def test_grouped_fill_runs_one_job(self, wh, fill):
        api = EcollectorApi(wh.spark, wh)
        sc = wh.spark.sparkContext
        group = f"gapfill-jobs-{fill}"
        sc.setJobGroup(group, group)
        try:
            rep = api.get_data_points(self._req(fill), now=self.NOW)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        series = {s["tags"]["dev_id"]: s["values"] for s in rep["val"]["Results"][0]["Series"]}
        assert sorted(series) == ["7", "8"] and all(len(v) == 7 for v in series.values())
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
        df = api.planner.plan(self._req(fill), now=self.NOW)
        df.collect()
        plan = final_plan(df)
        assert "Coalesce 1" in plan and "Exchange" not in plan

    @pytest.mark.parametrize("fill", ["null", "previous"])
    def test_grouped_fill_scans_the_tier_once(self, wh, fill):
        df = EcollectorApi(wh.spark, wh).planner.plan(self._req(fill), now=self.NOW)
        df.collect()
        plan = final_plan(df)
        assert plan.count("FileScan") == 1
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_wide_tier_keeps_the_three_job_plan(self, wh, tmp_path):
        """In a session whose file-open cost is below the tier's bytes the
        tier reads as Spark splits it, and the request keeps the plan it
        had before reads narrowed: the same rows as the narrowed read,
        three jobs, one hash exchange under the aggregate and one
        single-partition exchange of aggregated rows."""
        api = EcollectorApi(wh.spark, wh)
        narrow = {f: api.get_data_points(self._req(f), now=self.NOW) for f in ("null", "previous")}
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        proc = subprocess.run(
            [sys.executable, "-c", _WIDE_CHILD, repo, str(tmp_path / "wide")],
            cwd=repo,
            capture_output=True,
            text=True,
            timeout=300,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        lines = [json.loads(x) for x in proc.stdout.splitlines() if x.startswith("{")]
        for fill, out in zip(("null", "previous"), lines, strict=True):
            assert out["tier_bytes"] > 1024 and out["one_partition"] is False
            assert out["jobs"] == 3
            assert out["series"] == narrow[fill]["val"]["Results"][0]["Series"]
            plan = out["plan"]
            assert plan.count("FileScan") == 1 and "Coalesce" not in plan
            agg_shuffle = r"Exchange hashpartitioning\(_groupingexpression#\d+L, dev_id#\d+, 4\)"
            assert len(re.findall(agg_shuffle, plan)) == 1
            assert plan.count("Exchange SinglePartition, REPARTITION_BY_NUM") == 1
            assert plan.count("Exchange") == 2


class TestViewsFollowWrites:
    """The raw-SQL views hold the listing they were built from; the Spark
    SQL branch of ``run_query`` re-registers the ones whose tier changed."""

    @staticmethod
    def _points(spark, first, n):
        return _mk_points(spark, [
            ("electricity_meter_power", f"2024-01-01T00:{i:02d}:00", "7", float(i))
            for i in range(first, first + n)
        ])

    @staticmethod
    def _count(api, view):
        rep = api.run_query(f"SELECT count(*) AS n FROM {view}")
        assert rep["val"].get("error") is None, rep["val"]
        return rep["val"]["Results"][0]["Series"][0]["values"][0][0]

    def test_count_after_an_append(self, spark, tmp_path):
        w = Warehouse(spark, str(tmp_path / "warehouse"))
        api = EcollectorApi(spark, w)
        w.write_points(self._points(spark, 0, 10))
        w.register_views("datapoints")
        assert self._count(api, "datapoints") == 10
        w.write_points(self._points(spark, 10, 5))
        assert self._count(api, "datapoints") == 15
        assert self._count(api, "datapoints_gen_raw") == 15

    def test_unchanged_warehouse_registers_nothing(self, spark, tmp_path):
        w = Warehouse(spark, str(tmp_path / "warehouse"))
        w.write_points(self._points(spark, 0, 3))
        assert w.register_views("dp") == ["dp_gen_raw", "dp"]
        sc = spark.sparkContext
        sc.setJobGroup("refresh-views", "refresh-views")
        try:
            assert w.refresh_views() == []
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup("refresh-views") == []
        w.write_points(self._points(spark, 3, 1))
        assert w.refresh_views() == ["dp_gen_raw", "dp"]
        assert w.refresh_views() == []

    def test_emptied_tier_drops_its_view(self, spark, tmp_path):
        w = Warehouse(spark, str(tmp_path / "warehouse"))
        w.write_points(self._points(spark, 0, 2))
        w.write_points(_mk_points(spark, [("door_lock.evt.lock.report", "2024-01-01T00:00:10", "9", 1.0)]))
        w.register_views("dp")
        w.drop_tier("gen_default")
        assert w.refresh_views() == ["dp"]
        assert not spark.catalog.tableExists("dp_gen_default")
        got = spark.sql("SELECT tier, count(*) AS n FROM dp GROUP BY tier").collect()
        assert [(r.tier, r.n) for r in got] == [("gen_raw", 2)]
