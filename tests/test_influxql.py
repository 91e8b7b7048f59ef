"""InfluxQL shim: the documented cmd.tsdb.query shapes (reference
docs/api:9,194,251) parse into DataPointsRequest and run verbatim
through EcollectorApi.run_query on the planner path."""

from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from ecollector_spark.api import EcollectorApi
from ecollector_spark.influxql import InfluxQLParseError, parse_influxql
from ecollector_spark.warehouse import Warehouse

from tests.test_api_warehouse import _mk_points

# the three query strings documented in the reference's API docs, verbatim
DOC_Q_COUNT = (
    'SELECT count("value") AS "count_value" FROM "gen_default".'
    '"sensor_presence.evt.presence.report" WHERE  '
    "topic='pt:j1/mt:evt/rt:dev/rn:zw/ad:1/sv:sensor_presence/ad:9_0' "
    "GROUP BY time(30m) FILL(null)"
)
DOC_Q_MEAN = (
    'SELECT mean("value") AS "mean_value" FROM "gen_raw"."electricity_meter_power" '
    "WHERE time > now()-10m AND \"dev_id\"='100'"
)
DOC_Q_LAST = (
    'SELECT last(value) AS count_value FROM "gen_default".'
    '"sensor_presence.evt.presence.report" GROUP BY location_id  FILL(null)'
)


class TestParse:
    def test_doc_count_query(self):
        iq = parse_influxql(DOC_Q_COUNT)
        assert iq.measurement == "sensor_presence.evt.presence.report"
        assert iq.retention_policy == "gen_default"
        assert iq.alias == "count_value"
        r = iq.request
        assert r.data_function == "count"
        assert r.group_by_time == "30m"
        assert r.fill_type == "null"
        assert r.filters.tags == {
            "topic": "pt:j1/mt:evt/rt:dev/rn:zw/ad:1/sv:sensor_presence/ad:9_0"
        }

    def test_doc_mean_query(self):
        iq = parse_influxql(DOC_Q_MEAN)
        assert iq.retention_policy == "gen_raw"
        assert iq.measurement == "electricity_meter_power"
        r = iq.request
        assert r.data_function == "mean"
        assert r.relative_time == "10m"
        assert r.filters.devices == ["100"]

    def test_doc_last_query(self):
        iq = parse_influxql(DOC_Q_LAST)
        r = iq.request
        assert r.data_function == "last"
        assert r.group_by_tag == "location_id"
        assert r.group_by_time == ""
        assert r.fill_type == "null"

    def test_unquoted_tier_dot_measurement(self):
        iq = parse_influxql("SELECT mean(value) FROM gen_raw.electricity_meter_power")
        assert iq.retention_policy == "gen_raw"
        assert iq.measurement == "electricity_meter_power"

    def test_dotted_measurement_without_tier(self):
        iq = parse_influxql('SELECT last(value) FROM "sensor_temp.evt.sensor.report"')
        assert iq.retention_policy is None
        assert iq.measurement == "sensor_temp.evt.sensor.report"

    def test_absolute_time_range(self):
        iq = parse_influxql(
            "SELECT sum(value) FROM m WHERE time >= '2024-01-01T00:00:00Z' "
            "AND time <= '2024-01-02T00:00:00Z' GROUP BY time(1h)"
        )
        assert iq.request.from_time == "2024-01-01T00:00:00Z"
        assert iq.request.to_time == "2024-01-02T00:00:00Z"

    def test_raw_field_select(self):
        # bare-field selector: raw points (influxdb_v1.go:163,180)
        iq = parse_influxql(
            'SELECT "value" AS "value" FROM "gen_raw"."electricity_meter_power" '
            "WHERE time > now()-10m GROUP BY dev_id FILL(null)"
        )
        assert iq.request.data_function == ""
        assert iq.request.group_by_tag == "dev_id"

    def test_transform_wrapped_aggregate(self):
        # A15 f(g(x)) selector (influxdb_v1.go:185)
        iq = parse_influxql(
            'SELECT difference(max("value")) AS "value" FROM "gen_raw"."m" '
            "WHERE time > now()-1h GROUP BY time(10m), \"dev_id\" FILL(null)"
        )
        assert iq.request.transform_function == "difference"
        assert iq.request.data_function == "max"
        assert iq.request.group_by_time == "10m"
        # exp() joined the supported scalar wraps in r6; a genuinely
        # unknown transform still raises
        assert parse_influxql('SELECT exp(max("value")) FROM m').request.transform_function == "exp"
        with pytest.raises(InfluxQLParseError):
            parse_influxql('SELECT frobnicate(max("value")) FROM m')

    def test_three_part_from(self):
        # the reference's energy query shape (influxdb_v1.go:233)
        iq = parse_influxql(
            'SELECT sum("value") AS "value" FROM "historian"."gen_year".'
            '"electricity_meter_energy_sampled" WHERE time > now()-2d '
            "GROUP BY time(1h), dev_id FILL(null)"
        )
        assert iq.retention_policy == "gen_year"
        assert iq.measurement == "electricity_meter_energy_sampled"

    def test_order_by_desc_limit_offset(self):
        iq = parse_influxql(
            'SELECT mean("value") FROM "gen_raw"."electricity_meter_power" '
            "WHERE time > now()-1h GROUP BY time(10m) FILL(null) "
            "ORDER BY time DESC LIMIT 5 OFFSET 2"
        )
        assert iq.order_desc is True
        assert iq.limit == 5 and iq.offset == 2
        assert iq.request.group_by_time == "10m"

    def test_order_by_time_asc_default(self):
        iq = parse_influxql('SELECT mean("value") FROM "m" ORDER BY time')
        assert iq.order_desc is False and iq.limit is None and iq.offset is None
        iq = parse_influxql('SELECT mean("value") FROM "m" ORDER BY time ASC LIMIT 3')
        assert iq.order_desc is False and iq.limit == 3

    def test_multi_tag_group(self):
        iq = parse_influxql(
            'SELECT mean("value") FROM "m" GROUP BY time(1h), "location_id", dev_id'
        )
        assert iq.request.group_by_tag == "location_id,dev_id"
        assert iq.request.group_by_time == "1h"

    def test_windowed_relative_range(self):
        iq = parse_influxql(
            'SELECT mean("value") FROM "m" '
            "WHERE time > now()-24h AND time < now()-1h"
        )
        assert iq.request.relative_time == "24h"
        assert iq.request.relative_to_time == "1h"
        # lone upper bound
        iq = parse_influxql('SELECT mean("value") FROM "m" WHERE time < now()-1h')
        assert iq.request.relative_time == "" and iq.request.relative_to_time == "1h"

    def test_epoch_time_literals(self):
        """InfluxQL epoch time literals: bare integers are nanoseconds
        (the InfluxQL default precision); s/ms/u/ns suffixes convert."""
        iq = parse_influxql(
            'SELECT mean("value") FROM "m" '
            "WHERE time >= 1704067200s AND time <= 1706745600000ms"
        )
        assert iq.request.from_time == "2024-01-01T00:00:00Z"
        assert iq.request.to_time == "2024-02-01T00:00:00Z"
        iq = parse_influxql(
            'SELECT mean("value") FROM "m" WHERE time >= 1704067200000000000'
        )
        assert iq.request.from_time == "2024-01-01T00:00:00Z"

    def test_neg_and_regex_tag_predicates(self):
        iq = parse_influxql(
            'SELECT mean("value") FROM "m" WHERE "dir"!=\'export\' '
            "AND \"location_id\"=~/^1[0-9]$/ AND \"dev_type\"!~/meter/ "
            "AND \"domain\"='site'"
        )
        f = iq.request.filters
        assert f.neg_tags == {"dir": "export"}
        assert f.regex_tags == {"location_id": "^1[0-9]$"}
        assert f.neg_regex_tags == {"dev_type": "meter"}
        assert f.tags == {"domain": "site"}

    def test_slimit_soffset(self):
        iq = parse_influxql(
            'SELECT mean("value") FROM "m" GROUP BY time(1h), dev_id '
            "ORDER BY time DESC LIMIT 4 SLIMIT 2 SOFFSET 1"
        )
        assert iq.limit == 4 and iq.slimit == 2 and iq.soffset == 1
        assert iq.order_desc is True

    def test_regex_from(self):
        iq = parse_influxql('SELECT last("value") FROM /^electricity_meter_/')
        assert iq.measurement_regex == "^electricity_meter_"
        assert iq.retention_policy is None
        assert iq.request.data_function == "last"

    def test_bare_non_value_field_rejected(self):
        with pytest.raises(InfluxQLParseError):
            parse_influxql("SELECT something FROM events")

    def test_group_by_time_offset(self):
        iq = parse_influxql(
            'SELECT mean("value") FROM "m" GROUP BY time(1d, 4h), dev_id FILL(none)'
        )
        assert iq.request.group_by_time == "1d"
        assert iq.request.group_by_offset == "4h"
        assert iq.request.group_by_tag == "dev_id"
        neg = parse_influxql('SELECT mean("value") FROM "m" GROUP BY time(1d, -4h)')
        assert neg.request.group_by_offset == "-4h"
        assert parse_influxql(
            'SELECT mean("value") FROM "m" GROUP BY time(30s)'
        ).request.group_by_time == "30s"
        with pytest.raises(InfluxQLParseError):
            parse_influxql('SELECT mean("value") FROM "m" GROUP BY time(1d, wat)')

    def test_multi_select_keeps_per_selector_fields(self):
        iq = parse_influxql('SELECT mean("value"), max("aux") FROM "m" GROUP BY time(1h) FILL(none)')
        assert [(s.data_function, s.field) for s in iq.selectors] == [
            ("mean", "value"), ("max", "aux"),
        ]

    def test_multi_select_fill_null_and_zero_allowed(self):
        for fill in ("null", "0", "none"):
            iq = parse_influxql(
                f'SELECT mean("value"), max("value") FROM "m" GROUP BY time(1h) FILL({fill})'
            )
            assert iq.request.fill_type == fill
        with pytest.raises(InfluxQLParseError):
            parse_influxql(
                'SELECT mean("value"), max("value") FROM "m" GROUP BY time(1h) FILL(previous)'
            )

    def test_field_predicates(self):
        iq = parse_influxql(
            'SELECT mean("value") FROM "m" WHERE time > now()-1h '
            'AND "value" > 50 AND "value" <= 99.5 AND "value" <> 60 '
            "GROUP BY time(5m)"
        )
        assert iq.request.filters.field_predicates == [
            (">", 50.0), ("<=", 99.5), ("!=", 60.0),
        ]
        # numeric comparison on a tag column is not a field predicate
        with pytest.raises(InfluxQLParseError):
            parse_influxql('SELECT mean("value") FROM "m" WHERE "location_id" > 2')

    def test_subquery_parses_and_inherits_range(self):
        iq = parse_influxql(
            'SELECT max("value") FROM (SELECT last("value") FROM "m" '
            "WHERE time > now()-1d GROUP BY time(6h) FILL(none)) GROUP BY time(1d)"
        )
        assert iq.subquery is not None
        assert iq.subquery.measurement == "m"
        assert iq.subquery.request.group_by_time == "6h"
        assert iq.request.data_function == "max"
        # outer had no WHERE -> inherits the inner range
        assert iq.request.relative_time == "1d"
        # two-level nesting
        iq2 = parse_influxql(
            'SELECT min("value") FROM (SELECT max("value") FROM (SELECT last("value") '
            'FROM "m" WHERE time > now()-1d GROUP BY time(1h)) GROUP BY time(6h))'
        )
        assert iq2.subquery.subquery.measurement == "m"

    def test_subquery_rejects_bad_shapes(self):
        bad = [
            # unbalanced parens
            'SELECT max("value") FROM (SELECT last("value") FROM "m"',
            # multi-select inner
            'SELECT max("value") FROM (SELECT mean("value"), max("value") FROM "m")',
            # regex FROM inner
            'SELECT max("value") FROM (SELECT mean("value") FROM /m.*/)',
        ]
        for q in bad:
            with pytest.raises(InfluxQLParseError):
                parse_influxql(q)

    def test_multi_select_parses_selector_list(self):
        iq = parse_influxql(
            'SELECT mean("value") AS avg_v, max("value"), percentile("value", 95) AS p95 '
            'FROM "m" GROUP BY time(1h), dev_id FILL(none)'
        )
        assert [(s.data_function, s.function_param, s.alias) for s in iq.selectors] == [
            ("mean", "", "avg_v"), ("max", "", ""), ("percentile", "95", "p95"),
        ]
        # request carries the first selector (reference-struct parity)
        assert iq.request.data_function == "mean"
        assert iq.alias == "avg_v"
        # single-select stays on the None path
        assert parse_influxql('SELECT mean("value") FROM "m"').selectors is None

    def test_multi_select_rejects_non_aggregates(self):
        bad = [
            'SELECT mean("value"), difference(max("value")) FROM "m"',  # transform
            'SELECT "value", mean("value") FROM "m"',  # raw field
            'SELECT mean("value"), mode("value") FROM "m"',  # two-stage agg
            'SELECT mean("value"), integral("value") FROM "m"',
            'SELECT mean("value"), max("value") FROM "m" FILL(previous)',  # fill
        ]
        for q in bad:
            with pytest.raises(InfluxQLParseError):
                parse_influxql(q)

    def test_spark_sql_rejected(self):
        # NOTE r9 second session: "SELECT * FROM m" is now VALID
        # InfluxQL (plan_star) and routes to the planner, like InfluxDB
        # itself — so the SQL-shape detection pins use column lists and
        # CTEs, which InfluxQL genuinely has no grammar for
        for q in (
            "SELECT event_type, user_id FROM events",
            "SELECT event_type, count(*) FROM events GROUP BY event_type",
            "WITH x AS (SELECT 1) SELECT * FROM x",
        ):
            with pytest.raises(InfluxQLParseError):
                parse_influxql(q)


class TestPlanTreeSemantics:
    """Planner-level pins for the review findings: per-selector fields,
    multi-select fill, and subquery range inheritance."""

    NOW = datetime(2024, 1, 1, 4, 0, 0, tzinfo=timezone.utc)

    def _planner(self, spark):
        from ecollector_spark.query import QueryPlanner

        base = datetime(2024, 1, 1, tzinfo=timezone.utc)
        rows = [
            ("m1", base + timedelta(minutes=10 + 30 * i), "d1", float(i), 100.0 - i)
            for i in range(7)  # 00:10 .. 03:10
        ]
        df = spark.createDataFrame(
            rows,
            "measurement string, ts timestamp, dev_id string, value_f double, aux double",
        )
        return QueryPlanner(lambda t: df)

    def test_multi_select_aggregates_each_selectors_field(self, spark):
        from ecollector_spark.influxql import parse_influxql, plan_tree

        iq = parse_influxql(
            'SELECT max("value") AS mv, max("aux") AS ma FROM "m1" '
            "WHERE time > now()-4h GROUP BY time(4h) FILL(none)"
        )
        r = plan_tree(self._planner(spark), iq, now=self.NOW).collect()[0]
        assert r["mv"] == 6.0
        assert r["ma"] == 100.0  # NOT max of value_f

    def test_multi_select_fill_null_spine(self, spark):
        from ecollector_spark.influxql import parse_influxql, plan_tree

        iq = parse_influxql(
            'SELECT mean("value"), count("value") FROM "m1" '
            "WHERE time >= '2024-01-01T00:00:00Z' AND time <= '2024-01-01T06:00:00Z' "
            "GROUP BY time(1h) FILL(null)"
        )
        rows = plan_tree(self._planner(spark), iq, now=self.NOW).collect()
        # spine covers all 7 hour buckets; empty ones present with nulls
        assert len(rows) == 7
        empty = [r for r in rows if r["mean"] is None]
        assert len(empty) == 3 and all(r["count"] is None for r in empty)

    def test_subquery_inherited_range_keeps_first_bucket(self, spark):
        from ecollector_spark.influxql import parse_influxql, plan_tree

        # inner buckets stamped 00:00..03:00; the inherited now()-4h
        # bound (00:00, strict >) must not drop the 00:00 bucket
        iq = parse_influxql(
            'SELECT sum("value") FROM (SELECT last("value") FROM "m1" '
            "WHERE time > now()-4h GROUP BY time(1h) FILL(none)) GROUP BY time(4h)"
        )
        rows = plan_tree(self._planner(spark), iq, now=self.NOW).collect()
        vals = {r["time"]: r["value"] for r in rows if r["value"] is not None}
        # hourly lasts: 00:00->1, 01:00->3, 02:00->5, 03:00->6; sum = 15
        assert vals == {1704067200: 15.0}

    def test_subquery_inner_result_clauses_apply(self, spark):
        from ecollector_spark.influxql import parse_influxql, plan_tree

        iq = parse_influxql(
            'SELECT sum("value") FROM (SELECT last("value") FROM "m1" '
            "WHERE time > now()-4h GROUP BY time(1h) FILL(none) "
            "ORDER BY time DESC LIMIT 2) GROUP BY time(4h)"
        )
        rows = plan_tree(self._planner(spark), iq, now=self.NOW).collect()
        vals = {r["time"]: r["value"] for r in rows if r["value"] is not None}
        # only the newest 2 inner buckets survive: 5 + 6
        assert vals == {1704067200: 11.0}

    def test_subquery_outer_field_names_inner_column(self, spark):
        """The outer statement reads the inner column by InfluxDB's name
        for it (the inner function, or its AS alias) and gets the same
        rows as through the canonical "value"."""
        from ecollector_spark.influxql import parse_influxql, plan_tree

        planner = self._planner(spark)

        def rows(outer, inner_sel='mean("value")'):
            iq = parse_influxql(
                f"SELECT {outer} FROM (SELECT {inner_sel} FROM \"m1\" "
                "WHERE time >= '2024-01-01T00:00:00Z' AND time <= '2024-01-01T03:59:59Z' "
                "GROUP BY time(30m)) GROUP BY time(1h)"
            )
            return sorted(map(tuple, plan_tree(planner, iq, now=self.NOW).collect()))

        want = rows('max("value")')
        assert len(want) == 4 and any(r[1] is not None for r in want)
        assert rows('max("mean")') == want
        assert rows('max("m")', 'mean("value") AS m') == want
        assert rows('max("mean"), min("mean")') == rows('max("value"), min("value")')


class TestRunQuery:
    def test_doc_mean_query_end_to_end(self, spark, tmp_path):
        w = Warehouse(spark, str(tmp_path / "w"))
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:00:10", "100", 400.0),
            ("electricity_meter_power", "2024-01-01T00:05:10", "100", 800.0),
            ("electricity_meter_power", "2024-01-01T00:05:20", "7", 999.0),   # other dev
            ("electricity_meter_power", "2023-12-31T23:00:00", "100", 5.0),   # out of range
        ]))
        api = EcollectorApi(spark, w)
        now = datetime(2024, 1, 1, 0, 9, 0, tzinfo=timezone.utc)
        rsp = api.run_query(DOC_Q_MEAN.replace("'100'", "'100'"), now=now)
        assert rsp["val"]["Results"][0].get("error") is None or "error" not in rsp["val"]["Results"][0]
        series = rsp["val"]["Results"][0]["Series"]
        assert series[0]["name"] == "electricity_meter_power"
        assert "mean_value" in series[0]["columns"]
        vals = series[0]["values"]
        # raw-ish mean path: dev 100 rows in the last 10m only
        col = series[0]["columns"].index("mean_value")
        got = [v[col] for v in vals]
        assert got == [600.0]

    def test_subquery_end_to_end(self, spark, tmp_path):
        w = Warehouse(spark, str(tmp_path / "w"))
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", f"2024-01-01T0{h}:{m:02d}:00", "7", float(h * 10 + m))
            for h in range(4) for m in (0, 30)
        ]))
        api = EcollectorApi(spark, w)
        now = datetime(2024, 1, 1, 4, 0, 0, tzinfo=timezone.utc)
        rsp = api.run_query(
            'SELECT max("value") FROM (SELECT last("value") '
            'FROM "gen_raw"."electricity_meter_power" '
            "WHERE time > now()-6h GROUP BY time(1h) FILL(none)) "
            "GROUP BY time(2h) FILL(none)",
            now=now,
        )
        s = rsp["val"]["Results"][0]["Series"][0]
        # inner hourly last (m=30 rows) = 30, 40, 50, 60; outer 2h max
        assert s["name"] == "electricity_meter_power"
        assert s["values"] == [[1704067200, 40.0], [1704074400, 60.0]]

    def test_multi_select_end_to_end(self, spark, tmp_path):
        w = Warehouse(spark, str(tmp_path / "w"))
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:00:10", "7", 100.0),
            ("electricity_meter_power", "2024-01-01T00:01:10", "7", 300.0),
            ("electricity_meter_power", "2024-01-01T00:05:30", "7", 50.0),
        ]))
        api = EcollectorApi(spark, w)
        now = datetime(2024, 1, 1, 0, 9, 0, tzinfo=timezone.utc)
        rsp = api.run_query(
            'SELECT mean("value") AS avg_v, max("value"), count("value") '
            'FROM "gen_raw"."electricity_meter_power" '
            "WHERE time > now()-10m GROUP BY time(5m) FILL(none)",
            now=now,
        )
        s = rsp["val"]["Results"][0]["Series"][0]
        assert s["columns"] == ["time", "avg_v", "max", "count"]
        assert s["values"] == [
            [1704067200, 200.0, 300.0, 2.0],
            [1704067500, 50.0, 50.0, 1.0],
        ]

    def test_order_desc_limit_offset_end_to_end(self, spark, tmp_path):
        w = Warehouse(spark, str(tmp_path / "w"))
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", f"2024-01-01T00:0{i}:00", "7", float(i))
            for i in range(6)
        ]))
        api = EcollectorApi(spark, w)
        now = datetime(2024, 1, 1, 0, 6, 0, tzinfo=timezone.utc)
        rsp = api.run_query(
            'SELECT "value" FROM "gen_raw"."electricity_meter_power" '
            "WHERE time > now()-10m ORDER BY time DESC LIMIT 3 OFFSET 1",
            now=now,
        )
        s = rsp["val"]["Results"][0]["Series"][0]
        col = s["columns"].index("value")
        # desc order, skip the newest (5.0), take the next three
        assert [v[col] for v in s["values"]] == [4.0, 3.0, 2.0]

    def test_limit_applies_per_series_with_tag(self, spark, tmp_path):
        """InfluxQL LIMIT bounds points per GROUP BY group — with a tag
        group, each tag's series keeps its own newest N."""
        w = Warehouse(spark, str(tmp_path / "w"))
        rows = []
        for dev in ("7", "8"):
            for i in range(4):
                rows.append(
                    ("electricity_meter_power", f"2024-01-01T0{i}:00:00", dev,
                     float(i) + (100.0 if dev == "8" else 0.0))
                )
        w.write_points(_mk_points(spark, rows))
        api = EcollectorApi(spark, w)
        now = datetime(2024, 1, 1, 4, 0, 0, tzinfo=timezone.utc)
        rsp = api.run_query(
            'SELECT last("value") FROM "gen_raw"."electricity_meter_power" '
            "WHERE time > now()-6h GROUP BY time(1h), dev_id FILL(none) "
            "ORDER BY time DESC LIMIT 2",
            now=now,
        )
        series = rsp["val"]["Results"][0]["Series"]
        got = {s["tags"]["dev_id"]: [v[-1] for v in s["values"]] for s in series}
        assert got == {"7": [3.0, 2.0], "8": [103.0, 102.0]}

    def test_slimit_pages_series(self, spark, tmp_path):
        """SLIMIT/SOFFSET bound the SERIES dimension: tag values in tag
        order, independent of the per-series point bounds."""
        w = Warehouse(spark, str(tmp_path / "w"))
        rows = [
            ("electricity_meter_power", f"2024-01-01T0{i}:00:00", dev, float(i))
            for dev in ("5", "6", "7") for i in range(3)
        ]
        w.write_points(_mk_points(spark, rows))
        api = EcollectorApi(spark, w)
        now = datetime(2024, 1, 1, 3, 0, 0, tzinfo=timezone.utc)
        rsp = api.run_query(
            'SELECT last("value") FROM "gen_raw"."electricity_meter_power" '
            "WHERE time > now()-6h GROUP BY time(1h), dev_id FILL(none) "
            "LIMIT 2 SLIMIT 1 SOFFSET 1",
            now=now,
        )
        series = rsp["val"]["Results"][0]["Series"]
        # series page: skip dev 5, keep one series (dev 6); points: first 2
        assert [s["tags"]["dev_id"] for s in series] == ["6"]
        assert [v[-1] for v in series[0]["values"]] == [0.0, 1.0]

    def test_regex_from_expands_measurements(self, spark, tmp_path):
        w = Warehouse(spark, str(tmp_path / "w"))
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:01:00", "7", 10.0),
            ("electricity_meter_energy", "2024-01-01T00:02:00", "7", 20.0),
            ("sensor_temp.evt.sensor.report", "2024-01-01T00:03:00", "7", 21.5),
        ]))
        api = EcollectorApi(spark, w)
        now = datetime(2024, 1, 1, 0, 5, 0, tzinfo=timezone.utc)
        rsp = api.run_query(
            'SELECT "value" FROM /^electricity_meter_/ WHERE time > now()-1h',
            now=now,
        )
        series = rsp["val"]["Results"][0]["Series"]
        names = sorted(s["name"] for s in series)
        assert names == ["electricity_meter_energy", "electricity_meter_power"]
        vals = {s["name"]: [v[-1] for v in s["values"]] for s in series}
        assert vals["electricity_meter_power"] == [10.0]
        assert vals["electricity_meter_energy"] == [20.0]

    def test_multi_tag_group_end_to_end(self, spark, tmp_path):
        """GROUP BY time, tag1, tag2: one series per tag-value pair."""
        from pyspark.sql import functions as F

        w = Warehouse(spark, str(tmp_path / "w"))
        pts = _mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:10:00", "7", 10.0),
            ("electricity_meter_power", "2024-01-01T00:20:00", "8", 20.0),
        ])
        w.write_points(pts.withColumn(
            "location_id", F.when(F.col("dev_id") == "7", "L1").otherwise("L2")
        ))
        api = EcollectorApi(spark, w)
        now = datetime(2024, 1, 1, 1, 0, 0, tzinfo=timezone.utc)
        # last() stays on the raw tier (a bucketed mean would route to an
        # empty downsampled tier — mapping.go:86-103 tier upgrade)
        rsp = api.run_query(
            'SELECT last("value") FROM "gen_raw"."electricity_meter_power" '
            "WHERE time > now()-2h GROUP BY time(10m), location_id, dev_id FILL(none)",
            now=now,
        )
        series = rsp["val"]["Results"][0]["Series"]
        got = {(s["tags"]["location_id"], s["tags"]["dev_id"]): [v[-1] for v in s["values"]]
               for s in series}
        assert got == {("L1", "7"): [10.0], ("L2", "8"): [20.0]}

    def test_windowed_relative_range_end_to_end(self, spark, tmp_path):
        """time > now()-3h AND time < now()-1h keeps only the middle
        point: the lower bound is strict-greater, the upper strict-less
        (InfluxQL semantics), both resolved against the same now."""
        w = Warehouse(spark, str(tmp_path / "w"))
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:30:00", "7", 1.0),  # too old
            ("electricity_meter_power", "2024-01-01T02:00:00", "7", 2.0),  # in window
            ("electricity_meter_power", "2024-01-01T03:30:00", "7", 3.0),  # too new
        ]))
        api = EcollectorApi(spark, w)
        now = datetime(2024, 1, 1, 4, 0, 0, tzinfo=timezone.utc)
        rsp = api.run_query(
            'SELECT "value" FROM "gen_raw"."electricity_meter_power" '
            "WHERE time > now()-3h AND time < now()-1h",
            now=now,
        )
        s = rsp["val"]["Results"][0]["Series"][0]
        assert [v[-1] for v in s["values"]] == [2.0]

    def test_neg_tag_predicate_end_to_end(self, spark, tmp_path):
        w = Warehouse(spark, str(tmp_path / "w"))
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:01:00", "7", 10.0),
            ("electricity_meter_power", "2024-01-01T00:02:00", "8", 20.0),
        ]))
        api = EcollectorApi(spark, w)
        now = datetime(2024, 1, 1, 0, 5, 0, tzinfo=timezone.utc)
        rsp = api.run_query(
            'SELECT "value" FROM "gen_raw"."electricity_meter_power" '
            "WHERE time > now()-1h AND \"dev_id\"!='7'",
            now=now,
        )
        s = rsp["val"]["Results"][0]["Series"][0]
        assert [v[-1] for v in s["values"]] == [20.0]

    def test_spark_sql_fallback_still_works(self, spark, tmp_path):
        w = Warehouse(spark, str(tmp_path / "w"))
        api = EcollectorApi(spark, w)
        rsp = api.run_query("SELECT 1 AS one")
        assert rsp["val"]["Results"][0]["Series"][0]["values"] == [[1]]

    def test_error_envelope_not_raise(self, spark, tmp_path):
        w = Warehouse(spark, str(tmp_path / "w"))
        api = EcollectorApi(spark, w)
        rsp = api.run_query("SELECT definitely broken syntax FROM FROM")
        # reference error shape: Results null, error at val level (docs/api:364-380)
        assert rsp["val"]["Results"] is None and rsp["val"]["error"]

    def test_show_measurements_routes_to_catalog(self, spark, tmp_path):
        """The reference sends SHOW MEASUREMENTS as a query string
        (influxdb_v1.go:376-393) — it must hit the catalog, not the SQL
        parser. Verbatim statement incl. trailing semicolon."""
        w = Warehouse(spark, str(tmp_path / "w"))
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:00:10", "100", 400.0),
        ]))
        api = EcollectorApi(spark, w)
        for q in ("SHOW MEASUREMENTS", "show measurements;", "SHOW MEASUREMENTS ON ecollector"):
            rsp = api.run_query(q)
            series = rsp["val"]["Results"][0]["Series"]
            assert series[0]["columns"] == ["name"]
            assert ["electricity_meter_power"] in series[0]["values"]

    def test_show_retention_policies_routes_to_catalog(self, spark, tmp_path):
        w = Warehouse(spark, str(tmp_path / "w"))
        api = EcollectorApi(spark, w)
        api.add_retention_policy("custom", 3600)
        for q in ("SHOW RETENTION POLICIES", 'SHOW RETENTION POLICIES ON "ecollector"'):
            rsp = api.run_query(q)
            series = rsp["val"]["Results"][0]["Series"]
            names = [v[0] for v in series[0]["values"]]
            assert "gen_raw" in names and "custom" in names

    def test_show_databases(self, spark, tmp_path):
        w = Warehouse(spark, str(tmp_path / "w"))
        api = EcollectorApi(spark, w)
        rsp = api.run_query("SHOW DATABASES")
        assert rsp["val"]["Results"][0]["Series"][0]["values"] == [["ecollector"]]

    def test_show_tag_keys_and_values_and_field_keys(self, spark, tmp_path):
        w = Warehouse(spark, str(tmp_path / "w"))
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:00:10", "7", 1.0),
            ("electricity_meter_power", "2024-01-01T00:01:10", "9", 2.0),
            ("sensor_temp.evt.sensor.report", "2024-01-01T00:00:20", "5", 21.5),
        ]))
        api = EcollectorApi(spark, w)

        rsp = api.run_query('SHOW TAG KEYS FROM "electricity_meter_power"')
        s = rsp["val"]["Results"][0]["Series"]
        assert len(s) == 1 and s[0]["name"] == "electricity_meter_power"
        keys = [v[0] for v in s[0]["values"]]
        assert s[0]["columns"] == ["tagKey"]
        # every populated tag column shows; value_f/unit etc never do
        assert "dev_id" in keys and "location_id" in keys and "topic" in keys
        assert "value_f" not in keys and "unit" not in keys

        rsp = api.run_query(
            'SHOW TAG VALUES FROM "electricity_meter_power" WITH KEY = "dev_id"'
        )
        s = rsp["val"]["Results"][0]["Series"][0]
        assert s["columns"] == ["key", "value"]
        assert [v for v in s["values"]] == [["dev_id", "7"], ["dev_id", "9"]]

        # WITH KEY IN over all measurements: series per measurement
        rsp = api.run_query('SHOW TAG VALUES WITH KEY IN ("dev_id", "domain")')
        by_name = {s["name"]: s["values"] for s in rsp["val"]["Results"][0]["Series"]}
        assert by_name["electricity_meter_power"] == [
            ["dev_id", "7"], ["dev_id", "9"], ["domain", "site"]
        ]
        assert by_name["sensor_temp.evt.sensor.report"] == [
            ["dev_id", "5"], ["domain", "site"]
        ]

        rsp = api.run_query("SHOW FIELD KEYS")
        by_name = {s["name"]: s["values"] for s in rsp["val"]["Results"][0]["Series"]}
        # only value_f is populated by _mk_points
        assert by_name["electricity_meter_power"] == [["value_f", "float"]]

        # TAG VALUES without WITH KEY -> error envelope, never a raise
        rsp = api.run_query('SHOW TAG VALUES FROM "electricity_meter_power"')
        assert "WITH KEY" in rsp["val"]["error"]

    def test_show_like_sql_still_falls_through(self, spark, tmp_path):
        """Only the catalog SHOW family is intercepted — other SHOW-ish
        strings keep the Spark SQL path (e.g. SHOW TABLES works there)."""
        from ecollector_spark.influxql import parse_show_statement

        assert parse_show_statement("SHOW TABLES") is None
        assert parse_show_statement("SHOW MEASUREMENTS WHERE x") is None
        assert parse_show_statement("SELECT 1") is None


# ---------------------------------------------------------------------------
# property: any query assembled from the supported grammar parses back to
# exactly its components (pure parser — no Spark session involved)
# ---------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from ecollector_spark import tiers as _tiers  # noqa: E402

_ident = st.from_regex(r"[a-z][a-z0-9_]{0,10}(\.[a-z][a-z0-9_]{0,8}){0,2}", fullmatch=True)
_funcs = st.sampled_from(sorted({
    "mean", "sum", "min", "max", "count", "median", "last", "first",
    "stddev", "spread", "mode",
}))
#: parameterized selector shapes: (fn, param) — percentile requires N,
#: integral takes an optional duration, count(distinct()) is the nested form
_param_funcs = st.one_of(
    st.tuples(st.just("percentile"), st.integers(1, 100).map(str)),
    st.tuples(st.just("integral"), st.one_of(st.just(""), st.sampled_from(["1s", "10m", "1h"]))),
    st.tuples(st.just("count_distinct"), st.just("")),
)
_transforms = st.sampled_from(["abs", "difference", "non_negative_difference", "cumulative_sum"])
#: parameterized transforms: moving_average requires an int >= 2;
#: derivative/non_negative_derivative/elapsed take an optional duration
_param_transforms = st.one_of(
    st.tuples(st.just("moving_average"), st.integers(2, 20).map(str)),
    st.tuples(
        st.sampled_from(["derivative", "non_negative_derivative", "elapsed"]),
        st.one_of(st.just(""), st.sampled_from(["10s", "1m", "1h"])),
    ),
)
_durs = st.sampled_from(["30s", "10m", "1h", "2d", "1w"])
_fills = st.sampled_from(["null", "previous", "0", "none", "linear"])
_tagkeys = st.sampled_from(["dev_id", "location_id", "dev_type", "topic", "custom_tag"])
_tagvals = st.from_regex(r"[A-Za-z0-9:/_.-]{1,20}", fullmatch=True)


@st.composite
def influxql_queries(draw):
    fn_param = tf_param = ""
    if draw(st.booleans()) and draw(st.booleans()):
        # parameterized aggregate (quarter of cases); no transform wrap —
        # the grammar's wrapped inner aggregate is parameterless
        fn, fn_param = draw(_param_funcs)
        tf = ""
        if fn == "percentile":
            sel = f'percentile("value", {fn_param})'
        elif fn == "count_distinct":
            sel = 'count(distinct("value"))'
        else:
            sel = f'integral("value", {fn_param})' if fn_param else 'integral("value")'
    elif draw(st.booleans()) and draw(st.booleans()) and draw(st.booleans()):
        # raw-series transform (eighth of cases): tf("value"[, param]),
        # no aggregate — the chunk-partitioned raw window path
        fn = None
        tf, tf_param = draw(
            st.one_of(
                st.tuples(st.sampled_from(["cumulative_sum", "non_negative_difference"]), st.just("")),
                st.tuples(
                    st.sampled_from(["derivative", "non_negative_derivative", "elapsed"]),
                    st.one_of(st.just(""), st.sampled_from(["10s", "1m", "1h"])),
                ),
            )
        )
        sel = f'{tf}("value", {tf_param})' if tf_param else f'{tf}("value")'
    else:
        fn = draw(st.one_of(st.none(), _funcs))
        tf = ""
        if fn and draw(st.booleans()):
            if draw(st.booleans()):
                tf = draw(_transforms)
            else:
                tf, tf_param = draw(_param_transforms)
        sel = '"value"' if fn is None else (
            (f'{tf}({fn}("value"), {tf_param})' if tf_param else f'{tf}({fn}("value"))')
            if tf
            else f'{fn}("value")'
        )
    alias = draw(st.one_of(st.none(), _ident))
    regex = None
    if draw(st.booleans()) and draw(st.booleans()):
        # FROM /re/ (quarter of cases): a safe always-compiling pattern
        # (every `*` is preceded by a literal/dot, so no "multiple repeat")
        regex = draw(st.from_regex(r"[a-z](?:[a-z0-9_.]\*?){0,6}", fullmatch=True))
        rp, meas, frm = None, regex, f"/{regex}/"
    else:
        rp = draw(st.one_of(st.none(), st.sampled_from(sorted(_tiers.TIERS))))
        meas = draw(_ident)
        frm = f'"{rp}"."{meas}"' if rp else f'"{meas}"'
    conds, exp_where = [], {}
    if draw(st.booleans()):
        dur = draw(_durs)
        conds.append(f"time > now()-{dur}")
        exp_where["relative"] = dur
    tags = draw(st.dictionaries(_tagkeys, _tagvals, max_size=3))
    for k, v in tags.items():
        conds.append(f"\"{k}\"='{v}'")
    gb_time = draw(st.one_of(st.none(), _durs))
    gb_tag = draw(st.one_of(st.none(), st.sampled_from(["dev_id", "location_id"])))
    group_items = ([f"time({gb_time})"] if gb_time else []) + ([gb_tag] if gb_tag else [])
    fill = draw(st.one_of(st.none(), _fills))
    order = draw(st.one_of(st.none(), st.sampled_from(["", " ASC", " DESC"])))
    limit = draw(st.one_of(st.none(), st.integers(1, 500)))
    offset = draw(st.one_of(st.none(), st.integers(1, 100)))
    slimit = draw(st.one_of(st.none(), st.integers(1, 20)))
    soffset = draw(st.one_of(st.none(), st.integers(1, 20)))
    q = f"SELECT {sel}"
    if alias:
        q += f' AS "{alias}"'
    q += f" FROM {frm}"
    if conds:
        q += " WHERE " + " AND ".join(conds)
    if group_items:
        q += " GROUP BY " + ", ".join(group_items)
    if fill:
        q += f" FILL({fill})"
    if order is not None:
        q += " ORDER BY time" + order
    if limit is not None:
        q += f" LIMIT {limit}"
    if offset is not None:
        q += f" OFFSET {offset}"
    if slimit is not None:
        q += f" SLIMIT {slimit}"
    if soffset is not None:
        q += f" SOFFSET {soffset}"
    return q, {
        "fn": fn or "", "fn_param": fn_param, "tf": tf, "tf_param": tf_param,
        "alias": alias, "rp": rp, "meas": meas,
        "where": exp_where, "tags": tags, "gb_time": gb_time or "",
        "gb_tag": gb_tag or "", "fill": fill or "", "regex": regex,
        "desc": order == " DESC", "limit": limit, "offset": offset,
        "slimit": slimit, "soffset": soffset,
    }


class TestParserProperty:
    @given(influxql_queries())
    @settings(max_examples=300, deadline=None)
    def test_roundtrip(self, qe):
        q, exp = qe
        iq = parse_influxql(q)
        r = iq.request
        assert r.data_function == exp["fn"]
        assert r.function_param == exp["fn_param"]
        assert r.transform_function == exp["tf"]
        assert r.transform_param == exp["tf_param"]
        assert iq.alias == exp["alias"]
        assert iq.retention_policy == exp["rp"]
        assert iq.measurement == exp["meas"]
        assert r.relative_time == exp["where"].get("relative", "")
        assert r.group_by_time == exp["gb_time"]
        assert r.group_by_tag == exp["gb_tag"]
        assert r.fill_type == exp["fill"]
        assert iq.measurement_regex == exp["regex"]
        assert iq.order_desc == exp["desc"]
        assert iq.limit == exp["limit"]
        assert iq.offset == exp["offset"]
        assert iq.slimit == exp["slimit"]
        assert iq.soffset == exp["soffset"]
        expected_tags = dict(exp["tags"])
        devs = [expected_tags.pop("dev_id", None)]
        locs = [expected_tags.pop("location_id", None)]
        dts = [expected_tags.pop("dev_type", None)]
        assert r.filters.devices == [d for d in devs if d]
        assert r.filters.locations == [v for v in locs if v]
        assert r.filters.dev_types == [v for v in dts if v]
        assert r.filters.tags == expected_tags


class TestParseProperties:
    """Hypothesis fuzz over the documented grammar: every generated query
    must parse with its fields recovered exactly; near-miss mutations
    must raise InfluxQLParseError (never another exception type)."""

    def test_grammar_roundtrip(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        ident = st.from_regex(r"[a-z][a-z0-9_.]{0,20}", fullmatch=True)
        dur = st.from_regex(r"[1-9][0-9]{0,2}[smhdw]", fullmatch=True)
        funcs = st.sampled_from(
            ["mean", "sum", "min", "max", "count", "median", "last", "first"]
        )

        @settings(max_examples=200, deadline=None)
        @given(
            meas=ident,
            fn=funcs,
            d=dur,
            g=dur,
            tagv=st.from_regex(r"[a-z0-9_:/-]{1,12}", fullmatch=True),
            fill=st.sampled_from(["null", "previous", "0", "none", "linear"]),
            alias=ident,
            arith=st.sampled_from(["", " * 2", " * 1000 + 5", " / 4 - 1"]),
            tz=st.sampled_from(["", "America/Los_Angeles", "Europe/Oslo", "UTC"]),
            wrap=st.sampled_from(["", "sqrt", "ln", "ceil", "abs"]),
            nfrom=st.integers(min_value=1, max_value=3),
        )
        def check(meas, fn, d, g, tagv, fill, alias, arith, tz, wrap, nfrom):
            from ecollector_spark.influxql import parse_influxql

            # alias only parses on the plain (non-arithmetic) selector
            # via _SEL_RE; arithmetic carries its own AS clause. A scalar
            # wrap replaces arithmetic in this template (wrapped leaves
            # inside expressions are a separately-tested shape).
            sel = f'{fn}("value"){arith}'
            if wrap and not arith:
                sel = f'{wrap}({fn}("value"))'
            tz_clause = f" tz('{tz}')" if tz else ""
            metas = [meas] + [f"{meas}{i}" for i in range(1, nfrom)]
            frm = ", ".join(f'"{m2}"' for m2 in metas)
            q = (
                f'SELECT {sel} AS "{alias}" FROM {frm} '
                f"WHERE time > now()-{d} AND \"dev_id\"='{tagv}' "
                f"AND \"domain\"='{tagv}' GROUP BY time({g}) FILL({fill})"
                f"{tz_clause}"
            )
            iq = parse_influxql(q)
            assert iq.measurement == meas
            if nfrom > 1:
                assert iq.measurement_list == metas
            else:
                assert iq.measurement_list is None
            assert iq.request.data_function == fn
            if wrap and not arith:
                assert iq.request.transform_function == wrap
            assert iq.request.relative_time == d
            assert iq.request.group_by_time == g
            assert iq.request.fill_type == fill
            assert iq.alias == alias
            assert iq.request.tz == tz
            assert (iq.value_arith is not None) == bool(arith)
            # dev_id routes to the device filter list; generic tags to tags
            assert iq.request.filters.devices == [tagv]
            assert iq.request.filters.tags.get("domain") == tagv

        check()

    def test_near_misses_raise_parse_error_only(self):
        from ecollector_spark.influxql import InfluxQLParseError, parse_influxql

        bad = [
            "SELECT FROM x",
            "SELECT mean(value FROM m",
            'SELECT frobnicate("value") FROM "m"',  # unknown function
            'SELECT mean("value") FROM',
            "DELETE FROM m",
            'SELECT mean("value") FROM "m" GROUP BY time()',
            'SELECT mean("value") FROM "m" WHERE time >',
            "",
            "   ",
            'SELECT a, b FROM "m"',  # multi-select not in the grammar
            'SELECT mean("value") FROM "m" ORDER BY value',  # only time
            'SELECT mean("value") FROM "m" ORDER BY time SIDEWAYS',
            'SELECT mean("value") FROM /ab[/',  # regex does not compile
            'SELECT mean("value") FROM "m" LIMIT many',
            "SELECT mean(\"value\") FROM \"m\" WHERE \"t\"=~/ab[/",  # bad tag regex
            "SELECT mean(\"value\") FROM \"m\" WHERE \"t\">='x'",  # no tag ranges
            'SELECT percentile("value") FROM "m"',  # percentile needs N
            'SELECT percentile("value", 0) FROM "m"',  # N must be in (0,100]
            'SELECT percentile("value", 150) FROM "m"',
            'SELECT moving_average(mean("value")) FROM "m"',  # needs window
            'SELECT moving_average(mean("value"), 1) FROM "m"',  # window >= 2
            'SELECT derivative(mean("value"), bogus) FROM "m"',  # bad unit
            'SELECT integral("value", 5x) FROM "m"',  # bad unit suffix
            'SELECT mean("value", 3) FROM "m"',  # mean takes no parameter
            'SELECT abs(mean("value"), 2) FROM "m"',  # abs takes no parameter
            'SELECT mean("value") * FROM "m"',  # dangling operator
            'SELECT mean("value") +* 2 FROM "m"',  # double operator
            'SELECT 2 * 3 FROM "m"',  # expression without a selector
            'SELECT (mean("value") * 2 FROM "m"',  # unbalanced parens
            'SELECT difference("value") - min("value") FROM "m"',  # two-stage in combo
            "SELECT mean(\"value\") FROM \"m\" GROUP BY time(1h) tz('Nope/Zone')",
        ]
        for q in bad:
            with pytest.raises(InfluxQLParseError):
                parse_influxql(q)


class TestContinuousQueryDDL:
    """CQ DDL strings — the exact templates the reference's AddCQ /
    DeleteCQ generate (storage/influxdb_v1.go:333-361) route onto the
    live cascade registry instead of dying in the SQL parser."""

    # verbatim AddCQ output (influxdb_v1.go:335-338), newlines included
    REF_CREATE = (
        'CREATE CONTINUOUS QUERY "raw_to_day" ON "ecollector"\n'
        "BEGIN\n "
        'SELECT mean(*) INTO "ecollector"."gen_day".:MEASUREMENT '
        'FROM "ecollector"."gen_raw"./.*/ GROUP BY time(1m),* \n'
        "END"
    )

    def test_parse_reference_create_template(self):
        from ecollector_spark.influxql import parse_cq_ddl

        cq = parse_cq_ddl(self.REF_CREATE)
        assert cq == {
            "kind": "create",
            "name": "raw_to_day",
            "src_rp": "gen_raw",
            "target_rp": "gen_day",
            "interval": "1m",
        }

    def test_parse_drop_and_passthrough(self):
        from ecollector_spark.influxql import parse_cq_ddl

        assert parse_cq_ddl("DROP CONTINUOUS QUERY raw_to_day ON ecollector") == {
            "kind": "drop",
            "name": "raw_to_day",
        }
        # non-CQ statements fall through untouched
        assert parse_cq_ddl('SELECT mean("value") FROM "m"') is None
        assert parse_cq_ddl("SHOW MEASUREMENTS") is None

    def test_unsupported_cq_bodies_error_instead_of_sql_fallback(self):
        from ecollector_spark.influxql import parse_cq_ddl

        bad = [
            # non-template body: max(*) is not the cascade's semantics
            'CREATE CONTINUOUS QUERY "x" ON "db" BEGIN SELECT max(*) INTO '
            '"db"."gen_day".:MEASUREMENT FROM "db"."gen_raw"./.*/ '
            "GROUP BY time(1m),* END",
            # seconds unit: outside the reference's h/d/m/w parser
            'CREATE CONTINUOUS QUERY "x" ON "db" BEGIN SELECT mean(*) INTO '
            '"db"."gen_day".:MEASUREMENT FROM "db"."gen_raw"./.*/ '
            "GROUP BY time(90s),* END",
            "DROP CONTINUOUS QUERY",  # malformed drop
        ]
        for q in bad:
            with pytest.raises(InfluxQLParseError):
                parse_cq_ddl(q)

    def test_run_query_cq_lifecycle(self, spark, tmp_path):
        from ecollector_spark.tiers import CQ_STAGES

        w = Warehouse(spark, str(tmp_path / "w"))
        api = EcollectorApi(spark, w)

        # DROP through the verbatim DeleteCQ string (influxdb_v1.go:352)
        rsp = api.run_query("DROP CONTINUOUS QUERY raw_to_day ON ecollector")
        assert rsp["val"]["Results"] == [{"Series": [], "Messages": None}]
        assert "raw_to_day" not in api.cq_stages
        # dropping again errors like InfluxDB, in the error envelope
        rsp = api.run_query("DROP CONTINUOUS QUERY raw_to_day ON ecollector")
        assert rsp["val"]["Results"] is None and "not found" in rsp["val"]["error"]

        # re-CREATE through the verbatim AddCQ string restores the stage
        rsp = api.run_query(self.REF_CREATE)
        assert rsp["val"]["Results"] == [{"Series": [], "Messages": None}]
        assert api.cq_stages["raw_to_day"] == CQ_STAGES["raw_to_day"]
        # identical re-create is a no-op; a conflicting one errors
        assert api.run_query(self.REF_CREATE)["val"]["Results"] is not None
        conflicting = self.REF_CREATE.replace("time(1m)", "time(10m)")
        rsp = api.run_query(conflicting)
        assert rsp["val"]["Results"] is None and "exists" in rsp["val"]["error"]
        # unknown retention policy is rejected
        rsp = api.run_query(self.REF_CREATE.replace("gen_raw", "no_such_rp"))
        assert rsp["val"]["Results"] is None and "retention policy" in rsp["val"]["error"]

    def test_show_continuous_queries_roundtrip(self, spark, tmp_path):
        w = Warehouse(spark, str(tmp_path / "w"))
        api = EcollectorApi(spark, w)
        rsp = api.run_query("SHOW CONTINUOUS QUERIES")
        s = rsp["val"]["Results"][0]["Series"][0]
        assert s["columns"] == ["name", "query"]
        names = [v[0] for v in s["values"]]
        assert names == ["raw_to_day", "day_to_week", "week_to_month", "month_to_year"]
        # the rendered query strings round-trip: dropping a CQ and
        # replaying its SHOW output re-creates the identical stage
        before = dict(api.cq_stages)
        queries = {v[0]: v[1] for v in s["values"]}
        api.delete_object("cq", "week_to_month")
        assert api.run_query(queries["week_to_month"])["val"]["Results"] is not None
        assert api.cq_stages == before


class TestSelectInto:
    """SELECT ... INTO — the one-off twin of the CQ template (public
    InfluxQL): the planned result is written into the target
    measurement instead of returned."""

    #: absolute ranges tier-route by elapsed-to-now (influxdb_v1.go:115-140):
    #: pin "now" near the fixture data so the 2024 range reads gen_raw
    NOW = datetime(2024, 1, 1, 0, 30, tzinfo=timezone.utc)

    def _api(self, spark, tmp_path):
        w = Warehouse(spark, str(tmp_path / "w"))
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:01:00", "7", 100.0),
            ("electricity_meter_power", "2024-01-01T00:04:00", "7", 300.0),
            ("electricity_meter_power", "2024-01-01T00:11:00", "7", 50.0),
            ("electricity_meter_power", "2024-01-01T00:12:00", "8", 70.0),
        ]))
        return EcollectorApi(spark, w), w

    def test_into_downsamples_and_reads_back(self, spark, tmp_path):
        api, w = self._api(spark, tmp_path)
        rsp = api.run_query(
            'SELECT mean("value") INTO "power_10m" FROM "gen_raw"."electricity_meter_power" '
            "WHERE time >= '2024-01-01T00:00:00Z' AND time < '2024-01-01T00:20:00Z' "
            "GROUP BY time(10m) FILL(none)",
            now=self.NOW,
        )
        s = rsp["val"]["Results"][0]["Series"][0]
        assert s["name"] == "result" and s["columns"] == ["time", "written"]
        assert s["values"] == [[0, 2]]
        # written points are ordinary datapoints: queryable immediately
        back = api.run_query(
            'SELECT "value" FROM "power_10m" WHERE time > now()-1h', now=self.NOW
        )
        vals = sorted(v[-1] for v in back["val"]["Results"][0]["Series"][0]["values"])
        assert vals == [60.0, 200.0]

    def test_into_grouped_by_tag_builds_series_ids(self, spark, tmp_path):
        api, w = self._api(spark, tmp_path)
        rsp = api.run_query(
            'SELECT mean("value") INTO "by_dev" FROM "gen_raw"."electricity_meter_power" '
            "WHERE time >= '2024-01-01T00:00:00Z' AND time < '2024-01-01T00:20:00Z' "
            'GROUP BY time(10m), "dev_id" FILL(none)',
            now=self.NOW,
        )
        assert rsp["val"]["Results"][0]["Series"][0]["values"] == [[0, 3]]
        got = {
            (r["series_id"], r["value_f"], r["dev_id"])
            for t in ("gen_raw", "gen_default", "gen_day")
            if (df := w.read_tier(t)) is not None
            for r in df.where(F.col("measurement") == "by_dev").collect()
        }
        assert got == {
            ("by_dev;7", 200.0, "7"),
            ("by_dev;7", 50.0, "7"),
            ("by_dev;8", 70.0, "8"),
        }

    def test_into_rp_pins_tier_and_validates(self, spark, tmp_path):
        api, w = self._api(spark, tmp_path)
        rsp = api.run_query(
            'SELECT mean("value") INTO "gen_day"."rolled" FROM "gen_raw"."electricity_meter_power" '
            "WHERE time >= '2024-01-01T00:00:00Z' AND time < '2024-01-01T00:20:00Z' "
            "GROUP BY time(10m) FILL(none)",
            now=self.NOW,
        )
        assert rsp["val"]["Results"][0]["Series"][0]["values"] == [[0, 2]]
        day = w.read_tier("gen_day")
        assert day is not None
        assert day.where(F.col("measurement") == "rolled").count() == 2
        # unknown target RP -> error envelope, nothing written
        bad = api.run_query(
            'SELECT mean("value") INTO "no_such_rp"."x" FROM "gen_raw"."electricity_meter_power" '
            "WHERE time >= '2024-01-01T00:00:00Z' GROUP BY time(10m) FILL(none)",
            now=self.NOW,
        )
        assert bad["val"]["Results"] is None and "retention policy" in bad["val"]["error"]

    def test_into_skips_null_fill_buckets(self, spark, tmp_path):
        api, w = self._api(spark, tmp_path)
        rsp = api.run_query(
            'SELECT mean("value") INTO "filled" FROM "gen_raw"."electricity_meter_power" '
            "WHERE time >= '2024-01-01T00:00:00Z' AND time < '2024-01-01T01:00:00Z' "
            "GROUP BY time(10m) FILL(null)",
            now=self.NOW,
        )
        # 6 spine buckets, 2 with data: only the 2 real points written
        assert rsp["val"]["Results"][0]["Series"][0]["values"] == [[0, 2]]


class TestDelete:
    """DELETE FROM / DROP SERIES: time-windowed data deletion through
    the query endpoint, rewriting only the affected measurement
    partitions (empty partitions become directory drops)."""

    NOW = datetime(2024, 1, 1, 1, 0, tzinfo=timezone.utc)

    def _api(self, spark, tmp_path):
        w = Warehouse(spark, str(tmp_path / "w"))
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:01:00", "7", 100.0),
            ("electricity_meter_power", "2024-01-01T00:31:00", "7", 300.0),
            ("sensor_temp.evt.sensor.report", "2024-01-01T00:02:00", "9", 21.5),
            ("sensor_temp.evt.sensor.report", "2024-01-01T00:32:00", "9", 22.5),
        ]))
        return EcollectorApi(spark, w), w

    def _values(self, w, measurement):
        out = []
        for t in ("gen_raw", "gen_default"):
            df = w.read_tier(t)
            if df is not None:
                out += [r["value_f"] for r in
                        df.where(F.col("measurement") == measurement).collect()]
        return sorted(out)

    def test_delete_time_window_one_measurement(self, spark, tmp_path):
        api, w = self._api(spark, tmp_path)
        rsp = api.run_query(
            'DELETE FROM "electricity_meter_power" '
            "WHERE time < '2024-01-01T00:10:00Z'",
            now=self.NOW,
        )
        assert rsp["val"]["Results"][0]["Series"][0]["values"] == [[1]]
        assert self._values(w, "electricity_meter_power") == [300.0]
        # the other measurement is untouched
        assert self._values(w, "sensor_temp.evt.sensor.report") == [21.5, 22.5]

    def test_delete_relative_and_inclusive_ops(self, spark, tmp_path):
        api, w = self._api(spark, tmp_path)
        # now()-25m = 00:35; time > now()-25m deletes nothing (both
        # sensor points are older)...
        rsp = api.run_query(
            'DELETE FROM "sensor_temp.evt.sensor.report" WHERE time > now()-25m',
            now=self.NOW,
        )
        assert rsp["val"]["Results"][0]["Series"][0]["values"] == [[0]]
        # ...while time > now()-1h (=00:00) deletes both
        rsp = api.run_query(
            'DELETE FROM "sensor_temp.evt.sensor.report" WHERE time > now()-1h',
            now=self.NOW,
        )
        assert rsp["val"]["Results"][0]["Series"][0]["values"] == [[2]]
        assert self._values(w, "sensor_temp.evt.sensor.report") == []

    def test_delete_all_measurements_by_time(self, spark, tmp_path):
        api, w = self._api(spark, tmp_path)
        rsp = api.run_query(
            "DELETE WHERE time <= '2024-01-01T00:02:00Z'", now=self.NOW
        )
        assert rsp["val"]["Results"][0]["Series"][0]["values"] == [[2]]
        assert self._values(w, "electricity_meter_power") == [300.0]
        assert self._values(w, "sensor_temp.evt.sensor.report") == [22.5]

    def test_drop_series_and_bad_predicates_rejected(self, spark, tmp_path):
        api, w = self._api(spark, tmp_path)
        rsp = api.run_query('DROP SERIES FROM "electricity_meter_power"')
        assert rsp["val"]["Results"][0]["Series"][0]["values"] == [[2]]
        assert self._values(w, "electricity_meter_power") == []
        # unknown tags and field predicates still refuse loudly — a
        # DELETE must never silently match more (or less) than asked
        bad = api.run_query("DELETE FROM \"m\" WHERE \"nosuchtag\"='7'")
        assert bad["val"]["Results"] is None and "unknown tag" in bad["val"]["error"]
        bad2 = api.run_query('DELETE FROM "m" WHERE "value" > 3')
        assert bad2["val"]["Results"] is None and "predicates" in bad2["val"]["error"]

    def test_delete_with_tag_predicate(self, spark, tmp_path):
        """Tag-equality DELETE (public InfluxQL surface, r9b): only the
        matching device's rows go; != deletes the complement; a time
        bound ANDs in."""
        api, w = self._api(spark, tmp_path)
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:05:00", "8", 500.0),
            ("electricity_meter_power", "2024-01-01T00:35:00", "8", 700.0),
        ]))
        rsp = api.run_query(
            'DELETE FROM "electricity_meter_power" WHERE "dev_id" = \'7\'',
            now=self.NOW,
        )
        assert rsp["val"]["Results"][0]["Series"][0]["values"] == [[2]]
        assert self._values(w, "electricity_meter_power") == [500.0, 700.0]
        # != with a time bound: early non-9 rows only -> the 00:05 dev-8
        rsp2 = api.run_query(
            'DELETE FROM "electricity_meter_power" '
            "WHERE \"dev_id\" != '9' AND time < '2024-01-01T00:10:00Z'",
            now=self.NOW,
        )
        assert rsp2["val"]["Results"][0]["Series"][0]["values"] == [[1]]
        assert self._values(w, "electricity_meter_power") == [700.0]
        # the sibling measurement is untouched throughout
        assert self._values(w, "sensor_temp.evt.sensor.report") == [21.5, 22.5]

    def test_delete_empty_value_hits_null_tags(self, spark, tmp_path):
        """r10 ADVICE: InfluxDB treats a MISSING tag as the empty value,
        so ``"location_id" = ''`` must also delete rows whose tag
        column is NULL (eqNullSafe(NULL, '') was false pre-r10)."""
        api, w = self._api(spark, tmp_path)
        extra = _mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:05:00", "8", 500.0),
        ]).withColumn("location_id", F.lit(None).cast("string"))
        w.write_points(extra)
        rsp = api.run_query(
            'DELETE FROM "electricity_meter_power" WHERE "location_id" = \'\'',
            now=self.NOW,
        )
        assert rsp["val"]["Results"][0]["Series"][0]["values"] == [[1]]
        # the two fixture rows (location_id='1') survive
        assert self._values(w, "electricity_meter_power") == [100.0, 300.0]

    def test_delete_bare_now_upper_bound(self, spark, tmp_path):
        """``WHERE time < now()`` (no offset) deletes everything up to
        the present — valid InfluxQL, resolved against the passed now."""
        api, w = self._api(spark, tmp_path)
        rsp = api.run_query('DELETE FROM "electricity_meter_power" WHERE time < now()',
                            now=self.NOW)
        assert rsp["val"]["Results"][0]["Series"][0]["values"] == [[2]]
        assert self._values(w, "electricity_meter_power") == []


class TestShowSeries:
    def test_show_series_and_cardinality(self, spark, tmp_path):
        w = Warehouse(spark, str(tmp_path / "w"))
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:01:00", "7", 100.0),
            ("electricity_meter_power", "2024-01-01T00:02:00", "7", 200.0),
            ("electricity_meter_power", "2024-01-01T00:03:00", "8", 50.0),
            ("sensor_temp.evt.sensor.report", "2024-01-01T00:02:00", "9", 21.5),
        ]))
        api = EcollectorApi(spark, w)
        s = api.run_query("SHOW SERIES")["val"]["Results"][0]["Series"][0]
        assert s["columns"] == ["key"]
        assert [v[0] for v in s["values"]] == [
            "electricity_meter_power,dev_id=7,dir=import",
            "electricity_meter_power,dev_id=8,dir=import",
            "sensor_temp.evt.sensor.report,dev_id=9,dir=import",
        ]
        s = api.run_query('SHOW SERIES FROM "electricity_meter_power"')
        assert len(s["val"]["Results"][0]["Series"][0]["values"]) == 2
        card = api.run_query("SHOW SERIES CARDINALITY")
        assert card["val"]["Results"][0]["Series"][0]["values"] == [[3]]


class TestWriteStatementFuzz:
    """Grammar fuzz for the write-path statements (DELETE, CQ DDL,
    SELECT INTO): every generated statement parses with its fields
    recovered; malformed neighbors raise InfluxQLParseError only."""

    def test_generated_statements_roundtrip(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from ecollector_spark.influxql import (
            parse_cq_ddl,
            parse_delete,
            parse_influxql,
        )

        ident = st.from_regex(r"[a-z][a-z0-9_.]{0,16}", fullmatch=True)
        dur = st.from_regex(r"[1-9][0-9]{0,2}[mhdw]", fullmatch=True)
        rp = st.sampled_from(["gen_raw", "gen_day", "gen_week", "gen_month"])

        @settings(max_examples=150, deadline=None)
        @given(name=ident, meas=ident, d=dur, src=rp, dst=rp, q1=st.booleans())
        def check(name, meas, d, src, dst, q1):
            quote = '"' if q1 else ""
            dele = parse_delete(
                f"DELETE FROM {quote}{meas}{quote} WHERE time < now()-{d}"
            )
            assert dele["measurement"] == meas
            kind, secs, op = dele["to"]
            assert kind == "rel" and secs > 0 and op == "<"

            cq = parse_cq_ddl(
                f'CREATE CONTINUOUS QUERY "{name}" ON "ecollector" BEGIN '
                f'SELECT mean(*) INTO "ecollector"."{dst}".:MEASUREMENT '
                f'FROM "ecollector"."{src}"./.*/ GROUP BY time({d}),* END'
            )
            assert cq == {
                "kind": "create", "name": name,
                "src_rp": src, "target_rp": dst, "interval": d,
            }

            iq = parse_influxql(
                f'SELECT mean("value") INTO "{dst}"."{meas}" '
                f'FROM "{src}"."{meas}" WHERE time > now()-{d} '
                f"GROUP BY time({d}) FILL(none)"
            )
            assert iq.into_measurement == meas and iq.into_rp == dst
            assert iq.measurement == meas and iq.retention_policy == src

        check()


class TestDeleteSafety:
    """Regression pins for the review findings: DELETE must never
    remove more than the WHERE clause selects, and malformed statements
    must come back in the error envelope, never as a raised exception."""

    def test_duplicate_same_direction_bounds_rejected(self):
        from ecollector_spark.influxql import parse_delete

        for q in (
            "DELETE FROM \"m\" WHERE time < '2024-01-01T00:00:00Z' "
            "AND time < '2024-06-01T00:00:00Z'",
            'DELETE FROM "m" WHERE time > now()-1d AND time > now()-7d',
        ):
            with pytest.raises(InfluxQLParseError, match="duplicate"):
                parse_delete(q)

    def test_out_of_range_epoch_is_error_envelope(self, spark, tmp_path):
        w = Warehouse(spark, str(tmp_path / "w"))
        api = EcollectorApi(spark, w)
        # 17 digits + 's': datetime would raise 'year out of range' —
        # must surface as the envelope, not a raised ValueError
        rsp = api.run_query('DELETE FROM "m" WHERE time < 99999999999999999s')
        assert rsp["val"]["Results"] is None and "out of range" in rsp["val"]["error"]
        # the SELECT path degrades the same way: parse error -> Spark SQL
        # fallback -> SQL error envelope; never a raised exception
        rsp = api.run_query('SELECT mean("value") FROM "m" WHERE time >= 99999999999999999s')
        assert rsp["val"]["Results"] is None and rsp["val"]["error"]

    def test_add_cq_rejects_bad_interval(self, spark, tmp_path):
        w = Warehouse(spark, str(tmp_path / "w"))
        api = EcollectorApi(spark, w)
        for bad in ("0h", "1mo", ""):
            res = api.add_cq("x", "gen_raw", "gen_day", bad)
            assert res["status"] == "error" and "interval" in res["error"]
        assert "x" not in api.cq_stages


class TestSelectorArithmetic:
    """r6 (VERDICT r5 #4): binary expressions over selectors —
    mean("value") * 2, max - min between selectors, raw "value" * 1000."""

    NOW = datetime(2024, 1, 1, 4, 0, 0, tzinfo=timezone.utc)

    def _planner(self, spark):
        from ecollector_spark.query import QueryPlanner

        base = datetime(2024, 1, 1, tzinfo=timezone.utc)
        rows = [
            ("m1", base + timedelta(minutes=30 * i), "d1", float(i + 1))
            for i in range(6)  # 00:00..02:30, values 1..6
        ]
        df = spark.createDataFrame(
            rows, "measurement string, ts timestamp, dev_id string, value_f double"
        )
        return QueryPlanner(lambda t: df)

    def _run(self, spark, q):
        from ecollector_spark.influxql import parse_influxql, plan_tree

        return plan_tree(self._planner(spark), parse_influxql(q), now=self.NOW).collect()

    def test_single_aggregate_scaled(self, spark):
        rows = self._run(
            spark,
            'SELECT mean("value") * 2 + 1 FROM "m1" '
            "WHERE time >= '2024-01-01T00:00:00Z' AND time <= '2024-01-01T04:00:00Z' "
            "GROUP BY time(1h) FILL(none)",
        )
        vals = {r["time"]: r["value"] for r in rows}
        # hourly means 1.5, 3.5, 5.5 -> *2+1 = 4, 8, 12
        assert vals == {1704067200: 4.0, 1704070800: 8.0, 1704074400: 12.0}

    def test_arith_rides_fill_previous(self, spark):
        """Single-leaf arithmetic composes with fills: the filled value
        is scaled too (expression applies AFTER the normal plan)."""
        rows = self._run(
            spark,
            'SELECT mean("value") * 10 FROM "m1" '
            "WHERE time >= '2024-01-01T00:00:00Z' AND time <= '2024-01-01T05:00:00Z' "
            "GROUP BY time(1h) FILL(previous)",
        )
        vals = [r["value"] for r in sorted(rows, key=lambda r: r["time"])]
        assert vals == [15.0, 35.0, 55.0, 55.0, 55.0, 55.0]

    def test_two_selector_combination(self, spark):
        rows = self._run(
            spark,
            'SELECT (max("value") - min("value")) * 2 + 1 FROM "m1" '
            "WHERE time >= '2024-01-01T00:00:00Z' AND time <= '2024-01-01T04:00:00Z' "
            "GROUP BY time(1h) FILL(none)",
        )
        vals = {r["time"]: r["value"] for r in rows}
        # per-hour spread 1 -> *2+1 = 3
        assert vals == {1704067200: 3.0, 1704070800: 3.0, 1704074400: 3.0}

    def test_raw_field_scaling(self, spark):
        rows = self._run(
            spark,
            'SELECT "value" * 1000 FROM "m1" '
            "WHERE time >= '2024-01-01T00:00:00Z' AND time <= '2024-01-01T04:00:00Z'",
        )
        assert [r["value"] for r in rows] == [1000.0, 2000.0, 3000.0, 4000.0, 5000.0, 6000.0]

    def test_alias_applies_through_api_shape(self, spark):
        rows = self._run(
            spark,
            'SELECT mean("value") * 2 AS dbl FROM "m1" '
            "WHERE time >= '2024-01-01T00:00:00Z' AND time <= '2024-01-01T04:00:00Z' "
            "GROUP BY time(4h) FILL(none)",
        )
        # plan_tree emits "value"; the API's alias rename is pinned at
        # parse level here: the alias survives into iq.alias
        from ecollector_spark.influxql import parse_influxql

        iq = parse_influxql('SELECT mean("value") * 2 AS dbl FROM "m1"')
        assert iq.alias == "dbl"
        assert rows[0]["value"] == 7.0  # mean(1..6)=3.5 * 2

    def test_division_and_unary_minus(self, spark):
        rows = self._run(
            spark,
            'SELECT sum("value") / -3 FROM "m1" '
            "WHERE time >= '2024-01-01T00:00:00Z' AND time <= '2024-01-01T04:00:00Z' "
            "GROUP BY time(4h) FILL(none)",
        )
        assert rows[0]["value"] == -7.0  # 21 / -3

    def test_zero_divisor_yields_null(self, spark):
        """A zero divisor yields a null value (InfluxDB's null result
        row), not an ANSI DIVIDE_BY_ZERO failure: a literal 0, and a
        selector difference that is 0 in every bucket."""
        where = (
            "WHERE time >= '2024-01-01T00:00:00Z' AND time <= '2024-01-01T04:00:00Z' "
            "GROUP BY time(1h) FILL(none)"
        )
        for expr in ('mean("value") / 0', 'max("value") / (max("value") - max("value"))'):
            rows = self._run(spark, f'SELECT {expr} FROM "m1" {where}')
            assert [r["value"] for r in rows] == [None, None, None], expr

    def test_rejects_two_stage_in_combination(self):
        from ecollector_spark.influxql import InfluxQLParseError, parse_influxql

        with pytest.raises(InfluxQLParseError):
            parse_influxql('SELECT difference("value") - min("value") FROM "m1"')

    def test_fill_zero_carries_literal_zero(self, spark):
        """ADVICE r6: FILL(0) buckets carry the literal fill value, not
        the expression applied to it — InfluxDB fills the expression's
        OUTPUT, so mean*2+1 over an empty bucket is 0, not 1. (Same rule
        the scalar-transform path already follows.)"""
        rows = self._run(
            spark,
            'SELECT mean("value") * 2 + 1 FROM "m1" '
            "WHERE time >= '2024-01-01T00:00:00Z' AND time <= '2024-01-01T05:00:00Z' "
            "GROUP BY time(1h) FILL(0)",
        )
        vals = [r["value"] for r in sorted(rows, key=lambda r: r["time"])]
        # data hours scale (means 1.5/3.5/5.5 -> 4/8/12); empty hours are 0
        assert vals == [4.0, 8.0, 12.0, 0.0, 0.0, 0.0]

    def test_fill_linear_interpolates_expression_output(self, spark):
        """FILL(linear) interpolates between the expression's outputs —
        arithmetic applies before the fill spine, so interpolated buckets
        sit on the scaled line, identically to InfluxDB."""
        rows = self._run(
            spark,
            'SELECT mean("value") * 10 FROM "m1" '
            "WHERE time >= '2024-01-01T00:00:00Z' AND time <= '2024-01-01T02:00:00Z' "
            "GROUP BY time(2h) FILL(linear)",
        )
        vals = [r["value"] for r in sorted(rows, key=lambda r: r["time"])]
        # range <= 02:00 keeps rows 1..5; 2h means 2.5 and 5 -> scaled 25, 50
        assert vals == [25.0, 50.0]

    def test_arith_inside_subquery_tree(self, spark):
        """Arithmetic composes through FROM (subquery) on both levels:
        the inner expression feeds the outer aggregate, and the outer
        expression applies to the composed result."""
        rows = self._run(
            spark,
            'SELECT sum("value") FROM (SELECT mean("value") * 2 FROM "m1" '
            "WHERE time >= '2024-01-01T00:00:00Z' AND time <= '2024-01-01T04:00:00Z' "
            "GROUP BY time(1h) FILL(none)) GROUP BY time(4h) FILL(none)",
        )
        # hourly means 1.5, 3.5, 5.5 doubled -> 3, 7, 11; 4h sum = 21
        assert [r["value"] for r in rows] == [21.0]
        rows = self._run(
            spark,
            'SELECT sum("value") * 10 FROM (SELECT last("value") FROM "m1" '
            "WHERE time >= '2024-01-01T00:00:00Z' AND time <= '2024-01-01T04:00:00Z' "
            "GROUP BY time(1h) FILL(none)) GROUP BY time(4h) FILL(none)",
        )
        # hourly lasts 2, 4, 6 -> sum 12 -> *10 = 120
        assert [r["value"] for r in rows] == [120.0]


class TestTzClause:
    """r6: tz('<zone>') — buckets align to the zone's wall clock,
    DST-aware (the 23-hour spring-forward day)."""

    NOW = datetime(2024, 3, 12, tzinfo=timezone.utc)

    def _planner(self, spark, rows):
        from ecollector_spark.query import QueryPlanner

        df = spark.createDataFrame(
            rows, "measurement string, ts timestamp, dev_id string, value_f double"
        )
        return QueryPlanner(lambda t: df)

    def _run(self, spark, rows, q):
        from ecollector_spark.influxql import parse_influxql, plan_tree

        return plan_tree(self._planner(spark, rows), parse_influxql(q), now=self.NOW).collect()

    def test_daily_buckets_align_to_zone_wall_clock(self, spark):
        # 2024-01-10 03:00 UTC = Jan 9 19:00 PST -> belongs to the Jan 9
        # LA day (bucket start Jan 9 00:00 PST = Jan 9 08:00 UTC)
        rows = [
            ("m1", datetime(2024, 1, 10, 3, 0, tzinfo=timezone.utc), "d", 10.0),
            ("m1", datetime(2024, 1, 10, 9, 0, tzinfo=timezone.utc), "d", 20.0),
        ]
        out = self._run(
            spark,
            rows,
            'SELECT mean("value") FROM "m1" '
            "WHERE time >= '2024-01-09T00:00:00Z' AND time <= '2024-01-11T00:00:00Z' "
            "GROUP BY time(1d) FILL(none) tz('America/Los_Angeles')",
        )
        vals = {r["time"]: r["value"] for r in out}
        jan9_la = int(datetime(2024, 1, 9, 8, 0, tzinfo=timezone.utc).timestamp())
        jan10_la = int(datetime(2024, 1, 10, 8, 0, tzinfo=timezone.utc).timestamp())
        assert vals == {jan9_la: 10.0, jan10_la: 20.0}

    def test_dst_spring_forward_day(self, spark):
        """US DST 2024-03-10: the LA day starts at 08:00 UTC but the
        NEXT day starts at 07:00 UTC — a 23-hour wall day. Both points
        (08:30 UTC and 06:30 UTC next morning) land in the Mar 10
        bucket; the Mar 11 bucket starts at 07:00 UTC."""
        rows = [
            ("m1", datetime(2024, 3, 10, 8, 30, tzinfo=timezone.utc), "d", 1.0),
            ("m1", datetime(2024, 3, 11, 6, 30, tzinfo=timezone.utc), "d", 3.0),
            ("m1", datetime(2024, 3, 11, 7, 30, tzinfo=timezone.utc), "d", 5.0),
        ]
        out = self._run(
            spark,
            rows,
            'SELECT mean("value") FROM "m1" '
            "WHERE time >= '2024-03-10T00:00:00Z' AND time <= '2024-03-12T00:00:00Z' "
            "GROUP BY time(1d) FILL(none) tz('America/Los_Angeles')",
        )
        vals = {r["time"]: r["value"] for r in out}
        mar10_la = int(datetime(2024, 3, 10, 8, 0, tzinfo=timezone.utc).timestamp())
        mar11_la = int(datetime(2024, 3, 11, 7, 0, tzinfo=timezone.utc).timestamp())
        assert vals == {mar10_la: 2.0, mar11_la: 5.0}

    def test_tz_with_fill_spine_is_wall_aligned(self, spark):
        """FILL(null) with tz: the spine enumerates WALL days, so the
        empty day between two points appears exactly once with null."""
        rows = [
            ("m1", datetime(2024, 1, 9, 9, 0, tzinfo=timezone.utc), "d", 1.0),
            ("m1", datetime(2024, 1, 11, 9, 0, tzinfo=timezone.utc), "d", 2.0),
        ]
        out = self._run(
            spark,
            rows,
            'SELECT mean("value") FROM "m1" '
            "WHERE time >= '2024-01-09T08:00:00Z' AND time <= '2024-01-12T00:00:00Z' "
            "GROUP BY time(1d) FILL(null) tz('America/Los_Angeles')",
        )
        vals = {r["time"]: r["value"] for r in out}
        day = lambda d: int(datetime(2024, 1, d, 8, 0, tzinfo=timezone.utc).timestamp())
        assert vals == {day(9): 1.0, day(10): None, day(11): 2.0}

    def test_unknown_zone_rejected(self):
        from ecollector_spark.influxql import InfluxQLParseError, parse_influxql

        with pytest.raises(InfluxQLParseError):
            parse_influxql("SELECT mean(\"value\") FROM \"m\" GROUP BY time(1h) tz('Not/AZone')")

    def test_dst_fall_back_repeated_hour_is_two_buckets(self, spark):
        """InfluxDB parity (deviation closed, VERDICT r7 #2): US DST
        fall-back 2024-11-03 — 08:00–09:00 UTC (01:xx PDT) and
        09:00–10:00 UTC (01:xx PST) share the wall label 01:00 but are
        DISTINCT hourly buckets, each stamped with its own UTC instant
        (sub-day tz buckets key on the bucket-start instant, not the
        wall label — timeutil.tz_bucket_expr)."""
        rows = [
            ("m1", datetime(2024, 11, 3, 8, 30, tzinfo=timezone.utc), "d", 10.0),  # 01:30 PDT
            ("m1", datetime(2024, 11, 3, 9, 30, tzinfo=timezone.utc), "d", 30.0),  # 01:30 PST
            ("m1", datetime(2024, 11, 3, 10, 30, tzinfo=timezone.utc), "d", 7.0),  # 02:30 PST
        ]
        out = self._run(
            spark,
            rows,
            'SELECT mean("value") FROM "m1" '
            "WHERE time >= '2024-11-03T08:00:00Z' AND time <= '2024-11-03T11:00:00Z' "
            "GROUP BY time(1h) FILL(none) tz('America/Los_Angeles')",
        )
        vals = {r["time"]: r["value"] for r in out}
        wall_0100_dst = int(datetime(2024, 11, 3, 8, 0, tzinfo=timezone.utc).timestamp())
        wall_0100_std = int(datetime(2024, 11, 3, 9, 0, tzinfo=timezone.utc).timestamp())
        wall_0200_std = int(datetime(2024, 11, 3, 10, 0, tzinfo=timezone.utc).timestamp())
        assert vals == {wall_0100_dst: 10.0, wall_0100_std: 30.0, wall_0200_std: 7.0}

    def test_dst_fall_back_fill_spine_has_both_instants(self, spark):
        """FILL(null) across the fall-back: the spine enumerates BOTH
        instants of the repeated wall hour — an empty 01:00 PST bucket
        appears as its own null row at 09:00 UTC (the r6 wall spine
        emitted one merged row here)."""
        rows = [
            ("m1", datetime(2024, 11, 3, 8, 30, tzinfo=timezone.utc), "d", 10.0),  # 01:30 PDT
            ("m1", datetime(2024, 11, 3, 10, 30, tzinfo=timezone.utc), "d", 7.0),  # 02:30 PST
        ]
        out = self._run(
            spark,
            rows,
            'SELECT mean("value") FROM "m1" '
            "WHERE time >= '2024-11-03T08:00:00Z' AND time <= '2024-11-03T10:59:00Z' "
            "GROUP BY time(1h) FILL(null) tz('America/Los_Angeles')",
        )
        vals = {r["time"]: r["value"] for r in out}
        h = lambda hh: int(datetime(2024, 11, 3, hh, 0, tzinfo=timezone.utc).timestamp())
        assert vals == {h(8): 10.0, h(9): None, h(10): 7.0}

    def test_dst_spring_forward_fill_spine_skips_gap_hour(self, spark):
        """FILL(null) across spring-forward 2024-03-10: wall 02:00 does
        not exist — the hourly spine goes 01:00 PST (09:00 UTC) straight
        to 03:00 PDT (10:00 UTC) with NO synthetic row between."""
        rows = [
            ("m1", datetime(2024, 3, 10, 9, 30, tzinfo=timezone.utc), "d", 1.0),  # 01:30 PST
            ("m1", datetime(2024, 3, 10, 10, 30, tzinfo=timezone.utc), "d", 2.0),  # 03:30 PDT
        ]
        out = self._run(
            spark,
            rows,
            'SELECT mean("value") FROM "m1" '
            "WHERE time >= '2024-03-10T09:00:00Z' AND time <= '2024-03-10T10:59:00Z' "
            "GROUP BY time(1h) FILL(null) tz('America/Los_Angeles')",
        )
        vals = {r["time"]: r["value"] for r in out}
        h = lambda hh: int(datetime(2024, 3, 10, hh, 0, tzinfo=timezone.utc).timestamp())
        assert vals == {h(9): 1.0, h(10): 2.0}

    def test_dst_fall_back_daily_bucket_spans_25_hours(self, spark):
        """The fall-back DAY is correct (25 wall hours, one bucket):
        points at 07:30 UTC (00:30 PDT) and 19:30 UTC (11:30 PST) both
        land in the Nov 3 LA day, whose start is 07:00 UTC."""
        rows = [
            ("m1", datetime(2024, 11, 3, 7, 30, tzinfo=timezone.utc), "d", 1.0),
            ("m1", datetime(2024, 11, 3, 19, 30, tzinfo=timezone.utc), "d", 3.0),
            ("m1", datetime(2024, 11, 4, 8, 30, tzinfo=timezone.utc), "d", 9.0),
        ]
        out = self._run(
            spark,
            rows,
            'SELECT mean("value") FROM "m1" '
            "WHERE time >= '2024-11-03T07:00:00Z' AND time <= '2024-11-05T00:00:00Z' "
            "GROUP BY time(1d) FILL(none) tz('America/Los_Angeles')",
        )
        vals = {r["time"]: r["value"] for r in out}
        nov3_la = int(datetime(2024, 11, 3, 7, 0, tzinfo=timezone.utc).timestamp())
        nov4_la = int(datetime(2024, 11, 4, 8, 0, tzinfo=timezone.utc).timestamp())
        assert vals == {nov3_la: 2.0, nov4_la: 9.0}

    def test_tz_with_fill_previous_carries_in_wall_space(self, spark):
        """previous-fill runs over the wall-space spine: the empty LA
        day between two points carries the previous day's value."""
        rows = [
            ("m1", datetime(2024, 1, 9, 9, 0, tzinfo=timezone.utc), "d", 4.0),
            ("m1", datetime(2024, 1, 11, 9, 0, tzinfo=timezone.utc), "d", 6.0),
        ]
        out = self._run(
            spark,
            rows,
            'SELECT mean("value") FROM "m1" '
            "WHERE time >= '2024-01-09T08:00:00Z' AND time <= '2024-01-12T00:00:00Z' "
            "GROUP BY time(1d) FILL(previous) tz('America/Los_Angeles')",
        )
        vals = {r["time"]: r["value"] for r in out}
        day = lambda d: int(datetime(2024, 1, d, 8, 0, tzinfo=timezone.utc).timestamp())
        assert vals == {day(9): 4.0, day(10): 4.0, day(11): 6.0}

    def test_tz_with_multi_select(self, spark):
        """tz() composes with the comma multi-select: one groupBy in
        wall-bucket space, every column bucket-aligned to the zone."""
        rows = [
            ("m1", datetime(2024, 1, 10, 3, 0, tzinfo=timezone.utc), "d", 10.0),
            ("m1", datetime(2024, 1, 10, 9, 0, tzinfo=timezone.utc), "d", 20.0),
        ]
        out = self._run(
            spark,
            rows,
            'SELECT mean("value"), count("value") FROM "m1" '
            "WHERE time >= '2024-01-09T00:00:00Z' AND time <= '2024-01-11T00:00:00Z' "
            "GROUP BY time(1d) FILL(none) tz('America/Los_Angeles')",
        )
        vals = {r["time"]: (r["mean"], r["count"]) for r in out}
        jan9_la = int(datetime(2024, 1, 9, 8, 0, tzinfo=timezone.utc).timestamp())
        jan10_la = int(datetime(2024, 1, 10, 8, 0, tzinfo=timezone.utc).timestamp())
        assert vals == {jan9_la: (10.0, 1.0), jan10_la: (20.0, 1.0)}


class TestGroupByStar:
    def test_star_expands_to_all_tags(self):
        from ecollector_spark.influxql import parse_influxql
        from ecollector_spark.query import split_group_tags

        iq = parse_influxql(
            'SELECT mean("value") FROM "m" WHERE time > now()-1h '
            "GROUP BY time(10m), * FILL(none)"
        )
        assert split_group_tags(iq.request.group_by_tag) == [
            "dev_id", "dev_type", "dir", "location_id", "service", "topic", "domain",
        ]

    def test_star_with_explicit_tag_dedups(self):
        from ecollector_spark.influxql import parse_influxql
        from ecollector_spark.query import split_group_tags

        iq = parse_influxql(
            'SELECT mean("value") FROM "m" GROUP BY time(10m), "dev_id", *'
        )
        tags = split_group_tags(iq.request.group_by_tag)
        assert tags.count("dev_id") == 1 and len(tags) == 7


class TestScalarMathAndMultiFrom:
    """r6 continuation: public-InfluxQL scalar math wraps and FROM
    measurement lists."""

    NOW = datetime(2024, 1, 1, 4, 0, 0, tzinfo=timezone.utc)
    RANGE = ("WHERE time >= '2024-01-01T00:00:00Z' "
             "AND time <= '2024-01-01T04:00:00Z'")

    def _planner(self, spark):
        from ecollector_spark.query import QueryPlanner

        base = datetime(2024, 1, 1, tzinfo=timezone.utc)
        rows = [
            ("m1", base + timedelta(minutes=30 * i), "d1", float((i + 1) ** 2))
            for i in range(4)  # values 1, 4, 9, 16
        ]
        df = spark.createDataFrame(
            rows, "measurement string, ts timestamp, dev_id string, value_f double"
        )
        return QueryPlanner(lambda t: df)

    def _run(self, spark, q):
        from ecollector_spark.influxql import parse_influxql, plan_tree

        return plan_tree(self._planner(spark), parse_influxql(q), now=self.NOW).collect()

    def test_sqrt_of_max_per_bucket(self, spark):
        rows = self._run(
            spark,
            f'SELECT sqrt(max("value")) FROM "m1" {self.RANGE} '
            "GROUP BY time(1h) FILL(none)",
        )
        # hourly maxes 4, 16 -> sqrt = 2, 4
        assert [r["value"] for r in rows] == [2.0, 4.0]

    def test_ceil_floor_round_ln(self, spark):
        rows = self._run(
            spark,
            f'SELECT ln(mean("value")) FROM "m1" {self.RANGE} GROUP BY time(4h) FILL(none)',
        )
        import math

        assert rows[0]["value"] == pytest.approx(math.log(7.5))
        rows = self._run(
            spark,
            f'SELECT ceil(mean("value")) FROM "m1" {self.RANGE} GROUP BY time(4h) FILL(none)',
        )
        assert rows[0]["value"] == 8.0

    def test_raw_scalar_wrap(self, spark):
        rows = self._run(spark, f'SELECT sqrt("value") FROM "m1" {self.RANGE}')
        assert [r["value"] for r in rows] == [1.0, 2.0, 3.0, 4.0]

    def test_scalar_composes_with_fill_zero(self, spark):
        rows = self._run(
            spark,
            'SELECT sqrt(mean("value")) FROM "m1" '
            "WHERE time >= '2024-01-01T00:00:00Z' AND time <= '2024-01-01T03:00:00Z' "
            "GROUP BY time(1h) FILL(0)",
        )
        vals = [r["value"] for r in sorted(rows, key=lambda r: r["time"])]
        # hours 0 and 1 hold data (sqrt of means), 2 and 3 fill AFTER the
        # function -> exact zeros, like InfluxDB
        assert vals[2:] == [0.0, 0.0] and vals[0] > 0

    def test_scalar_takes_no_parameter(self):
        from ecollector_spark.influxql import InfluxQLParseError, parse_influxql

        with pytest.raises(InfluxQLParseError):
            parse_influxql('SELECT sqrt(mean("value"), 2) FROM "m"')

    def test_multi_from_parse(self):
        from ecollector_spark.influxql import InfluxQLParseError, parse_influxql

        iq = parse_influxql(
            'SELECT mean("value") FROM "a", "b", "c" GROUP BY time(1h)'
        )
        assert iq.measurement_list == ["a", "b", "c"]
        assert iq.measurement == "a"
        # mixed explicit retention policies refuse
        with pytest.raises(InfluxQLParseError):
            parse_influxql('SELECT mean("value") FROM "gen_raw"."a", "gen_day"."b"')
        # INTO would merge the list into one target: refuse
        with pytest.raises(InfluxQLParseError):
            parse_influxql('SELECT mean("value") INTO "t" FROM "a", "b"')

    def test_quoted_comma_measurement_is_not_a_list(self):
        """ADVICE r6: a measurement literally named ``a,b`` (legal in the
        quoted single-FROM grammar) must parse as ONE measurement, not a
        two-entry FROM list."""
        from ecollector_spark.influxql import parse_influxql

        iq = parse_influxql('SELECT mean("value") FROM "a,b" GROUP BY time(1h)')
        assert iq.measurement_list is None
        assert iq.measurement == "a,b"
        # and mixed: a list whose FIRST entry contains a comma
        iq = parse_influxql('SELECT mean("value") FROM "a,b", "c"')
        assert iq.measurement_list == ["a,b", "c"]

    def test_multi_from_api_returns_one_series_per_measurement(self, spark, tmp_path):
        w = Warehouse(spark, str(tmp_path / "w"))
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:10:00", "7", 100.0),
            ("electricity_meter_energy", "2024-01-01T00:20:00", "7", 5.0),
        ]))
        api = EcollectorApi(spark, w)
        now = datetime(2024, 1, 1, 1, tzinfo=timezone.utc)
        # 30s buckets keep the mean-upgrade routing on gen_raw (a 1h
        # group would upgrade to the - here unpopulated - gen_month tier)
        rep = api.run_query(
            'SELECT mean("value") FROM "electricity_meter_power", '
            '"electricity_meter_energy" WHERE time > now()-1d '
            "GROUP BY time(30s) FILL(none)",
            now=now,
        )
        series = rep["val"]["Results"][0]["Series"]
        assert [s["name"] for s in series] == [
            "electricity_meter_power", "electricity_meter_energy",
        ]
        assert series[0]["values"][0][1] == 100.0
        assert series[1]["values"][0][1] == 5.0


class TestMultiField:
    """Multi-FIELD select (r9): dir-mangled field names pivoted from the
    twin rows by QueryPlanner.plan_fields — parse + plan + rejections."""

    def _twin(self, spark):
        from pyspark.sql import functions as F

        rows = []
        for dev in range(3):
            for t in range(4):
                e = 1704067200 + t * 60
                rows.append(("electricity_meter_energy", e, str(dev), "import", 100.0 + dev * 10 + t))
                if not (dev == 1 and t == 2):  # one missing export point
                    rows.append(("electricity_meter_energy", e, str(dev), "export", 5.0 + dev + t))
        df = spark.createDataFrame(
            rows, "measurement string, e long, dev_id string, dir string, value_f double"
        )
        return df.select(
            "measurement",
            F.timestamp_seconds("e").alias("ts"),
            "dev_id",
            "dir",
            "value_f",
            F.lit("meter.main_elec").alias("dev_type"),
            F.lit("1").alias("location_id"),
            F.lit("meter_elec").alias("service"),
            F.lit("t").alias("topic"),
            F.lit("site1").alias("domain"),
        )

    _RANGE = "WHERE time >= '2024-01-01T00:00:00Z' AND time <= '2024-01-01T01:00:00Z'"

    def test_parse_detects_multi_fields(self):
        iq = parse_influxql(f'SELECT "e_import", "e_export" FROM "m" {self._RANGE}')
        assert iq.multi_fields == [("e_import", "e_import"), ("e_export", "e_export")]
        iq2 = parse_influxql(f'SELECT "p_export" AS pe FROM "m" {self._RANGE}')
        assert iq2.multi_fields == [("p_export", "pe")]

    def test_pivot_reassembles_the_point(self, spark):
        from datetime import datetime, timezone

        from ecollector_spark.influxql import plan_tree
        from ecollector_spark.query import QueryPlanner

        planner = QueryPlanner(lambda tier: self._twin(spark))
        iq = parse_influxql(
            f'SELECT "e_import", "e_export" FROM "electricity_meter_energy" {self._RANGE}'
        )
        out = plan_tree(planner, iq, now=datetime(2024, 1, 2, tzinfo=timezone.utc))
        assert out.columns == ["time", "e_import", "e_export"]
        rows = out.collect()
        assert len(rows) == 12  # 3 devices x 4 timestamps, merged
        missing = [r for r in rows if r["e_export"] is None]
        assert len(missing) == 1 and missing[0]["e_import"] == 112.0

    def test_single_named_field_filters_its_dir(self, spark):
        from datetime import datetime, timezone

        from ecollector_spark.influxql import plan_tree
        from ecollector_spark.query import QueryPlanner

        planner = QueryPlanner(lambda tier: self._twin(spark))
        iq = parse_influxql(
            f'SELECT "e_export" FROM "electricity_meter_energy" {self._RANGE}'
        )
        out = plan_tree(planner, iq, now=datetime(2024, 1, 2, tzinfo=timezone.utc))
        rows = out.collect()
        assert len(rows) == 11  # the missing export point emits no row
        assert all(r["e_export"] is not None for r in rows)

    def test_plan_is_one_scan_no_join(self, spark):
        from datetime import datetime, timezone

        from ecollector_spark.influxql import plan_tree
        from ecollector_spark.query import QueryPlanner

        planner = QueryPlanner(lambda tier: self._twin(spark))
        iq = parse_influxql(
            f'SELECT "e_import", "e_export" FROM "electricity_meter_energy" {self._RANGE}'
        )
        plan = (
            plan_tree(planner, iq, now=datetime(2024, 1, 2, tzinfo=timezone.utc))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        for forbidden in ("Join", "Union", "CartesianProduct"):
            assert forbidden not in plan, f"{forbidden} in multi-field plan"
        assert "partial_max" in plan  # map-side combine before the shuffle

    @pytest.mark.parametrize(
        "bad",
        [
            'SELECT "e_import", mean("value") FROM "m"',
            'SELECT "e_import" FROM "m" GROUP BY time(1h)',
            'SELECT "e_import" FROM "m" GROUP BY dev_id',
            'SELECT "e_import" + mean("value") FROM "m"',
            'SELECT "e_import", "e_export" INTO "t" FROM "m"',
            'SELECT "bogusfield" FROM "m"',
            'SELECT "e_import" FROM "m" WHERE "e_import" > 3',
            'SELECT "e_import" FROM "m" FILL(previous)',
        ],
    )
    def test_rejections_are_loud(self, bad):
        with pytest.raises(InfluxQLParseError):
            parse_influxql(bad)


class TestSelectStar:
    """SELECT * (r9 second session): raw points with every tag column
    plus the value — parse + plan + rejections."""

    _twin = TestMultiField._twin
    _RANGE = TestMultiField._RANGE

    def test_star_returns_tags_and_value(self, spark):
        from datetime import datetime, timezone

        from ecollector_spark.influxql import plan_tree
        from ecollector_spark.query import QueryPlanner

        planner = QueryPlanner(lambda tier: self._twin(spark))
        iq = parse_influxql(
            f'SELECT * FROM "electricity_meter_energy" {self._RANGE}'
        )
        out = plan_tree(planner, iq, now=datetime(2024, 1, 2, tzinfo=timezone.utc))
        assert out.columns == [
            "time", "dev_id", "dev_type", "dir", "location_id", "service",
            "topic", "domain", "value",
        ]
        rows = out.collect()
        assert len(rows) == 23  # every twin row (12 import + 11 export)
        dirs = {r["dir"] for r in rows}
        assert dirs == {"import", "export"}

    def test_star_fields_narrowing(self, spark):
        """``SELECT *::field`` (r10): time + value only, no tags."""
        from datetime import datetime, timezone

        from ecollector_spark.influxql import plan_tree
        from ecollector_spark.query import QueryPlanner

        planner = QueryPlanner(lambda tier: self._twin(spark))
        iq = parse_influxql(
            f'SELECT *::field FROM "electricity_meter_energy" {self._RANGE}'
        )
        out = plan_tree(planner, iq, now=datetime(2024, 1, 2, tzinfo=timezone.utc))
        assert out.columns == ["time", "value"]
        assert out.count() == 23

    def test_star_group_by_tags_keeps_columns(self, spark):
        """``SELECT * ... GROUP BY *`` (r10): same frame as bare star —
        the tag columns stay; grouping is the serializer's job."""
        from datetime import datetime, timezone

        from ecollector_spark.influxql import plan_tree
        from ecollector_spark.query import QueryPlanner

        planner = QueryPlanner(lambda tier: self._twin(spark))
        iq = parse_influxql(
            f'SELECT * FROM "electricity_meter_energy" {self._RANGE} GROUP BY *'
        )
        assert "dev_id" in iq.request.group_by_tag
        out = plan_tree(planner, iq, now=datetime(2024, 1, 2, tzinfo=timezone.utc))
        assert out.columns[:2] == ["time", "dev_id"]
        assert out.count() == 23

    def test_lone_absolute_bounds(self, spark, tmp_path):
        """r10: ``time >= 'abs'`` with no upper bound (and ``<=`` with
        no lower) are valid InfluxQL and must return the open-ended
        range — pre-r10 the lone lower bound silently returned EMPTY
        (it fell into the relative branch with rel=0)."""
        w = Warehouse(spark, str(tmp_path / "w"))
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:01:00", "7", 100.0),
            ("electricity_meter_power", "2024-01-01T00:30:00", "7", 200.0),
        ]))
        api = EcollectorApi(spark, w)
        now = datetime(2024, 1, 1, 1, 0, tzinfo=timezone.utc)
        lo = api.run_query(
            'SELECT "value" FROM "electricity_meter_power" '
            "WHERE time >= '2024-01-01T00:10:00Z'",
            now=now,
        )["val"]["Results"][0]["Series"][0]
        assert [v[1] for v in lo["values"]] == [200.0]
        hi = api.run_query(
            'SELECT "value" FROM "electricity_meter_power" '
            "WHERE time <= '2024-01-01T00:10:00Z'",
            now=now,
        )["val"]["Results"][0]["Series"][0]
        assert [v[1] for v in hi["values"]] == [100.0]

    def test_star_group_by_star_series_shape(self, spark, tmp_path):
        """End-to-end run_query: GROUP BY * moves every tag into the
        series key — one series per distinct tag set, columns
        [time, value], tags dict populated (InfluxDB's wire shape)."""
        w = Warehouse(spark, str(tmp_path / "w"))
        w.write_points(_mk_points(spark, [
            ("electricity_meter_power", "2024-01-01T00:01:00", "7", 100.0),
            ("electricity_meter_power", "2024-01-01T00:02:00", "7", 200.0),
            ("electricity_meter_power", "2024-01-01T00:03:00", "8", 50.0),
        ]))
        api = EcollectorApi(spark, w)
        now = datetime(2024, 1, 1, 1, 0, tzinfo=timezone.utc)
        rsp = api.run_query(
            'SELECT * FROM "electricity_meter_power" '
            "WHERE time >= '2024-01-01T00:00:00Z' GROUP BY *",
            now=now,
        )
        series = rsp["val"]["Results"][0]["Series"]
        assert len(series) == 2  # dev 7 and dev 8 tag sets
        for s in series:
            assert s["columns"] == ["time", "value"]
            assert s["tags"]["dev_id"] in ("7", "8")
        by_dev = {s["tags"]["dev_id"]: s for s in series}
        assert [v[1] for v in by_dev["7"]["values"]] == [100.0, 200.0]
        assert [v[1] for v in by_dev["8"]["values"]] == [50.0]
        # partial grouping: the ungrouped tags stay as columns
        rsp2 = api.run_query(
            'SELECT * FROM "electricity_meter_power" '
            "WHERE time >= '2024-01-01T00:00:00Z' GROUP BY \"dev_id\"",
            now=now,
        )
        s2 = rsp2["val"]["Results"][0]["Series"]
        assert len(s2) == 2
        assert "dir" in s2[0]["columns"] and "dev_id" not in s2[0]["columns"]

    def test_agg_star_rewrite(self):
        """``SELECT mean(*)`` (r10): the wildcard aggregate rewrites to
        mean("value") with InfluxDB's output name mean_value; an
        explicit alias wins; composes with GROUP BY time."""
        iq = parse_influxql(
            'SELECT mean(*) FROM "m" WHERE time > now() - 1h GROUP BY time(1m)'
        )
        assert iq.request.data_function == "mean"
        assert iq.request.field_name == "value"
        assert iq.alias == "mean_value"
        iq2 = parse_influxql('SELECT count(*) AS n FROM "m" WHERE time > now() - 1h')
        assert iq2.request.data_function == "count" and iq2.alias == "n"
        # the wildcard is recorded for the multi-field expansion (r11)
        assert iq.star_aggregate == ("mean", "mean")
        assert iq2.star_aggregate == ("count", "n")
        # plain-SQL shape (unquoted FROM, no time predicate) must NOT be
        # hijacked: it stays unparseable so run_query's raw Spark-SQL
        # fallback answers it (r10 regression caught by review)
        with pytest.raises(InfluxQLParseError):
            parse_influxql("SELECT count(*) AS n FROM dp")

    def test_agg_star_multi_field_expansion(self, spark):
        """``fn(*)`` on a MULTI-FIELD mangled measurement (r11, VERDICT
        r10 #10 residue): the wildcard expands to one aggregate per
        field of the measurement's write shape — mean_e_import /
        mean_e_export side by side from ONE plan_multi groupBy, never a
        silent blend of both directions."""
        from datetime import datetime, timezone

        from ecollector_spark.influxql import plan_tree
        from ecollector_spark.query import QueryPlanner
        from ecollector_spark.transform import M_ENERGY

        twin = TestMultiField._twin(None, spark)  # self unused
        now = datetime(2024, 3, 1, tzinfo=timezone.utc)
        q = (
            f'SELECT mean(*) FROM "{M_ENERGY}" '
            f"WHERE time >= '2024-01-01T00:00:00Z' AND "
            f"time <= '2024-01-01T04:00:00Z' GROUP BY time(1h)"
        )
        df = plan_tree(QueryPlanner(lambda tier: twin), parse_influxql(q), now=now)
        assert df.columns == ["time", "mean_e_import", "mean_e_export"]
        rows = df.collect()
        # one populated hour bucket; the fixture's import points are
        # 100 + dev*10 + t over dev 0-2 / t 0-3 (mean 111.5) and the
        # exports are 5 + dev + t with (dev=1, t=2) missing
        # (mean 82/11) — each direction aggregates ITS OWN twin rows
        [r] = [r for r in rows if r["mean_e_import"] is not None]
        assert r["mean_e_import"] == 111.5
        assert r["mean_e_export"] == pytest.approx(82 / 11)
        # alias becomes the output-name base
        q2 = q.replace("mean(*)", "mean(*) AS avg")
        df2 = plan_tree(QueryPlanner(lambda tier: twin), parse_influxql(q2), now=now)
        assert df2.columns == ["time", "avg_e_import", "avg_e_export"]
        # two-stage / cardinality functions refuse loudly on the
        # multi-field shape; fills beyond none/null/0 refuse too
        with pytest.raises(InfluxQLParseError, match="single-stage"):
            plan_tree(
                QueryPlanner(lambda tier: twin),
                parse_influxql(q.replace("mean(*)", "difference(*)")),
                now=now,
            )
        with pytest.raises(InfluxQLParseError, match="FILL"):
            plan_tree(
                QueryPlanner(lambda tier: twin),
                parse_influxql(q + " FILL(previous)"),
                now=now,
            )

    @pytest.mark.parametrize(
        "bad",
        [
            'SELECT *::tag FROM "m" WHERE time >= now() - 1h',
            'SELECT *::field FROM "m" GROUP BY dev_id',
            'SELECT * FROM "m" GROUP BY time(1h)',
            'SELECT * FROM "m" FILL(0)',
            'SELECT * INTO "t" FROM "m"',
            'SELECT *, "value" FROM "m"',
        ],
    )
    def test_rejections_are_loud(self, bad):
        with pytest.raises(InfluxQLParseError):
            parse_influxql(bad)


class TestMultiFieldArithmetic:
    """FIELD arithmetic over dir-mangled names (r9 late):
    ``SELECT "e_import" + "e_export"`` pivots the twin rows once
    (plan_fields) and combines the pivoted columns per point —
    InfluxDB's per-point binary expression across the fields of one
    multi-field point. Null results (a missing operand field) drop."""

    _twin = TestMultiField._twin
    _RANGE = TestMultiField._RANGE

    def _run(self, spark, q):
        from datetime import datetime, timezone

        from ecollector_spark.influxql import plan_tree
        from ecollector_spark.query import QueryPlanner

        return plan_tree(
            QueryPlanner(lambda tier: self._twin(spark)),
            parse_influxql(q),
            now=datetime(2024, 1, 2, tzinfo=timezone.utc),
        )

    def test_parse_builds_pivot_and_leaf_order(self):
        iq = parse_influxql(
            f'SELECT ("e_export" - "e_import") / "e_import" AS r FROM "m" {self._RANGE}'
        )
        assert iq.multi_fields == [("e_export", "_f0"), ("e_import", "_f1")]
        # one entry per LEAF (repeats repeat); the pivot list dedups
        assert iq.arith_fields == ["e_export", "e_import", "e_import"]
        assert iq.alias == "r"
        assert iq.value_arith is not None

    def test_per_point_combine_drops_null_results(self, spark):
        rows = self._run(
            spark,
            f'SELECT "e_import" + "e_export" FROM "electricity_meter_energy" {self._RANGE}',
        ).collect()
        # 12 points, one missing its export twin -> null sum -> dropped
        assert len(rows) == 11
        assert all(r["value"] is not None for r in rows)
        # dev 0, t 0: import 100.0 + export 5.0
        assert any(abs(r["value"] - 105.0) < 1e-9 for r in rows)

    def test_single_leaf_scale_now_plans(self, spark):
        rows = self._run(
            spark,
            f'SELECT "e_export" * 2 FROM "electricity_meter_energy" {self._RANGE}',
        ).collect()
        assert len(rows) == 11  # the missing export point emits no row
        assert any(abs(r["value"] - 10.0) < 1e-9 for r in rows)  # 5.0 * 2

    def test_plan_is_one_scan_no_join(self, spark):
        plan = (
            self._run(
                spark,
                f'SELECT "e_import" - "e_export" FROM "electricity_meter_energy" {self._RANGE}',
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        for forbidden in ("Join", "Union", "CartesianProduct"):
            assert forbidden not in plan, f"{forbidden} in field-arith plan"
        assert "partial_max" in plan  # map-side combine before the shuffle

    def test_subquery_composes_over_field_arith(self, spark):
        out = self._run(
            spark,
            'SELECT max("value") FROM '
            f'(SELECT "e_import" + "e_export" FROM "electricity_meter_energy" {self._RANGE})',
        )
        rows = out.collect()
        assert len(rows) == 1
        # max over the 11 sums: dev 2, t 3 -> import 123.0 + export 10.0
        assert abs(rows[0]["value"] - 133.0) < 1e-9

    def test_mixing_bare_fields_with_aggregates_refuses(self):
        with pytest.raises(InfluxQLParseError, match="mixes bare fields"):
            parse_influxql(
                f'SELECT "e_import" + mean("value") FROM "m" {self._RANGE}'
            )


class TestMultiFieldAggregates:
    """Aggregates over dir-mangled field names (r9): each selector reads
    ITS direction's twin rows — multi-selector via projected conditional
    columns in one plan_multi groupBy, single-selector via plan()'s
    pushed dir predicate (so transforms/fills/arith compose unchanged)."""

    NOW = None

    def _planner(self, spark):
        from pyspark.sql import functions as F

        from ecollector_spark.query import QueryPlanner

        rows = []
        for dev in range(2):
            for t in range(6):
                e = 1704067200 + t * 3600 * 6
                rows.append(("electricity_meter_energy", e, str(dev), "import", 100.0 + dev * 10 + t))
                rows.append(("electricity_meter_energy", e, str(dev), "export", 5.0 + dev + t))
        df = spark.createDataFrame(
            rows, "measurement string, e long, dev_id string, dir string, value_f double"
        )
        dp = df.select(
            "measurement", F.timestamp_seconds("e").alias("ts"), "dev_id", "dir", "value_f"
        )
        return QueryPlanner(lambda tier: dp)

    _RANGE = "WHERE time >= '2024-01-01T00:00:00Z' AND time <= '2024-01-02T12:00:00Z'"

    def _run(self, spark, q):
        from datetime import datetime, timezone

        from ecollector_spark.influxql import parse_influxql, plan_tree

        return plan_tree(
            self._planner(spark), parse_influxql(q),
            now=datetime(2024, 1, 3, tzinfo=timezone.utc),
        )

    def test_multi_selector_each_direction(self, spark):
        out = self._run(
            spark,
            f'SELECT mean("e_import") AS mi, max("e_export") AS me '
            f'FROM "electricity_meter_energy" {self._RANGE} GROUP BY time(1d) FILL(none)',
        )
        r = {x["time"]: (x["mi"], x["me"]) for x in out.collect()}
        assert abs(r[1704067200][0] - 106.5) < 1e-9
        assert r[1704067200][1] == 9.0
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan and "Union" not in plan
        assert "partial_" in plan

    def test_single_selector_pushes_dir_predicate(self, spark):
        out = self._run(
            spark,
            f'SELECT mean("e_export") FROM "electricity_meter_energy" '
            f"{self._RANGE} GROUP BY time(1d) FILL(none)",
        )
        r = {x["time"]: x["value"] for x in out.collect()}
        assert abs(r[1704067200] - 7.0) < 1e-9
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "dir" in plan and "Join" not in plan

    def test_transform_wrap_and_arith_compose(self, spark):
        r3 = [
            (x["time"], x["value"])
            for x in self._run(
                spark,
                f'SELECT difference(max("e_import")) FROM "electricity_meter_energy" '
                f"{self._RANGE} GROUP BY time(1d) FILL(none)",
            ).collect()
        ]
        assert r3 == [(1704153600, 2.0)]  # day-max 113 -> 115
        r4 = {
            x["time"]: x["value"]
            for x in self._run(
                spark,
                f'SELECT mean("e_import") * 4 FROM "electricity_meter_energy" '
                f"{self._RANGE} GROUP BY time(1d) FILL(none)",
            ).collect()
        }
        assert abs(r4[1704067200] - 426.0) < 1e-9
