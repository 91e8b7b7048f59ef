"""MQTT command-bus dispatcher e2e: a recorded command session replayed
through CommandDispatcher must produce the reference AdminApi's report
envelopes on the right topics (admin.go:58-399)."""

import json
from datetime import datetime

import pytest

from ecollector_spark.api import EcollectorApi
from ecollector_spark.command_bus import COMMAND_TOPIC, EVENT_TOPIC, CommandDispatcher
from ecollector_spark.schema import DATAPOINT_SCHEMA
from ecollector_spark.warehouse import Warehouse


def _cmd(mtype, val, val_t="str_map", uid=None, resp_to=None):
    env = {"type": mtype, "serv": "ecollector", "val_t": val_t, "val": val}
    if uid:
        env["uid"] = uid
    if resp_to:
        env["resp_to"] = resp_to
    return (COMMAND_TOPIC, json.dumps(env))


@pytest.fixture()
def sent():
    """The (topic, envelope) pairs the dispatcher publishes, collected
    through its ``publish=`` transport hook."""
    return []


@pytest.fixture()
def dispatcher(spark, tmp_path, sent):
    w = Warehouse(spark, str(tmp_path / "wh"))
    rows = [
        {
            "measurement": "electricity_meter_power",
            "ts": datetime.fromisoformat(f"2024-01-01T00:0{i}:00"),
            "series_id": f"electricity_meter_power;7;import",
            "dev_id": "7",
            "dev_type": "meter.main_elec",
            "dir": "import",
            "location_id": "1",
            "service": "meter_elec",
            "src": "t",
            "topic": "t/7",
            "domain": "site",
            "value_f": 100.0 + i,
            "value_b": None,
            "value_s": None,
            "unit": "W",
            "agg_func": "mean",
            "tier": None,
        }
        for i in range(3)
    ]
    w.write_points(spark.createDataFrame(rows, DATAPOINT_SCHEMA).drop("tier"))
    return CommandDispatcher(
        EcollectorApi(spark, w), publish=lambda topic, env: sent.append((topic, env))
    )


class TestDispatch:
    def test_recorded_session_replay(self, dispatcher, sent):
        """The e2e contract: replay a session covering query, catalog,
        DDL, and process control; assert every published report envelope
        and its routing."""
        session = [
            _cmd("cmd.tsdb.get_measurements", {}, uid="u1", resp_to="pt:j1/mt:rsp/rt:cloud/rn:x/ad:1"),
            _cmd("cmd.tsdb.get_retention_policies", {}, uid="u2"),
            _cmd("cmd.tsdb.add_retention_policy", {"name": "custom", "duration": "1w"}, uid="u3"),
            _cmd("cmd.tsdb.get_retention_policies", {}, uid="u4"),
            _cmd("cmd.ecprocess.add", {}, val_t="object", uid="u5"),
            _cmd("cmd.ecprocess.ctrl", {"proc_id": "1", "operation": "start"}, uid="u6"),
            _cmd("cmd.ecprocess.get_list", {}, uid="u7"),
            _cmd("cmd.ecprocess.ctrl", {"proc_id": "1", "operation": "stop"}, uid="u8"),
            _cmd("cmd.tsdb.delete_object", {"object_type": "measurement", "name": "electricity_meter_power"}, uid="u9"),
            _cmd("cmd.tsdb.get_measurements", {}, uid="u10"),
        ]
        reports = dispatcher.replay_session(session)
        # silent add_retention_policy publishes nothing: 9 reports for 10 cmds
        assert len(reports) == 9
        topics = [t for t, _ in sent]
        # resp_to routing for the first, event address for the rest
        assert topics[0] == "pt:j1/mt:rsp/rt:cloud/rn:x/ad:1"
        assert set(topics[1:]) == {EVENT_TOPIC}

        r = reports[0]
        assert r["type"] == "evt.tsdb.measurements_report"
        assert r["val_t"] == "str_array" and r["val"] == ["electricity_meter_power"]
        assert r["corid"] == "u1" and r["serv"] == "ecollector"

        rps_before = reports[1]["val"]
        rps_after = reports[2]["val"]
        assert reports[1]["type"] == "evt.tsdb.retention_policies"
        assert "gen_raw" in rps_before and "custom" not in rps_before
        assert "custom" in rps_after  # the silent DDL really landed

        add, start, plist, stop = reports[3:7]
        assert add["type"] == "evt.ecprocess.ctrl_report"
        assert add["val"] == {"op": "add", "status": "ok", "error": ""}
        assert start["val"] == {"op": "start", "status": "ok", "error": ""}
        assert plist["type"] == "evt.ecprocess.proc_list_report"
        assert plist["val"][0]["id"] == "1" and plist["val"][0]["state"] == "RUNNING"
        assert stop["val"]["status"] == "ok"

        assert reports[7]["type"] == "evt.tsdb.delete_object_report"
        assert reports[7]["val"] == {"status": "ok", "error": ""}
        assert reports[8]["val"] == []  # measurement really dropped

    def test_query_command_envelope(self, dispatcher):
        out = dispatcher.handle_message(
            COMMAND_TOPIC,
            json.dumps(
                {
                    "type": "cmd.tsdb.query",
                    "serv": "ecollector",
                    "val_t": "str_map",
                    "uid": "q1",
                    "val": {"proc_id": "1", "query": "SELECT 1 AS one"},
                }
            ),
        )
        assert out["type"] == "evt.tsdb.query_report" and out["corid"] == "q1"
        assert out["val"]["Results"][0]["Series"][0]["values"] == [[1]]

    def test_get_data_points_command(self, dispatcher):
        out = dispatcher.handle_message(
            COMMAND_TOPIC,
            json.dumps(
                {
                    "type": "cmd.tsdb.get_data_points",
                    "serv": "ecollector",
                    "val_t": "object",
                    "uid": "d1",
                    "val": {
                        "proc_id": "1",
                        "measurement_name": "electricity_meter_power",
                        "data_function": "mean",
                        "group_by_time": "1m",
                        "from_time": "2024-01-01T00:00:00Z",
                        "to_time": "2024-01-01T01:00:00Z",
                        "filters": {"devices": ["7"]},
                    },
                }
            ),
        )
        assert out["type"] == "evt.tsdb.data_points_report"
        series = out["val"]["Results"][0]["Series"]
        assert series and series[0]["name"] == "electricity_meter_power"
        assert len(series[0]["values"]) >= 3  # one bucket per sample minute

    def test_write_data_points_is_silent_but_lands(self, dispatcher, sent):
        out = dispatcher.handle_message(
            COMMAND_TOPIC,
            json.dumps(
                {
                    "type": "cmd.tsdb.write_data_points",
                    "serv": "ecollector",
                    "val_t": "object",
                    "val": {
                        "proc_id": "1",
                        "dp": [
                            {
                                "name": "sensor_temp.evt.sensor.report",
                                "tags": {"dev_id": "9", "dev_type": "sensor.generic"},
                                "fields": {"value": 21.5},
                            }
                        ],
                    },
                }
            ),
        )
        assert out is None and sent == []
        assert "sensor_temp.evt.sensor.report" in dispatcher.api.warehouse.measurements()

    def test_ignores_foreign_service_and_malformed(self, dispatcher, sent):
        assert (
            dispatcher.handle_message(
                COMMAND_TOPIC,
                json.dumps({"type": "cmd.tsdb.query", "serv": "other", "val": {}}),
            )
            is None
        )
        assert dispatcher.handle_message(COMMAND_TOPIC, "{not json") is None
        assert dispatcher.dropped == 1
        assert sent == []

    def test_reset_to_default_drops_processes_silently(self, dispatcher):
        for mtype, val in [
            ("cmd.ecprocess.add", {}),
            ("cmd.tsdb.add_retention_policy", {"name": "c1", "duration": "1w"}),
        ]:
            dispatcher.handle_message(
                COMMAND_TOPIC,
                json.dumps({"type": mtype, "serv": "ecollector", "val_t": "object", "val": val}),
            )
        assert dispatcher.pm.get_list() and dispatcher.api.ttl_overrides
        out = dispatcher.handle_message(
            COMMAND_TOPIC,
            json.dumps({"type": "cmd.ecprocess.reset_to_default", "serv": "ecollector", "val": None}),
        )
        assert out is None  # silent, like the reference (it exits)
        assert dispatcher.pm.get_list() == [] and dispatcher.api.ttl_overrides == {}

    def test_ctrl_unknown_process(self, dispatcher):
        out = dispatcher.handle_message(
            COMMAND_TOPIC,
            json.dumps(
                {
                    "type": "cmd.ecprocess.ctrl",
                    "serv": "ecollector",
                    "val_t": "str_map",
                    "val": {"proc_id": "42", "operation": "start"},
                }
            ),
        )
        assert out["val"] == {"op": "start", "status": "error", "error": "unknown process id"}

    def test_command_error_becomes_error_envelope(self, dispatcher):
        out = dispatcher.handle_message(
            COMMAND_TOPIC,
            json.dumps(
                {
                    "type": "cmd.tsdb.delete_object",
                    "serv": "ecollector",
                    "val_t": "str_map",
                    "uid": "e1",
                    "val": {"object_type": "nonsense", "name": "x"},
                }
            ),
        )
        assert out["val"]["status"] == "error" and out["corid"] == "e1"

    def test_delete_object_database_and_cq_via_bus(self, dispatcher):
        out = dispatcher.handle_message(
            *_cmd("cmd.tsdb.delete_object", {"object_type": "cq", "name": "month_to_year"})
        )
        assert out["type"] == "evt.tsdb.delete_object_report"
        assert out["val"] == {"status": "ok", "error": ""}
        assert "month_to_year" not in dispatcher.api.cq_stages
        out = dispatcher.handle_message(
            *_cmd("cmd.tsdb.delete_object", {"object_type": "database", "name": "ecollector"})
        )
        assert out["val"] == {"status": "ok", "error": ""}
        assert dispatcher.api.warehouse.measurements() == []
        # a database delete resets the CQ set too (fresh DB = full cascade)
        assert "month_to_year" in dispatcher.api.cq_stages

    def test_delete_object_pauses_running_processes(self, dispatcher):
        # admin.go:355-362: RP/database deletes wrap in proc.Stop()/Start()
        events = []

        def start_fn(config):
            events.append("start")
            return []

        dispatcher._start_fn = start_fn
        dispatcher.pm.add("1", {})
        dispatcher.pm.start("1", start_fn)
        real_stop = dispatcher.pm.stop
        dispatcher.pm.stop = lambda pid: (events.append("stop"), real_stop(pid))[-1]
        events.clear()
        dispatcher.handle_message(
            *_cmd("cmd.tsdb.delete_object", {"object_type": "retention_policy", "name": "gen_raw"})
        )
        assert events == ["stop", "start"]
        assert dispatcher.pm.get_list()[0]["state"] == "RUNNING"
        # measurement/cq deletes run live — no pause
        events.clear()
        dispatcher.handle_message(
            *_cmd("cmd.tsdb.delete_object", {"object_type": "cq", "name": "raw_to_day"})
        )
        assert events == []

    def test_ecprocess_error_gets_ctrl_report_envelope(self, dispatcher):
        # a handler exception inside cmd.ecprocess.* must answer with the
        # family's own ctrl_report shape, not a tsdb query_report
        # (reference replies to ecprocess failures via ctrl_report)
        out = dispatcher.handle_message(
            COMMAND_TOPIC,
            json.dumps(
                {
                    "type": "cmd.ecprocess.add",
                    "serv": "ecollector",
                    "val_t": "str_map",
                    "uid": "e2",
                    "val": {"id": "not-a-number"},
                }
            ),
        )
        # _cmd_proc_add handles its own ValueError; force a deeper failure
        dispatcher.pm.get_list = None  # type: ignore[assignment]
        out = dispatcher.handle_message(
            COMMAND_TOPIC,
            json.dumps(
                {
                    "type": "cmd.ecprocess.get_list",
                    "serv": "ecollector",
                    "val_t": "null",
                    "uid": "e3",
                    "val": None,
                }
            ),
        )
        assert out["type"] == "evt.ecprocess.ctrl_report"
        assert out["val"]["op"] == "get_list" and out["val"]["status"] == "error"
        assert out["corid"] == "e3"

    def test_silent_command_failure_stays_silent(self, dispatcher, sent):
        # the reference publishes nothing for set_log_level, success or
        # failure (admin.go:374-388) — a failure must not leak a
        # tsdb-typed error envelope to a client that expects silence
        dispatcher.api.set_log_level = None  # type: ignore[assignment]
        before = len(sent)
        out = dispatcher.handle_message(
            *_cmd("cmd.log.set_level", "debug", val_t="string")
        )
        assert out is None
        assert len(sent) == before


class TestCQDDLOverBus:
    def test_cq_ddl_strings_route_through_query_command(self, dispatcher):
        """The reference's AddCQ/DeleteCQ send their generated DDL as
        ordinary query strings (influxdb_v1.go:333-361) — over the bus
        they must land on the cascade registry, not the SQL parser."""
        drop = {
            "type": "cmd.tsdb.query",
            "serv": "ecollector",
            "val_t": "str_map",
            "uid": "cq1",
            "val": {
                "proc_id": "1",
                "query": "DROP CONTINUOUS QUERY day_to_week ON ecollector",
            },
        }
        out = dispatcher.handle_message(COMMAND_TOPIC, json.dumps(drop))
        assert out["type"] == "evt.tsdb.query_report" and out["corid"] == "cq1"
        assert out["val"]["Results"] is not None
        assert "day_to_week" not in dispatcher.api.cq_stages

        create = dict(drop, uid="cq2")
        create["val"] = {
            "proc_id": "1",
            "query": (
                'CREATE CONTINUOUS QUERY "day_to_week" ON "ecollector"\n'
                "BEGIN\n SELECT mean(*) INTO "
                '"ecollector"."gen_week".:MEASUREMENT FROM '
                '"ecollector"."gen_day"./.*/ GROUP BY time(10m),* \nEND'
            ),
        }
        out = dispatcher.handle_message(COMMAND_TOPIC, json.dumps(create))
        assert out["val"]["Results"] is not None
        assert dispatcher.api.cq_stages["day_to_week"] == ("gen_day", "gen_week", "10m")
