"""MQTT command-bus dispatcher: the reference's AdminApi loop bound to
:class:`EcollectorApi` (reference src/api/admin.go:28-41 subscribes
``pt:j1/mt:cmd/rt:app/rn:ecollector/ad:1``; the onCommand switch at
admin.go:58-390 dispatches ``cmd.tsdb.* / cmd.ecprocess.* /
cmd.log.set_level``; replies go to the request's ``resp_to`` topic when
set, else the app event address — admin.go:391-399).

This makes the engine drop-in for a reference deployment: point the
broker at :meth:`CommandDispatcher.connect` (or feed messages through
``handle_message`` / ``replay_session`` from any transport) and every
command a reference client publishes is answered with the same FIMP
report envelopes (``evt.tsdb.query_report``, ``evt.tsdb.
data_points_report``, ``evt.tsdb.measurements_report`` as str_array,
``evt.ecprocess.ctrl_report`` as str_map, ...). Commands the reference
answers silently (write_data_points, add/update_retention_policy,
set_log_level — admin.go publishes no message for these) stay silent
here too.

Like :class:`~ecollector_spark.sources.mqtt_bridge.MqttBridge`, the
dispatcher core is transport-agnostic and single-client by nature (a
broker command loop, not a Spark operator); all data processing behind
it is the declarative API surface.
"""

from __future__ import annotations

import json
from typing import Iterable

from ecollector_spark.api import EcollectorApi, ProcessManager
from ecollector_spark.functions.timeutil import parse_relative_duration
from ecollector_spark.query import DataPointsFilter, DataPointsRequest

#: the AdminApi subscription (admin.go:38-41)
COMMAND_TOPIC = "pt:j1/mt:cmd/rt:app/rn:ecollector/ad:1"
#: default reply address when the request has no resp_to (admin.go:395-397)
EVENT_TOPIC = "pt:j1/mt:evt/rt:app/rn:ecollector/ad:1"


class CommandDispatcher:
    """Decode FIMP command envelopes, dispatch to the API, publish
    reports.

    Parameters
    ----------
    api: the command surface (query/DDL/catalog/write).
    process_manager: the ecprocess registry; a fresh one by default.
    publish: optional ``(topic, envelope_dict) -> None`` transport hook
        (e.g. a paho ``client.publish`` wrapper); tests and replay
        harnesses pass a collector to see the outbound traffic without a
        broker. Nothing else keeps the replies.
    start_fn: ``start_fn(config) -> list[StreamingQuery]`` used by
        ``cmd.ecprocess.ctrl`` start; defaults to a no-op pipeline (the
        state machine still transitions).
    """

    def __init__(
        self,
        api: EcollectorApi,
        process_manager: ProcessManager | None = None,
        publish=None,
        start_fn=None,
    ):
        self.api = api
        self.pm = process_manager if process_manager is not None else ProcessManager()
        self._publish = publish
        self._start_fn = start_fn or (lambda config: [])
        self._uid = 0
        self.dropped = 0  #: malformed payloads skipped (counted, not fatal)

    # -- envelope helpers --------------------------------------------------
    def _envelope(self, mtype: str, val_t: str, val, corid) -> dict:
        self._uid += 1
        return {
            "type": mtype,
            "serv": "ecollector",
            "val_t": val_t,
            "val": val,
            "props": None,
            "tags": None,
            "corid": corid,
            "uid": f"ec-resp-{self._uid}",
            "ver": "1",
        }

    def _reply(self, request_env: dict, envelope: dict) -> dict:
        """Route one report: the request's ``resp_to`` topic when set,
        else the app event address (admin.go:391-399)."""
        topic = request_env.get("resp_to") or EVENT_TOPIC
        if self._publish is not None:
            self._publish(topic, envelope)
        return envelope

    # -- core --------------------------------------------------------------
    def handle_message(self, topic: str, payload: bytes | str) -> dict | None:
        """One broker message -> dispatch -> published report (returned),
        or None for silent commands / non-ecollector traffic."""
        if isinstance(payload, bytes):
            payload = payload.decode("utf-8", errors="replace")
        try:
            env = json.loads(payload)
            if not isinstance(env, dict):
                raise ValueError("not an object")
        except ValueError:
            self.dropped += 1
            return None
        if env.get("serv") != "ecollector":  # admin.go:59-61
            return None
        mtype = env.get("type", "")
        val = env.get("val")
        corid = env.get("uid")

        try:
            handler = self._HANDLERS.get(mtype)
            if handler is None:
                return None
            report = handler(self, val if val is not None else {})
        except Exception as e:  # noqa: BLE001 — a command must never kill the loop
            # error envelope per command family: cmd.ecprocess.* answers
            # with its own ctrl_report shape (admin.go:239-281), commands
            # the reference answers silently stay silent even on failure
            # (set_log_level / write_data_points / RP DDL publish nothing,
            # pass or fail), and the tsdb query surface keeps the
            # query_report error shape (admin.go:177, 391-399)
            if mtype in self._SILENT_COMMANDS:
                self.dropped += 1
                return None
            if mtype.startswith("cmd.ecprocess."):
                report = self._ctrl_report(mtype.rsplit(".", 1)[-1], "error", str(e))
            else:
                report = self._envelope(
                    "evt.tsdb.query_report",
                    "object",
                    {"Results": None, "error": str(e)},
                    corid,
                )
            report["corid"] = corid
            return self._reply(env, report)
        if report is None:
            return None
        report["corid"] = corid
        return self._reply(env, report)

    def replay_session(
        self, messages: Iterable[tuple[str, bytes | str]]
    ) -> list[dict]:
        """Replay a recorded command session of (topic, payload) pairs —
        the e2e test path. Returns the reports published, in order."""
        out = []
        for topic, payload in messages:
            r = self.handle_message(topic, payload)
            if r is not None:
                out.append(r)
        return out

    # -- cmd.tsdb.* --------------------------------------------------------
    def _cmd_query(self, val: dict) -> dict:
        rep = self.api.run_query(val.get("query", ""))
        return self._envelope(rep["type"], rep["val_t"], rep["val"], None)

    def _cmd_get_data_points(self, val: dict) -> dict:
        f = val.get("filters") or {}
        req = DataPointsRequest(
            measurement_name=val.get("measurement_name", ""),
            field_name=val.get("field_name", "value"),
            data_function=val.get("data_function", ""),
            transform_function=val.get("transform_function", ""),
            relative_time=val.get("relative_time", ""),
            from_time=val.get("from_time", ""),
            to_time=val.get("to_time", ""),
            group_by_time=val.get("group_by_time", ""),
            group_by_tag=val.get("group_by_tag", ""),
            fill_type=val.get("fill_type", ""),
            filters=DataPointsFilter(
                tags=f.get("tags") or {},
                devices=f.get("devices") or [],
                locations=f.get("locations") or [],
                dev_types=f.get("dev_types") or [],
            ),
        )
        rep = self.api.get_data_points(req)
        # the data-points command replies with its own report type
        # (admin.go:226) over the same Series payload
        return self._envelope(
            "evt.tsdb.data_points_report", rep["val_t"], rep["val"], None
        )

    def _cmd_get_energy_data_points(self, val: dict) -> dict:
        from datetime import datetime, timedelta, timezone

        from_time, to_time = val.get("from_time", ""), val.get("to_time", "")
        rel = val.get("relative_time", "")
        if rel and not from_time:
            now = datetime.now(timezone.utc)
            from_time = (now - timedelta(seconds=parse_relative_duration(rel))).isoformat()
            to_time = now.isoformat()
        rep = self.api.get_energy_data_points(
            from_time,
            to_time,
            group_by_time=val.get("group_by_time", "1h"),
            group_by_tag=val.get("group_by_tag", ""),
        )
        return self._envelope(
            "evt.tsdb.data_points_report", rep["val_t"], rep["val"], None
        )

    def _cmd_get_measurements(self, val: dict) -> dict:
        # str_array of names, like GetDbMeasurements (influxdb_v1.go:376-393)
        names = self.api.warehouse.measurements()
        return self._envelope("evt.tsdb.measurements_report", "str_array", names, None)

    def _cmd_get_retention_policies(self, val: dict) -> dict:
        # str_array of RP names (influxdb_v1.go:396-413; admin.go:292)
        names = [r["name"] for r in self.api.warehouse.retention_policies()]
        names += [n for n in self.api.ttl_overrides if n not in names]
        return self._envelope("evt.tsdb.retention_policies", "str_array", names, None)

    @staticmethod
    def _duration_seconds(duration: str) -> int:
        secs = parse_relative_duration(str(duration))
        if secs == 0:
            try:
                secs = int(duration)
            except (TypeError, ValueError):
                secs = 0
        return secs

    def _cmd_add_retention_policy(self, val: dict):
        # silent command: the reference publishes no report (admin.go:293-311)
        self.api.add_retention_policy(
            val.get("name", ""), self._duration_seconds(val.get("duration", "0"))
        )
        return None

    def _cmd_update_retention_policy(self, val: dict):
        self.api.update_retention_policy(
            val.get("name", ""), self._duration_seconds(val.get("duration", "0"))
        )
        return None

    def _cmd_delete_object(self, val: dict) -> dict:
        # retention_policy and database deletes pause ingest around the
        # storage op (admin.go:355-362 proc.Stop() .. proc.Start(); cq
        # and measurement deletes run live, admin.go:363-366)
        otype = val.get("object_type", "")
        paused: list[str] = []
        if otype in ("retention_policy", "database"):
            for p in self.pm.get_list():
                if p["state"] == "RUNNING":
                    self.pm.stop(p["id"])
                    paused.append(p["id"])
        try:
            res = self.api.delete_object(otype, val.get("name", ""))
        finally:
            for pid in paused:
                self.pm.start(pid, self._start_fn)
        status = "ok" if res.get("status") == "ok" else "error"
        return self._envelope(
            "evt.tsdb.delete_object_report",
            "str_map",
            {"status": status, "error": res.get("error", "")},
            None,
        )

    def _cmd_write_data_points(self, val: dict):
        # silent command (admin.go:179-204); MDataPoint -> flat point dict
        points = []
        for mp in val.get("dp", []) or []:
            tags = mp.get("tags") or {}
            fields = mp.get("fields") or {}
            points.append({"measurement": mp.get("name", ""), "value": fields.get("value"), **tags})
        self.api.write_data_points(points)
        return None

    # -- cmd.ecprocess.* ---------------------------------------------------
    def _cmd_proc_get_list(self, val: dict) -> dict:
        return self._envelope(
            "evt.ecprocess.proc_list_report", "object", self.pm.get_list(), None
        )

    def _ctrl_report(self, op: str, status: str, err: str) -> dict:
        return self._envelope(
            "evt.ecprocess.ctrl_report",
            "str_map",
            {"op": op, "status": status, "error": err},
            None,
        )

    def _cmd_proc_add(self, val: dict) -> dict:
        proc_id = str(1 + max((int(p["id"]) for p in self.pm.get_list()), default=0))
        try:
            self.pm.add(proc_id, dict(val) if isinstance(val, dict) else {})
            return self._ctrl_report("add", "ok", "")
        except ValueError as e:
            return self._ctrl_report("add", "error", str(e))

    def _cmd_proc_ctrl(self, val: dict) -> dict:
        op = val.get("operation", "")
        proc_id = str(val.get("proc_id", ""))
        if not op or proc_id not in {p["id"] for p in self.pm.get_list()}:
            return self._ctrl_report(op, "error", "unknown process id")
        try:
            if op == "start":
                self.pm.start(proc_id, self._start_fn)
            elif op == "stop":
                self.pm.stop(proc_id)
            elif op == "delete":
                self.pm.remove(proc_id)
            else:
                return self._ctrl_report(op, "error", f"unknown operation {op!r}")
            return self._ctrl_report(op, "ok", "")
        except Exception as e:  # noqa: BLE001
            return self._ctrl_report(op, "error", str(e))

    def _cmd_proc_update_config(self, val: dict) -> dict:
        proc_id = str(val.get("id", ""))
        try:
            self.pm.update_config(proc_id, dict(val))
            return self._ctrl_report("update_config", "ok", "")
        except Exception as e:  # noqa: BLE001
            return self._ctrl_report("update_config", "error", str(e))

    def _cmd_proc_reset_to_default(self, val):
        # silent: the reference reloads default configs and exits the
        # process (admin.go:151-154); here we stop+drop every pipeline
        # and clear RP TTL overrides — the host supervisor owns restart
        for p in self.pm.get_list():
            self.pm.remove(p["id"])
        self.api.ttl_overrides.clear()
        return None

    # -- cmd.log.* ---------------------------------------------------------
    def _cmd_set_log_level(self, val):
        # silent command (admin.go:374-388 publishes nothing)
        if isinstance(val, str):
            self.api.set_log_level(val)
        return None

    #: commands the reference answers with no message, success OR failure
    #: (admin.go: write_data_points 179-204, add/update_retention_policy
    #: 293-332, set_log_level 374-388, reset_to_default 151-154)
    _SILENT_COMMANDS = frozenset(
        {
            "cmd.tsdb.write_data_points",
            "cmd.tsdb.add_retention_policy",
            "cmd.tsdb.update_retention_policy",
            "cmd.log.set_level",
            "cmd.ecprocess.reset_to_default",
        }
    )

    _HANDLERS = {
        "cmd.tsdb.query": _cmd_query,
        "cmd.tsdb.get_data_points": _cmd_get_data_points,
        "cmd.tsdb.get_energy_data_points": _cmd_get_energy_data_points,
        "cmd.tsdb.get_measurements": _cmd_get_measurements,
        "cmd.tsdb.get_retention_policies": _cmd_get_retention_policies,
        "cmd.tsdb.add_retention_policy": _cmd_add_retention_policy,
        "cmd.tsdb.update_retention_policy": _cmd_update_retention_policy,
        "cmd.tsdb.delete_object": _cmd_delete_object,
        "cmd.tsdb.write_data_points": _cmd_write_data_points,
        "cmd.ecprocess.get_list": _cmd_proc_get_list,
        "cmd.ecprocess.add": _cmd_proc_add,
        "cmd.ecprocess.ctrl": _cmd_proc_ctrl,
        "cmd.ecprocess.update_config": _cmd_proc_update_config,
        "cmd.ecprocess.reset_to_default": _cmd_proc_reset_to_default,
        "cmd.log.set_level": _cmd_set_log_level,
    }

    # -- live transport (paho when installed, stdlib client otherwise) ------
    def connect(
        self,
        host: str,
        port: int = 1883,
        username: str | None = None,
        password: str | None = None,
        client_id: str = "ec_api",
        qos: int = 1,
    ):
        """Connect to a live broker, subscribe the command topic, and
        wire replies back through the same client (the AdminApi
        transport, admin.go:28-41), via
        :func:`~ecollector_spark.sources.mqtt_broker.connect_client`:
        paho-mqtt when installed (run the returned client with
        ``loop_forever()`` / ``loop_start()``), else the stdlib client
        with its read loop started."""
        from ecollector_spark.sources.mqtt_broker import connect_client

        client = connect_client(
            host, port, [COMMAND_TOPIC], self.handle_message, username, password, client_id, qos
        )
        if self._publish is None:
            self._publish = lambda t, env: client.publish(
                t, json.dumps(env, separators=(",", ":")), qos=qos
            )
        return client
