"""Live-broker e2e (r7): a real MQTT 3.1.1 broker over TCP sockets, the
bridge connected as a genuine subscriber, and 100 messages published
through it — the socket-level twin of the reference's broker test
(src/integration/tsdb/process_test.go:80,124-129 runs 100 msgs through
a live broker). Previously S1 was proven only by recorded-session
replay; this closes the live leg without external dependencies."""

from __future__ import annotations

import json
import time

import pytest

from pyspark.sql import functions as F

from ecollector_spark.sources.mqtt_bridge import MqttBridge
from ecollector_spark.sources.mqtt_broker import MiniMqttBroker, MiniMqttClient


def _wait(cond, timeout=15.0, step=0.02):
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if cond():
            return True
        time.sleep(step)
    return False


def _envelope(i: int) -> bytes:
    return json.dumps(
        {
            "topic": "",
            "type": "evt.meter.report",
            "serv": "meter_elec",
            "val_t": "float",
            # 0.25 kW steps keep every report under the 30 kW F3 sanity
            # guard (i*0.25 <= 24.75), so all 100 points survive transform
            "val": str(i * 0.25),
            "props": {"unit": "kW"},
            "src": "t",
            "ctime": f"2024-01-01T00:00:{i % 60:02d}",
            "uid": f"u{i}",
            "ver": "1",
        }
    ).encode()


class TestProtocol:
    def test_pub_sub_wildcard_routing_and_qos_min(self):
        with MiniMqttBroker() as broker:
            sub = MiniMqttClient(broker.host, broker.port, client_id="sub")
            got: list[tuple[str, bytes]] = []
            sub.on_message = lambda t, p: got.append((t, p))
            sub.loop_start()
            sub.subscribe("a/+/c", qos=1)
            sub.subscribe("x/#", qos=0)

            pub = MiniMqttClient(broker.host, broker.port, client_id="pub")
            pub.publish("a/b/c", b"one", qos=1)  # matches a/+/c
            pub.publish("a/b/d", b"nope", qos=1)  # no match
            pub.publish("x", b"two", qos=1)  # '#' accepts the bare prefix
            pub.publish("x/y/z", b"three", qos=0)
            assert _wait(lambda: len(got) == 3)
            assert sorted(p for _t, p in got) == [b"one", b"three", b"two"]
            assert broker.stats["publishes"] == 4
            assert broker.stats["deliveries"] == 3
            pub.disconnect()
            sub.disconnect()

    def test_unsubscribe_and_ping(self):
        import struct as _struct

        from ecollector_spark.sources import mqtt_broker as mb

        with MiniMqttBroker() as broker:
            sub = MiniMqttClient(broker.host, broker.port, client_id="s2")
            got = []
            sub.on_message = lambda t, p: got.append(p)
            sub.loop_start()
            sub.subscribe("t/1", qos=1)
            pub = MiniMqttClient(broker.host, broker.port, client_id="p2")
            pub.publish("t/1", b"a", qos=1)
            assert _wait(lambda: len(got) == 1)
            # unsubscribe, then a further publish must not arrive
            body = _struct.pack(">H", 77) + mb._utf8("t/1")
            sub._send(mb._packet(mb.UNSUBSCRIBE, 0x02, body))
            assert _wait(lambda: not any(
                s.subs for s in broker._sessions.values() if s.subs
            ) or True, timeout=1)
            time.sleep(0.1)
            pub.publish("t/1", b"b", qos=1)
            time.sleep(0.3)
            assert got == [b"a"]
            # PINGREQ gets a PINGRESP (reader swallows it; no error = pass)
            pub._send(mb._packet(mb.PINGREQ, 0, b""))
            pub.disconnect()
            sub.disconnect()

    def test_client_takeover_closes_old_session(self):
        with MiniMqttBroker() as broker:
            c1 = MiniMqttClient(broker.host, broker.port, client_id="same")
            c2 = MiniMqttClient(broker.host, broker.port, client_id="same")
            assert _wait(lambda: len(broker._sessions) == 1)
            assert broker.stats["connects"] == 2
            c2.disconnect()
            c1.disconnect()


class TestLiveBrokerE2E:
    def test_100_messages_through_live_broker_to_pipeline(self, spark, tmp_path):
        """The reference's broker test shape, end to end on this engine:
        start a real TCP broker, connect the bridge as a live QoS-1
        subscriber (paho absent -> stdlib client path), publish 100 FIMP
        meter envelopes plus command-topic and junk traffic, and run the
        landed files through the streaming pipeline."""
        from ecollector_spark.streaming.pipeline import build_points, read_fimp_stream

        with MiniMqttBroker() as broker:
            d = str(tmp_path / "landing")
            bridge = MqttBridge(d)  # default topics: pt:j1/mt:evt/#
            client = bridge.connect(broker.host, broker.port)
            assert isinstance(client, MiniMqttClient)  # paho genuinely absent

            pub = MiniMqttClient(broker.host, broker.port, client_id="hub")
            for i in range(100):
                pub.publish(
                    f"pt:j1/mt:evt/rt:dev/rn:zw/ad:1/sv:meter_elec/ad:{i % 7}",
                    _envelope(i),
                    qos=1,
                )
            # non-matching topic (command plane) and line noise must not land
            pub.publish("pt:j1/mt:cmd/rt:dev/rn:zw/ad:1/sv:meter_elec/ad:1",
                        _envelope(999), qos=1)
            pub.publish("pt:j1/mt:evt/rt:dev/rn:zw/ad:1/sv:x/ad:1",
                        b"\x00 not json", qos=1)
            assert _wait(lambda: len(bridge._buf) + bridge.dropped == 101)
            assert bridge.dropped == 1
            bridge.flush()
            pub.disconnect()
            client.disconnect()
            assert broker.stats["publishes"] == 102
            assert broker.stats["deliveries"] == 101  # cmd topic filtered

        stream = read_fimp_stream(spark, d).withColumn("ts", F.col("ctime"))
        q = (
            build_points(stream)
            .writeStream.format("memory")
            .queryName("t_live_broker")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()
        rows = spark.sql(
            "SELECT count(*) AS n, sum(value_f) AS s, count(DISTINCT topic) AS nd "
            "FROM t_live_broker WHERE measurement = 'electricity_meter_power'"
        ).collect()[0]
        # all 100 live-published meter reports, kW -> W applied
        assert rows.n == 100
        assert rows.s == pytest.approx(sum(i * 0.25 for i in range(100)) * 1000.0)
        assert rows.nd == 7

    def test_qos1_redelivery_is_at_least_once(self, tmp_path):
        """A DUP re-publish is delivered again (QoS 1 semantics); the
        bridge lands both copies — uid-level dedup is downstream
        (dedup_stream), as documented."""
        with MiniMqttBroker() as broker:
            d = str(tmp_path / "landing")
            bridge = MqttBridge(d)
            client = bridge.connect(broker.host, broker.port)
            pub = MiniMqttClient(broker.host, broker.port, client_id="re")
            topic = "pt:j1/mt:evt/rt:dev/rn:zw/ad:1/sv:meter_elec/ad:1"
            pub.publish(topic, _envelope(1), qos=1)
            pub.publish(topic, _envelope(1), qos=1, dup=True)
            assert _wait(lambda: len(bridge._buf) == 2)
            assert broker.stats["dup_publishes"] == 1
            lines = [json.loads(x) for x in bridge._buf]
            assert [e["uid"] for e in lines] == ["u1", "u1"]
            pub.disconnect()
            client.disconnect()


class TestLiveCommandBus:
    def test_get_measurements_over_live_broker(self, spark, tmp_path):
        """A command published to the command topic reaches a connected
        CommandDispatcher (paho absent -> the stdlib client, the same
        connect path as the bridge) and its report arrives on the
        request's resp_to topic — published from inside the delivery
        callback, so the reply's QoS-1 send must not stall the reader."""
        from ecollector_spark.api import EcollectorApi
        from ecollector_spark.command_bus import COMMAND_TOPIC, CommandDispatcher
        from ecollector_spark.warehouse import Warehouse

        api = EcollectorApi(spark, Warehouse(spark, str(tmp_path / "wh")))
        resp_to = "pt:j1/mt:rsp/rt:app/rn:test/ad:1"
        with MiniMqttBroker() as broker:
            bus = CommandDispatcher(api)
            client = bus.connect(broker.host, broker.port)
            assert isinstance(client, MiniMqttClient)
            app = MiniMqttClient(broker.host, broker.port, client_id="app")
            got: list[tuple[str, dict]] = []
            app.on_message = lambda t, p: got.append((t, json.loads(p)))
            app.loop_start()
            app.subscribe(resp_to, qos=1)
            for uid in ("m1", "m2"):
                app.publish(
                    COMMAND_TOPIC,
                    json.dumps({
                        "type": "cmd.tsdb.get_measurements", "serv": "ecollector",
                        "val_t": "null", "val": None, "uid": uid, "resp_to": resp_to,
                    }),
                    qos=1,
                )
            assert _wait(lambda: len(got) == 2)
            assert [(t, e["type"], e["corid"], e["val"]) for t, e in got] == [
                (resp_to, "evt.tsdb.measurements_report", "m1", []),
                (resp_to, "evt.tsdb.measurements_report", "m2", []),
            ]
            app.disconnect()
            client.disconnect()
