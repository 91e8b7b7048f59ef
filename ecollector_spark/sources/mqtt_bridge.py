"""MQTT landing bridge (S1 ingress) — the broker-facing edge the
reference connects directly (subscribe per selector topic at
src/integration/tsdb/process.go:455-463 over the transport built at
process.go:109-117; the admin command topic at src/api/admin.go:38-41).

Spark has no MQTT source, and an edge broker connection is inherently a
single-client concern — so the bridge is a thin landing client, not a
Spark operator: it subscribes to the selector topics, stamps each FIMP
envelope with its MQTT topic (the reference routes on the message topic,
process.go:130-137, not the envelope field), and rotates the messages
into JSON-lines files in a landing directory. Everything downstream is
the existing pipeline: ``read_fimp_stream(spark, landing_dir)`` tails the
directory as a Structured Streaming file source, so a reference user
points their broker at the bridge and the engine takes over from there.

Durability contract: files become visible to Spark atomically
(``functions.publish.write_atomic``: a dot-prefixed temp name, then a
rename), so the file source never reads a half-written batch. The broker
link is MQTT QoS 1 (at-least-once) like the reference's (process.go:112
``...true, 1, 1``); redelivered envelopes are dropped downstream by
``dedup_stream`` on message uid.

paho-mqtt is optional: ``MqttBridge.connect(...)`` uses it when
installed, but the bridge core is transport-agnostic — ``handle_message``
accepts (topic, payload) from any client, and ``replay_session`` replays
a recorded broker session (the e2e test path, and the operational path
for backfilling from a broker dump).
"""

from __future__ import annotations

import json
import os
import time
from typing import Iterable, Sequence

from ecollector_spark.functions import publish

#: the reference's default subscription — every FIMP event topic
#: (config selector default; process.go:461-463 subscribes per selector)
DEFAULT_TOPICS: tuple[str, ...] = ("pt:j1/mt:evt/#",)


class MqttBridge:
    """Lands MQTT FIMP envelopes as JSON-lines files for the file source.

    Parameters
    ----------
    landing_dir: directory ``read_fimp_stream`` watches; created if absent.
    topics: MQTT subscription filters (reference config Selectors).
    rotate_lines / rotate_seconds: a file is sealed (atomically renamed
        visible) when either bound is hit — small enough for low-latency
        micro-batches, large enough to avoid a small-files problem. At
        hub rates (~10-100 msg/s) the defaults yield files every few
        seconds; ``maxFilesPerTrigger`` on the read side bounds batches.
    """

    def __init__(
        self,
        landing_dir: str,
        topics: Sequence[str] = DEFAULT_TOPICS,
        rotate_lines: int = 2000,
        rotate_seconds: float = 5.0,
    ):
        self.landing_dir = landing_dir
        self.topics = tuple(topics)
        self.rotate_lines = int(rotate_lines)
        self.rotate_seconds = float(rotate_seconds)
        os.makedirs(landing_dir, exist_ok=True)
        self._buf: list[str] = []
        self._opened_at = 0.0
        self._seq = 0
        self.dropped = 0  #: non-JSON payloads skipped (counted, not fatal)

    # -- core (transport-agnostic) -----------------------------------------
    def handle_message(self, topic: str, payload: bytes | str) -> None:
        """One broker message: stamp the MQTT topic into the envelope and
        buffer the line. The reference keys routing on the *message*
        topic (process.go:130-137), so it overrides the envelope field —
        FIMP senders routinely leave ``topic`` empty."""
        if isinstance(payload, bytes):
            payload = payload.decode("utf-8", errors="replace")
        try:
            env = json.loads(payload)
            if not isinstance(env, dict):
                raise ValueError("not an object")
        except ValueError:
            self.dropped += 1
            return
        env["topic"] = topic
        if not self._buf:
            self._opened_at = time.monotonic()
        self._buf.append(json.dumps(env, separators=(",", ":")))
        if (
            len(self._buf) >= self.rotate_lines
            or time.monotonic() - self._opened_at >= self.rotate_seconds
        ):
            self.flush()

    def flush(self) -> str | None:
        """Seal the buffer into a visible landing file (atomic rename).
        Returns the file path, or None if the buffer was empty."""
        if not self._buf:
            return None
        name = f"fimp-{int(time.time())}-{self._seq:06d}.json"
        self._seq += 1
        final = os.path.join(self.landing_dir, name)
        publish.write_atomic(final, "\n".join(self._buf) + "\n")
        self._buf = []
        return final

    def replay_session(self, messages: Iterable[tuple[str, bytes | str]]) -> int:
        """Replay a recorded broker session of (topic, payload) pairs —
        the test harness path and the broker-dump backfill path. Returns
        the number of messages landed."""
        n = 0
        for topic, payload in messages:
            before = self.dropped
            self.handle_message(topic, payload)
            n += self.dropped == before
        self.flush()
        return n

    # -- live transport (paho when installed, stdlib client otherwise) ------
    def connect(
        self,
        host: str,
        port: int = 1883,
        username: str | None = None,
        password: str | None = None,
        client_id: str = "ec_bridge",
        qos: int = 1,
    ):
        """Connect to a live broker and subscribe the selector topics
        (QoS 1 like the reference transport, process.go:112). Uses
        paho-mqtt when installed; otherwise falls back to the built-in
        stdlib MQTT 3.1.1 client (``sources.mqtt_broker.MiniMqttClient``
        — no authentication support), so the live path works with zero
        external dependencies. Returns the connected client with its
        read loop started; messages land via ``handle_message``."""
        from ecollector_spark.sources.mqtt_broker import connect_client

        return connect_client(
            host, port, list(self.topics), self.handle_message, username, password, client_id, qos
        )
