"""Minimal MQTT 3.1.1 broker + client over stdlib TCP sockets — the
live-broker leg of the S1 ingress path.

The reference proves its ingress against a real broker
(src/integration/tsdb/process_test.go:80,124-129 runs 100 messages
through one); this sandbox has no mosquitto or paho-mqtt, but MQTT
3.1.1 itself is a small wire protocol, so the e2e is closed with a
real socket-level implementation instead of a recorded replay:

- :class:`MiniMqttBroker` — threaded TCP broker: CONNECT/CONNACK,
  SUBSCRIBE/SUBACK (wildcard filters via the same ``route_to_regex``
  the engine uses for S2 topic routing), PUBLISH at QoS 0/1 (PUBACK to
  the publisher; delivery QoS = min(publish, subscription) per spec
  §3.8.4), UNSUBSCRIBE, PINGREQ/PINGRESP, DISCONNECT.
- :class:`MiniMqttClient` — blocking client, the paho fallback of
  :func:`connect_client` (the one live connect path of ``MqttBridge``
  and ``CommandDispatcher``): connect, subscribe, publish (QoS 1 waits
  for PUBACK), a reader loop dispatching inbound PUBLISH to a callback.

Scope is deliberately the reference transport's footprint (QoS 1,
clean or persistent session flag, no retained messages, no wills, no
QoS 2): enough to carry the FIMP ingress end-to-end for real, not a
general broker. Everything is stdlib (socket/threading/struct) —
NO external dependency, and none of the reference's Go code is used.
"""

from __future__ import annotations

import re
import socket
import struct
import threading
from typing import Callable

from ecollector_spark.fimp import route_to_regex

# packet types (MQTT 3.1.1 §2.2.1)
CONNECT, CONNACK = 1, 2
PUBLISH, PUBACK = 3, 4
SUBSCRIBE, SUBACK = 8, 9
UNSUBSCRIBE, UNSUBACK = 10, 11
PINGREQ, PINGRESP = 12, 13
DISCONNECT = 14


def _encode_varint(n: int) -> bytes:
    """Remaining-length varint (§2.2.3): 7 bits per byte, MSB = more."""
    out = bytearray()
    while True:
        n, b = divmod(n, 128)
        out.append(b | (0x80 if n else 0))
        if not n:
            return bytes(out)


def _read_exact(sock: socket.socket, n: int) -> bytes:
    buf = bytearray()
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("peer closed")
        buf += chunk
    return bytes(buf)


def read_packet(sock: socket.socket) -> tuple[int, int, bytes]:
    """One MQTT control packet -> (type, flags, payload). Blocking."""
    h = _read_exact(sock, 1)[0]
    length, shift = 0, 0
    for _ in range(4):
        b = _read_exact(sock, 1)[0]
        length |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            break
    else:
        raise ValueError("malformed remaining length")
    return h >> 4, h & 0x0F, _read_exact(sock, length) if length else b""


def _packet(ptype: int, flags: int, payload: bytes) -> bytes:
    return bytes([(ptype << 4) | flags]) + _encode_varint(len(payload)) + payload


def _utf8(s: str) -> bytes:
    b = s.encode("utf-8")
    return struct.pack(">H", len(b)) + b


def _take_utf8(buf: bytes, pos: int) -> tuple[str, int]:
    (n,) = struct.unpack_from(">H", buf, pos)
    return buf[pos + 2 : pos + 2 + n].decode("utf-8"), pos + 2 + n


class _Session:
    def __init__(self, sock: socket.socket):
        self.sock = sock
        self.lock = threading.Lock()  # serialize writes from broker threads
        self.subs: list[tuple[str, int, re.Pattern]] = []  # (filter, qos, regex)

    def send(self, data: bytes) -> None:
        with self.lock:
            self.sock.sendall(data)


class MiniMqttBroker:
    """Threaded MQTT 3.1.1 broker bound to ``(host, port)`` —
    ``port=0`` picks an ephemeral port (read it back from ``.port``).
    Use as a context manager; ``stats`` counts accepted connects,
    publishes and deliveries for test assertions."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self._srv = socket.create_server((host, port))
        self.host, self.port = self._srv.getsockname()[:2]
        self._sessions: dict[str, _Session] = {}
        self._lock = threading.Lock()
        self._closing = threading.Event()
        self.stats = {"connects": 0, "publishes": 0, "deliveries": 0, "dup_publishes": 0}
        self._accept_thread = threading.Thread(target=self._accept_loop, daemon=True)
        self._accept_thread.start()

    # -- lifecycle ----------------------------------------------------------
    def close(self) -> None:
        self._closing.set()
        try:
            self._srv.close()
        except OSError:
            pass
        with self._lock:
            for s in self._sessions.values():
                try:
                    s.sock.close()
                except OSError:
                    pass
            self._sessions.clear()

    def __enter__(self) -> "MiniMqttBroker":
        return self

    def __exit__(self, *_exc) -> None:
        self.close()

    # -- server loops ---------------------------------------------------------
    def _accept_loop(self) -> None:
        while not self._closing.is_set():
            try:
                sock, _addr = self._srv.accept()
            except OSError:
                return
            threading.Thread(
                target=self._serve_client, args=(sock,), daemon=True
            ).start()

    def _serve_client(self, sock: socket.socket) -> None:
        sess, client_id = None, None
        try:
            ptype, _flags, body = read_packet(sock)
            if ptype != CONNECT:
                return
            proto, pos = _take_utf8(body, 0)
            level = body[pos]
            connect_flags = body[pos + 1]
            pos += 4  # level + flags + keepalive(2)
            client_id, pos = _take_utf8(body, pos)
            if proto != "MQTT" or level != 4:
                sock.sendall(_packet(CONNACK, 0, bytes([0, 1])))  # bad proto
                return
            sess = _Session(sock)
            with self._lock:
                old = self._sessions.pop(client_id, None)
                self._sessions[client_id] = sess
            if old is not None:
                try:
                    old.sock.close()  # §3.1.4: takeover disconnects the old one
                except OSError:
                    pass
            self.stats["connects"] += 1
            session_present = 0 if connect_flags & 0x02 else 0
            sock.sendall(_packet(CONNACK, 0, bytes([session_present, 0])))
            while not self._closing.is_set():
                ptype, flags, body = read_packet(sock)
                if ptype == PUBLISH:
                    self._on_publish(sess, flags, body)
                elif ptype == SUBSCRIBE:
                    self._on_subscribe(sess, body)
                elif ptype == UNSUBSCRIBE:
                    self._on_unsubscribe(sess, body)
                elif ptype == PINGREQ:
                    sess.send(_packet(PINGRESP, 0, b""))
                elif ptype == DISCONNECT:
                    return
                elif ptype == PUBACK:
                    pass  # QoS-1 delivery ack from a subscriber; no resend queue
        except (ConnectionError, OSError, ValueError):
            pass  # client vanished or spoke garbage: drop the session
        finally:
            if client_id is not None:
                with self._lock:
                    if self._sessions.get(client_id) is sess:
                        del self._sessions[client_id]
            try:
                sock.close()
            except OSError:
                pass

    # -- packet handlers ------------------------------------------------------
    def _on_publish(self, sess: _Session, flags: int, body: bytes) -> None:
        qos = (flags >> 1) & 0x03
        if flags & 0x08:
            self.stats["dup_publishes"] += 1
        topic, pos = _take_utf8(body, 0)
        pid = None
        if qos:
            (pid,) = struct.unpack_from(">H", body, pos)
            pos += 2
        payload = body[pos:]
        self.stats["publishes"] += 1
        if qos == 1 and pid is not None:
            sess.send(_packet(PUBACK, 0, struct.pack(">H", pid)))
        with self._lock:
            targets = [
                (s, min(qos, sub_qos))
                for s in self._sessions.values()
                for _f, sub_qos, rx in s.subs
                if rx.match(topic)
            ]
        for target, dqos in targets:
            out_flags = dqos << 1
            out = _utf8(topic)
            if dqos:
                out += struct.pack(">H", 1)  # no resend queue -> fixed id
            try:
                target.send(_packet(PUBLISH, out_flags, out + payload))
                self.stats["deliveries"] += 1
            except OSError:
                pass  # subscriber died mid-delivery

    def _on_subscribe(self, sess: _Session, body: bytes) -> None:
        (pid,) = struct.unpack_from(">H", body, 0)
        pos, granted = 2, bytearray()
        while pos < len(body):
            filt, pos = _take_utf8(body, pos)
            qos = body[pos] & 0x03
            pos += 1
            sess.subs.append((filt, qos, re.compile(route_to_regex(filt))))
            granted.append(qos)
        sess.send(_packet(SUBACK, 0, struct.pack(">H", pid) + bytes(granted)))

    def _on_unsubscribe(self, sess: _Session, body: bytes) -> None:
        (pid,) = struct.unpack_from(">H", body, 0)
        pos = 2
        while pos < len(body):
            filt, pos = _take_utf8(body, pos)
            sess.subs = [s for s in sess.subs if s[0] != filt]
        sess.send(_packet(UNSUBACK, 0, struct.pack(">H", pid)))


class MiniMqttClient:
    """Blocking MQTT 3.1.1 client — the stdlib fallback transport for
    ``MqttBridge.connect``. QoS-1 publish waits for the PUBACK (the
    at-least-once handshake the reference transport runs)."""

    def __init__(self, host: str, port: int, client_id: str = "ec_mini",
                 clean_session: bool = True):
        self.sock = socket.create_connection((host, port))
        self._next_pid = 0
        self._lock = threading.Lock()
        self._acked: set[int] = set()
        self._suback = threading.Event()
        self._puback = threading.Event()
        self.on_message: Callable[[str, bytes], None] | None = None
        self._reader: threading.Thread | None = None
        flags = 0x02 if clean_session else 0x00
        body = _utf8("MQTT") + bytes([4, flags]) + struct.pack(">H", 60) + _utf8(client_id)
        self.sock.sendall(_packet(CONNECT, 0, body))
        ptype, _f, ack = read_packet(self.sock)
        if ptype != CONNACK or ack[1] != 0:
            raise ConnectionError(f"CONNACK refused: {ack!r}")

    def _pid(self) -> int:
        self._next_pid = self._next_pid % 65535 + 1
        return self._next_pid

    def _send(self, data: bytes) -> None:
        with self._lock:
            self.sock.sendall(data)

    def subscribe(self, topic_filter: str, qos: int = 1) -> None:
        self._suback.clear()
        body = struct.pack(">H", self._pid()) + _utf8(topic_filter) + bytes([qos])
        self._send(_packet(SUBSCRIBE, 0x02, body))
        if self._reader is None:
            self._read_until_inline(SUBACK)
        elif not self._suback.wait(timeout=10):
            raise TimeoutError("SUBACK not received")

    def _read_until_inline(self, want: int) -> bytes:
        """Pre-loop inline read: skip interleaved deliveries (acking
        QoS-1 ones) until the awaited ack type arrives."""
        for _ in range(1000):
            ptype, flags, body = read_packet(self.sock)
            if ptype == want:
                return body
            if ptype == PUBLISH and (flags >> 1) & 0x03:
                _topic, pos = _take_utf8(body, 0)
                (pid,) = struct.unpack_from(">H", body, pos)
                self._send(_packet(PUBACK, 0, struct.pack(">H", pid)))
        raise ConnectionError(f"ack type {want} never arrived")

    def publish(self, topic: str, payload: bytes | str, qos: int = 1,
                dup: bool = False, timeout: float = 10.0) -> None:
        if isinstance(payload, str):
            payload = payload.encode("utf-8")
        flags = (qos << 1) | (0x08 if dup else 0)
        body = _utf8(topic)
        pid = None
        if qos:
            pid = self._pid()
            body += struct.pack(">H", pid)
            self._puback.clear()
        self._send(_packet(PUBLISH, flags, body + payload))
        if qos and threading.current_thread() is not self._reader:
            # a publish from inside on_message (a command reply) runs on
            # the reader thread, which is the one that reads the PUBACK:
            # waiting for it there would stall the loop
            if self._reader is None:
                ack = self._read_until_inline(PUBACK)
                if struct.unpack(">H", ack)[0] != pid:
                    raise ConnectionError("PUBACK id mismatch")
            elif not self._puback.wait(timeout=timeout):
                raise TimeoutError("PUBACK not received")

    def loop_start(self) -> None:
        """Start the reader thread: dispatches inbound PUBLISH to
        ``on_message(topic, payload)``, acks QoS-1 deliveries, and
        resolves publish/subscribe waits."""
        if self._reader is not None:
            return
        self._reader = threading.Thread(target=self._read_loop, daemon=True)
        self._reader.start()

    def _read_loop(self) -> None:
        try:
            while True:
                ptype, flags, body = read_packet(self.sock)
                if ptype == PUBLISH:
                    topic, pos = _take_utf8(body, 0)
                    qos = (flags >> 1) & 0x03
                    if qos:
                        (pid,) = struct.unpack_from(">H", body, pos)
                        pos += 2
                        self._send(_packet(PUBACK, 0, struct.pack(">H", pid)))
                    if self.on_message is not None:
                        self.on_message(topic, body[pos:])
                elif ptype == PUBACK:
                    self._puback.set()
                elif ptype == SUBACK:
                    self._suback.set()
                elif ptype == PINGRESP:
                    pass
        except (ConnectionError, OSError, ValueError):
            return  # socket closed: loop ends

    def disconnect(self) -> None:
        try:
            self._send(_packet(DISCONNECT, 0, b""))
        except OSError:
            pass
        try:
            self.sock.close()
        except OSError:
            pass


def connect_client(
    host: str,
    port: int,
    topics: list[str],
    on_message: Callable[[str, bytes], None],
    username: str | None = None,
    password: str | None = None,
    client_id: str = "ec_mini",
    qos: int = 1,
):
    """Connect to a live broker, subscribe ``topics`` and deliver every
    inbound message as ``on_message(topic, payload)``. Uses paho-mqtt
    when it can be imported (run the returned client with
    ``loop_forever()`` / ``loop_start()``); otherwise the stdlib
    :class:`MiniMqttClient` (no authentication), returned with its read
    loop started. Either client's ``publish(topic, payload, qos=)``
    sends on the same connection."""
    try:
        import paho.mqtt.client as mqtt  # gated: optional dependency
    except ImportError:
        if username:
            raise NotImplementedError("broker authentication needs paho-mqtt (not installed)")
        client = MiniMqttClient(host, port, client_id=client_id, clean_session=False)
        client.on_message = on_message
        client.loop_start()
        for t in topics:
            client.subscribe(t, qos=qos)
        return client

    client = mqtt.Client(client_id=client_id, clean_session=False)
    if username:
        client.username_pw_set(username, password)

    def on_connect(cl, _userdata, _flags, _rc):
        for t in topics:
            cl.subscribe(t, qos=qos)

    client.on_connect = on_connect
    client.on_message = lambda _cl, _userdata, msg: on_message(msg.topic, msg.payload)
    client.connect(host, port)
    return client
