"""Seeded input generators: a FIMP broker session and a document corpus.

Everything the benchmark feeds the program comes from here, and only from
the ``seed`` argument: the same seed gives byte-identical inputs. The
program under test only ever receives the generated bytes (MQTT topic +
JSON payload pairs, or document rows); the correctness oracle re-parses
those same bytes on its own.

Event shapes follow FIXTURES.md section 1, cases 1-9, plus the hostile
share a real broker session carries: non-JSON payloads, thermostat
payloads whose temperature does not parse, redelivered envelopes (same
``uid``) and events out of order inside a batch. Late events (stamped
inside an earlier batch window) are not generated: no workload writes a
batch after the cascade has passed its window.
"""

from __future__ import annotations

import json
import random
import time
from dataclasses import dataclass

#: first event time of every generated log (2024-01-01T00:00:00Z)
T0 = 1704067200

#: seed kept aside for checking claims: never used while tuning
HOLDOUT_SEED = 9001

#: shares of a broker session: envelopes delivered twice (QoS 1, same
#: uid) and non-JSON payloads riding along
REDELIVER_FRAC = 0.01
MALFORMED_FRAC = 0.005

#: shares of a document shard: planted exact duplicates, near duplicates
#: and low-quality documents
EXACT_FRAC = NEAR_FRAC = LOW_FRAC = 0.05


@dataclass(frozen=True)
class Device:
    role: str
    serv: str
    topic: str
    device_id: int
    location_id: int
    device_type: str
    unit: str = ""

    @property
    def address(self) -> str:
        """Registry address: the topic minus its ``pt:j1/mt:evt`` prefix."""
        return "/" + self.topic.split("/", 2)[2]


#: role -> (service, device_type, number of devices, share of events).
#: The shares sum to 1; a role's events are spread over its devices.
ROLES = {
    "temp": ("sensor_temp", "sensor.temp", 6, 0.22),  # case 1
    "lumin": ("sensor_lumin", "sensor.lumin", 3, 0.08),  # case 1 (second float sensor)
    "power": ("meter_elec", "meter.main_elec", 4, 0.18),  # case 2
    "energy": ("meter_elec", "meter.elec", 2, 0.08),  # case 3
    "ext": ("meter_elec", "meter.han", 2, 0.08),  # case 4
    "charge": ("chargepoint", "chargepoint.car", 1, 0.04),  # case 5
    "thermo": ("thermostat", "thermostat.heater", 6, 0.14),  # case 6
    "price": ("price_info_elec", "", 1, 0.01),  # case 7
    "switch": ("out_bin_switch", "appliance.switch", 2, 0.05),  # case 8: bool
    "battery": ("battery", "sensor.battery", 2, 0.04),  # case 8: int
    "scene": ("scene_ctrl", "input.scene", 1, 0.03),  # case 8: string
    "basic": ("basic", "input.basic", 1, 0.03),  # case 8: null
    "self": ("ecollector", "", 1, 0.02),  # case 9: dropped
}


def devices() -> list[Device]:
    """The fixed device set: one topic per device, every role of ROLES."""
    out = []
    n = 0
    for role, (serv, dtype, count, _share) in ROLES.items():
        for i in range(count):
            n += 1
            if role == "price":
                topic = "pt:j1/mt:evt/rt:app/rn:tibber/ad:1"
            elif role == "self":
                topic = "pt:j1/mt:evt/rt:app/rn:ecollector/ad:1"
            elif role == "thermo":
                topic = f"pt:j1/mt:cmd/rt:dev/rn:zw/ad:1/sv:{serv}/ad:{n}_0"
            else:
                topic = f"pt:j1/mt:evt/rt:dev/rn:zw/ad:1/sv:{serv}/ad:{n}_0"
            unit = {"temp": "C", "lumin": "Lux", "energy": "kWh"}.get(role, "")
            if role == "power":
                unit = "kW" if i % 2 else "W"
            out.append(Device(role, serv, topic, 100 + n, 1 + n % 4, dtype, unit))
    return out


def metadata_rows() -> list[tuple]:
    """Device registry rows (address, device_id, location_id, device_type)
    for every ``rt:dev`` device; app topics stay unregistered, like the
    reference's tolerant lookup."""
    return [
        (d.address, d.device_id, d.location_id, d.device_type)
        for d in devices()
        if "/rt:dev/" in d.topic
    ]


def iso(epoch: int) -> str:
    """RFC 3339 UTC timestamp, the FIMP ``ctime`` wire format."""
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(epoch))


class _Counters:
    """Per-device counter state, so energy readings only grow."""

    def __init__(self):
        self.energy: dict[int, float] = {}


def _payload(d: Device, ts: int, rng: random.Random, uid: str, ctr: _Counters) -> dict:
    env = {"serv": d.serv, "src": "bench", "ctime": iso(ts), "uid": uid, "ver": "1",
           "topic": "", "props": {}}
    r = d.role
    if r in ("temp", "lumin"):
        base = 20.0 if r == "temp" else 300.0
        env.update(type="evt.sensor.report", val_t="float",
                   val=round(base + rng.uniform(-5, 5) + d.device_id % 7, 2),
                   props={"unit": d.unit})
    elif r == "power":
        w = rng.uniform(50, 5000)
        if rng.random() < 0.005:
            w = 45000.0  # above the 30 kW guard: the whole event is dropped
        val = round(w / 1000, 4) if d.unit == "kW" else round(w, 1)
        env.update(type="evt.meter.report", val_t="float", val=val,
                   props={"unit": d.unit})
    elif r == "energy":
        e = ctr.energy.get(d.device_id, 1000.0) + rng.uniform(0, 0.5)
        ctr.energy[d.device_id] = e
        env.update(type="evt.meter.report", val_t="float", val=round(e, 3),
                   props={"unit": "kWh"})
    elif r == "ext":
        e = ctr.energy.get(d.device_id, 5000.0) + rng.uniform(0, 0.5)
        ctr.energy[d.device_id] = e
        env.update(type="evt.meter_ext.report", val_t="float_map", val={
            "e_import": round(e, 3), "e_export": round(e / 10, 3),
            "p_import": round(rng.uniform(0, 8000), 1),
            "p_export": round(rng.uniform(0, 800), 1),
            "last_e_import": round(e - 1, 3), "last_e_export": round(e / 10 - 1, 3)})
    elif r == "charge":
        env.update(type="evt.current_session.report", val_t="float",
                   val=round(rng.uniform(0, 40), 3), props={"unit": "kWh"})
    elif r == "thermo":
        temp = f"{rng.uniform(16, 24):.1f}"
        if rng.random() < 0.01:
            temp = "n/a"  # malformed setpoint: the transform drops the event
        env.update(type="cmd.setpoint.set", val_t="str_map",
                   val={"temp": temp, "unit": "C", "type": "heat"})
    elif r == "price":
        hour = ts // 3600 * 3600
        env.update(type="evt.price_forecast.report", val_t="object", val=[
            {"level": rng.choice(["CHEAP", "NORMAL", "EXPENSIVE"]),
             "total": round(rng.uniform(0.5, 3.0), 4), "energy": 1.0, "tax": 0.25,
             "currency": "NOK", "startsAt": iso(hour + 3600 * k)} for k in (1, 2)])
    elif r == "switch":
        env.update(type="evt.binary.report", val_t="bool", val=rng.random() < 0.5)
    elif r == "battery":
        env.update(type="evt.lvl.report", val_t="int", val=rng.randint(0, 100))
    elif r == "scene":
        env.update(type="evt.scene.report", val_t="string", val=f"scene_{rng.randint(1, 4)}")
    elif r == "basic":
        env.update(type="evt.lvl.report", val_t="null", val=None)
    elif r == "self":
        env.update(type="evt.tsdb.query_report", val_t="string", val="x")
    return env


def fimp_session(seed: int, n_events: int, start: int, span_s: int,
                 tag: str = "b") -> list[tuple[str, bytes]]:
    """One recorded broker session: ``n_events`` envelopes stamped in
    ``[start, start + span_s)``, as ``(mqtt topic, payload bytes)`` in
    arrival order. Arrival order is time order with local jitter (out of
    order inside the batch); ``REDELIVER_FRAC`` envelopes are delivered
    twice and ``MALFORMED_FRAC`` non-JSON payloads ride along. ``tag``
    keeps uids of different batches apart."""
    rng = random.Random(f"{seed}:{tag}")
    devs = devices()
    by_role: dict[str, list[Device]] = {}
    for d in devs:
        by_role.setdefault(d.role, []).append(d)
    roles = list(ROLES)
    weights = [ROLES[r][3] for r in roles]
    ctr = _Counters()
    stamps = sorted(start + rng.randrange(span_s) for _ in range(n_events))
    events = []
    for i, ts in enumerate(stamps):
        d = rng.choice(by_role[rng.choices(roles, weights)[0]])
        events.append((i + rng.uniform(-20, 20), d, ts))
    events.sort(key=lambda e: e[0])  # arrival order: time order plus jitter
    msgs: list[tuple[str, bytes]] = []
    for i, (_key, d, ts) in enumerate(events):
        env = _payload(d, ts, rng, f"{tag}-{seed}-{i}", ctr)
        raw = json.dumps(env, separators=(",", ":"), sort_keys=True).encode()
        msgs.append((d.topic, raw))
        if rng.random() < REDELIVER_FRAC:
            msgs.append((d.topic, raw))  # QoS 1 redelivery: same uid
        if rng.random() < MALFORMED_FRAC:
            msgs.append((d.topic, b"\x00\x01 not json " + str(i).encode()))
    return msgs


# ---------------------------------------------------------------------------
# document corpus (curate workload)
# ---------------------------------------------------------------------------

_SYLLABLES = ("ka", "lo", "min", "tre", "vos", "ul", "zen", "pri", "dak", "mo",
              "sel", "fra", "nu", "gor", "tis", "bel", "quo", "ran", "vex", "ilo")


def _vocab(rng: random.Random, n: int) -> list[str]:
    return sorted({"".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
                   for _ in range(n)})


@dataclass
class Corpus:
    """A document shard with planted structure. ``docs`` are
    ``(doc_id, text)`` rows; ``exact_dups`` maps each planted duplicate
    to the original it copies byte for byte; ``near_dups`` lists planted
    (original, variant) pairs with a few words changed; ``low_quality``
    lists planted documents built to fail the quality gate."""

    docs: list[tuple[int, str]]
    exact_dups: dict[int, int]
    near_dups: list[tuple[int, int]]
    low_quality: list[int]


def corpus(seed: int, shard: int, n_docs: int) -> Corpus:
    """One seeded shard of ``n_docs`` documents. Base documents are
    120-200 words drawn from a synthetic vocabulary; planted exact
    duplicates copy an earlier base document, near duplicates change
    about 3% of its words, and low-quality documents are short runs of
    stopwords."""
    rng = random.Random(f"{seed}:corpus:{shard}")
    vocab = _vocab(rng, 4000)
    first_id = shard * n_docs
    docs: list[tuple[int, str]] = []
    base: list[int] = []
    exact: dict[int, int] = {}
    near: list[tuple[int, int]] = []
    low: list[int] = []
    texts: dict[int, str] = {}
    for i in range(n_docs):
        doc_id = first_id + i
        roll = rng.random()
        if base and roll < EXACT_FRAC:
            src = rng.choice(base)
            text = texts[src]
            exact[doc_id] = src
        elif base and roll < EXACT_FRAC + NEAR_FRAC:
            src = rng.choice(base)
            words = texts[src].split(" ")
            for _ in range(max(1, len(words) // 33)):
                words[rng.randrange(len(words))] = rng.choice(vocab)
            text = " ".join(words)
            near.append((src, doc_id))
        elif roll < EXACT_FRAC + NEAR_FRAC + LOW_FRAC:
            text = " ".join(rng.choice(("the", "a", "of", "and", "to", "is"))
                            for _ in range(rng.randint(5, 12)))
            low.append(doc_id)
        else:
            text = " ".join(rng.choice(vocab) for _ in range(rng.randint(120, 200)))
            base.append(doc_id)
        texts[doc_id] = text
        docs.append((doc_id, text))
    # low-quality texts can collide with each other byte for byte; they
    # are judged by the quality gate, not counted as planted duplicates
    return Corpus(docs, exact, near, low)
