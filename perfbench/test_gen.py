"""Tests for the seeded input generators (no Spark needed).

    python3 -m pytest perfbench/test_gen.py -q
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from workloads import BASE_BATCHES, SHARD_DOCS  # noqa: E402

#: the smallest batch the benchmark sends, over one day
EVENTS, WINDOW_S = min(n for n, _days in BASE_BATCHES), 86400


def _batch(seed, b=1):
    start = gen.T0 + b * WINDOW_S
    return start, gen.fimp_session(seed, EVENTS, start, WINDOW_S, tag=f"b{b}")


def test_same_seed_gives_identical_bytes():
    assert _batch(7) == _batch(7)
    assert _batch(7)[1] != _batch(8)[1]
    assert gen.corpus(7, 1, 300) == gen.corpus(7, 1, 300)
    assert gen.corpus(7, 1, 300).docs != gen.corpus(8, 1, 300).docs


def test_every_batch_covers_fixture_cases_1_to_9():
    start, msgs = _batch(3)
    envs = []
    for _topic, payload in msgs:
        try:
            envs.append(json.loads(payload))
        except ValueError:
            pass
    seen = set()
    for e in envs:
        serv, typ, vt = e["serv"], e["type"], e["val_t"]
        unit = e["props"].get("unit")
        if serv == "sensor_temp" and vt == "float" and unit == "C":
            seen.add("1")
        if serv == "meter_elec" and typ == "evt.meter.report" and unit in ("W", "kW"):
            seen.add(f"2{unit}")
        if serv == "meter_elec" and typ == "evt.meter.report" and unit == "kWh":
            seen.add("3")
        if typ == "evt.meter_ext.report" and vt == "float_map" and set(e["val"]) == {
                "e_import", "e_export", "p_import", "p_export", "last_e_import", "last_e_export"}:
            seen.add("4")
        if serv == "chargepoint" and typ == "evt.current_session.report":
            seen.add("5")
        if serv == "thermostat" and typ == "cmd.setpoint.set" and vt == "str_map":
            seen.add("6")
        if serv == "price_info_elec" and vt == "object" and isinstance(e["val"], list):
            seen.add("7")
        if vt in ("bool", "int", "string", "null"):
            seen.add(f"8{vt}")
        if serv == "ecollector":
            seen.add("9")
    assert seen == {"1", "2W", "2kW", "3", "4", "5", "6", "7", "8bool", "8int",
                    "8string", "8null", "9"}


def test_hostile_share_is_present():
    start, msgs = _batch(3)
    payloads = [p for _t, p in msgs]
    malformed = [p for p in payloads if not p.startswith(b"{")]
    envs = [json.loads(p) for p in payloads if p.startswith(b"{")]
    uids = [e["uid"] for e in envs]
    stamps = [gen_epoch(e["ctime"]) for e in envs]
    assert 0 < len(malformed) < 0.02 * len(msgs)
    assert 0 < len(uids) - len(set(uids)) < 0.03 * len(uids)  # redelivered
    assert all(start <= t < start + WINDOW_S for t in stamps)
    assert any(b < a for a, b in zip(stamps, stamps[1:]))  # out of order
    assert any(e["serv"] == "thermostat" and e["val"]["temp"] == "n/a" for e in envs)


def gen_epoch(iso):
    import calendar
    import time

    return calendar.timegm(time.strptime(iso, "%Y-%m-%dT%H:%M:%SZ"))


def test_corpus_plants_duplicates_and_low_quality():
    c = gen.corpus(5, 2, SHARD_DOCS)
    texts = dict(c.docs)
    assert len(c.docs) == SHARD_DOCS
    assert c.exact_dups and c.near_dups and c.low_quality
    for dup, src in c.exact_dups.items():
        assert src < dup and texts[src] == texts[dup]
    for src, var in c.near_dups:
        assert src < var and texts[src] != texts[var]
        a, b = texts[src].split(), texts[var].split()
        assert len(a) == len(b) and sum(x != y for x, y in zip(a, b)) <= len(a) // 20
