"""Independent answers for the benchmark's requests.

The oracle never calls the program. It re-parses the generated broker
session bytes with ``json``, applies the reference's transform rules for
the measurements the benchmark asks about (FIXTURES.md section 1), and
recomputes the warehouse tiers in DuckDB: 30 s pre-aggregation into
``gen_raw``, then the mean-of-means cascade 1 m -> 10 m -> 1 h -> 1 d.
Requests are answered from those tables with the query semantics the
reference documents (inclusive absolute bounds, epoch-aligned buckets,
nearest-rank percentile, FILL(null|previous) over the range's bucket
spine) and compared with the program's report envelopes value by value.
"""

from __future__ import annotations

import json
import math
import re
from datetime import datetime, timezone

import duckdb
import pyarrow as pa

from gen import devices

#: measurements the benchmark queries (the pre-aggregated ones are high
#: frequency and live in gen_raw..gen_year; the setpoint stays raw in
#: gen_default)
TEMP = "sensor_temp.evt.sensor.report"
LUMIN = "sensor_lumin.evt.sensor.report"
POWER = "electricity_meter_power"
SETPOINT = "thermostat.cmd.setpoint.set"
HF_MEASUREMENTS = (POWER, TEMP, LUMIN)

TAGS = ("dev_id", "dev_type", "dir", "location_id", "service", "topic", "domain")
CASCADE = (("gen_raw", "gen_day", 60), ("gen_day", "gen_week", 600),
           ("gen_week", "gen_month", 3600), ("gen_month", "gen_year", 86400))
TIERS = ("gen_raw", "gen_day", "gen_week", "gen_month", "gen_year", "gen_default")

#: measurements each event role produces (FIXTURES section 1); the
#: ecollector role's self-traffic produces none
_ROLE_MEASUREMENTS = {
    "temp": (TEMP,), "lumin": (LUMIN,), "power": (POWER,),
    "energy": ("electricity_meter_energy", "electricity_meter_energy_sampled"),
    "ext": ("electricity_meter_energy", "electricity_meter_energy_sampled", POWER),
    "charge": ("electricity_meter_energy_sampled", "chargepoint.evt.current_session.report"),
    "thermo": (SETPOINT,), "price": ("electricity_price_info",),
    "switch": ("out_bin_switch.evt.binary.report",), "battery": ("battery.evt.lvl.report",),
    "scene": ("scene_ctrl.evt.scene.report",), "basic": ("basic.evt.lvl.report",),
    "self": (),
}

_COLUMNS = ("measurement", "ts", *TAGS, "unit", "value")


def _epoch(iso: str) -> int:
    return int(datetime.strptime(iso, "%Y-%m-%dT%H:%M:%SZ")
               .replace(tzinfo=timezone.utc).timestamp())


class Oracle:
    """Expected answers over everything ingested so far."""

    def __init__(self):
        self.db = duckdb.connect()
        self._devices = {d.topic: d for d in devices()}
        self._seen_uids: set[str] = set()
        self.roles_seen: set[str] = set()
        self._rows: list[tuple] = []

    # -- ingest -----------------------------------------------------------
    def add_session(self, messages: list[tuple[str, bytes]]) -> int:
        """Parse one broker session. Returns the number of distinct,
        well-formed envelopes (the events the program should keep)."""
        kept = 0
        for topic, payload in messages:
            try:
                env = json.loads(payload)
            except ValueError:
                continue  # line noise: the bridge drops it
            if env["uid"] in self._seen_uids:
                continue  # QoS 1 redelivery
            self._seen_uids.add(env["uid"])
            kept += 1
            self._points(topic, env)
        return kept

    def _points(self, topic: str, env: dict) -> None:
        d = self._devices[topic]
        ts = _epoch(env["ctime"])
        registered = "/rt:dev/" in topic
        tags = (
            str(d.device_id) if registered else None,
            d.device_type if registered else None,
            None,
            str(d.location_id) if registered else None,
            env["serv"],
            topic,
            topic.split("/")[0],
        )
        if env["serv"] == "ecollector":
            return
        role = d.role
        val = env["val"]
        if role in ("temp", "lumin"):
            self._add(f"{env['serv']}.{env['type']}", ts, tags, env["props"]["unit"], float(val))
        elif role == "power":
            unit = env["props"]["unit"]
            w = float(val) * 1000 if unit == "kW" else float(val)
            if w > 30000.0:
                return  # the power guard drops the whole event
            self._add(POWER, ts, tags[:2] + ("import",) + tags[3:], unit, w)
        elif role == "ext":
            if val["p_import"] > 30000.0 or val["p_export"] > 30000.0:
                return
            self._add(POWER, ts, tags[:2] + ("import",) + tags[3:], "W", float(val["p_import"]))
            self._add(POWER, ts, tags[:2] + ("export",) + tags[3:], "W", float(val["p_export"]))
        elif role == "thermo":
            try:
                temp = float(val["temp"])
            except ValueError:
                return  # unparseable setpoint: the event is an error
            if math.isnan(temp) or math.isinf(temp):
                return
            self._add(SETPOINT, ts, tags, val["unit"], temp)
        self.roles_seen.add(role)

    def _add(self, measurement, ts, tags, unit, value) -> None:
        self._rows.append((measurement, ts, *tags, unit, value))

    def build(self) -> None:
        """Materialize the tiers from every event added so far."""
        cols = list(zip(*self._rows)) if self._rows else [()] * len(_COLUMNS)
        tbl = pa.table({name: list(c) for name, c in zip(_COLUMNS, cols)},
                       schema=pa.schema([(n, pa.int64() if n == "ts" else
                                          pa.float64() if n == "value" else pa.string())
                                         for n in _COLUMNS]))
        db = self.db
        db.register("pts_in", tbl)
        tags = ", ".join(TAGS)
        hf = ", ".join(f"'{m}'" for m in HF_MEASUREMENTS)
        db.execute("CREATE OR REPLACE TABLE pts AS SELECT * FROM pts_in")
        db.execute(f"CREATE OR REPLACE TABLE gen_default AS SELECT * FROM pts "
                   f"WHERE measurement NOT IN ({hf})")
        db.execute(
            f"CREATE OR REPLACE TABLE gen_raw AS SELECT measurement, {tags}, unit, "
            f"(ts // 30) * 30 AS ts, avg(value) AS value FROM pts WHERE measurement IN ({hf}) "
            f"GROUP BY measurement, {tags}, unit, (ts // 30) * 30")
        for src, dst, step in CASCADE:
            db.execute(
                f"CREATE OR REPLACE TABLE {dst} AS SELECT measurement, {tags}, "
                f"(ts // {step}) * {step} AS ts, avg(value) AS value FROM {src} "
                f"GROUP BY measurement, {tags}, (ts // {step}) * {step}")

    # -- answers ----------------------------------------------------------
    def measurements(self) -> list[str]:
        out = set()
        for role in self.roles_seen:
            out.update(_ROLE_MEASUREMENTS[role])
        return sorted(out)

    @staticmethod
    def tier_for(measurement: str) -> str:
        """Where an absolute range older than twelve (four-week) months
        reads: gen_year for the high-frequency measurements, gen_default
        for the rest (the reference's elapsed-time routing)."""
        return "gen_year" if measurement in HF_MEASUREMENTS else "gen_default"

    def _rows_in(self, tier, measurement, lo, hi, where="", params=()):
        return self.db.execute(
            f"SELECT ts, value, {', '.join(TAGS)} FROM {tier} WHERE measurement = ? "
            f"AND ts BETWEEN ? AND ? {where}", (measurement, lo, hi, *params)).fetchall()

    def bucketed(self, spec: dict) -> list[dict]:
        """get_data_points / single-measurement InfluxQL: aggregate per
        (bucket, group tag), then fill over the bucket spine."""
        m, lo, hi, step = spec["measurement"], spec["from"], spec["to"], spec["step"]
        where, params = "", []
        if spec.get("devices"):
            where += f" AND dev_id IN ({', '.join('?' * len(spec['devices']))})"
            params += list(spec["devices"])
        if spec.get("location"):
            where += " AND location_id = ?"
            params.append(spec["location"])
        rows = self._rows_in(self.tier_for(m), m, lo, hi, where, params)
        tag = spec.get("tag") or ""
        ti = TAGS.index(tag) + 2 if tag else None
        groups: dict[tuple, list[float]] = {}
        for r in rows:
            key = ((r[0] // step) * step, r[ti] if tag else None)
            groups.setdefault(key, []).append(r[1])
        agg = {}
        for key, vals in groups.items():
            v = _aggregate(spec["fn"], vals, spec.get("p"))
            if v is not None:  # a percentile rank outside the bucket emits no row
                agg[key] = v
        return _fill_series(agg, m, lo, hi, step, tag, spec["fill"])

    def regex_means(self, spec: dict) -> list[dict]:
        """FROM /^sensor_(temp|lumin)/: one series per matching
        measurement, in catalog order."""
        pat = re.compile(spec["regex"])
        out = []
        for m in self.measurements():
            if pat.search(m):
                out += self.bucketed({**spec, "measurement": m})
        return out

    def tier_summary(self, measurements) -> list[list]:
        rows = []
        for tier in TIERS:
            q = (f"SELECT '{tier}', measurement, count(*), sum(value) FROM {tier} "
                 f"WHERE measurement IN ({', '.join('?' * len(measurements))}) "
                 f"GROUP BY measurement")
            rows += [list(r) for r in self.db.execute(q, list(measurements)).fetchall()]
        return sorted(rows, key=lambda r: (r[0], r[1]))

    def tier_devices(self, tier, measurement, lo, hi) -> list[list]:
        rows = self.db.execute(
            f"SELECT dev_id, count(*), avg(value) FROM {tier} WHERE measurement = ? "
            f"AND ts BETWEEN ? AND ? GROUP BY dev_id ORDER BY dev_id NULLS FIRST",
            (measurement, lo, hi)).fetchall()
        return [list(r) for r in rows]


def _aggregate(fn: str, vals: list[float], p=None):
    if fn == "mean":
        return math.fsum(vals) / len(vals)
    if fn == "sum":
        return math.fsum(vals)
    if fn == "max":
        return max(vals)
    if fn == "min":
        return min(vals)
    if fn == "count":
        return float(len(vals))
    if fn == "percentile":
        s = sorted(vals)
        idx = math.floor(len(s) * p / 100.0 + 0.5)
        return s[idx - 1] if 1 <= idx <= len(s) else None
    raise ValueError(fn)


def _sort_key(v):
    return (v is not None, v or "")


def _fill_series(agg: dict, name, lo, hi, step, tag, fill) -> list[dict]:
    """Series objects in the wire shape: the bucket spine
    ``floor(lo/step)*step .. hi`` for every group present, filled, rows
    ordered by (time, tag) and grouped by first appearance."""
    group_vals = sorted({g for (_t, g) in agg}, key=_sort_key)
    if not tag:
        group_vals = [None]
    spine = range(lo // step * step, hi + 1, step)
    rows = []
    for g in group_vals:
        prev = None
        for t in spine:
            v = agg.get((t, g))
            if v is None and fill == "previous":
                v = prev
            if v is not None:
                prev = v
            rows.append((t, g, v))
    if fill == "none":
        rows = [r for r in rows if (r[0], r[1]) in agg]
    rows.sort(key=lambda r: (r[0], _sort_key(r[1])))
    series: dict = {}
    for t, g, v in rows:
        s = series.setdefault(g, {"name": name, "columns": ["time", "value"], "values": []})
        if tag:
            s["tags"] = {tag: g}
        s["values"].append([t, v])
    return list(series.values())


def same(expected, got, rel: float = 1e-9) -> bool:
    """Structural equality with a relative tolerance on floats (the
    engines sum in different orders)."""
    if isinstance(expected, float) or isinstance(got, float):
        if expected is None or got is None:
            return expected is got
        return math.isclose(float(expected), float(got), rel_tol=rel, abs_tol=1e-9)
    if isinstance(expected, dict):
        return (isinstance(got, dict) and expected.keys() == got.keys()
                and all(same(expected[k], got[k], rel) for k in expected))
    if isinstance(expected, (list, tuple)):
        return (isinstance(got, (list, tuple)) and len(expected) == len(got)
                and all(same(a, b, rel) for a, b in zip(expected, got)))
    return expected == got

