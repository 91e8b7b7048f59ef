"""The API's series cache and the two pieces it stands on.

``QueryPlanner.resolve`` returns every ``now``-derived input of a plan,
so equal resolutions of one request build the same plan; the cache key
is the request text, each statement's resolution and the digest of
``Warehouse.tier_listing`` for the tier it reads. These tests pin that
invariant, show that every write path makes the next identical request
plan again, and show what is never stored.
"""

import os
import re
from datetime import datetime, timedelta, timezone

import pytest

from ecollector_spark.api import EcollectorApi, SeriesCache
from ecollector_spark.influxql import parse_influxql, plan_tree
from ecollector_spark.query import DataPointsRequest
from ecollector_spark.schema import DATAPOINT_SCHEMA
from ecollector_spark.warehouse import Warehouse

POWER = "electricity_meter_power"
TEMP = "sensor_temp.evt.sensor.report"
#: an hour after the fixture's points: absolute hour ranges route to gen_raw
NOW = datetime(2024, 1, 1, 1, 0, 0, 100000, tzinfo=timezone.utc)
HOUR = "time >= '2024-01-01T00:00:00Z' AND time <= '2024-01-01T01:00:00Z'"


def _points(spark, rows):
    """rows: (measurement, iso_ts, dev_id, value_f)"""
    return spark.createDataFrame(
        [
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
        ],
        DATAPOINT_SCHEMA,
    ).drop("tier")


@pytest.fixture()
def wh(spark, tmp_path):
    w = Warehouse(spark, str(tmp_path / "warehouse"))
    w.write_points(_points(spark, [
        (POWER, "2024-01-01T00:00:10", "7", 100.0),
        (POWER, "2024-01-01T00:10:10", "7", 200.0),
        (POWER, "2024-01-01T00:10:20", "8", 300.0),
        (TEMP, "2024-01-01T00:05:00", "9", 21.5),
    ]))
    return w


def _req(**kw):
    base = dict(
        measurement_name=POWER,
        from_time="2024-01-01T00:00:00Z",
        to_time="2024-01-01T01:00:00Z",
        group_by_time="10m",
        data_function="mean",
        fill_type="none",
    )
    return DataPointsRequest(**{**base, **kw})


def _series(rep):
    assert rep["val"].get("error") is None, rep["val"]
    return rep["val"]["Results"][0]["Series"]


def _values(rep):
    return sorted(tuple(v) for s in _series(rep) for v in s["values"])


def _counts(api):
    c = api.series_cache
    return c.hits, c.misses


def _plan_text(df) -> str:
    """The optimized plan with expression ids normalized away."""
    text = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"#\d+L?", "#", text)


# ---------------------------------------------------------------------------
# resolve purity: the invariant the key relies on
# ---------------------------------------------------------------------------

#: (shape, InfluxQL, a `now` that moves the tier or the window)
SHAPES = [
    ("absolute",
     f'SELECT mean("value") FROM "{POWER}" WHERE {HOUR} GROUP BY time(10m)',
     NOW + timedelta(days=2)),  # elapsed > 1d: gen_raw -> gen_day
    ("relative",
     f'SELECT mean("value") FROM "{POWER}" WHERE time > now() - 2h GROUP BY time(10m)',
     NOW + timedelta(seconds=1)),
    ("windowed_relative",
     f'SELECT mean("value") FROM "{POWER}" WHERE time > now() - 2h AND time < now() - 30m '
     "GROUP BY time(10m)",
     NOW + timedelta(seconds=1)),
    ("lone_lower",
     f"SELECT mean(\"value\") FROM \"{POWER}\" WHERE time >= '2024-01-01T00:00:00Z' "
     "GROUP BY time(10m)",
     NOW + timedelta(seconds=1)),  # the spine ends at now
    ("lone_upper",
     f"SELECT \"value\" FROM \"{POWER}\" WHERE time <= '2024-01-01T01:00:00Z'",
     NOW + timedelta(days=2)),  # routed by the upper bound's age
    ("tz",
     f'SELECT max("value") FROM "{POWER}" WHERE {HOUR} GROUP BY time(30m) '
     "tz('America/Los_Angeles')",
     NOW + timedelta(days=2)),
    ("offset",
     f'SELECT sum("value") FROM "{POWER}" WHERE {HOUR} GROUP BY time(30m, 15m) FILL(0)',
     NOW + timedelta(days=2)),
]


class TestResolvePurity:
    @pytest.mark.parametrize("shape,query,moved", SHAPES, ids=[s[0] for s in SHAPES])
    def test_equal_resolutions_plan_identically(self, wh, shape, query, moved):
        """Two `now` values in one second resolve equal and build
        byte-equal normalized optimized plans: nothing in the frame
        build reads `now` except through the resolution. A `now` that
        moves the tier or the window resolves differently."""
        api = EcollectorApi(wh.spark, wh)
        iq = parse_influxql(query)
        later = NOW.replace(microsecond=900000)
        res = api.planner.resolve(iq.request, NOW)
        assert api.planner.resolve(iq.request, later) == res
        assert _plan_text(plan_tree(api.planner, iq, now=NOW)) == _plan_text(
            plan_tree(api.planner, iq, now=later)
        )
        assert api.planner.resolve(iq.request, moved) != res

    @pytest.mark.parametrize("shape,query,moved", SHAPES, ids=[s[0] for s in SHAPES])
    def test_key_follows_resolution(self, wh, shape, query, moved):
        """Through the API: the same second is a hit with the same
        answer; a `now` that moves the tier or the window is a miss."""
        api = EcollectorApi(wh.spark, wh)
        first = api.run_query(query, now=NOW)
        assert _counts(api) == (0, 1)
        assert api.run_query(query, now=NOW.replace(microsecond=900000)) == first
        assert _counts(api) == (1, 1)
        api.run_query(query, now=moved)
        assert _counts(api) == (1, 2)


# ---------------------------------------------------------------------------
# hits
# ---------------------------------------------------------------------------

class TestHits:
    def test_hit_runs_no_spark_job_and_returns_a_copy(self, wh):
        api = EcollectorApi(wh.spark, wh)
        first = api.get_data_points(_req(group_by_tag="dev_id"), now=NOW)
        tracker = wh.spark.sparkContext.statusTracker()
        before = set(tracker.getJobIdsForGroup(None))
        second = api.get_data_points(_req(group_by_tag="dev_id"), now=NOW)
        assert set(tracker.getJobIdsForGroup(None)) == before
        assert second == first and _counts(api) == (1, 1)
        _series(second)[0]["values"].clear()
        assert api.get_data_points(_req(group_by_tag="dev_id"), now=NOW) == first

    def test_energy_rollup_and_regex_from_are_cached(self, wh):
        api = EcollectorApi(wh.spark, wh)
        q = f'SELECT mean("value") FROM /^(sensor_|electricity)/ WHERE {HOUR} GROUP BY time(10m)'
        first = api.run_query(q, now=NOW)
        assert {s["name"] for s in _series(first)} == {POWER, TEMP}
        assert api.run_query(q, now=NOW) == first
        energy = api.get_energy_data_points(
            "2024-01-01T00:00:00Z", "2024-01-02T00:00:00Z", now=NOW
        )
        assert _series(energy) == []  # gen_year is empty
        assert api.get_energy_data_points(
            "2024-01-01T00:00:00Z", "2024-01-02T00:00:00Z", now=NOW
        ) == energy
        assert _counts(api) == (2, 2)

    def test_lru_bound_evicts_least_recent(self, wh, monkeypatch):
        monkeypatch.setattr(SeriesCache, "ENTRIES", 2)
        api = EcollectorApi(wh.spark, wh)
        for fn in ("mean", "max", "min"):
            api.get_data_points(_req(data_function=fn), now=NOW)
        assert len(api.series_cache) == 2 and api.series_cache.evictions == 1
        api.get_data_points(_req(data_function="min"), now=NOW)
        api.get_data_points(_req(data_function="mean"), now=NOW)
        assert _counts(api) == (1, 4)


# ---------------------------------------------------------------------------
# invalidation: every write path makes the next identical request plan again
# ---------------------------------------------------------------------------

class TestInvalidation:
    def _twice(self, api, ask, change):
        """``ask()`` is answered, cached, then after ``change()`` planned
        again (a miss); returns (before, after) reports."""
        before = ask()
        assert ask() == before
        hits, misses = _counts(api)
        change()
        after = ask()
        assert _counts(api) == (hits, misses + 1)
        return before, after

    def test_write_points(self, spark, wh):
        api = EcollectorApi(spark, wh)
        before, after = self._twice(
            api,
            lambda: api.get_data_points(_req(fill_type="none"), now=NOW),
            lambda: wh.write_points(_points(spark, [(POWER, "2024-01-01T00:40:00", "7", 5.0)])),
        )
        assert (1704069600, 5.0) in _values(after) and (1704069600, 5.0) not in _values(before)

    def test_write_data_points(self, spark, wh):
        api = EcollectorApi(spark, wh)
        at = datetime(2024, 1, 1, 0, 50, tzinfo=timezone.utc)
        before, after = self._twice(
            api,
            lambda: api.get_data_points(_req(), now=NOW),
            lambda: api.write_data_points([{"measurement": POWER, "value": 7.0}], now=at),
        )
        assert (1704070200, 7.0) in _values(after) and len(_values(after)) == len(_values(before)) + 1

    def test_delete_points(self, spark, wh):
        api = EcollectorApi(spark, wh)
        before, after = self._twice(
            api,
            lambda: api.get_data_points(_req(), now=NOW),
            lambda: _series(api.run_query(
                f"DELETE FROM \"{POWER}\" WHERE time < '2024-01-01T00:10:00Z'")),
        )
        assert (1704067200, 100.0) in _values(before)
        assert _values(after) == [(1704067800, 250.0)]

    def test_replace_points_from(self, spark, wh):
        api = EcollectorApi(spark, wh)
        cut = int(datetime(2024, 1, 1, 0, 5, tzinfo=timezone.utc).timestamp())
        _, after = self._twice(
            api,
            lambda: api.get_data_points(_req(), now=NOW),
            lambda: wh.replace_points_from(
                _points(spark, [(POWER, "2024-01-01T00:10:10", "7", 999.0)]), "gen_raw", cut
            ),
        )
        assert _values(after) == [(1704067200, 100.0), (1704067800, 999.0)]

    def test_enforce_retention(self, spark, wh):
        api = EcollectorApi(spark, wh)
        assert api.update_retention_policy("gen_raw", 1200)["status"] == "ok"
        _, after = self._twice(
            api,
            lambda: api.get_data_points(_req(), now=NOW),
            lambda: api.enforce_retention(datetime(2024, 1, 1, 0, 30, tzinfo=timezone.utc)),
        )
        assert _values(after) == [(1704067800, 250.0)]

    def test_drop_measurement(self, spark, wh):
        api = EcollectorApi(spark, wh)
        before, after = self._twice(
            api,
            lambda: api.get_data_points(_req(), now=NOW),
            lambda: api.delete_object("measurement", POWER),
        )
        assert _series(before) and _series(after) == []

    def test_new_measurement_matching_regex_from(self, spark, wh):
        api = EcollectorApi(spark, wh)
        lumin = "sensor_lumin.evt.sensor.report"
        q = f'SELECT mean("value") FROM /^sensor_/ WHERE {HOUR} GROUP BY time(1h)'
        before, after = self._twice(
            api,
            lambda: api.run_query(q, now=NOW),
            lambda: wh.write_points(_points(spark, [(lumin, "2024-01-01T00:20:00", "3", 40.0)])),
        )
        assert [s["name"] for s in _series(before)] == [TEMP]
        assert [s["name"] for s in _series(after)] == [lumin, TEMP]

    def test_compaction_writes_n_sorted_files_and_replans(self, spark, tmp_path):
        """``compact(tier, N)`` writes N files per measurement that has
        at least N rows (fewer for a smaller one), each sorted by
        (series_id, ts); an answer cached before it is planned again
        after it, and is the same answer."""
        import pyarrow.parquet as pq

        w = Warehouse(spark, str(tmp_path / "w"))
        for i in range(8):
            w.write_points(_points(spark, [
                (POWER, f"2024-01-01T00:{i:02d}:{s:02d}", str(d), float(i * 100 + d * 10 + s))
                for d in (3, 1, 2) for s in (30, 10)
            ]).coalesce(1))
        w.write_points(_points(spark, [(TEMP, "2024-01-01T00:05:00", "9", 1.0),
                                       (TEMP, "2024-01-01T00:06:00", "9", 2.0)]).coalesce(1))
        api = EcollectorApi(spark, w)
        req = _req(group_by_tag="dev_id", group_by_time="1m")
        before = api.get_data_points(req, now=NOW)
        assert api.get_data_points(req, now=NOW) == before

        def files(m):
            d = os.path.join(w.tier_path("gen_raw"), f"measurement={m}")
            return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))

        assert len(files(POWER)) == 8
        assert w.compact("gen_raw", target_files_per_measurement=4)
        assert len(files(POWER)) == 4
        assert len(files(TEMP)) <= 2
        rows = 0
        for f in files(POWER) + files(TEMP):
            t = pq.read_table(f, columns=["series_id", "ts"]).to_pylist()
            keys = [(r["series_id"], r["ts"]) for r in t]
            assert t and keys == sorted(keys)
            rows += len(t)
        assert rows == 8 * 6 + 2
        hits, misses = _counts(api)
        assert api.get_data_points(req, now=NOW) == before
        assert _counts(api) == (hits, misses + 1)


# ---------------------------------------------------------------------------
# never stored
# ---------------------------------------------------------------------------

class TestNeverStored:
    def test_into_subquery_and_sql(self, spark, wh):
        api = EcollectorApi(spark, wh)
        wh.register_views("datapoints")
        for q in (
            f'SELECT mean("value") INTO "power_10m" FROM "{POWER}" WHERE {HOUR} GROUP BY time(10m)',
            f'SELECT max("value") FROM (SELECT mean("value") FROM "{POWER}" WHERE {HOUR} '
            "GROUP BY time(10m)) GROUP BY time(30m)",
            "SELECT count(*) AS n FROM datapoints",
        ):
            first = api.run_query(q, now=NOW)
            assert first["val"].get("error") is None, (q, first["val"])
            api.run_query(q, now=NOW)
        assert len(api.series_cache) == 0 and _counts(api) == (0, 0)

    def test_error_is_not_stored(self, wh):
        api = EcollectorApi(wh.spark, wh)
        for _ in range(2):
            rep = api.get_data_points(_req(data_function="no_such_fn"), now=NOW)
            assert "no_such_fn" in rep["val"]["error"]
        assert len(api.series_cache) == 0 and _counts(api) == (0, 2)

    def test_swap_between_key_and_store_stores_nothing(self, spark, wh, monkeypatch):
        """A write that lands after the key was built (here: inside the
        first tier read) leaves nothing stored, and the next identical
        request plans again and sees the new row."""
        api = EcollectorApi(spark, wh)
        real_read = wh.read_tier
        landed = []

        def read_then_write(*args, **kwargs):
            df = real_read(*args, **kwargs)
            if not landed:
                landed.append(True)
                wh.write_points(_points(spark, [(POWER, "2024-01-01T00:40:00", "7", 5.0)]))
            return df

        monkeypatch.setattr(wh, "read_tier", read_then_write)
        api.get_data_points(_req(), now=NOW)
        assert landed and len(api.series_cache) == 0
        after = api.get_data_points(_req(), now=NOW)
        assert _counts(api) == (0, 2) and (1704069600, 5.0) in _values(after)
        assert api.get_data_points(_req(), now=NOW) == after
        assert _counts(api) == (1, 2)
