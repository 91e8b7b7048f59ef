"""A tier smaller than one file open reads as one partition
(``Warehouse.read_tier``); a larger one reads as Spark splits it. The
two scans must answer every request the same: this runs each request
kind of the command-bus mix on one warehouse through both and compares
the reports. Float aggregates are compared to 1e-9 relative, because
one partition and several sum the same values in a different order;
everything else (series, tags, times, nulls, row counts) is exact."""

import math
import random
from datetime import datetime, timedelta, timezone

import pytest

from ecollector_spark import session
from ecollector_spark.api import EcollectorApi
from ecollector_spark.query import DataPointsFilter, DataPointsRequest
from ecollector_spark.schema import DATAPOINT_SCHEMA
from ecollector_spark.warehouse import Warehouse

NOW = datetime(2024, 1, 10, tzinfo=timezone.utc)
TEMP = "sensor_temp.evt.sensor.report"
POWER = "electricity_meter_power"
SETPOINT = "thermostat.evt.setpoint.report"
DEVS = {"1": "A", "2": "A", "3": "B", "4": "B"}

#: (tier, first point before NOW, last point before NOW, step), seconds
LAYOUT = [
    ("gen_raw", 86400, 0, 300),
    ("gen_day", 7 * 86400, 86400, 1800),
    ("gen_week", 30 * 86400, 7 * 86400, 3 * 3600),
    ("gen_month", 90 * 86400, 30 * 86400, 86400),
]


def _rows(rng, tier, measurement, first, last, step):
    t0 = NOW - timedelta(seconds=first)
    for k in range((first - last) // step):
        for dev, loc in DEVS.items():
            if rng.random() < 0.15:
                continue  # gaps for the fill policies
            yield {
                "measurement": measurement,
                "ts": t0 + timedelta(seconds=k * step + rng.randrange(step)),
                "series_id": f"{measurement};{dev};import",
                "dev_id": dev,
                "dev_type": "sensor.generic",
                "dir": "import",
                "location_id": loc,
                "service": measurement.split(".")[0],
                "src": "t",
                "topic": f"t/{dev}",
                "domain": "site",
                "value_f": round(rng.uniform(-50, 250), 3),
                "unit": "W",
                "agg_func": "mean",
                "tier": tier,
            }


@pytest.fixture(scope="module")
def arms(spark, tmp_path_factory):
    """(narrow api, wide api) over one warehouse root. The wide side's
    scans are built while the split-conf memo gives a file open a cost
    of -1 bytes, so no tier qualifies for one partition and each reads
    as Spark splits it (the session's own split confs are untouched)."""
    root = str(tmp_path_factory.mktemp("narrow") / "warehouse")
    rng = random.Random(1404)
    writer = Warehouse(spark, root)
    for tier, first, last, step in LAYOUT:
        for m in (TEMP, POWER):
            rows = list(_rows(rng, tier, m, first, last, step))
            # two appends: several files per measurement directory
            for half in (rows[::2], rows[1::2]):
                writer.write_points(spark.createDataFrame(half, DATAPOINT_SCHEMA))
    rows = list(_rows(rng, "gen_default", SETPOINT, 86400, 0, 900))
    writer.write_points(spark.createDataFrame(rows, DATAPOINT_SCHEMA))

    narrow = Warehouse(spark, root)
    wide = Warehouse(spark, root)
    sc = spark.sparkContext
    max_part, _, min_parts = session.split_conf(spark)
    with pytest.MonkeyPatch.context() as mp:
        mp.setitem(session._SPLIT_CONF_MEMO, sc, (max_part, -1, min_parts))
        for tier in (*[t for t, *_ in LAYOUT], "gen_default"):
            assert wide.read_tier(tier).one_partition is False
    for tier in (*[t for t, *_ in LAYOUT], "gen_default"):
        assert narrow.read_tier(tier).one_partition is True
    assert wide.read_tier("gen_raw").rdd.getNumPartitions() > 1
    return EcollectorApi(spark, narrow), EcollectorApi(spark, wide)


def _iso(seconds_before_now: int) -> str:
    return (NOW - timedelta(seconds=seconds_before_now)).strftime("%Y-%m-%dT%H:%M:%SZ")


def _where(first: int, last: int) -> str:
    return f"time >= '{_iso(first)}' AND time <= '{_iso(last)}'"


def _ts(seconds_before_now: int) -> str:
    return f"TIMESTAMP '{_iso(seconds_before_now)[:-1].replace('T', ' ')}'"


def _gdp(measurement, first, last, step, fn, tag="", fill="null", **kw):
    return DataPointsRequest(
        measurement_name=measurement,
        from_time=_iso(first),
        to_time=_iso(last),
        group_by_time=step,
        data_function=fn,
        group_by_tag=tag,
        fill_type=fill,
        **kw,
    )


REQUESTS = {
    "fill_null": _gdp(TEMP, 6 * 3600, 1, "30m", "mean", "dev_id"),
    "fill_previous": _gdp(SETPOINT, 12 * 3600, 1, "1h", "mean", "location_id", "previous"),
    "device_filter": _gdp(
        POWER, 20 * 3600, 3600, "1h", "max", "dev_id",
        filters=DataPointsFilter(devices=["2", "3"]),
    ),
    "week_tier": _gdp(POWER, 20 * 86400, 8 * 86400, "1d", "mean", "", "previous"),
    "chunked_fill_previous": _gdp(TEMP, 86400, 1, "1m", "max", "location_id", "previous"),
    "chunked_fill_linear": _gdp(TEMP, 86400, 1, "1m", "mean", "", "linear"),
    "window_transform": _gdp(
        TEMP, 86400, 1, "1h", "mean", "dev_id",
        transform_function="moving_average", transform_param="3",
    ),
    "percentile_tag_predicate": (
        f'SELECT percentile("value", 90) FROM "{TEMP}" WHERE {_where(8 * 3600, 1)} '
        "AND \"location_id\"='A' GROUP BY time(30m), \"dev_id\" FILL(previous)"
    ),
    "regex_from": (
        f"SELECT mean(\"value\") FROM /^(sensor_temp|electricity)/ WHERE {_where(86400, 1)} "
        "GROUP BY time(2h) FILL(null)"
    ),
    "tier_view": (
        "SELECT dev_id, count(*) AS n, avg(value_f) AS v FROM datapoints_gen_raw "
        f"WHERE measurement = '{TEMP}' AND ts >= {_ts(5 * 3600)} AND ts <= {_ts(3600)} "
        "GROUP BY dev_id ORDER BY dev_id"
    ),
    "union_view_by_tier": (
        "SELECT tier, measurement, count(*) AS n, sum(value_f) AS s FROM datapoints "
        f"WHERE measurement IN ('{TEMP}', '{POWER}', '{SETPOINT}') "
        "GROUP BY tier, measurement ORDER BY tier, measurement"
    ),
    # each group spans four tiers, one union child each
    "union_view_by_measurement": (
        "SELECT measurement, count(*) AS n, sum(value_f) AS s, "
        "count(DISTINCT tier) AS tiers FROM datapoints GROUP BY measurement ORDER BY measurement"
    ),
}


def _ask(api, req):
    if isinstance(req, DataPointsRequest):
        return api.get_data_points(req, now=NOW)
    api.warehouse.register_views("datapoints")
    return api.run_query(req, now=NOW)


def _same(a, b, path="report"):
    """``a == b``, with floats equal to 1e-9 relative."""
    if isinstance(a, float) and isinstance(b, float):
        assert math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9), (path, a, b)
    elif isinstance(a, dict) and isinstance(b, dict):
        assert a.keys() == b.keys(), (path, a.keys(), b.keys())
        for k in a:
            _same(a[k], b[k], f"{path}.{k}")
    elif isinstance(a, list) and isinstance(b, list):
        assert len(a) == len(b), (path, len(a), len(b))
        for i, (x, y) in enumerate(zip(a, b)):
            _same(x, y, f"{path}[{i}]")
    else:
        assert a == b and type(a) is type(b), (path, a, b)


@pytest.mark.parametrize("kind", REQUESTS)
def test_narrow_and_wide_reads_answer_the_same(arms, kind):
    narrow, wide = (_ask(api, REQUESTS[kind]) for api in arms)
    assert narrow["val"].get("error") is None, narrow["val"]
    series = narrow["val"]["Results"][0]["Series"]
    assert sum(len(s["values"]) for s in series) > 0
    _same(narrow, wide)
    if kind == "union_view_by_measurement":
        assert [v[3] for v in series[0]["values"]] == [4, 4, 1]
    if kind.startswith("chunked_fill"):
        assert max(len(s["values"]) for s in series) > 1024


@pytest.mark.parametrize("files, one", [(31, True), (32, False)])
def test_file_count_edge(spark, tmp_path, files, one):
    """At the default confs (4 MB per file open, 128 MB per partition) a
    tier of tiny files reads as one partition up to 31 files: its bytes
    plus one open per file must fit one scan partition."""
    rows = list(_rows(random.Random(files), "gen_raw", TEMP, 86400, 0, 600))
    w = Warehouse(spark, str(tmp_path / "warehouse"))
    w.write_points(spark.createDataFrame(rows, DATAPOINT_SCHEMA).repartition(files))
    assert len(w.tier_listing("gen_raw")) == files
    assert w.read_tier("gen_raw").one_partition is one
