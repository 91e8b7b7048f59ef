"""Spark-side operator tests: golden fixtures through the DataFrame
operators (counter difference, gap fill, filter engine chains, planner
shapes, preaggregation)."""

from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from ecollector_spark.aggregate import counter_difference, windowed_preaggregate
from ecollector_spark.filters import FilterRecord, compile_filters
from ecollector_spark.gapfill import gap_fill
from ecollector_spark.query import DataPointsFilter, DataPointsRequest, QueryPlanner


def _dp_rows(spark, values, series="s1", start=1_700_000_000, step=1, agg="difference"):
    rows = [
        (series, datetime.fromtimestamp(start + i * step, tz=timezone.utc), float(v), agg)
        for i, v in enumerate(values)
    ]
    return spark.createDataFrame(rows, "series_id string, ts timestamp, value_f double, agg_func string")


class TestCounterDifferenceSpark:
    def test_golden_values_one_bucket(self, spark):
        # all samples inside one 600s bucket -> one diff row per series
        df = _dp_rows(spark, [10, 12, 14, 16, 40])
        out = counter_difference(df, 600).collect()
        assert len(out) == 1 and out[0]["value"] == 30

    def test_meter_reset(self, spark):
        df = _dp_rows(spark, [10, 12, 10, 20, 30])
        out = counter_difference(df, 600).collect()
        assert len(out) == 1 and out[0]["value"] == 22

    def test_single_sample_no_output(self, spark):
        assert counter_difference(_dp_rows(spark, [10]), 600).count() == 0

    def test_float_exactness(self, spark):
        df = _dp_rows(spark, [30.9099998474121, 30.9200000762939])
        out = counter_difference(df, 600).collect()
        assert out[0]["value"] == pytest.approx(0.01000022888180041, abs=1e-15)

    def test_cap_100(self, spark):
        df = _dp_rows(spark, [0, 500])
        assert counter_difference(df, 600).count() == 0

    def test_seed_carries_across_buckets(self, spark):
        # two samples 600s apart: delta lands in the second bucket
        df = _dp_rows(spark, [10, 15], step=600)
        out = counter_difference(df, 600).collect()
        assert len(out) == 1 and out[0]["value"] == 5
        assert out[0]["time"] == (1_700_000_000 + 600) // 600 * 600


class TestGapFill:
    def _agg(self, spark):
        return spark.createDataFrame(
            [(0, "a", 1.0), (120, "a", 3.0), (60, "b", 2.0)],
            "time long, g string, value double",
        )

    def test_fill_null(self, spark):
        out = gap_fill(self._agg(spark), "null", 0, 120, 60, ["g"]).collect()
        assert len(out) == 6
        nulls = [r for r in out if r["value"] is None]
        assert len(nulls) == 3

    def test_fill_zero(self, spark):
        out = gap_fill(self._agg(spark), "0", 0, 120, 60, ["g"]).collect()
        assert sorted(r["value"] for r in out) == [0.0, 0.0, 0.0, 1.0, 2.0, 3.0]

    def test_fill_previous(self, spark):
        out = {(r["time"], r["g"]): r["value"] for r in
               gap_fill(self._agg(spark), "previous", 0, 120, 60, ["g"]).collect()}
        assert out[(60, "a")] == 1.0  # propagated
        assert out[(0, "b")] is None  # nothing before
        assert out[(120, "b")] == 2.0

    def test_fill_linear(self, spark):
        out = {(r["time"], r["g"]): r["value"] for r in
               gap_fill(self._agg(spark), "linear", 0, 120, 60, ["g"]).collect()}
        assert out[(60, "a")] == 2.0  # midpoint of 1 and 3

    @pytest.mark.parametrize("fill_type", ["null", "previous"])
    def test_ungrouped_empty_input_is_an_all_null_spine(self, spark, fill_type):
        """No aggregated row at all: the ungrouped spine still lists every
        bucket, each NULL (the global aggregate emits one empty row)."""
        empty = spark.createDataFrame([], "time long, value double")
        out = gap_fill(empty, fill_type, 0, 120, 60).collect()
        assert sorted((r["time"], r["value"]) for r in out) == [(0, None), (60, None), (120, None)]

    @pytest.mark.parametrize("chunk_buckets", [1024, 1])
    @pytest.mark.parametrize("fill_type,mid", [("null", None), ("previous", 5.0), ("linear", 3.5)])
    def test_null_tag_series_keeps_its_values(self, spark, monkeypatch, fill_type, mid, chunk_buckets):
        """A series whose tag is NULL is a series of its own: its values
        stay on the spine and fill like any other (an equi-join on the
        group would never match NULL and null them all). One bucket per
        chunk also runs the chunked path's carry join on the NULL key."""
        import ecollector_spark.gapfill as gf

        monkeypatch.setattr(gf, "CHUNK_BUCKETS", chunk_buckets)
        df = spark.createDataFrame(
            [(0, "a", 1.0), (0, None, 5.0), (120, None, 2.0)], "time long, g string, value double"
        )
        out = gap_fill(df, fill_type, 0, 120, 60, ["g"]).collect()
        assert len(out) == 6
        null_tag = {r["time"]: r["value"] for r in out if r["g"] is None}
        assert null_tag == {0: 5.0, 60: mid, 120: 2.0}


class TestGapFillAcrossChunks:
    """The chunked fill must be value-identical to a naive single-window
    fill when the spine crosses CHUNK_BUCKETS boundaries — the boundary
    carry (previous chunks' last value / next chunks' first value) is the
    code the small-range tests never reach. Spine: 3501 one-second
    buckets ~ 3.4 chunks; known points land in chunks 0, 1 and 3 with
    chunk 2 entirely empty (the carry must cross it)."""

    KNOWN = {5: 10.0, 2000: 20.0, 3400: 7.0}
    N = 3500  # inclusive end -> 3501 buckets at step 1

    def _sparse(self, spark):
        return spark.createDataFrame(
            [(t, v) for t, v in self.KNOWN.items()], "time long, value double"
        )

    def _naive_previous(self, t):
        prevs = [k for k in self.KNOWN if k <= t]
        return self.KNOWN[max(prevs)] if prevs else None

    def _naive_linear(self, t):
        if t in self.KNOWN:
            return self.KNOWN[t]
        prevs = [k for k in self.KNOWN if k < t]
        nexts = [k for k in self.KNOWN if k > t]
        if not prevs or not nexts:
            return None
        p, n = max(prevs), min(nexts)
        pv, nv = self.KNOWN[p], self.KNOWN[n]
        return pv + (nv - pv) * (t - p) / (n - p)

    def test_previous_matches_naive_ungrouped(self, spark):
        out = {r["time"]: r["value"] for r in
               gap_fill(self._sparse(spark), "previous", 0, self.N, 1).collect()}
        assert len(out) == self.N + 1
        for t in range(0, self.N + 1, 7):  # sampled spine walk
            assert out[t] == self._naive_previous(t), f"t={t}"
        # exact chunk edges (1024 boundaries) checked densely
        for edge in (1023, 1024, 1025, 2047, 2048, 2049, 3071, 3072, 3073):
            assert out[edge] == self._naive_previous(edge), f"edge={edge}"

    def test_linear_matches_naive_ungrouped(self, spark):
        out = {r["time"]: r["value"] for r in
               gap_fill(self._sparse(spark), "linear", 0, self.N, 1).collect()}
        for t in list(range(0, self.N + 1, 7)) + [1023, 1024, 1025, 2047, 2048, 2049]:
            expected = self._naive_linear(t)
            if expected is None:
                assert out[t] is None, f"t={t}"
            else:
                assert out[t] == pytest.approx(expected, rel=1e-12), f"t={t}"

    def test_previous_grouped_carry_is_per_group(self, spark):
        # group "b" has no value before chunk 3 — its chunk-2 spine must
        # stay null while "a" carries straight through
        df = spark.createDataFrame(
            [(5, "a", 1.0), (3400, "b", 2.0)], "time long, g string, value double"
        )
        out = {(r["time"], r["g"]): r["value"] for r in
               gap_fill(df, "previous", 0, self.N, 1, ["g"]).collect()}
        assert out[(2500, "a")] == 1.0
        assert out[(2500, "b")] is None
        assert out[(3401, "b")] == 2.0


class TestFilterEngine:
    """The seven chain scenarios modeled on the reference's (disabled)
    process_test.go:136-239 cases."""

    def _df(self, spark):
        return spark.createDataFrame(
            [
                ("t1", "d1", "evt.sensor.report", "sensor_temp"),
                ("t2", "d1", "evt.meter.report", "meter_elec"),
                ("t3", "d2", "evt.pd7.notify", "pd7"),
                ("t4", "d2", "cmd.pd7.request", "pd7"),
                ("t5", "d1", "evt.sensor.report", "ecollector"),
            ],
            "topic string, domain string, msg_type string, service string",
        )

    def _run(self, spark, records):
        return {r["topic"] for r in self._df(spark).where(compile_filters(records)).collect()}

    def test_allow_all(self, spark):
        # empty atomic record = wildcard allow (minus self-traffic)
        assert self._run(spark, [FilterRecord(id=1)]) == {"t1", "t2", "t3", "t4"}

    def test_no_filters_drops_all(self, spark):
        assert self._run(spark, []) == set()

    def test_single_field(self, spark):
        assert self._run(spark, [FilterRecord(id=1, service="pd7")]) == {"t3", "t4"}

    def test_negation(self, spark):
        assert self._run(
            spark, [FilterRecord(id=1, msg_type="evt.pd7.notify", negation=True)]
        ) == {"t1", "t2", "t4"}

    def test_and_chain(self, spark):
        recs = [
            FilterRecord(id=1, service="pd7", linked_filter_id=2,
                         linked_filter_boolean_operation="and"),
            FilterRecord(id=2, msg_type="cmd.pd7.request", is_atomic=False),
        ]
        assert self._run(spark, recs) == {"t4"}

    def test_or_chain(self, spark):
        recs = [
            FilterRecord(id=1, service="sensor_temp", linked_filter_id=2,
                         linked_filter_boolean_operation="or"),
            FilterRecord(id=2, service="meter_elec", is_atomic=False),
        ]
        assert self._run(spark, recs) == {"t1", "t2"}

    def test_first_atomic_decides(self, spark):
        recs = [
            FilterRecord(id=1, service="sensor_temp"),
            FilterRecord(id=2, service="meter_elec"),  # dead record
        ]
        assert self._run(spark, recs) == {"t1"}

    def test_self_traffic_always_dropped(self, spark):
        assert "t5" not in self._run(spark, [FilterRecord(id=1)])


class TestPlannerShapes:
    def _planner(self, spark):
        df = spark.createDataFrame(
            [
                ("m1", datetime(2024, 1, 1, 0, 0, 30, tzinfo=timezone.utc), "d1", 1.0),
                ("m1", datetime(2024, 1, 1, 0, 1, 30, tzinfo=timezone.utc), "d1", 3.0),
                ("m1", datetime(2024, 1, 1, 0, 1, 45, tzinfo=timezone.utc), "d2", 5.0),
            ],
            "measurement string, ts timestamp, dev_id string, value_f double",
        )
        return QueryPlanner(lambda tier: df)

    NOW = datetime(2024, 1, 2, tzinfo=timezone.utc)

    def test_bucketed_mean(self, spark):
        req = DataPointsRequest(
            measurement_name="m1",
            from_time="2024-01-01T00:00:00Z",
            to_time="2024-01-01T00:02:00Z",
            group_by_time="1m",
            fill_type="none",
        )
        out = {r["time"]: r["value"] for r in self._planner(spark).plan(req, self.NOW).collect()}
        assert out == {1704067200: 1.0, 1704067260: 4.0}

    def test_raw_tag_shape(self, spark):
        req = DataPointsRequest(
            measurement_name="m1",
            from_time="2024-01-01T00:00:00Z",
            to_time="2024-01-01T00:02:00Z",
            group_by_tag="dev_id",
        )
        rows = self._planner(spark).plan(req, self.NOW).collect()
        assert len(rows) == 3  # raw rows, no aggregation (influxdb_v1.go:161)
        assert set(rows[0].asDict()) == {"time", "dev_id", "value"}

    def test_whole_range_agg(self, spark):
        req = DataPointsRequest(
            measurement_name="m1",
            from_time="2024-01-01T00:00:00Z",
            to_time="2024-01-01T00:02:00Z",
            data_function="max",
        )
        rows = self._planner(spark).plan(req, self.NOW).collect()
        assert len(rows) == 1
        assert rows[0]["value"] == 5.0
        assert rows[0]["time"] == 1704067200  # stamped range start


class TestExtendedFunctions:
    """The hand-written InfluxQL function surface (public docs, beyond
    the selectors the reference generates — influxdb_v1.go:159-188):
    hand-computed expectations on a tiny synthetic series."""

    NOW = datetime(2024, 1, 2, tzinfo=timezone.utc)
    B0, B1, B3 = 1704067200, 1704067260, 1704067380

    def _planner(self, spark):
        base = datetime(2024, 1, 1, 0, 0, 0, tzinfo=timezone.utc)
        rows = [
            ("m1", base, "d1", 2.0),
            ("m1", base + timedelta(seconds=20), "d1", 2.0),
            ("m1", base + timedelta(seconds=40), "d1", 8.0),
            ("m1", base + timedelta(seconds=60), "d1", 4.0),
            ("m1", base + timedelta(seconds=80), "d1", 6.0),
            ("m1", base + timedelta(seconds=180), "d1", 10.0),
        ]
        df = spark.createDataFrame(
            rows, "measurement string, ts timestamp, dev_id string, value_f double"
        )
        return QueryPlanner(lambda tier: df)

    def _run(self, spark, **kw):
        req = DataPointsRequest(
            measurement_name="m1",
            from_time="2024-01-01T00:00:00Z",
            to_time="2024-01-01T00:04:00Z",
            group_by_time="1m",
            fill_type="none",
            **kw,
        )
        return {
            r["time"]: r["value"]
            for r in self._planner(spark).plan(req, self.NOW).collect()
        }

    def test_spread(self, spark):
        assert self._run(spark, data_function="spread") == {
            self.B0: 6.0, self.B1: 2.0, self.B3: 0.0,
        }

    def test_stddev(self, spark):
        out = self._run(spark, data_function="stddev")
        assert out[self.B0] == pytest.approx(12 ** 0.5)
        assert out[self.B1] == pytest.approx(2 ** 0.5)
        assert self.B3 not in out  # single sample -> NO row (InfluxDB)

    def test_percentile_low_rank_emits_no_row(self, spark):
        # 3 points in B0: idx = floor(3*0.1+0.5) = 0 -> the bucket is
        # absent, never a present-but-null point
        out = self._run(spark, data_function="percentile", function_param="10")
        assert self.B0 not in out
        # B3 has one point: idx = floor(1*0.1+0.5) = 0 -> absent too
        assert self.B3 not in out

    def test_mode_tie_breaks_to_earliest(self, spark):
        # B0: 2.0 appears twice; B1: tie between 4 and 6 -> earliest ts
        assert self._run(spark, data_function="mode") == {
            self.B0: 2.0, self.B1: 4.0, self.B3: 10.0,
        }

    def test_percentile_nearest_rank(self, spark):
        # sorted [2,2,8]: idx floor(3*0.5+0.5)=2 -> 2.0; p100 -> 8.0
        assert self._run(spark, data_function="percentile", function_param="50")[self.B0] == 2.0
        assert self._run(spark, data_function="percentile", function_param="100")[self.B0] == 8.0

    def test_integral_trapezoid(self, spark):
        out = self._run(spark, data_function="integral")  # unit 1s
        assert out[self.B0] == pytest.approx(140.0)  # (2+2)/2*20 + (2+8)/2*20
        assert out[self.B1] == pytest.approx(100.0)
        assert out[self.B3] == 0.0  # single point -> no area

    def test_count_distinct(self, spark):
        assert self._run(spark, data_function="count_distinct") == {
            self.B0: 2.0, self.B1: 2.0, self.B3: 1.0,
        }

    def test_cumulative_sum(self, spark):
        out = self._run(spark, data_function="last", transform_function="cumulative_sum")
        assert out == {self.B0: 8.0, self.B1: 14.0, self.B3: 24.0}

    def test_derivative_per_minute(self, spark):
        out = self._run(
            spark, data_function="last",
            transform_function="derivative", transform_param="1m",
        )
        # first bucket dropped (no lag); B1: (6-8)/1m; B3: (10-6)/2m
        assert out == {self.B1: -2.0, self.B3: 2.0}

    def test_non_negative_derivative_drops_negatives(self, spark):
        out = self._run(
            spark, data_function="last",
            transform_function="non_negative_derivative", transform_param="1m",
        )
        assert out == {self.B3: 2.0}

    def test_non_negative_difference(self, spark):
        # sums 12, 10, 10 -> diffs -2 (dropped), 0 (kept)
        out = self._run(
            spark, data_function="sum", transform_function="non_negative_difference"
        )
        assert out == {self.B3: 0.0}

    def test_moving_average_emits_after_full_window(self, spark):
        out = self._run(
            spark, data_function="mean",
            transform_function="moving_average", transform_param="2",
        )
        assert out == {self.B1: 4.5, self.B3: 7.5}

    def test_elapsed_minutes(self, spark):
        out = self._run(
            spark, data_function="last",
            transform_function="elapsed", transform_param="1m",
        )
        assert out == {self.B1: 1.0, self.B3: 2.0}

    def test_unknown_function_raises(self, spark):
        with pytest.raises(ValueError):
            self._run(spark, data_function="frobnicate")
        with pytest.raises(ValueError):
            self._run(spark, data_function="mean", transform_function="wat")
        with pytest.raises(ValueError):
            self._run(spark, data_function="percentile", function_param="150")
        with pytest.raises(ValueError):
            self._run(
                spark, data_function="mean",
                transform_function="moving_average", transform_param="1",
            )


class TestPreaggregate:
    def test_directive_routing(self, spark):
        vals = [1.0, 2.0, 3.0]
        frames = []
        for agg in ("mean", "last", "sum", "min", "max"):
            frames.append(_dp_rows(spark, vals, series=f"s_{agg}", agg=agg))
        df = frames[0]
        for f2 in frames[1:]:
            df = df.union(f2)
        out = {r["series_id"]: r["value"] for r in windowed_preaggregate(df, 30).collect()}
        assert out == {"s_mean": 2.0, "s_last": 3.0, "s_sum": 6.0, "s_min": 1.0, "s_max": 3.0}

    def test_shuffle_width_follows_input_size(self, spark, tmp_path):
        """r12 (VERDICT r11 #4): the preagg exchange width follows the
        input — when the Catalyst size estimate outgrows the session's
        AQE wide start, ensure_shuffle_width RAISES
        initialPartitionNum (never lowers it, preserving map-side
        combine and AQE's coalesce-down); on small input it is a
        no-op; and the raise never changes RESULTS."""
        from ecollector_spark.aggregate import ensure_shuffle_width

        key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
        before = spark.conf.get(key)
        df = _dp_rows(spark, [1.0, 2.0, 3.0], series="s_mean", agg="mean")
        # parquet-backed input so the optimized plan carries file stats
        p = str(tmp_path / "dp.parquet")
        df.write.parquet(p)
        stored = spark.read.parquet(p)
        try:
            # small input, default advisory target: no-op
            assert ensure_shuffle_width(stored) is None
            assert spark.conf.get(key) == before
            baseline = {
                (r["series_id"], r["time"]): r["value"]
                for r in windowed_preaggregate(stored, 30).collect()
            }
            # tiny advisory target forces bytes/advisory past the wide
            # start (ceiling keeps the raise bounded for this session)
            width = ensure_shuffle_width(
                stored, advisory_bytes=1, ceiling=int(before) + 7
            )
            assert width == int(before) + 7
            assert spark.conf.get(key) == str(width)
            # raised-width run returns identical values
            raised = {
                (r["series_id"], r["time"]): r["value"]
                for r in windowed_preaggregate(stored, 30).collect()
            }
            assert raised == baseline
            # never lowers: asking for less than current is a no-op
            assert ensure_shuffle_width(stored, advisory_bytes=1 << 40) is None
            assert spark.conf.get(key) == str(width)
        finally:
            spark.conf.set(key, before)


class TestRawSeriesTransforms:
    """Raw-points window transforms (no GROUP BY time): the
    chunk-partitioned plan with O(1) boundary seeds must equal the naive
    per-series computation — exercised with hundreds of points spread
    over enough chunks that nearly every lag crosses some boundary."""

    NOW = datetime(2024, 1, 2, tzinfo=timezone.utc)
    FROM_T, TO_T = "2024-01-01T00:00:00Z", "2024-01-01T05:00:00Z"

    def _rows(self):
        base = datetime(2024, 1, 1, tzinfo=timezone.utc)
        rows = []
        for i in range(400):
            dev = "d1" if i % 2 else "d2"
            t = base + timedelta(seconds=7 + i * 41 + (i * i) % 13)
            v = float((i * 37) % 101) - 50.0
            rows.append(("m1", t, dev, v))
        return rows

    def _plan(self, spark, **kw):
        df = spark.createDataFrame(
            self._rows(), "measurement string, ts timestamp, dev_id string, value_f double"
        )
        req = DataPointsRequest(
            measurement_name="m1", from_time=self.FROM_T, to_time=self.TO_T,
            group_by_tag="dev_id", **kw,
        )
        return QueryPlanner(lambda tier: df).plan(req, self.NOW).collect()

    def _naive(self):
        series = {}
        for m, t, dev, v in self._rows():
            series.setdefault(dev, []).append((int(t.timestamp()), v))
        for s in series.values():
            s.sort()
        return series

    def test_difference_equals_naive_across_chunks(self, spark):
        got = {(r["dev_id"], r["time"]): r["value"]
               for r in self._plan(spark, transform_function="difference")}
        want = {}
        for dev, pts in self._naive().items():
            for (t0, v0), (t1, v1) in zip(pts, pts[1:]):
                want[(dev, t1)] = v1 - v0
        assert got == want

    def test_cumulative_sum_equals_naive_across_chunks(self, spark):
        got = {(r["dev_id"], r["time"]): round(r["value"], 6)
               for r in self._plan(spark, transform_function="cumulative_sum")}
        want = {}
        for dev, pts in self._naive().items():
            acc = 0.0
            for t, v in pts:
                acc += v
                want[(dev, t)] = round(acc, 6)
        assert got == want

    def test_derivative_units_and_nn_filter(self, spark):
        got = {(r["dev_id"], r["time"]): r["value"]
               for r in self._plan(
                   spark, transform_function="non_negative_derivative",
                   transform_param="1m")}
        want = {}
        for dev, pts in self._naive().items():
            for (t0, v0), (t1, v1) in zip(pts, pts[1:]):
                d = (v1 - v0) / ((t1 - t0) / 60.0)
                if d >= 0:
                    want[(dev, t1)] = d
        assert got == want

    def test_elapsed_counts_units(self, spark):
        got = {(r["dev_id"], r["time"]): r["value"]
               for r in self._plan(
                   spark, transform_function="elapsed", transform_param="1m")}
        want = {}
        for dev, pts in self._naive().items():
            for (t0, _), (t1, _) in zip(pts, pts[1:]):
                want[(dev, t1)] = float((t1 - t0) // 60)
        assert got == want

    def test_raw_moving_average_rejected(self, spark):
        with pytest.raises(ValueError):
            self._plan(spark, transform_function="moving_average", transform_param="3")


class TestBucketOffsetAndSeconds:
    """GROUP BY time(interval, offset) and seconds-unit intervals."""

    NOW = datetime(2024, 1, 2, tzinfo=timezone.utc)

    def _planner(self, spark):
        base = datetime(2024, 1, 1, tzinfo=timezone.utc)
        rows = [
            ("m1", base + timedelta(hours=h), "d1", float(h)) for h in range(0, 48, 2)
        ]
        df = spark.createDataFrame(
            rows, "measurement string, ts timestamp, dev_id string, value_f double"
        )
        return QueryPlanner(lambda tier: df)

    def _run(self, spark, **kw):
        req = DataPointsRequest(
            measurement_name="m1",
            from_time="2024-01-01T00:00:00Z",
            to_time="2024-01-03T00:00:00Z",
            data_function="count",
            fill_type="none",
            **kw,
        )
        return {r["time"]: r["value"] for r in self._planner(spark).plan(req, self.NOW).collect()}

    def test_offset_shifts_boundaries(self, spark):
        aligned = self._run(spark, group_by_time="1d")
        # midnight-aligned: 12 points per day
        assert aligned == {1704067200: 12.0, 1704153600: 12.0}
        shifted = self._run(spark, group_by_time="1d", group_by_offset="4h")
        # 04:00-aligned: first bucket (Dec31 04:00) catches 00:00+02:00
        assert shifted == {1703995200: 2.0, 1704081600: 12.0, 1704168000: 10.0}

    def test_negative_offset(self, spark):
        shifted = self._run(spark, group_by_time="1d", group_by_offset="-4h")
        # buckets start at 20:00: Dec31 20:00 catches h<20 (10 points),
        # Jan1 20:00 h=20..42 (12), Jan2 20:00 h=44,46 (2)
        assert shifted == {1704052800: 10.0, 1704139200: 12.0, 1704225600: 2.0}

    def test_seconds_interval_buckets(self, spark):
        base = datetime(2024, 1, 1, tzinfo=timezone.utc)
        rows = [("m1", base + timedelta(seconds=s), "d1", 1.0) for s in range(0, 120, 10)]
        df = spark.createDataFrame(
            rows, "measurement string, ts timestamp, dev_id string, value_f double"
        )
        req = DataPointsRequest(
            measurement_name="m1",
            from_time="2024-01-01T00:00:00Z",
            to_time="2024-01-01T00:02:00Z",
            group_by_time="30s",
            data_function="count",
            fill_type="none",
        )
        out = {r["time"]: r["value"] for r in QueryPlanner(lambda t: df).plan(req, self.NOW).collect()}
        # 30s buckets, 3 points each — NOT a silent raw degrade
        assert out == {1704067200: 3.0, 1704067230: 3.0, 1704067260: 3.0, 1704067290: 3.0}

    def test_fill_spine_respects_offset(self, spark):
        req = DataPointsRequest(
            measurement_name="m1",
            from_time="2024-01-01T00:00:00Z",
            to_time="2024-01-04T00:00:00Z",
            group_by_time="1d",
            group_by_offset="4h",
            data_function="count",
            fill_type="0",
        )
        out = {r["time"]: r["value"] for r in self._planner(spark).plan(req, self.NOW).collect()}
        # spine starts at the 04:00-aligned bucket containing `from` and
        # every bucket (incl. the empty Jan3 04:00 tail) is 04:00-aligned
        assert out[1703995200] == 2.0
        assert out[1704254400] == 0.0  # filled empty tail bucket
        assert min(out) == 1703995200 and all(t % 86400 == 14400 for t in out)


class TestCardinalitySelectors:
    """InfluxQL distinct / top(N) / bottom(N): multiple rows per bucket,
    points keep their own timestamps (top/bottom)."""

    NOW = datetime(2024, 1, 2, tzinfo=timezone.utc)

    def _planner(self, spark):
        base = datetime(2024, 1, 1, tzinfo=timezone.utc)
        rows = [("m1", base + timedelta(minutes=m), "d1", float(v)) for m, v in
                [(0, 5), (10, 9), (20, 9), (30, 1), (70, 4), (80, 6)]]
        df = spark.createDataFrame(
            rows, "measurement string, ts timestamp, dev_id string, value_f double"
        )
        return QueryPlanner(lambda t: df)

    def _run(self, spark, **kw):
        req = DataPointsRequest(
            measurement_name="m1", from_time="2024-01-01T00:00:00Z",
            to_time="2024-01-01T02:00:00Z", **kw,
        )
        return [(r["time"], r["value"])
                for r in self._planner(spark).plan(req, self.NOW).collect()]

    def test_distinct_per_bucket_sorted(self, spark):
        out = self._run(spark, data_function="distinct", group_by_time="1h")
        assert out == [(1704067200, 1.0), (1704067200, 5.0), (1704067200, 9.0),
                       (1704070800, 4.0), (1704070800, 6.0)]

    def test_top_keeps_point_timestamps_and_ties(self, spark):
        out = self._run(spark, data_function="top", function_param="2",
                        group_by_time="1h")
        # both 9.0 points survive the tie; second bucket keeps 6 and 4
        assert out == [(1704067800, 9.0), (1704068400, 9.0),
                       (1704071400, 4.0), (1704072000, 6.0)]

    def test_bottom_whole_range_is_take_ordered(self, spark):
        out = self._run(spark, data_function="bottom", function_param="1")
        assert out == [(1704069000, 1.0)]

    def test_validation(self, spark):
        with pytest.raises(ValueError):
            self._run(spark, data_function="top")  # missing N
        with pytest.raises(ValueError):
            self._run(spark, data_function="distinct", transform_function="abs")
