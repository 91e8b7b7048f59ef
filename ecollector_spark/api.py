"""Admin / query API surface — the Spark twin of the reference's MQTT
command handlers (reference src/api/admin.go:74-390, §2.10).

The reference speaks FIMP over MQTT and returns InfluxDB's Series JSON;
transports are out of scope here, so this module exposes the command set
as plain functions/methods over a Warehouse + SparkSession and reproduces
the *wire shapes*: Series arrays regrouped per tag set with epoch-second
times (docs/api:27-175, influxdb_v1.go:191), and the error envelope
(``evt.tsdb.query_report`` with an ``error`` string, docs/api:364-380).

Q1 (cmd.tsdb.query): the raw query string is Spark SQL — ``spark.sql``
is the parse/plan/execute pipeline the reference delegated to InfluxDB.
Q2 (cmd.tsdb.get_data_points): the structured request compiles through
QueryPlanner. Serialization collects only final, already-aggregated
results — the driver-side loop is the API boundary, never an operator.
Planned reads are answered from :class:`SeriesCache` while their input
files are unchanged.
"""

from __future__ import annotations

import copy
import re
import threading
from collections import OrderedDict
from dataclasses import replace as _dc_replace
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecollector_spark.functions import barriers
from ecollector_spark.functions.timeutil import parse_relative_duration
from ecollector_spark.gapfill import gap_fill  # noqa: F401 - perfbench --trace 1 wraps api.gap_fill
from ecollector_spark.query import (
    DataPointsRequest,
    QueryPlanner,
    rfc3339_epoch,
    split_group_tags,
)
from ecollector_spark.schema import DATAPOINT_SCHEMA
from ecollector_spark.tiers import CQ_STAGES, TIER_TTL_SECONDS
from ecollector_spark.warehouse import Warehouse, listing_digest

#: energy rollup validation (influxdb_v1.go:36): 1-2 digits + m/h/d/w,
#: else fall back to 1h
_ENERGY_GROUP_RE = re.compile(r"^\d{1,2}[mhdw]$")


# ---------------------------------------------------------------------------
# Series-shape serialization (docs/api:27-175)
# ---------------------------------------------------------------------------

def to_series_shape(
    df: DataFrame, name: str, tag_columns: list[str] | None = None
) -> list[dict]:
    """Regroup result rows into InfluxDB Series objects: one entry per
    distinct tag-value combination, columns/values arrays, time first.

    Only called on final (small, aggregated) results — this is the wire
    serializer, not a processing step.
    """
    tag_columns = [c for c in (tag_columns or []) if c in df.columns]
    value_columns = [c for c in df.columns if c not in tag_columns]
    rows = df.collect()
    series: dict[tuple, dict] = {}
    for r in rows:
        key = tuple(r[c] for c in tag_columns)
        s = series.get(key)
        if s is None:
            s = series[key] = {
                "name": name,
                "tags": {c: r[c] for c in tag_columns},
                "columns": list(value_columns),
                "values": [],
            }
        s["values"].append([r[c] for c in value_columns])
    out = list(series.values())
    if not tag_columns:
        for s in out:
            s.pop("tags", None)
    return out


def _report(series: list[dict] | None = None, error: str | None = None) -> dict:
    """evt.tsdb.*_report FIMP envelope (admin.go:177, 391-399;
    docs/api:205-238, 364-380): ``val.Results[].Series[]`` on success,
    ``val.error`` with ``Results: null`` on failure."""
    if error is not None:
        val = {"Results": None, "error": error}
    else:
        val = {"Results": [{"Series": series or [], "Messages": None}]}
    return {
        "type": "evt.tsdb.query_report",
        "serv": "ecollector",
        "val_t": "object",
        "val": val,
    }


class SeriesCache:
    """Bounded LRU of answered series. A planned answer is a
    deterministic function of the request and the committed files it
    reads, so a key made of the request (or InfluxQL) text, each
    statement's :class:`~ecollector_spark.query.Resolution` and the
    digest of the tier listing it reads names one answer exactly (see
    ``EcollectorApi._answer_cached``). Entries go in and come out as
    copies: a caller that edits its report cannot change the next one.
    ``hits``, ``misses`` and ``evictions`` count lookups and LRU drops."""

    #: entries kept; the least recently used goes first
    ENTRIES = 256
    #: the largest answer stored, in result rows: the cache serves
    #: dashboard-sized repeats, not bulk exports
    MAX_ROWS = 10_000

    def __init__(self):
        self._entries: OrderedDict = OrderedDict()
        self._lock = threading.Lock()
        self.hits = self.misses = self.evictions = 0

    def __len__(self) -> int:
        return len(self._entries)

    def get(self, key) -> list[dict] | None:
        with self._lock:
            series = self._entries.get(key)
            if series is None:
                self.misses += 1
                return None
            self._entries.move_to_end(key)
            self.hits += 1
        return copy.deepcopy(series)

    def put(self, key, series: list[dict]) -> None:
        if sum(len(s["values"]) for s in series) > self.MAX_ROWS:
            return
        series = copy.deepcopy(series)
        with self._lock:
            self._entries[key] = series
            self._entries.move_to_end(key)
            while len(self._entries) > self.ENTRIES:
                self._entries.popitem(last=False)
                self.evictions += 1


# ---------------------------------------------------------------------------
# API facade
# ---------------------------------------------------------------------------

class EcollectorApi:
    """The §2.10 command set over (SparkSession, Warehouse)."""

    def __init__(self, spark: SparkSession, warehouse: Warehouse, profile: str = "optimized"):
        self.spark = spark
        self.warehouse = warehouse
        self.profile = profile
        self.planner = self._planner()
        #: answered planned reads (get_data_points, the energy rollup and
        #: InfluxQL series SELECTs); see _answer_cached
        self.series_cache = SeriesCache()
        #: custom / altered RP TTLs (add/update_retention_policy)
        self.ttl_overrides: dict[str, int] = {}
        #: live continuous-query set (influxdb_v1.go:72-78);
        #: delete_object("cq", name) removes a stage, and cascade runs
        #: wired through :meth:`cascade_stages` stop executing it
        self.cq_stages: dict[str, tuple] = dict(CQ_STAGES)

    def _no_points(self) -> DataFrame:
        return self.spark.createDataFrame([], DATAPOINT_SCHEMA)

    def _planner(self, reads: list | None = None, pin: str | None = None) -> QueryPlanner:
        """A planner over the warehouse tiers. ``reads`` collects
        ``(tier, lo, hi, found)`` for every tier read (the series
        cache's store check); ``pin`` reads that one tier whatever the
        routing chose."""

        def reader(tier: str, from_epoch=None, to_epoch=None) -> DataFrame:
            # a tier with no data behaves like an empty retention policy
            # (the reference queries it and gets zero series back); the
            # planner's resolved time bounds flow through so a dated
            # warehouse prunes day partitions before the ts row filter
            tier = pin or tier
            df = self.warehouse.read_tier(tier, from_epoch, to_epoch)
            if reads is not None:
                reads.append((tier, from_epoch, to_epoch, df is not None))
            return df if df is not None else self._no_points()

        return QueryPlanner(reader, profile=self.profile)

    def _routed(self, label: str, req: DataPointsRequest, now: datetime) -> tuple:
        """``(label, resolution, tier read)`` of a statement read through
        tier routing — one entry of :meth:`_answer_cached`'s key."""
        res = self.planner.resolve(req, now)
        return label, res, res.tier

    # -- Q1: cmd.tsdb.query ------------------------------------------------
    def run_query(self, query: str, now: datetime | None = None) -> dict:
        """Raw query endpoint. Strings matching the documented InfluxQL
        shapes (docs/api:181-248) are compiled onto the structured planner
        (see ecollector_spark.influxql) so a reference user's saved
        queries run verbatim; anything else is executed as Spark SQL.
        Errors pass through as the error envelope, never raise."""
        from ecollector_spark.influxql import (
            InfluxQLParseError,
            apply_result_shape,
            parse_cq_ddl,
            parse_delete,
            parse_influxql,
            parse_show_meta,
            parse_show_statement,
            plan_tree,
        )

        # catalog statements arrive as query strings in the reference
        # (influxdb_v1.go:376-413) — route them to the catalog methods
        # instead of letting them die in the SQL parser
        show = parse_show_statement(query)
        if show == "measurements":
            return self.get_measurements()
        if show == "retention_policies":
            return self.get_retention_policies()
        if show == "databases":
            return _report(
                [{"name": "databases", "columns": ["name"], "values": [["ecollector"]]}]
            )
        if show == "continuous_queries":
            return self.get_continuous_queries()
        # CQ DDL — the exact strings the reference's AddCQ/DeleteCQ emit
        # (influxdb_v1.go:333-361) route to the live cascade registry
        try:
            cq = parse_cq_ddl(query)
        except InfluxQLParseError as e:
            return _report(error=str(e))
        if cq is not None:
            if cq["kind"] == "create":
                res = self.add_cq(
                    cq["name"], cq["src_rp"], cq["target_rp"], cq["interval"]
                )
            else:
                res = self.delete_object("cq", cq["name"])
                if res.get("status") == "not_found":
                    res = {
                        "status": "error",
                        "error": f"continuous query {cq['name']!r} not found",
                    }
            if res.get("status") == "ok":
                return _report([])
            return _report(error=res.get("error", "error"))
        # DELETE FROM / DROP SERIES (public InfluxQL data deletion)
        try:
            dele = parse_delete(query)
        except InfluxQLParseError as e:
            return _report(error=str(e))
        if dele is not None:
            now = now or datetime.now(timezone.utc)

            def _epoch(bound):
                if bound is None:
                    return None
                kind, val, op = bound
                if kind == "rel":
                    e = int(now.timestamp()) - int(val)
                else:
                    # bare timestamps are UTC in InfluxQL — rfc3339_epoch
                    # attaches UTC to offset-less literals so the delete
                    # boundary never shifts with the host zone
                    e = rfc3339_epoch(val)
                # from is inclusive, to exclusive at second precision:
                # time > X / time <= X shift the boundary by one second
                return e + 1 if op in (">", "<=") else e

            try:
                n = self.warehouse.delete_points(
                    dele["measurement"],
                    _epoch(dele["from"]),
                    _epoch(dele["to"]),
                    tag_predicates=dele.get("tags") or None,
                )
                return _report(
                    [{"name": "result", "columns": ["deleted"], "values": [[n]]}]
                )
            except Exception as e:  # noqa: BLE001
                return _report(error=str(e))
        try:
            meta = parse_show_meta(query)
        except InfluxQLParseError as e:
            return _report(error=str(e))
        if meta is not None:
            if meta["what"] == "tag_keys":
                return self.get_tag_keys(meta["measurement"])
            if meta["what"] == "field_keys":
                return self.get_field_keys(meta["measurement"])
            if meta["what"] == "series":
                return self.get_series(meta["measurement"])
            if meta["what"] == "series_cardinality":
                return self.get_series(meta["measurement"], cardinality=True)
            return self.get_tag_values(meta["keys"], meta["measurement"])
        try:
            iq = parse_influxql(query)
        except InfluxQLParseError:
            iq = None
        if iq is not None and iq.into_measurement is None:
            now = now or datetime.now(timezone.utc)
            tags = split_group_tags(iq.request.group_by_tag)

            def _series(planner, statements):
                series = []
                for name, one in statements:
                    df = apply_result_shape(plan_tree(planner, one, now=now), iq)
                    if iq.alias and iq.alias != "value" and "value" in df.columns:
                        df = df.withColumnRenamed("value", iq.alias)
                    series.extend(to_series_shape(df, name, tags))
                return series

            # one statement per result series: FROM (subquery) is one
            # composed plan, its series named by the innermost
            # measurement (InfluxDB's behavior), and is never cached;
            # list FROM and regex FROM (expanded against the catalog, a
            # directory listing) run one per measurement
            if iq.subquery is not None:
                inner = iq.subquery
                while inner.subquery is not None:
                    inner = inner.subquery
                return self._answer(lambda: _series(self.planner, [(inner.measurement, iq)]))
            try:
                if iq.measurement_regex is not None:
                    pat = re.compile(iq.measurement_regex)
                    names = [m for m in self.warehouse.measurements() if pat.search(m)]
                else:
                    names = iq.measurement_list or [iq.measurement]
            except Exception as e:  # noqa: BLE001 — error envelope is the contract
                return _report(error=str(e))
            statements = [
                (n, _dc_replace(iq, request=_dc_replace(iq.request, measurement_name=n)))
                for n in names
            ]
            return self._answer_cached(
                ("run_query", query),
                lambda: [self._routed(n, one.request, now) for n, one in statements],
                lambda reads: _series(self._planner(reads), statements),
            )
        try:
            if iq is not None:
                # SELECT ... INTO: the one-off twin of the CQ template
                # (public InfluxQL) — write the planned result into the
                # target measurement and report the written count in
                # InfluxDB's (time, written) shape
                df = apply_result_shape(plan_tree(self.planner, iq, now=now), iq)
                n = self._write_into(df, iq, split_group_tags(iq.request.group_by_tag))
                return _report(
                    [{"name": "result", "columns": ["time", "written"], "values": [[0, n]]}]
                )
            # the views hold the listing they were built from: bring
            # them up to date after a write (no Spark job when unchanged)
            self.warehouse.refresh_views()
            df = self.spark.sql(query)
            cols = df.columns
            values = [[r[c] for c in cols] for r in df.collect()]
            return _report([{"name": "query", "columns": cols, "values": values}])
        except Exception as e:  # noqa: BLE001 — error envelope is the contract
            return _report(error=str(e))

    def _answer(self, build_and_run) -> dict:
        """Report of ``build_and_run() -> series``, planned and serialized
        inside the read-retry closure: a rename-aside swap
        (replace_points_from / delete_points) landing between the plan's
        file listing and the collect re-plans against the fresh listing
        instead of failing the query — reads stay live across writes,
        like the reference. Any failure is the error envelope."""
        try:
            return _report(self.warehouse.with_read_retry(build_and_run))
        except Exception as e:  # noqa: BLE001 — error envelope is the contract
            return _report(error=str(e))

    def _answer_cached(self, text: tuple, statements, build_and_run) -> dict:
        """:meth:`_answer` through :attr:`series_cache`. ``statements()``
        returns one ``(label, resolution, tier read)`` per series
        statement (:meth:`_routed`); with ``text`` and each tier's
        listing digest it is the key. On a miss ``build_and_run(reads)``
        plans through ``self._planner(reads)``. The answer is stored
        only if every read was one the key names and every listing in
        the key is unchanged after the run, so a swap that lands between
        key and store leaves nothing stored. Errors are never stored."""

        def listed(stmts):
            return tuple(
                (label, res, listing_digest(self.warehouse.tier_listing(tier)))
                for label, res, tier in stmts
            )

        try:
            stmts = statements()
            key = (text, listed(stmts))
        except Exception as e:  # noqa: BLE001 — error envelope is the contract
            return _report(error=str(e))
        series = self.series_cache.get(key)
        if series is not None:
            return _report(series)
        reads: list = []
        report = self._answer(lambda: build_and_run(reads))
        named = {(tier, res.lo, res.hi) for _, res, tier in stmts}
        if (
            report["val"].get("error") is None
            and {r[:3] for r in reads} <= named
            and listed(stmts) == key[1]
        ):
            self.series_cache.put(key, report["val"]["Results"][0]["Series"])
        return report

    def _write_into(self, df, iq, tags: list[str]) -> int:
        """Distributed write for ``SELECT ... INTO``: the planned result
        (time, *tags, value) becomes datapoints under the target
        measurement — null values (FILL(null) spine buckets) are
        skipped, like InfluxDB's INTO. One lazy checkpoint materializes
        the result once for both the write and the written-count; the
        write itself is the ordinary tier-routed append (``into_rp``
        pins the target tier)."""
        if iq.into_rp:
            known = set(TIER_TTL_SECONDS) | set(self.ttl_overrides)
            if iq.into_rp not in known:
                raise ValueError(f"unknown retention policy {iq.into_rp!r}")
        target = iq.into_measurement
        rows = barriers.materialize(df.where(F.col("value").isNotNull()))
        tag_cols = {
            c.name: F.col(c.name) if c.name in tags else F.lit(None).cast("string")
            for c in DATAPOINT_SCHEMA
            if c.name
            in ("dev_id", "dev_type", "dir", "location_id", "service", "topic", "domain")
        }
        pts = rows.select(
            F.lit(target).alias("measurement"),
            F.timestamp_seconds(F.col("time").cast("long")).alias("ts"),
            F.concat_ws(
                ";", F.lit(target), *[F.col(t) for t in tags]
            ).alias("series_id"),
            *[c.alias(n) for n, c in tag_cols.items()],
            F.lit("into").alias("src"),
            F.col("value").cast("double").alias("value_f"),
            F.lit(None).cast("boolean").alias("value_b"),
            F.lit(None).cast("string").alias("value_s"),
            F.lit(None).cast("string").alias("unit"),
            # the written points' downsampling directive follows the INTO
            # query's own aggregate where aggregate.py understands it
            # (mean/min/max/sum/last — see preaggregate's agg_func
            # dispatch); anything else (count, stddev, percentile, ...)
            # has no re-aggregation identity and falls back to mean, the
            # pre-fix constant
            F.lit(
                iq.request.data_function
                if iq.request.data_function in ("mean", "min", "max", "sum", "last")
                else "mean"
            ).alias("agg_func"),
        )
        if iq.into_rp:
            pts = pts.withColumn("tier", F.lit(iq.into_rp))
        self.warehouse.write_points(pts)
        return rows.count()

    # -- Q2: cmd.tsdb.get_data_points -------------------------------------
    def get_data_points(self, req: DataPointsRequest, now: datetime | None = None) -> dict:
        now = now or datetime.now(timezone.utc)
        return self._answer_cached(
            ("get_data_points", repr(req)),
            lambda: [self._routed(req.measurement_name, req, now)],
            lambda reads: to_series_shape(
                self._planner(reads).plan(req, now=now),
                req.measurement_name,
                split_group_tags(req.group_by_tag),
            ),
        )

    # -- cmd.tsdb.get_energy_data_points (A17) -----------------------------
    def get_energy_data_points(
        self,
        from_time: str,
        to_time: str,
        group_by_time: str = "1h",
        group_by_tag: str = "",
        now: datetime | None = None,
    ) -> dict:
        """Energy rollup (influxdb_v1.go:203-264): windowed sum over the
        sampled energy table in gen_year, FILL(null); group_by_time
        regex-validated with 1h fallback (influxdb_v1.go:36, 233). The
        request plans like any other; only its reader is pinned to
        gen_year (with the planner's ts bounds, pushed to the scan)."""
        if not _ENERGY_GROUP_RE.match(group_by_time):
            group_by_time = "1h"
        req = DataPointsRequest(
            "electricity_meter_energy_sampled",
            data_function="sum",
            from_time=from_time,
            to_time=to_time,
            group_by_time=group_by_time,
            group_by_tag=group_by_tag,
            fill_type="null",
        )

        if not (from_time and to_time):
            return _report(error="the energy rollup needs both from_time and to_time")
        now = now or datetime.now(timezone.utc)

        def _run(reads):
            df = self._planner(reads, pin="gen_year").plan(req, now=now)
            # an empty gen_year answers with no series (an ungrouped
            # FILL(null) would otherwise spine all-null buckets)
            if not reads[-1][3]:
                return []
            return to_series_shape(df, req.measurement_name, split_group_tags(group_by_tag))

        return self._answer_cached(
            ("get_energy_data_points", repr(req)),
            lambda: [(req.measurement_name, self.planner.resolve(req, now), "gen_year")],
            _run,
        )

    # -- cmd.tsdb.write_data_points ----------------------------------------
    def write_data_points(self, points: list[dict], now: datetime | None = None) -> dict:
        """Push datapoints; server-side timestamp like the reference
        (admin.go:197 stamps ts=now)."""
        now = now or datetime.now(timezone.utc)
        try:
            rows = []
            for p in points:
                rows.append(
                    {
                        "measurement": p["measurement"],
                        "ts": now.replace(tzinfo=None),
                        "series_id": p.get("series_id", p["measurement"]),
                        "dev_id": p.get("dev_id"),
                        "dev_type": p.get("dev_type"),
                        "dir": p.get("dir"),
                        "location_id": p.get("location_id"),
                        "service": p.get("service"),
                        "src": p.get("src", "api"),
                        "topic": p.get("topic"),
                        "domain": p.get("domain"),
                        "value_f": p.get("value"),
                        "value_b": None,
                        "value_s": None,
                        "unit": p.get("unit"),
                        "agg_func": p.get("agg_func", "mean"),
                        "tier": None,
                    }
                )
            df = self.spark.createDataFrame(rows, DATAPOINT_SCHEMA).drop("tier")
            self.warehouse.write_points(df)
            return {"status": "ok", "written": len(rows)}
        except Exception as e:  # noqa: BLE001
            return {"status": "error", "error": str(e)}

    # -- retention policy DDL (admin.go:292-332) ---------------------------
    def add_retention_policy(self, name: str, duration_seconds: int) -> dict:
        """cmd.tsdb.add_retention_policy: a new tier with a custom TTL.
        The tier directory materializes on first write; the TTL override
        feeds enforce_retention."""
        if name in self.ttl_overrides or name in TIER_TTL_SECONDS:
            return {"status": "error", "error": f"retention policy {name!r} exists"}
        self.ttl_overrides[name] = int(duration_seconds)
        return {"status": "ok"}

    def update_retention_policy(self, name: str, duration_seconds: int) -> dict:
        """cmd.tsdb.update_retention_policy: ALTER the TTL of an existing
        tier (built-in tiers get an override; enforcement uses it)."""
        if name not in self.ttl_overrides and name not in TIER_TTL_SECONDS:
            return {"status": "error", "error": f"unknown retention policy {name!r}"}
        self.ttl_overrides[name] = int(duration_seconds)
        return {"status": "ok"}

    def set_log_level(self, level: str) -> dict:
        """cmd.log.set_level (admin.go:374-388)."""
        try:
            self.spark.sparkContext.setLogLevel(level.upper())
            return {"status": "ok", "level": level.upper()}
        except Exception as e:  # noqa: BLE001
            return {"status": "error", "error": str(e)}

    # -- catalog -----------------------------------------------------------
    def get_measurements(self) -> dict:
        ms = self.warehouse.measurements()
        return _report(
            [{"name": "measurements", "columns": ["name"], "values": [[m] for m in ms]}]
        )

    def _datapoints_all_tiers(self, measurement: str | None = None):
        """Union of every populated tier, optionally pruned to one
        measurement (partition predicate). The schema-exploration SHOW
        statements read through this; the distinct/count aggregates they
        run are map-side partial over the pruned scan."""
        from ecollector_spark.tiers import TIERS

        out = None
        for tier in TIERS:
            df = self.warehouse.read_tier(tier)
            if df is None:
                continue
            out = df if out is None else out.unionByName(df)
        if out is not None and measurement:
            out = out.where(F.col("measurement") == measurement)
        return out

    def get_tag_keys(self, measurement: str | None = None) -> dict:
        """SHOW TAG KEYS [FROM m]: the tag columns that carry at least
        one value for each measurement (InfluxDB's per-measurement tag
        key listing; our tags are fixed schema columns, so presence =
        any non-null). One grouped aggregate pass, never per-measurement
        rescans."""
        from ecollector_spark.schema import DATAPOINT_TAG_COLUMNS

        df = self._datapoints_all_tiers(measurement)
        if df is None:
            return _report([])
        cols = [c for c in DATAPOINT_TAG_COLUMNS if c in df.columns]
        agg = df.groupBy("measurement").agg(*[F.count(c).alias(c) for c in cols])
        series = []
        for r in sorted(agg.collect(), key=lambda r: r["measurement"]):
            keys = [c for c in cols if r[c] > 0]
            if keys:
                series.append(
                    {"name": r["measurement"], "columns": ["tagKey"], "values": [[k] for k in keys]}
                )
        return _report(series)

    def get_series(self, measurement: str | None = None, cardinality: bool = False) -> dict:
        """SHOW SERIES [FROM m] / SHOW SERIES CARDINALITY: the distinct
        series keys, rendered InfluxDB-style as
        ``measurement,dev_id=...,dir=...`` — the engine's series
        identity is (measurement, dev_id, dir), the same triple T12
        synthesizes into ``series_id`` (transform.py). One distinct over
        the pruned tier union; cardinality collapses to a single count,
        never shipping the keys to the driver."""
        df = self._datapoints_all_tiers(measurement)
        if df is None:
            if cardinality:
                return _report([{"name": "series", "columns": ["count"], "values": [[0]]}])
            return _report([])
        keys = df.select("measurement", "dev_id", "dir").distinct()
        if cardinality:
            n = keys.count()
            return _report([{"name": "series", "columns": ["count"], "values": [[n]]}])
        key = F.concat_ws(
            "",
            F.col("measurement"),
            F.when(F.col("dev_id").isNotNull(), F.concat(F.lit(",dev_id="), "dev_id")).otherwise(""),
            F.when(F.col("dir").isNotNull(), F.concat(F.lit(",dir="), "dir")).otherwise(""),
        )
        vals = sorted(r["k"] for r in keys.select(key.alias("k")).collect())
        return _report([{"name": "series", "columns": ["key"], "values": [[k] for k in vals]}])

    def get_field_keys(self, measurement: str | None = None) -> dict:
        """SHOW FIELD KEYS [FROM m]: which typed value columns are
        populated per measurement — InfluxDB's (fieldKey, fieldType)
        listing over our fixed value_f/value_b/value_s columns."""
        df = self._datapoints_all_tiers(measurement)
        if df is None:
            return _report([])
        fields = [("value_f", "float"), ("value_b", "boolean"), ("value_s", "string")]
        fields = [(c, t) for c, t in fields if c in df.columns]
        agg = df.groupBy("measurement").agg(*[F.count(c).alias(c) for c, _ in fields])
        series = []
        for r in sorted(agg.collect(), key=lambda r: r["measurement"]):
            vals = [[c, t] for c, t in fields if r[c] > 0]
            if vals:
                series.append(
                    {"name": r["measurement"], "columns": ["fieldKey", "fieldType"], "values": vals}
                )
        return _report(series)

    def get_tag_values(self, keys: list[str], measurement: str | None = None) -> dict:
        """SHOW TAG VALUES [FROM m] WITH KEY = k / IN (...): distinct
        values per (measurement, key) — one distinct per requested key
        over the pruned scan, unioned; results are catalog-sized."""
        df = self._datapoints_all_tiers(measurement)
        if df is None:
            return _report([])
        frames = [
            df.where(F.col(k).isNotNull())
            .select("measurement", F.lit(k).alias("key"), F.col(k).alias("value"))
            .distinct()
            for k in keys
            if k in df.columns
        ]
        if not frames:
            return _report([])
        u = frames[0]
        for f in frames[1:]:
            u = u.unionByName(f)
        series: dict[str, dict] = {}
        for r in u.orderBy("measurement", "key", "value").collect():
            s = series.setdefault(
                r["measurement"],
                {"name": r["measurement"], "columns": ["key", "value"], "values": []},
            )
            s["values"].append([r["key"], r["value"]])
        return _report(list(series.values()))

    def get_retention_policies(self) -> dict:
        rps = {r["name"]: r for r in self.warehouse.retention_policies()}
        for name, ttl in self.ttl_overrides.items():
            rps[name] = {"name": name, "duration_seconds": ttl, "default": False}
        return _report(
            [
                {
                    "name": "retention policies",
                    "columns": ["name", "duration_seconds", "default"],
                    "values": [
                        [r["name"], r["duration_seconds"], r["default"]]
                        for r in rps.values()
                    ],
                }
            ]
        )

    def enforce_retention(self, now: datetime | None = None) -> dict:
        """Run the RP TTL job with any DDL overrides applied."""
        now = now or datetime.now(timezone.utc)
        return self.warehouse.enforce_retention(int(now.timestamp()), self.ttl_overrides)

    def cascade_stages(self) -> tuple:
        """The live cascade, minus any CQs removed via delete_object —
        pass to :func:`ecollector_spark.downsample.run_cascade_incremental`
        as ``stages``."""
        return tuple(self.cq_stages.values())

    def add_cq(
        self, name: str, src_rp: str, target_rp: str, interval: str
    ) -> dict:
        """AddCQ twin (influxdb_v1.go:333-348): register a named cascade
        stage reading ``src_rp`` and writing mean-per-(measurement, tag
        set, time(interval) bucket) into ``target_rp``. The reference
        sends InfluxDB the generated CREATE CONTINUOUS QUERY string; here
        the stage joins ``cascade_stages()`` so the scheduled
        ``run_cascade_incremental`` job executes it. Re-creating an
        identical CQ is a no-op (ok); a same-name CQ with a different
        definition errors, like InfluxDB."""
        known = set(TIER_TTL_SECONDS) | set(self.ttl_overrides)
        for rp in (src_rp, target_rp):
            if rp not in known:
                return {"status": "error", "error": f"unknown retention policy {rp!r}"}
        if parse_relative_duration(interval) <= 0:
            # a zero-second stage would divide the bucket grid by zero
            # and append null-timestamp rows — reject here too, not just
            # on the parse_cq_ddl path (library callers bypass that)
            return {"status": "error", "error": f"bad CQ interval {interval!r}"}
        stage = (src_rp, target_rp, interval)
        existing = self.cq_stages.get(name)
        if existing is not None and tuple(existing) != stage:
            return {"status": "error", "error": f"continuous query {name!r} exists"}
        self.cq_stages[name] = stage
        return {"status": "ok"}

    def get_continuous_queries(self) -> dict:
        """SHOW CONTINUOUS QUERIES: one series per database (there is
        one), columns (name, query) with the query rendered back in the
        reference's own AddCQ template so a round-trip through
        ``run_query`` re-creates the same stage."""
        values = [
            [
                name,
                (
                    f'CREATE CONTINUOUS QUERY "{name}" ON "ecollector" BEGIN '
                    f'SELECT mean(*) INTO "ecollector"."{dst}".:MEASUREMENT '
                    f'FROM "ecollector"."{src}"./.*/ GROUP BY time({step}),* END'
                ),
            ]
            for name, (src, dst, step) in self.cq_stages.items()
        ]
        return _report(
            [{"name": "ecollector", "columns": ["name", "query"], "values": values}]
        )

    def delete_object(self, object_type: str, name: str) -> dict:
        """cmd.tsdb.delete_object (admin.go:334-369). All four reference
        object types:

        - ``measurement`` -> DeleteMeasurement (drop partition dirs)
        - ``retention_policy`` -> DeleteRetentionPolicy (drop the tier;
          the reference wraps this in proc stop/start — the dispatcher
          mirrors that, admin.go:356-358)
        - ``database`` -> DropDB (admin.go:359-362): drop every tier +
          warehouse sidecars and clear the DDL overrides
        - ``cq`` -> DeleteCQ (admin.go:363-364): remove the named stage
          from the live cascade (raw_to_day .. month_to_year,
          influxdb_v1.go:72-78); no proc stop/start, like the reference
        """
        try:
            if object_type == "measurement":
                n = self.warehouse.drop_measurement(name)
                return {"status": "ok", "dropped": n}
            if object_type == "retention_policy":
                ok = self.warehouse.drop_tier(name)
                self.ttl_overrides.pop(name, None)
                return {"status": "ok" if ok else "not_found"}
            if object_type == "database":
                n = self.warehouse.drop_db()
                self.ttl_overrides.clear()
                self.cq_stages = dict(CQ_STAGES)
                return {"status": "ok", "dropped": n}
            if object_type == "cq":
                if self.cq_stages.pop(name, None) is None:
                    return {"status": "not_found"}
                return {"status": "ok"}
            return {"status": "error", "error": f"unknown object type {object_type!r}"}
        except Exception as e:  # noqa: BLE001
            return {"status": "error", "error": str(e)}


# ---------------------------------------------------------------------------
# Process lifecycle (cmd.ecprocess.*, integration.go:87-103, 239-281)
# ---------------------------------------------------------------------------

class ProcessManager:
    """Registry of named streaming pipelines: the reference's Process list.

    Each process is a config dict + the streaming queries it started;
    add/start/stop/remove mirror the reference state machine (a stopped
    process keeps its config, remove drops it).
    """

    def __init__(self):
        self._procs: dict[str, dict] = {}

    def get_list(self) -> list[dict]:
        return [
            {"id": pid, "state": p["state"], "config": p["config"]}
            for pid, p in sorted(self._procs.items())
        ]

    def add(self, proc_id: str, config: dict) -> None:
        if proc_id in self._procs:
            raise ValueError(f"process {proc_id!r} exists")
        self._procs[proc_id] = {"config": config, "state": "STOPPED", "queries": []}

    def start(self, proc_id: str, start_fn) -> None:
        """``start_fn(config) -> list[StreamingQuery]`` builds the
        pipeline (pipeline.build_points + sinks)."""
        p = self._procs[proc_id]
        if p["state"] == "RUNNING":
            return
        p["queries"] = list(start_fn(p["config"]))
        p["state"] = "RUNNING"

    def stop(self, proc_id: str) -> None:
        p = self._procs[proc_id]
        for q in p["queries"]:
            q.stop()
        p["queries"] = []
        p["state"] = "STOPPED"

    def update_config(self, proc_id: str, config: dict) -> None:
        if self._procs[proc_id]["state"] == "RUNNING":
            raise ValueError("stop process before updating config")
        self._procs[proc_id]["config"] = config

    def remove(self, proc_id: str) -> None:
        if proc_id in self._procs and self._procs[proc_id]["state"] == "RUNNING":
            self.stop(proc_id)
        self._procs.pop(proc_id, None)


class DiskGuard:
    """Ops guardrail: stop every running pipeline when the warehouse
    volume passes a usage threshold (reference: disk monitor stops all
    processes at 85% used, checked every minute —
    src/integration/tsdb/integration.go:283-307, default 319-321).

    Pure check/enforce functions; the host scheduler owns the poll
    cadence (the reference's 1-minute ticker). ``usage_fn`` is
    injectable for tests and custom mounts.
    """

    def __init__(self, path: str, threshold_pct: float = 85.0, usage_fn=None):
        self.path = path
        self.threshold_pct = threshold_pct
        if usage_fn is None:
            import shutil

            def usage_fn(p):
                u = shutil.disk_usage(p)
                return 100.0 * u.used / u.total

        self._usage_fn = usage_fn

    def usage_pct(self) -> float:
        return self._usage_fn(self.path)

    def should_stop(self) -> bool:
        # Strict >, matching the reference's `UsedPercent >
        # DiskMonitorShutdownLimit` (integration.go:299): exactly-at-limit
        # does NOT stop.
        return self.usage_pct() > self.threshold_pct

    def enforce(self, pm: "ProcessManager") -> list[str]:
        """Stop all RUNNING processes if over threshold; returns the ids
        stopped (empty when under threshold)."""
        if not self.should_stop():
            return []
        stopped = []
        for p in pm.get_list():
            if p["state"] == "RUNNING":
                pm.stop(p["id"])
                stopped.append(p["id"])
        return stopped
