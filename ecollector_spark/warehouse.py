"""Tiered parquet warehouse: layout, readers/writers, retention TTL and
the CSV sink.

Layout: ``<root>/tier=<tier>/measurement=<m>/*.parquet`` (schema.py
WAREHOUSE_PARTITION_COLUMNS). Tier routing (the reference's retention-
policy addressing, influxdb_v1.go:45-58) becomes partition pruning: a
planner-chosen tier + measurement predicate never scans another tier's
files. Retention (the RP TTL) is a batch job that drops expired rows by
rewriting only the affected partitions — the Spark equivalent of
InfluxDB's retention enforcement service.

Schema contract: the warehouse has one canonical schema,
``schema.DATAPOINT_SCHEMA`` (FIXTURES.md §3) plus the ``dt`` day
partition in the dated layout. Readers never infer it: every scan goes
through :meth:`Warehouse._scan`, which hands it to
``spark.read.schema(...)`` — no footer-inference job per read, and the
columns of a tier never depend on which file happens to be listed first
(a tier mixing full raw files with 8-column counter-difference files
would otherwise lose tag columns). Writers project onto it
(:func:`canonical_points`): every column is cast to its canonical type
and a column outside the schema raises ``ValueError``, so nothing
written can become invisible to the reader or be dropped by a later
compaction or retention rewrite. Columns a writer leaves out read back
as null.

Scale notes: writes append partitioned files (no shuffle beyond the
pipeline's own); the TTL job reads only partitions that can contain
expired data (all queries pin tier, and file/partition statistics skip
young files). At 100 TB add a date subpartition so retention is pure
partition drop — the layout constant keeps that a one-line change.
"""

from __future__ import annotations

import functools
import hashlib
import operator
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ecollector_spark.functions import publish, quote_ident
from ecollector_spark.schema import DATAPOINT_SCHEMA, WAREHOUSE_PARTITION_COLUMNS
from ecollector_spark.session import split_conf
from ecollector_spark.tiers import TIER_TTL_SECONDS, TIERS
from ecollector_spark.tiers import write_retention_col

#: the reference CSV sink's fixed header (storage/csv.go:22) — the
#: de-facto canonical flat schema
CSV_COLUMNS = (
    "name",
    "time",
    "dev_id",
    "dev_type",
    "dir",
    "location_id",
    "service",
    "src",
    "topic",
    "value",
    "unit",
)


def warehouse_schema(date_partition: bool = False) -> T.StructType:
    """The canonical schema every warehouse scan reads with:
    ``DATAPOINT_SCHEMA``, plus ``dt`` in the dated layout — kept as its
    ``yyyy-MM-dd`` string (partition type inference would make it a
    date)."""
    if not date_partition:
        return DATAPOINT_SCHEMA
    return T.StructType([*DATAPOINT_SCHEMA.fields, T.StructField("dt", T.StringType())])


def canonical_points(points: DataFrame, date_partition: bool = False) -> DataFrame:
    """Project a datapoint frame onto the warehouse schema before it is
    written: each column cast to its canonical type, in canonical order.
    A column outside the schema raises ``ValueError`` — written, it
    would be invisible to the canonical reader. Missing columns stay
    missing (they read back as null). One ``selectExpr`` parse."""
    schema = warehouse_schema(date_partition)
    present = set(points.columns)
    unknown = sorted(present - set(schema.names))
    if unknown:
        raise ValueError(
            f"columns outside the warehouse schema: {unknown}; "
            f"allowed: {schema.names}"
        )
    return points.selectExpr(
        *[
            f"CAST({quote_ident(f.name)} AS {f.dataType.simpleString()}) AS {quote_ident(f.name)}"
            for f in schema.fields
            if f.name in present
        ]
    )


def _parquet_listing(path: str) -> frozenset:
    """(path, size, mtime_ns) of every parquet file under ``path``; a
    file removed mid-walk is left out."""
    out = set()
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out.add((p, st.st_size, st.st_mtime_ns))
    return frozenset(out)


@functools.lru_cache(maxsize=len(TIERS))
def listing_digest(listing: frozenset) -> str:
    """SHA-256 of a tier listing (:meth:`Warehouse.tier_listing`): a key
    that names a listing without holding it. Memoized for about one
    listing per tier, which bounds the listings the memo keeps alive;
    an unchanged tier returns the same listing object, so a repeat
    costs one identity lookup."""
    h = hashlib.sha256()
    for path, size, mtime in sorted(listing):
        h.update(f"{path}\0{size}\0{mtime}\n".encode())
    return h.hexdigest()


class Warehouse:
    """Filesystem-backed tiered warehouse over parquet.

    ``date_partition=True`` enables the 100 TB layout documented in
    SCALE.md: a ``dt=yyyy-MM-dd`` subpartition under
    ``tier=<t>/measurement=<m>/``, stamped from event time at write.
    Retention then drops whole expired day directories (a metadata
    operation — no rewrite of surviving rows, TTL lag bounded by one
    day), and time-ranged reads prune to the covered days
    (:meth:`read_tier` with ``from_epoch``/``to_epoch``). Off by
    default: the flat layout stays row-exact for small deployments and
    every existing test/oracle."""

    def __init__(self, spark: SparkSession, root: str, date_partition: bool = False):
        self.spark = spark
        self.root = root
        self.date_partition = date_partition
        #: partition columns under the root (tier first, then measurement
        #: and, in the dated layout, the day)
        self._pcols = (
            (*WAREHOUSE_PARTITION_COLUMNS, "dt")
            if date_partition
            else WAREHOUSE_PARTITION_COLUMNS
        )
        self.schema = warehouse_schema(date_partition)
        #: tier -> (parquet listing, scan built from it, whether the scan
        #: was narrowed to one partition); see read_tier
        self._tier_scans: dict[str, tuple[frozenset, DataFrame, bool]] = {}
        #: view name -> {tier: listing its view was built from}; see
        #: register_views
        self._views: dict[str, dict[str, frozenset]] = {}

    # -- paths -------------------------------------------------------------
    def tier_path(self, tier: str) -> str:
        return os.path.join(self.root, f"tier={tier}")

    def _has_data(self, path: str) -> bool:
        return os.path.isdir(path) and any(
            f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs
        )

    def _scan(self, *paths: str, base_path: str | None = None) -> DataFrame:
        """The one warehouse scan: parquet under ``paths`` read with the
        canonical schema (module docstring) — no inference job, and the
        same columns whichever file is listed first. ``base_path`` keeps
        the partition columns above ``paths``."""
        reader = self.spark.read.schema(self.schema)
        if base_path is not None:
            reader = reader.option("basePath", base_path)
        return reader.parquet(*paths)

    def _stamp_dt(self, df: DataFrame) -> DataFrame:
        if self.date_partition and "dt" not in df.columns:
            df = df.withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
        return df

    def _read_hwm_sidecar(self, tier: str) -> int | None:
        """The tier's ``_hwm`` value when it still describes the tier: its
        mtime is strictly newer than every parquet file there. An append
        after the sidecar was recorded (``write_points`` does not record
        one) makes it stale, and None sends the caller to the scan. The
        tier is listed only when a sidecar exists."""
        tp = self.tier_path(tier)
        try:
            with open(os.path.join(tp, "_hwm")) as f:
                hwm = int(f.read().strip())
                recorded = os.fstat(f.fileno()).st_mtime_ns
        except (OSError, ValueError):
            return None
        listing = _parquet_listing(tp)
        if listing and all(mtime < recorded for _, _, mtime in listing):
            return hwm
        return None

    def _rewrite(
        self,
        df: DataFrame,
        tier: str,
        measurement: str | None = None,
        since: int | None = None,
    ) -> None:
        """Replace ``tier`` (or one ``measurement`` directory in it) by
        ``df``, the one path for every directory rewrite: rows sorted by
        (series_id, ts) within each written file, the clustering
        :meth:`write_points` promises, so rowgroup min/max stats stay
        tight after compaction and retention; written to a staging
        directory and published by rename-aside
        (:mod:`ecollector_spark.functions.publish`).

        The tier's ``_hwm`` is carried across: re-recorded after the
        publish (the tier-level publish replaces the directory holding
        it, and every rewrite leaves files newer than it). With
        ``since``, the rows at or after ``since`` were recomputed: the
        mark becomes their max ts, read from the staged files by a
        rowgroup-pruned scan, or stays the old one only if it predates
        ``since``."""
        dst = self.tier_path(tier)
        pcols = self._pcols[1:]
        if measurement is not None:
            dst = os.path.join(dst, f"measurement={measurement}")
            pcols = self._pcols[2:]
        hwm = self._read_hwm_sidecar(tier)
        if hwm is not None and since is not None and hwm >= since:
            hwm = None
        tmp = publish.staging(dst)
        (
            # the partition columns lead, so the writer's own sort on them
            # is already satisfied and cannot reorder a file's rows
            df.sortWithinPartitions(*pcols, "series_id", "ts")
            .write.mode("overwrite")
            .partitionBy(*pcols)
            .parquet(tmp)
        )
        if since is not None:
            tail = (
                self._scan(tmp)
                .where(F.col("ts") >= F.timestamp_seconds(F.lit(int(since))))
                .agg(F.max("ts").alias("m"))
                .collect()[0]["m"]
            )
            if tail is not None:
                hwm = int(tail.timestamp())
        publish.publish(tmp, dst)
        if hwm is not None:
            self.record_high_water_mark(tier, hwm)

    # -- write -------------------------------------------------------------
    def write_points(self, points: DataFrame, mode: str = "append", sort: bool = True) -> None:
        """S4: append datapoints into their tier partitions. ``tier`` is
        stamped from the measurement when absent (mapping.go:146-154).

        Rows are sorted (series_id, ts) within each task before the
        write — no shuffle, but every parquet file comes out clustered,
        so its rowgroup min/max stats are tight and time-range /
        series predicates skip rowgroups instead of scanning them (the
        cheap half of Z-ordering, free at write time).

        The frame is projected onto the canonical schema first
        (:func:`canonical_points`): mistyped columns are cast, and a
        column outside the schema raises ``ValueError``."""
        out = canonical_points(points, self.date_partition)
        if "tier" not in out.columns:
            out = out.withColumn("tier", write_retention_col(F.col("measurement")))
        out = self._stamp_dt(out)
        if sort:
            out = out.sortWithinPartitions("series_id", "ts")
        (
            out.write.mode(mode)
            .partitionBy(*self._pcols)
            .parquet(self.root)
        )

    # -- read --------------------------------------------------------------
    def read_tier(
        self,
        tier: str,
        from_epoch: int | None = None,
        to_epoch: int | None = None,
    ) -> DataFrame | None:
        """Partition-pruned scan of one tier; None when empty (the planner
        treats a missing tier as no data, like a missing RP).

        In the dated layout, ``from_epoch``/``to_epoch`` additionally
        prune the ``dt`` day partitions covering the range (the ``ts``
        row predicate itself cannot prune directories — the day bounds
        can), then the row-exact ``ts`` filter applies as usual.

        A small tier reads as ONE partition: the scan is coalesced to one
        task, no shuffle. A single partition satisfies every
        distribution, so the planner's aggregate, fill windows and final
        sort above it plan no exchange and the request runs as one Spark
        job. Small means both: its files total at most
        ``spark.sql.files.openCostInBytes`` (what Spark charges for
        opening one file), and Spark's own charge for the tier — its
        bytes plus one open per file — fits one
        ``spark.sql.files.maxPartitionBytes`` scan partition (at the
        defaults, 4 MB in at most 31 files). One task opens every file
        in turn, so past a few dozen files the parallel scan wins back
        what its shuffles cost (docs/OPERATORS.md, "Warehouse and
        sinks"). The returned frame's ``one_partition`` attribute says
        which scan it got (the planner tells gap fill). A larger tier
        reads as Spark splits it, with the plan unchanged. The decision
        is arithmetic on the listing: no I/O, no job.

        The tier's scan is reused while :meth:`tier_listing` reports its
        files unchanged: building one costs relation analysis on the
        driver, every query. Any append, publish or removal changes the
        listing, and the scan is rebuilt."""
        listing = self.tier_listing(tier)
        if not listing:
            return None
        cached = self._tier_scans.get(tier)
        if cached is None or cached[0] is not listing:
            # read via the root with basePath so partition columns
            # survive, and pin the tier -> Catalyst prunes to the one
            # subdirectory
            scan = self._scan(self.tier_path(tier), base_path=self.root)
            max_part, open_cost, _ = split_conf(self.spark)
            size = sum(s for _, s, _ in listing)
            one = size <= open_cost and size + len(listing) * open_cost <= max_part
            cached = (listing, scan.coalesce(1) if one else scan, one)
            self._tier_scans[tier] = cached
        df = cached[1]
        # r13 (guide §6): sargable timestamp-literal forms instead of
        # unix_timestamp(ts) — the function-wrapped predicate can never
        # reach the parquet scan, the literal form lands in PushedFilters
        # and rowgroup min/max stats prune (same convention the planner
        # adopted in r10). Exactly equivalent on integer epochs:
        # unix(ts) >= X  <=>  ts >= X;  unix(ts) <= X  <=>  ts < X+1
        # (unix_timestamp floors to whole seconds). All bounds go into
        # one filter: each DataFrame step is a separate analysis.
        conds = []
        if from_epoch is not None:
            lo = F.timestamp_seconds(F.lit(int(from_epoch)))
            conds.append(F.col("ts") >= lo)
            if self.date_partition:
                conds.append(F.col("dt") >= F.date_format(lo, "yyyy-MM-dd"))
        if to_epoch is not None:
            conds.append(F.col("ts") < F.timestamp_seconds(F.lit(int(to_epoch) + 1)))
            if self.date_partition:
                hi_day = F.date_format(F.timestamp_seconds(F.lit(int(to_epoch))), "yyyy-MM-dd")
                conds.append(F.col("dt") <= hi_day)
        if conds:
            df = df.where(functools.reduce(operator.and_, conds))
        if self.date_partition:
            df = df.drop("dt")
        df = df.withColumn("tier", F.lit(tier))
        df.one_partition = cached[2]
        return df

    def tier_listing(self, tier: str) -> frozenset:
        """The one definition of "the tier is unchanged": (path, size,
        mtime_ns) of every parquet file in the tier, read after healing
        any interrupted publish. While the tier is unchanged this is the
        very listing its cached scan was built from, so :meth:`read_tier`
        compares by identity and ``listing_digest`` memoizes on it."""
        path = self.tier_path(tier)
        publish.recover(path)
        publish.recover_within(path)
        listing = _parquet_listing(path)
        cached = self._tier_scans.get(tier)
        return cached[0] if cached is not None and cached[0] == listing else listing

    def tier_reader(self):
        """Adapter for QueryPlanner(tier_reader=...)."""
        return self.read_tier

    def with_read_retry(self, build_and_run, attempts: int = 3):
        """Serve reads across concurrent rename-aside swaps, like the
        reference's always-on query path (storage/influxdb_v1.go:87-95
        serves HTTP queries while writes land). A DataFrame planned
        before a publish holds the pre-publish file listing; an
        action after it then throws FileNotFoundException for the
        renamed-away files. ``build_and_run`` must BUILD the query (so a
        retry re-lists the directory) and RUN the action; on a
        missing-file failure the warehouse root's cached file listings
        are invalidated (Spark's shared InMemoryFileIndex status cache —
        without the refresh a rebuilt reader can resurface the stale
        snapshot) and the closure re-runs against the newly-published
        directory. Any other failure propagates unchanged."""
        for attempt in range(attempts):
            try:
                return build_and_run()
            except Exception as e:  # noqa: BLE001
                msg = str(e)
                stale = "FileNotFoundException" in msg or "does not exist" in msg
                if not stale or attempt == attempts - 1:
                    raise
                try:
                    self.spark.catalog.refreshByPath(self.root)
                except Exception:  # noqa: BLE001 - best-effort cache purge
                    pass

    def write_bucketed(
        self,
        points: DataFrame,
        table: str,
        n_buckets: int = 32,
        bucket_col: str = "series_id",
        mode: str = "append",
    ) -> None:
        """Bucketed + sorted materialization for co-located per-series
        work: ``CLUSTERED BY (series_id) SORTED BY (ts) INTO n BUCKETS``.

        Any downstream groupBy/join/window keyed on ``series_id`` then
        reads pre-shuffled data — Catalyst sees the bucket spec and
        plans NO Exchange (asserted in tests). At 100 TB this is the
        difference between re-shuffling the fact table per reprocessing
        job and shuffling once at write time; pick n_buckets ≈ cluster
        cores × small factor so each bucket is one task.
        """
        (
            points.write.mode(mode)
            .bucketBy(n_buckets, bucket_col)
            .sortBy(bucket_col, "ts")
            .option("path", os.path.join(self.root, "_bucketed", table))
            .format("parquet")
            .saveAsTable(table)
        )

    def high_water_mark(self, tier: str) -> int | None:
        """Max materialized bucket ts (epoch s) in a tier, None if empty.

        Fast path: the tiny ``_hwm`` sidecar written by
        :meth:`record_high_water_mark` (the directory rewrites re-record
        it), trusted while it is newer than every parquet file in the
        tier — one directory listing, no scan. Fallback: one max() over
        the tier's ts column. Note the fallback IS a column scan: Spark
        only answers max() from parquet footer stats when
        ``spark.sql.parquet.aggregatePushdown`` is enabled (off by
        default), so at scale the sidecar is the path that matters.
        """
        hwm = self._read_hwm_sidecar(tier)
        if hwm is not None:
            return hwm
        df = self.read_tier(tier)
        if df is None:
            return None
        row = df.agg(F.max("ts").alias("m")).collect()[0]
        return None if row["m"] is None else int(row["m"].timestamp())

    def replace_points_from(self, points: DataFrame, tier: str, from_epoch: int) -> None:
        """Idempotently re-materialize a tier's tail: every existing row
        with ``ts >= from_epoch`` is replaced by ``points`` (the
        recomputed buckets). Used by the cascade's trailing-window re-run
        (late-data absorption). One :meth:`_rewrite`: only the tier's own
        (measurement) partitions are rewritten; at 100 TB a date
        subpartition makes the kept-prefix rewrite a file move, not a
        scan. The new high-water mark is read back from the rewritten
        tail only (``since=from_epoch``), never by a full-tier scan."""
        df = self.read_tier(tier)
        # dt is re-stamped below for every row, kept and new alike
        new = canonical_points(points, self.date_partition).drop("tier", "dt")
        if df is not None:
            # sargable form (r13): unix(ts) < X <=> ts < X on integer X
            keep = df.where(
                F.col("ts") < F.timestamp_seconds(F.lit(int(from_epoch)))
            ).drop("tier")
            merged = keep.unionByName(new, allowMissingColumns=True)
        else:
            merged = new
        self._rewrite(self._stamp_dt(merged), tier, since=from_epoch)

    def record_high_water_mark(self, tier: str, epoch_s: int) -> None:
        """Persist the tier's max materialized bucket ts so later
        incremental runs skip the fallback scan. Written atomically
        because a concurrent reader hitting a torn file would silently
        fall back to the scan path — correct but slow."""
        tp = self.tier_path(tier)
        os.makedirs(tp, exist_ok=True)
        publish.write_atomic(os.path.join(tp, "_hwm"), str(int(epoch_s)))

    # -- catalog (§2.10) ---------------------------------------------------
    def measurements(self, tier: str | None = None) -> list[str]:
        """SHOW MEASUREMENTS (influxdb_v1.go:376-393): distinct measurement
        partition values across tiers (or in one ``tier``) — a directory
        listing, no scan."""
        out: set[str] = set()
        for t in (tier,) if tier is not None else TIERS:
            tp = self.tier_path(t)
            if not os.path.isdir(tp):
                continue
            publish.recover_within(tp)
            for d in os.listdir(tp):
                if d.startswith("measurement="):
                    out.add(d.split("=", 1)[1])
        return sorted(out)

    def retention_policies(self) -> list[dict]:
        """SHOW RETENTION POLICIES (influxdb_v1.go:396-413)."""
        return [
            {"name": t, "duration_seconds": TIER_TTL_SECONDS[t], "default": t == "gen_raw"}
            for t in TIERS
        ]

    def drop_measurement(self, measurement: str) -> int:
        """DROP MEASUREMENT (delete_object, admin.go:334-369): remove the
        measurement's partition directory from every tier."""
        dropped = 0
        for tier in TIERS:
            p = os.path.join(self.tier_path(tier), f"measurement={measurement}")
            if os.path.isdir(p):
                shutil.rmtree(p)
                dropped += 1
        return dropped

    def delete_points(
        self,
        measurement: str | None = None,
        from_epoch: int | None = None,
        to_epoch: int | None = None,
        tag_predicates: "list[tuple[str, str, str]] | None" = None,
    ) -> int:
        """InfluxQL ``DELETE [FROM m] [WHERE time ...]``: remove the
        rows in the (optional) time window, returning the deleted count.
        ``to_epoch`` is exclusive, ``from_epoch`` inclusive — matching
        InfluxDB's ``time >= a AND time < b`` delete idiom.

        Scale shape: with a measurement the rewrite touches only that
        measurement's partition directory per tier (never the tier's
        other measurements); an unbounded-measurement delete rewrites
        each populated tier once. Each rewrite is filter + one
        :meth:`_rewrite` of the measurement directory; a fully-emptied
        partition is removed instead of rewritten, which makes
        ``DELETE FROM m`` (no WHERE) a directory drop, and in the dated
        layout a ``time <`` cutoff aligned to day boundaries is mostly
        directory drops too (the TTL enforcement path)."""
        match = F.lit(True)
        # sargable forms (r13): exactly equivalent on integer epochs
        if from_epoch is not None:
            match = match & (F.col("ts") >= F.timestamp_seconds(F.lit(int(from_epoch))))
        if to_epoch is not None:
            match = match & (F.col("ts") < F.timestamp_seconds(F.lit(int(to_epoch))))
        # tag-equality restriction (public InfluxQL DELETE surface, r9
        # second session): ``(key, "="|"!=", value)`` triples ANDed in.
        # InfluxDB treats a missing tag as the EMPTY value, not as
        # unknown, so the column is coalesced to '' before comparing —
        # that makes the match total in BOTH directions: ``!=`` deletes
        # rows with absent tags (plain SQL ``!=`` would skip them) and
        # ``= ''`` also hits rows whose tag column is NULL (r10,
        # ADVICE: eqNullSafe(NULL, '') was false so empty-value deletes
        # missed absent tags)
        for key, op, val in tag_predicates or ():
            cond = F.coalesce(F.col(key), F.lit("")) == F.lit(val)
            match = match & (cond if op == "=" else ~cond)
        deleted = 0
        for tier in TIERS:
            tp = self.tier_path(tier)
            # a crash mid-publish leaves tier=t.old or measurement=m.old,
            # which the listing below would skip or take for a measurement
            publish.recover(tp)
            publish.recover_within(tp)
            names = [measurement] if measurement is not None else self.measurements(tier)
            for name in names:
                mdir = os.path.join(tp, f"measurement={name}")
                if not self._has_data(mdir):
                    continue
                df = self._scan(mdir, base_path=self.root)
                # one counting pass answers both "anything to delete?"
                # and "anything left?" — no separate isEmpty scan
                row = df.agg(
                    F.count(F.when(match, True)).alias("n_del"),
                    F.count(F.lit(1)).alias("n_all"),
                ).collect()[0]
                if row["n_del"] == 0:
                    continue
                deleted += row["n_del"]
                if row["n_del"] == row["n_all"]:
                    shutil.rmtree(mdir)
                    continue
                keep = df.where(~match).drop(*self._pcols[:2])
                self._rewrite(keep, tier, measurement=name)
        return deleted

    def drop_tier(self, tier: str) -> bool:
        """DROP RETENTION POLICY."""
        p = self.tier_path(tier)
        if os.path.isdir(p):
            shutil.rmtree(p)
            return True
        return False

    def drop_db(self) -> int:
        """DROP DATABASE (delete_object object_type=database,
        admin.go:359-362 -> influxdb_v1.go:281-290): remove every tier,
        bucketed table, and sidecar under the warehouse root — the
        single-database engine's equivalent of InfluxDB v1's
        ``DROP DATABASE <name>``. Returns the number of tiers dropped."""
        dropped = sum(1 for t in TIERS if self.drop_tier(t))
        if os.path.isdir(self.root):
            for d in os.listdir(self.root):
                p = os.path.join(self.root, d)
                if os.path.isdir(p):
                    shutil.rmtree(p)
                else:
                    os.remove(p)
        return dropped

    def register_views(self, name: str = "datapoints") -> list[str]:
        """Register SQL views: one per tier (``<name>_<tier>``) plus a
        union view ``<name>`` over every populated tier — the table
        surface behind the Q1 raw-SQL endpoint. Tier + measurement
        predicates in user SQL still prune partitions (the views are thin
        wrappers over the partitioned scans, built by :meth:`read_tier`,
        so a small tier's view reads as one partition too). A view holds
        the file listing it was built from; :meth:`refresh_views` brings
        the views up to date after a write."""
        self._views[name] = {}
        return self._register_views(name, TIERS)

    def refresh_views(self) -> list[str]:
        """Re-register every view of :meth:`register_views` whose tier's
        listing is not the one it was built from (compared by identity,
        as :meth:`read_tier` does), and the union view with them.
        Returns the names re-registered. With no tier changed this lists
        the tiers' files and nothing else: no Spark call, no job."""
        out = []
        for name, built in list(self._views.items()):
            # an empty tier lists as a new empty set each time: None here
            changed = [t for t in TIERS if (self.tier_listing(t) or None) is not built.get(t)]
            if changed:
                out += self._register_views(name, changed)
        return out

    def _register_views(self, name: str, changed) -> list[str]:
        """Register the views of ``name`` over the ``changed`` tiers and
        the union view; drop the view of a tier that has emptied."""
        built = self._views[name]
        had_views = bool(built)
        registered, union = [], None
        for tier in TIERS:
            vname = f"{name}_{tier}"
            had = built.pop(tier, None)
            df = self.read_tier(tier)
            if df is None:
                if had is not None:
                    self.spark.catalog.dropTempView(vname)
                continue
            built[tier] = self._tier_scans[tier][0]
            if tier in changed:
                df.createOrReplaceTempView(vname)
                registered.append(vname)
            union = df if union is None else union.unionByName(df)
        if union is not None:
            union.createOrReplaceTempView(name)
            registered.append(name)
        elif had_views:
            self.spark.catalog.dropTempView(name)
        return registered

    def compact(self, tier: str, target_files_per_measurement: int = 1) -> bool:
        """Small-file compaction: streaming micro-batches leave one file
        per trigger per partition. The tier is rewritten with
        ``target_files_per_measurement`` files per measurement (fewer
        only when it has fewer distinct (series_id, ts) keys): each
        measurement is range-partitioned on (series_id, ts) on its own,
        so every file holds one contiguous key range of one measurement,
        sorted by :meth:`_rewrite` — tight rowgroup stats for series and
        time predicates. In the dated layout each range file splits by
        day. Run alongside the TTL job. (At 100 TB: compact only
        partitions whose file count exceeds a threshold, tracked from
        the file index.)"""
        df = self.read_tier(tier)
        if df is None:
            return False
        df = self._stamp_dt(df.drop("tier"))
        parts = [
            df.where(F.col("measurement") == m).repartitionByRange(
                target_files_per_measurement, "series_id", "ts"
            )
            for m in self.measurements(tier)
        ]
        self._rewrite(functools.reduce(DataFrame.unionByName, parts), tier)
        return True

    # -- retention TTL (the RP enforcement job) ----------------------------
    def enforce_retention(self, now_epoch: int, ttl_overrides: dict | None = None) -> dict:
        """Delete rows older than the tier's TTL (influxdb_v1.go:45-57).

        Rewrites each affected (tier, measurement) partition without the
        expired rows; partitions whose min(ts) is young are skipped via
        parquet statistics (one tiny footer read, no data scan).
        Returns {tier: rows_deleted}.
        """
        ttls = {**TIER_TTL_SECONDS, **(ttl_overrides or {})}
        if self.date_partition:
            return self._enforce_retention_by_partition_drop(now_epoch, ttls)
        deleted: dict[str, int] = {}
        for tier in TIERS:
            df = self.read_tier(tier)
            if df is None:
                continue
            cutoff = now_epoch - ttls[tier]
            # sargable forms (r13): unix(ts) <= c <=> ts < c+1, and
            # unix(ts) > c <=> ts >= c+1 — the literal predicates reach
            # PushedFilters, so a tier whose rowgroups are all young
            # answers the expired-count from min/max stats without a
            # data scan (the behavior the docstring always promised)
            cut_lit = F.timestamp_seconds(F.lit(int(cutoff) + 1))
            expired = df.where(F.col("ts") < cut_lit)
            n = expired.count()
            if n == 0:
                continue
            # TTL drops old rows only: the carried high-water mark stays
            # true, and a tier that expired whole lists no file to trust
            # it against
            self._rewrite(df.where(F.col("ts") >= cut_lit).drop("tier"), tier)
            deleted[tier] = n
        return deleted

    def _enforce_retention_by_partition_drop(self, now_epoch: int, ttls: dict) -> dict:
        """Dated-layout TTL: delete every ``dt=`` day directory whose
        whole day precedes the cutoff day — a directory removal, no scan
        or rewrite of surviving data (the property that makes retention
        affordable at 100 TB). Rows inside the cutoff's own partial day
        outlive their TTL by at most one day — the standard
        day-granularity retention trade, explicit here. Returns
        {tier: rows_deleted} (row counts come from parquet metadata of
        the dropped directories only).

        The cutoff day is derived through the same ``date_format`` the
        writer stamps ``dt`` with — i.e. in the Spark session timezone,
        not hardcoded UTC — so a non-UTC session never drops a day
        directory before its TTL actually expires."""
        # one 1-row job stamps every tier's cutoff day with the session tz
        cutoff_row = (
            self.spark.range(1, numPartitions=1)
            .select(
                *[
                    F.date_format(
                        F.timestamp_seconds(F.lit(int(now_epoch - ttls[t]))),
                        "yyyy-MM-dd",
                    ).alias(t)
                    for t in TIERS
                ]
            )
            .collect()[0]
        )
        deleted: dict[str, int] = {}
        for tier in TIERS:
            tp = self.tier_path(tier)
            if not os.path.isdir(tp):
                continue
            cutoff_day = cutoff_row[tier]
            doomed = []
            for mdir in os.listdir(tp):
                mp = os.path.join(tp, mdir)
                if not (mdir.startswith("measurement=") and os.path.isdir(mp)):
                    continue
                for ddir in os.listdir(mp):
                    if ddir.startswith("dt=") and ddir.split("=", 1)[1] < cutoff_day:
                        doomed.append(os.path.join(mp, ddir))
            if not doomed:
                continue
            # metadata-only count (parquet footers), then the drop
            n = self._scan(*doomed).count()
            for d in doomed:
                shutil.rmtree(d)
            if n:
                deleted[tier] = n
        return deleted


def write_csv(points: DataFrame, path: str, mode: str = "append") -> None:
    """S7 CSV sink (storage/csv.go:26-113): the canonical 11-column flat
    rows, epoch-second time, header matching csv.go:22."""
    flat = points.select(
        F.col("measurement").alias("name"),
        F.unix_timestamp("ts").alias("time"),
        "dev_id",
        "dev_type",
        "dir",
        "location_id",
        "service",
        "src",
        "topic",
        F.coalesce(
            F.col("value_f").cast("string"),
            F.col("value_b").cast("string"),
            F.col("value_s"),
        ).alias("value"),
        "unit",
    )
    flat.write.mode(mode).option("header", True).csv(path)
