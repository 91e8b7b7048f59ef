"""The closed-loop workloads: ``query`` and ``curate``.

Each workload drives the program only through its public functions, in
the order a deployment calls them, with one client that waits for each
operation before sending the next. A workload object has:

- ``setup()``: everything before the warm window (input generation,
  base warehouse or corpus, warm-up operations), timed per phase;
- ``next_input(i)``: the i-th seeded input, made outside any timing;
- ``run(inp)``: one timed operation; returns its raw output;
- ``check(inp, out)``: True when the output matches the oracle;
- ``units(inp)``: the work one operation completes (requests or
  documents), for throughput;
- ``cycle``: the length of the repeating request mix; the traced run
  traces whole cycles and leaves the next ones untraced;
- ``warm``: the (input, output) pairs of the set-up operations, checked
  with the rest;
- ``trace_extras(inp, out, t)``: per-operation ratios for the traced run.

The traced run wraps the same calls in spans (see ``spans.py``);
``self.rec`` is None in an untraced run and every span is then a no-op.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import re
import time

import gen
from oracle import LUMIN, POWER, SETPOINT, TEMP, Oracle, same

#: query workload: the base warehouse is written by two batches, a
#: small cold one (day 0) and a warm one (days 1-2); (events, days) each
BASE_BATCHES = ((2000, 1), (4000, 2))
BASE_DAYS = sum(days for _n, days in BASE_BATCHES)
#: requests run as warm-up before the measured window: three schedule
#: cycles, after which a cycle's median latency is within about 5% of
#: where it settles
QUERY_WARMUP = 48
#: curate workload: documents per shard
SHARD_DOCS = 1000
#: curate workload: passes run as warm-up
CURATE_WARMUP = 4

#: the pre-aggregated branch keeps the tags and unit of its series
_KEEP = ("measurement", "dev_id", "dev_type", "dir", "location_id", "service",
         "topic", "domain", "unit")


class _Base:
    def __init__(self, spark, workdir: str, seed: int, rec=None):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.rec = rec
        self.phases: dict[str, float] = {}

    def span(self, name: str):
        return self.rec.span(name) if self.rec is not None else contextlib.nullcontext()

    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        yield
        self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0


def warehouse_files(root: str) -> dict[str, int]:
    """path -> size of every parquet file under the warehouse root."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def parquet_rows(paths) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


# ---------------------------------------------------------------------------
# query
# ---------------------------------------------------------------------------

#: one cycle of the request stream: half repeat the four dashboard
#: queries, one in sixteen is a catalog command and the rest are unique
#: (device, range, tag) requests of four kinds. A fixed cycle keeps the
#: mix of every window the same whatever the seed; the seed picks the
#: parameters.
_SCHEDULE = [("dashboard", 0), ("unique", 0), ("dashboard", 1), ("unique", 1),
             ("dashboard", 2), ("unique", 2), ("dashboard", 3), ("unique", 3)] * 2
_SCHEDULE[-1] = ("catalog", 0)


class QueryWorkload(_Base):
    """Command-bus requests against a warehouse the program's own write
    path builds during set-up."""

    unit = "requests"
    cycle = len(_SCHEDULE)

    def setup(self) -> None:
        from ecollector_spark.api import EcollectorApi
        from ecollector_spark.command_bus import CommandDispatcher
        from ecollector_spark.schema import METADATA_SCHEMA
        from ecollector_spark.warehouse import Warehouse

        with self.phase("generate"):
            batches, start = [], gen.T0
            for b, (n, days) in enumerate(BASE_BATCHES):
                end = start + days * 86400
                msgs = gen.fimp_session(self.seed, n, start, end - start, tag=f"base{b}")
                batches.append({"kind": "batch", "batch": b, "msgs": msgs,
                                "start": start, "end": end - 1})
                start = end
            self.oracle = Oracle()
            for inp in batches:
                self.oracle.add_session(inp["msgs"])
            self.oracle.build()
            self.specs = _query_specs(self.seed)
        with self.phase("load"):
            self.wh = Warehouse(self.spark, os.path.join(self.workdir, "warehouse"))
            self.metadata = self.spark.createDataFrame(gen.metadata_rows(), METADATA_SCHEMA)
            self.api = EcollectorApi(self.spark, self.wh)
            self.warm = []
            traced = None
            for inp in batches:
                t0 = time.perf_counter()
                if self.rec is not None and inp["batch"] == len(batches) - 1:
                    before = warehouse_files(self.wh.root)
                    with self.rec.op(kind="batch") as t:
                        out = self.ingest(inp)
                    traced = (inp, out, t, before)
                else:
                    out = self.ingest(inp)
                self.phases[f"batch{inp['batch']}"] = time.perf_counter() - t0
                self.warm.append((inp, out))
            self.wh.register_views("datapoints")
            self.bus = CommandDispatcher(self.api)
        if traced is not None:  # outside every set-up phase
            self.batch_extras(*traced)
        with self.phase("warmup"):
            warm = [self.specs(i + 16 * 10**5) for i in range(QUERY_WARMUP)]
            self.warm += [(s, self.run(s)) for s in warm]

    def ingest(self, inp: dict) -> dict:
        """One base batch through the program's write path: bridge ->
        landed file -> dedup -> build_points -> route_points -> raw write
        + 30 s pre-aggregation + counter difference into gen_raw ->
        incremental cascade (the batch end as ``now``), then one freshness
        read of the batch's own setpoints (raw points, gen_default).
        Returns the counts and lazily built frames the checks and the
        traced run use."""
        from pyspark.sql import functions as F

        from ecollector_spark import aggregate, downsample
        from ecollector_spark.query import DataPointsRequest
        from ecollector_spark.schema import FIMP_EVENT_SCHEMA
        from ecollector_spark.sources.mqtt_bridge import MqttBridge
        from ecollector_spark.streaming import pipeline

        wh, span = self.wh, self.span
        land_dir = os.path.join(self.workdir, "landing", f"batch-{inp['batch']:05d}")
        with span("mqtt_bridge.land"):
            bridge = MqttBridge(land_dir, rotate_lines=1 << 30, rotate_seconds=1e9)
            landed = bridge.replay_session(inp["msgs"])
        with span("pipeline.build"):
            events = self.spark.read.schema(FIMP_EVENT_SCHEMA).json(land_dir)
            events = pipeline.dedup_stream(events.withColumn("ts", F.col("ctime")))
            points = pipeline.build_points(events, metadata=self.metadata)
            branches = pipeline.route_points(points)
        with span("warehouse.write"):
            wh.write_points(branches["raw"])
        with span("aggregate.preagg"):
            pre = aggregate.windowed_preaggregate(branches["preagg"], 30, keep_cols=_KEEP)
            wh.write_points(pre.select(
                "measurement", F.timestamp_seconds("time").alias("ts"), "series_id",
                *_KEEP[1:8], F.lit("preagg").alias("src"), F.col("value").alias("value_f"),
                "unit", F.lit("mean").alias("agg_func"), F.lit("gen_raw").alias("tier")))
        with span("aggregate.diff"):
            diff = aggregate.counter_difference(branches["diff"], 600)
            sid = F.split("series_id", ";")
            wh.write_points(diff.select(
                F.lit("electricity_meter_energy_sampled").alias("measurement"),
                F.timestamp_seconds("time").alias("ts"), "series_id",
                sid.getItem(1).alias("dev_id"), sid.getItem(2).alias("dir"),
                F.lit("diff").alias("src"), F.col("value").alias("value_f"),
                F.lit("kWh").alias("unit"), F.lit("sum").alias("agg_func"),
                F.lit("gen_raw").alias("tier")))
        with span("downsample.cascade"):
            downsample.run_cascade_incremental(
                wh.read_tier, lambda df, tier: wh.write_points(df), wh.high_water_mark,
                now_epoch=inp["end"] + 1)
        req = DataPointsRequest(
            measurement_name=SETPOINT, from_time=gen.iso(inp["start"]),
            to_time=gen.iso(inp["end"]), group_by_time="1h", data_function="mean",
            group_by_tag="dev_id", fill_type="null")
        with span("api.freshness_read"):
            report = self.api.get_data_points(req)
        return {"messages": len(inp["msgs"]), "landed": landed, "dropped": bridge.dropped,
                "points": points, "branches": branches, "report": report}

    def batch_extras(self, inp, out, t, before) -> None:
        """Write-path ratios of the traced base batch, measured after the
        load phase (the counts re-run the batch's plans, outside every
        timed region)."""
        after = warehouse_files(self.wh.root)
        new = [p for p in after if p not in before]
        rows = parquet_rows(new)
        cascaded = [p for p in new if "/tier=gen_raw/" not in p and "/tier=gen_default/" not in p]
        branches = out["branches"]
        agg_in = branches["preagg"].count() + branches["diff"].count()
        t.extra.update({
            "ingest.batch_ms": t.wall_ms,
            "api.freshness_read_ms": t.total_ms("api.freshness_read"),
            "ingest.events_per_s": len(inp["msgs"]) / (t.wall_ms / 1000.0),
            "mqtt_bridge.dropped_frac": out["dropped"] / max(1, out["messages"]),
            "pipeline.points_per_event": out["points"].count() / max(1, out["landed"]),
            "warehouse.files_per_batch": float(len(new)),
            "warehouse.bytes_per_point": sum(after[p] for p in new) / max(1, rows),
            "aggregate.rows_out_per_row_in":
                parquet_rows([p for p in new if "/tier=gen_raw/" in p]) / max(1, agg_in),
            "downsample.rows_written": float(parquet_rows(cascaded)),
        })

    def next_input(self, i: int) -> dict:
        return self.specs(i)

    def units(self, inp) -> int:
        return 1

    def run(self, spec: dict):
        from ecollector_spark.command_bus import COMMAND_TOPIC

        with self.span("command_bus.handle"):
            return self.bus.handle_message(COMMAND_TOPIC, spec["payload"])

    def trace_extras(self, spec, out, t) -> None:
        val = (out or {}).get("val")
        if isinstance(val, dict) and val.get("Results"):
            rows = sum(len(s.get("values", [])) for s in val["Results"][0]["Series"])
            if rows:
                t.extra["query.rows_scanned_per_row_returned"] = (
                    t.spark["spark.input_records"] / rows)

    def check(self, spec: dict, out) -> bool:
        if spec.get("kind") == "batch":
            return _check_batch(spec, out)
        if out is None or out.get("corid") != spec["uid"] or out.get("type") != spec["rtype"]:
            return False
        val = out["val"]
        expected = spec["expect"](self.oracle)
        if spec["rtype"] in ("evt.tsdb.measurements_report", "evt.tsdb.retention_policies"):
            return val == expected
        if not isinstance(val, dict) or val.get("error") or not val.get("Results"):
            return False
        return same(expected, val["Results"][0]["Series"])


def _query_specs(seed: int):
    """Seeded request stream following ``_SCHEDULE``. Every time range is
    absolute, so every answer is deterministic."""
    t_end = gen.T0 + BASE_DAYS * 86400 - 1
    thermo = [str(d.device_id) for d in gen.devices() if d.role == "thermo"]
    locs = sorted({str(d.location_id) for d in gen.devices() if d.role == "thermo"})
    hf_devs = {m: [str(d.device_id) for d in gen.devices() if d.role == r]
               for m, r in ((TEMP, "temp"), (LUMIN, "lumin"), (POWER, "power"))}
    watched = (POWER, TEMP, LUMIN, SETPOINT)

    def gdp(m, lo, hi, step, fn, tag="", fill="null", devices=()):
        spec = {"measurement": m, "from": lo, "to": hi, "step": step, "fn": fn,
                "tag": tag, "fill": fill, "devices": list(devices)}
        val = {"measurement_name": m, "from_time": gen.iso(lo), "to_time": gen.iso(hi),
               "group_by_time": _dur(step), "data_function": fn, "group_by_tag": tag,
               "fill_type": fill}
        if devices:
            val["filters"] = {"devices": list(devices)}
        return ("cmd.tsdb.get_data_points", val, "evt.tsdb.data_points_report",
                lambda o: o.bucketed(spec))

    def influx(query, expect):
        return ("cmd.tsdb.query", {"query": query}, "evt.tsdb.query_report", expect)

    def where(lo, hi):
        return f"time >= '{gen.iso(lo)}' AND time <= '{gen.iso(hi)}'"

    in_list = ", ".join(f"'{m}'" for m in watched)
    dashboards = [
        gdp(POWER, gen.T0, t_end, 86400, "mean", "dev_id"),
        influx(f'SELECT mean("value") FROM /^sensor_(temp|lumin)/ WHERE {where(gen.T0, t_end)} '
               f"GROUP BY time(1d) FILL(null)",
               lambda o: o.regex_means({"regex": "^sensor_(temp|lumin)", "from": gen.T0,
                                        "to": t_end, "step": 86400, "fn": "mean",
                                        "fill": "null"})),
        influx(f"SELECT tier, measurement, count(*) AS n, sum(value_f) AS s FROM datapoints "
               f"WHERE measurement IN ({in_list}) GROUP BY tier, measurement "
               f"ORDER BY tier, measurement",
               lambda o: [{"name": "query", "columns": ["tier", "measurement", "n", "s"],
                           "values": o.tier_summary(watched)}]),
        gdp(SETPOINT, t_end + 1 - 6 * 3600, t_end, 3600, "mean", "location_id", "previous"),
    ]
    catalog = [
        influx("SHOW MEASUREMENTS",
               lambda o: [{"name": "measurements", "columns": ["name"],
                           "values": [[m] for m in o.measurements()]}]),
        ("cmd.tsdb.get_measurements", {}, "evt.tsdb.measurements_report",
         lambda o: o.measurements()),
        ("cmd.tsdb.get_retention_policies", {}, "evt.tsdb.retention_policies",
         lambda o: ["gen_raw", "gen_day", "gen_week", "gen_month", "gen_year", "gen_default"]),
    ]

    def unique(rng: random.Random, kind: int):
        if kind == 0:  # setpoints, raw tier: random window, function, tag and fill
            hours = rng.randint(3, 12)
            lo = gen.T0 + rng.randrange(BASE_DAYS * 24 - hours) * 3600 + rng.randrange(3600)
            devs = rng.sample(thermo, rng.randint(2, 4)) if rng.random() < 0.5 else ()
            return gdp(SETPOINT, lo, lo + hours * 3600, rng.choice((1800, 3600)),
                       rng.choice(("mean", "max", "min", "sum")),
                       rng.choice(("dev_id", "location_id")),
                       rng.choice(("null", "previous")), devs)
        if kind == 1:  # InfluxQL percentile, tag predicate, GROUP BY time + tag
            hours = rng.randint(2, 8)
            lo = gen.T0 + rng.randrange(BASE_DAYS * 24 - hours) * 3600
            hi = lo + hours * 3600 - 1
            p = rng.choice((50, 90, 95))
            loc = rng.choice(locs)
            fill = rng.choice(("null", "previous"))
            spec = {"measurement": SETPOINT, "from": lo, "to": hi, "step": 1800,
                    "fn": "percentile", "p": p, "tag": "dev_id", "fill": fill,
                    "location": loc}
            return influx(f'SELECT percentile("value", {p}) FROM "{SETPOINT}" '
                          f"WHERE {where(lo, hi)} AND \"location_id\"='{loc}' "
                          f'GROUP BY time(30m), "dev_id" FILL({fill})',
                          lambda o: o.bucketed(spec))
        if kind == 2:  # one high-frequency device over whole days (gen_year)
            m = rng.choice((POWER, TEMP, LUMIN))
            d0 = rng.randrange(BASE_DAYS)
            d1 = rng.randrange(d0, BASE_DAYS)
            return gdp(m, gen.T0 + d0 * 86400, gen.T0 + (d1 + 1) * 86400 - 1, 86400,
                       rng.choice(("mean", "max", "min")), "", "previous",
                       [rng.choice(hf_devs[m])])
        # Spark SQL over one tier view
        tier = rng.choice(("gen_raw", "gen_day", "gen_week", "gen_month"))
        m = rng.choice((POWER, TEMP, LUMIN))
        lo = gen.T0 + rng.randrange(BASE_DAYS * 24 - 6) * 3600
        hi = lo + rng.randint(1, 6) * 3600
        return influx(
            f"SELECT dev_id, count(*) AS n, avg(value_f) AS v FROM datapoints_{tier} "
            f"WHERE measurement = '{m}' AND ts >= TIMESTAMP '{gen.iso(lo)[:-1]}' "
            f"AND ts <= TIMESTAMP '{gen.iso(hi)[:-1]}' GROUP BY dev_id ORDER BY dev_id",
            lambda o: [{"name": "query", "columns": ["dev_id", "n", "v"],
                        "values": o.tier_devices(tier, m, lo, hi)}])

    def spec(i: int) -> dict:
        rng = random.Random(f"{seed}:req:{i}")
        slot = i % len(_SCHEDULE)
        kind, n = _SCHEDULE[slot]
        if kind == "dashboard":
            cmd = dashboards[n]
        elif kind == "catalog":
            cmd = catalog[(i // len(_SCHEDULE)) % len(catalog)]
        else:
            cmd = unique(rng, n)
        mtype, val, rtype, expect = cmd
        uid = f"q-{seed}-{i}"
        payload = json.dumps({"type": mtype, "serv": "ecollector", "val_t": "str_map",
                              "uid": uid, "val": val,
                              "resp_to": "pt:j1/mt:rsp/rt:app/rn:bench/ad:1"})
        return {"uid": uid, "payload": payload, "rtype": rtype, "expect": expect}

    return spec


def _dur(step: int) -> str:
    for unit, n in (("d", 86400), ("h", 3600), ("m", 60)):
        if step % n == 0:
            return f"{step // n}{unit}"
    raise ValueError(step)


def _check_batch(inp: dict, out) -> bool:
    """Every message landed or was counted as dropped, and the freshness
    read returns the batch's setpoints."""
    o = Oracle()
    o.add_session(inp["msgs"])
    o.build()
    expected = o.bucketed({"measurement": SETPOINT, "from": inp["start"], "to": inp["end"],
                           "step": 3600, "fn": "mean", "tag": "dev_id", "fill": "null"})
    val = out["report"]["val"]
    return (out["landed"] + out["dropped"] == out["messages"]
            and not val.get("error") and same(expected, val["Results"][0]["Series"]))


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------

_TOKEN = re.compile(r"[A-Za-z0-9]+")


class CurateWorkload(_Base):
    """One seeded document shard per pass: ``curation.curate`` then
    ``dedup.minhash_lsh_pairs``."""

    unit = "docs"
    cycle = 1

    def setup(self) -> None:
        # warm-up shards come first; generating them is the "generate" phase
        warm = [self.next_input(k - CURATE_WARMUP) for k in range(CURATE_WARMUP)]
        with self.phase("warmup"):
            self.warm = [(inp, self.run(inp)) for inp in warm]

    def next_input(self, i: int) -> dict:
        import pyarrow as pa
        import pyarrow.parquet as pq

        shard = i + CURATE_WARMUP
        t0 = time.perf_counter()
        c = gen.corpus(self.seed, shard, SHARD_DOCS)
        path = os.path.join(self.workdir, f"shard-{shard:05d}.parquet")
        ids, texts = zip(*c.docs)
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": list(texts)}), path)
        self.phases["generate"] = self.phases.get("generate", 0.0) + time.perf_counter() - t0
        return {"shard": shard, "corpus": c, "path": path}

    def units(self, inp) -> int:
        return len(inp["corpus"].docs)

    def run(self, inp: dict):
        from ecollector_spark.datapipe import curation, dedup

        docs = self.spark.read.parquet(inp["path"])
        with self.span("curation.build"):
            manifest = curation.curate(docs)
        with self.span("curation.exec"):
            kept = manifest.collect()
        with self.span("dedup.build"):
            pairs = dedup.minhash_lsh_pairs(docs)
        with self.span("dedup.exec"):
            found = pairs.select("doc_a", "doc_b").collect()
        return {"kept": kept, "pairs": [tuple(sorted(r)) for r in found]}

    def check(self, inp: dict, out) -> bool:
        c = inp["corpus"]
        low = set(c.low_quality)
        expected = {d: len(_TOKEN.findall(t)) for d, t in c.docs
                    if d not in c.exact_dups and d not in low}
        got = {r["doc_id"]: r["n_tokens"] for r in out["kept"]}
        pairs = set(out["pairs"])
        return got == expected and all((src, dup) in pairs for dup, src in c.exact_dups.items())

    def trace_extras(self, inp: dict, out, t) -> None:
        """Kept share, near-duplicate recall and the share of returned
        pairs whose exact 3-shingle Jaccard clears the 0.5 threshold."""
        c = inp["corpus"]
        texts = dict(c.docs)

        def shingles(t):
            toks = [w.lower() for w in _TOKEN.findall(t)]
            return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

        pairs = set(out["pairs"])
        recall = (sum((min(a, b), max(a, b)) in pairs for a, b in c.near_dups)
                  / max(1, len(c.near_dups)))
        ok = 0
        for a, b in pairs:
            sa, sb = shingles(texts[a]), shingles(texts[b])
            ok += len(sa & sb) / max(1, len(sa | sb)) >= 0.5
        t.extra.update({
            "curation.kept_frac": len(out["kept"]) / len(c.docs),
            "dedup.planted_recall": recall,
            "dedup.verified_frac": ok / max(1, len(pairs)),
            "dedup.candidate_pairs": float(len(pairs)),
        })


WORKLOADS = {"query": QueryWorkload, "curate": CurateWorkload}
