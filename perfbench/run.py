"""Benchmark entry point: one named workload, one seed, one JSON line.

    python3 perfbench/run.py --workload query --seed 1 --seconds 15 --trace 0

Run from the root of a checkout (the directory holding
``ecollector_spark/``). The run:

1. makes a fresh work directory under ``.bench_work/`` (Spark local and
   temp dirs included) and removes it at exit;
2. starts one ``local[N]`` Spark session (N = min(2, cores)) with a
   ``HEAP`` driver heap committed at start, generates the seeded inputs
   and runs the workload's set-up and warm-up;
3. runs closed-loop operations for ``--seconds`` seconds;
4. checks every operation's output against the oracle;
5. prints a summary line, then the result line:
   ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` wraps the
layers (see ``spans.py``), alternates whole traced and untraced cycles
of the workload's request mix in the window and reports the per-layer
metrics, including the tracing overhead measured between the two on the
same request mix.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: per-layer metrics (--trace 1): name -> unit. Every workload reports
#: all of them; a layer the workload does not exercise reads 0.
LAYER_UNITS = {
    "command_bus.handle_ms": "ms", "influxql.parse_ms": "ms", "query.plan_ms": "ms",
    "gapfill.build_ms": "ms", "py4j.calls": "count",
    "warehouse.read_tier_ms": "ms", "warehouse.read_retries": "count",
    "api.collect_ms": "ms", "query.rows_scanned_per_row_returned": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_ms": "ms", "spark.executor_cpu_ms": "ms", "spark.jvm_gc_ms": "ms",
    "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B", "spark.input_bytes": "B",
    "ingest.batch_ms": "ms", "ingest.events_per_s": "1/s",
    "mqtt_bridge.land_ms": "ms", "mqtt_bridge.dropped_frac": "frac",
    "pipeline.build_ms": "ms", "pipeline.points_per_event": "ratio",
    "warehouse.write_ms": "ms", "warehouse.files_per_batch": "count",
    "warehouse.bytes_per_point": "B",
    "aggregate.preagg_ms": "ms", "aggregate.diff_ms": "ms",
    "aggregate.rows_out_per_row_in": "ratio",
    "downsample.cascade_ms": "ms", "downsample.rows_written": "count",
    "api.freshness_read_ms": "ms",
    "curation.build_ms": "ms", "curation.exec_ms": "ms", "curation.kept_frac": "frac",
    "dedup.build_ms": "ms", "dedup.exec_ms": "ms", "dedup.candidate_pairs": "count",
    "dedup.verified_frac": "frac", "dedup.planted_recall": "frac",
    "setup.session_s": "s", "setup.generate_s": "s", "setup.load_s": "s",
    "setup.warmup_s": "s",
    "trace.op_ms": "ms", "trace.untraced_ms": "ms", "trace.overhead_frac": "frac",
}

#: driver heap, committed in full at start (-Xms) so that heap growth
#: does not vary from run to run
HEAP = "1g"

#: end-to-end metrics (--trace 0): name -> unit
E2E_UNITS = {
    "latency_ms_p50": "ms", "latency_ms_p95": "ms", "throughput_per_s": "1/s",
    "peak_rss_mb": "MB", "setup_s": "s",
}


def _vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _jvm_gc_ms(spark) -> float:
    """Total collection time of the driver JVM's garbage collectors."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def _cpu_s(pid) -> float:
    """User plus system CPU seconds of a process, from /proc."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _p95(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=20, method="inclusive")[18]


def _attempt(wl, inp):
    """One operation; an exception is a failed operation, not a crash."""
    try:
        return wl.run(inp)
    except Exception:  # noqa: BLE001 - reported, counted as failed
        traceback.print_exc()
        return None


def _install_wrappers(rec) -> None:
    """Wrap the read-path layers' public functions (the write and curate
    paths are spanned where the workloads call them)."""
    from ecollector_spark import api, influxql, query, warehouse

    for name in ("parse_influxql", "parse_show_statement", "parse_show_meta",
                 "parse_cq_ddl", "parse_delete"):
        rec.wrap(influxql, name, "influxql.parse")
    for name in ("plan", "plan_multi", "plan_fields", "plan_star"):
        rec.wrap(query.QueryPlanner, name, "query.plan")
    rec.wrap(query, "gap_fill", "gapfill.build")
    rec.wrap(api, "gap_fill", "gapfill.build")
    rec.wrap(api, "to_series_shape", "api.collect")
    rec.wrap(warehouse.Warehouse, "read_tier", "warehouse.read_tier")

    original = warehouse.Warehouse.with_read_retry

    def with_read_retry(self, build_and_run, attempts: int = 3):
        calls = []

        def counted():
            calls.append(1)
            return build_and_run()

        try:
            return original(self, counted, attempts)
        finally:
            if rec._op is not None:
                rec._op.extra["warehouse.read_retries"] += max(0, len(calls) - 1)

    warehouse.Warehouse.with_read_retry = with_read_retry


def _layer_metrics(rec, traced, untraced, setup_phases) -> dict:
    """Each layer metric is the median over the traced operations in
    which that layer ran; py4j and Spark counters are medians over the
    window's operations."""
    from spans import median

    window = [t for t in rec.ops if t.kind == "op"]
    out: dict = {}
    for name in {n for t in rec.ops for n in t.self_ms()}:
        out[f"{name}_ms"] = median([t.self_ms()[name] for t in rec.ops if name in t.self_ms()])
    # extras override self times where a metric is defined inclusively
    for key in {k for t in rec.ops for k in t.extra}:
        out[key] = median([t.extra[key] for t in rec.ops if key in t.extra])
    out["py4j.calls"] = median([t.py4j_calls for t in window])
    for key in window[0].spark if window else ():
        out[key] = median([t.spark[key] for t in window])
    out["trace.op_ms"] = median([t.wall_ms for t in window])
    out["trace.untraced_ms"] = median([t.untraced_ms() for t in window])
    # per-slot medians, summed over the slots run both ways
    slots = traced.keys() & untraced.keys()
    if slots:
        out["trace.overhead_frac"] = (sum(median(traced[k]) for k in slots)
                                      / sum(median(untraced[k]) for k in slots) - 1)
    for p in ("session", "generate", "load", "warmup"):
        out[f"setup.{p}_s"] = setup_phases.get(p, 0.0)
    return {k: float(out.get(k, 0.0)) for k in LAYER_UNITS}


def run(args) -> dict:
    import workloads
    from ecollector_spark.session import get_spark

    load_before = os.getloadavg()[0]
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(args.workdir, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={args.workdir}/tmp -Xms{HEAP}",
    })
    session_s = time.perf_counter() - t0
    gateway = spark.sparkContext._gateway
    jvm = gateway.proc
    try:
        rec = None
        if args.trace:
            from spans import Recorder

            rec = Recorder(spark)
            _install_wrappers(rec)
        wl = workloads.WORKLOADS[args.workload](spark, args.workdir, args.seed, rec)
        wl.phases["session"] = session_s
        wl.setup()
        setup_phases = dict(wl.phases)
        checked = list(wl.warm)  # warm-up outputs are checked too

        # latencies by position in the workload's request cycle; the
        # traced run traces every other whole cycle, so both sides run
        # the same request mix, and completes at least one cycle of each
        lat, units, traced, untraced = [], 0, {}, {}
        gc0, cpu0 = _jvm_gc_ms(spark), _cpu_s(jvm.pid) + _cpu_s("self")
        t_start = time.perf_counter()
        i = 0
        while (time.perf_counter() - t_start < args.seconds
               or (rec is not None and i < 2 * wl.cycle)):
            inp = wl.next_input(i)
            slot = i % wl.cycle
            if rec is not None and (i // wl.cycle) % 2 == 0:
                with rec.op() as t:
                    s = time.perf_counter()
                    out = _attempt(wl, inp)
                    dt = time.perf_counter() - s
                if out is not None:
                    wl.trace_extras(inp, out, t)
                traced.setdefault(slot, []).append(dt)
            else:
                s = time.perf_counter()
                out = _attempt(wl, inp)
                dt = time.perf_counter() - s
                untraced.setdefault(slot, []).append(dt)
            checked.append((inp, out))
            lat.append(dt)
            units += wl.units(inp)
            i += 1
        window_s = time.perf_counter() - t_start
        window_gc_ms = _jvm_gc_ms(spark) - gc0
        window_cpu_s = _cpu_s(jvm.pid) + _cpu_s("self") - cpu0

        failed = sum(out is None or not wl.check(inp, out) for inp, out in checked)
        attempted = len(checked)
        rss_kb = {"python": _vm_hwm_kb("self"), "jvm": _vm_hwm_kb(jvm.pid)}
        rss_mb = sum(rss_kb.values()) / 1024.0
        setup_s = sum(setup_phases.get(p, 0.0)
                      for p in ("session", "generate", "load", "warmup"))
        if args.trace:
            metrics = _layer_metrics(rec, traced, untraced, setup_phases)
            print(json.dumps({"trace_ops": [
                {"wall_ms": round(t.wall_ms, 3), "self_ms": {k: round(v, 3) for k, v in t.self_ms().items()},
                 "untraced_ms": round(t.untraced_ms(), 3), "py4j_calls": t.py4j_calls,
                 "spark": t.spark, "extra": t.extra} for t in rec.ops]}))
            units_of = LAYER_UNITS
        else:
            metrics = {
                "latency_ms_p50": statistics.median(lat) * 1000.0,
                "latency_ms_p95": _p95(lat) * 1000.0,
                "throughput_per_s": units / sum(lat),
                "peak_rss_mb": rss_mb,
                "setup_s": setup_s,
            }
            units_of = E2E_UNITS
        summary = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "samples": len(lat), "warmup_ops": attempted - len(lat),
            "latencies_ms": [round(x * 1000.0, 1) for x in lat],
            "work_unit": wl.unit, "window_s": round(window_s, 3),
            "window_jvm_gc_ms": window_gc_ms, "window_cpu_s": round(window_cpu_s, 2),
            "failed_frac": failed / max(1, attempted),
            "setup": {k: round(v, 3) for k, v in setup_phases.items()},
            "peak_rss_mb": {k: round(v / 1024.0, 1) for k, v in rss_kb.items()},
            "load1_before": load_before, "load1_after": os.getloadavg()[0],
        }
        print(json.dumps({"summary": summary}))
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units_of[k]} for k, v in metrics.items()},
        }
    finally:
        spark.stop()
        gateway.shutdown()
        if jvm.stdin is not None:
            jvm.stdin.close()
        jvm.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("query", "curate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ecollector_spark")):
        print(f"perfbench: no ecollector_spark package under {ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args.workdir = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    local = os.path.join(args.workdir, "spark-local")
    for d in (local, os.path.join(args.workdir, "tmp")):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(min(2, os.cpu_count() or 1))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    try:
        result = run(args)
    finally:
        shutil.rmtree(args.workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(args.workdir))
        except OSError:
            pass  # another run still holds its work directory
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
