"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized with the noop sink (full execution, no
driver-side collect cost), timed end-to-end including planning, and run
$SPARK_GRAFT_BENCH_RUNS times (default 3): "queries" holds the per-query
MEDIAN, "value" the sum of medians.

The final stdout line is deliberately COMPACT (totals + per-query
medians only) so it fits the driver's bounded tail capture; everything
else — per-query [min, max] spreads and the datapipe candidate-growth
scale probe — goes to the side artifact $SPARK_GRAFT_BENCH_DETAIL
(default ./BENCH_DETAIL.json next to this file).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "ts_group_by_time_mean",
    "ts_group_by_time_tag_fill_previous",
    "energy_rollup",
    "preagg_30s_directives",
    "counter_difference_10m",
    "two_level_group_energy",
    "outlier_fence",
    "raw_sql_query",
    "fimp_transform_pipeline",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "datapipe_curation",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "sketch_kmv_distinct_users",
    "text_quality",
    "tpch_q1_pricing_summary",
    "tpch_q5_local_supplier_volume",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    from ecollector_spark import driver_queries
    from ecollector_spark.session import get_spark

    driver_queries.load_all()
    spark = get_spark("bench")

    registry = {**driver_queries.QUERIES, **driver_queries.SHELVED_QUERIES}
    names = [n for n in HEADLINE if n in registry]
    extra = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if extra:
        names = [n.strip() for n in extra.split(",") if n.strip() in registry]
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))

    # Warm the JVM once with a representative plan (scan + shuffle agg +
    # broadcast join) so per-query timings measure the engine, not
    # first-run JIT/codegen infrastructure, and prime the OS page cache
    # with every input table (steady-state: a cold cache adds a uniform
    # 1.3-1.8x disk-read term that varies with whatever ran before the
    # bench — r5 measured 23.8 s cold vs ~16 s warm for the same plans).
    # Standard steady-state benchmarking; each query still pays its OWN
    # plan's codegen.
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    dim = spark.range(5).select(F.col("id").alias("k"))
    (
        ev.limit(10000)
        .join(F.broadcast(dim), ev.user_id % 5 == dim.k)
        .groupBy("event_type")
        .agg(F.avg("value"), F.count("*"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    for t in os.listdir(sf_dir):
        if t.endswith(".parquet"):
            spark.read.parquet(os.path.join(sf_dir, t)).write.format("noop").mode(
                "overwrite"
            ).save()

    # weather guard (VERDICT r8 #8, tightened r11 per VERDICT r10 #3,
    # load5 settle added r12): the old cpus/4 = 8.0 threshold let the
    # r10 capture run at load1 3.88 and record a 40 % phantom
    # regression; the load1-only guard then let an r12 capture run
    # minutes after a heavy sweep (load1 0.88 but load5 1.23) and read
    # 29.8 s where the settled box reads 20.8 s. The shared guard
    # (tools/weather.py) waits bounded for load1 < 1.0 AND load5 < 1.5
    # — the level of bench.py's own reference captures — and ANNOTATES
    # the run as weather-compromised in the JSON line if the box never
    # settles, instead of silently becoming the round's number.
    from tools.weather import wait_for_quiet

    guard = wait_for_quiet()
    quiet_threshold = guard["quiet_threshold"]
    quiet_waited = guard["waited_s"]
    load_before = guard["load1_before"]
    # Train-once IVF index posture annotation (r13, VERDICT r12 #3):
    # ann_ivf_topk's declared semantics is "build the index once, probe
    # it", so its benched seconds pay the build only when the per-corpus
    # /tmp index does not already exist. Sample the state BEFORE the
    # timed loop (the first run creates it) so the recorded number can't
    # be misread as probe-only — or as including a build — without
    # evidence. The probe is a pure stat: the centroid sidecar appears
    # only after the atomic publish, and ivf_index_exists would also run
    # crash recovery, renaming directories before the timed loop.
    try:
        from ecollector_spark.driver_queries.datapipe import _ivf_index_dir

        ivf_prebuilt = os.path.isdir(
            os.path.join(_ivf_index_dir(sf_dir, n_centroids=8, n_iter=2), "centroids")
        )
    except Exception:  # noqa: BLE001 — annotation only, never fail the bench
        ivf_prebuilt = None

    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    # build/exec split (r13, VERDICT r12 #10 — additions-only): the same
    # timed region, with the boundary between DataFrame construction
    # (driver-side Python + py4j + any planning the build itself forces,
    # e.g. lazy localCheckpoints compiling their subtree) and the noop
    # materialization stamped per run. Medians land in BENCH_DETAIL so
    # the next round can attribute wins without re-profiling; the JSON
    # line contract and the per-query total are unchanged.
    build_split: dict[str, dict[str, float]] = {}
    for name in names:
        fn = registry[name]
        runs = []
        builds = []
        execs = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            runs.append(t2 - t0)
            builds.append(t1 - t0)
            execs.append(t2 - t1)
        timings[name] = round(statistics.median(runs), 3)
        spread[name] = [round(min(runs), 3), round(max(runs), 3)]
        build_split[name] = {
            "build": round(statistics.median(builds), 3),
            "exec": round(statistics.median(execs), 3),
        }

    # machine weather (VERDICT r6 #8): cross-round absolute totals on a
    # shared container have repeatedly shifted with ambient load, not
    # code (r5/r6 A/Bs). Record the 1-min load average before and after
    # the timed section so every BENCH_r{N}.json carries its own
    # contention evidence; load >> cores means "bound, don't convict".
    try:
        load_after = round(os.getloadavg()[0], 2)
    except OSError:
        load_after = None
    out = {
        "metric": f"headline query wall time (noop sink), sum of per-query medians of {n_runs} runs",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "load1_before": load_before,
        "load1_after": load_after,
        "weather_guard": {
            "quiet_threshold": quiet_threshold,
            "settle_threshold": guard.get("settle_threshold"),
            "waited_s": quiet_waited,
            "load5_before": guard.get("load5_before"),
            "compromised": guard["compromised"],
        },
    }
    detail = {
        **out,
        "spread": spread,
        "build_exec_split": build_split,
        "ivf_index_prebuilt_at_start": ivf_prebuilt,
        "n_runs": n_runs,
        "sf_dir": sf_dir,
    }
    if os.environ.get("SPARK_GRAFT_SCALE_PROBE", "1") != "0":
        detail["datapipe_scale"] = scale_probe(spark)
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"),
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    # ONE compact line, last on stdout: the driver's tail capture is
    # bounded (~2000 chars; round 3's line overflowed it), so spreads and
    # scale-probe points live in the side file above, never here.
    print(json.dumps(out))


def scale_probe(spark) -> dict:
    """Measured sub-quadraticity: candidate-pair counts of the bucketed
    dedup operators across the real 1x/10x/100x corpus ladder
    (sf0.001/sf0.01/sf0.1), with fitted growth exponents
    (log-count slope vs log-corpus slope; brute-force pairing would be
    2.0). Puts a measured point under SCALE.md's N^2/2^bits and df-cap
    claims instead of a formula only."""
    import math

    from ecollector_spark.datapipe import dedup, similarity
    from ecollector_spark.driver_queries.datapipe import (
        _EMB_DIM,
        _LSH_BITS,
        _LSH_TABLES,
        dedup_corpus,
    )
    from pyspark.sql import functions as F

    base = os.path.dirname(os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1").rstrip("/"))
    ladder = [d for d in ("sf0.001", "sf0.01", "sf0.1") if os.path.isdir(os.path.join(base, d))]
    points: dict[str, dict] = {}
    for sf in ladder:
        sf_dir = os.path.join(base, sf)
        docs = dedup_corpus(spark, sf_dir)
        sh = dedup._doc_shingles(docs, "text", 3, materialize=True)
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        n_vecs = emb.count()
        ebase = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("_v"))
        planes = similarity.hyperplanes(_EMB_DIM, _LSH_BITS, _LSH_TABLES)
        # the documented scale knob: bits grow with log2(n) so expected
        # bucket occupancy n/2^bits (candidates per vector) stays constant
        scaled_bits = max(_LSH_BITS, math.ceil(math.log2(max(n_vecs, 2) / 2)))
        splanes = similarity.hyperplanes(_EMB_DIM, scaled_bits, _LSH_TABLES)
        points[sf] = {
            "n_docs": docs.count(),
            "minhash_lsh_candidates": dedup.minhash_lsh_candidates(sh).count(),
            "jaccard_dfcap_candidates": dedup.jaccard_candidates(sh).count(),
            "n_vecs": n_vecs,
            "embedding_lsh_candidates": similarity.lsh_candidate_pairs(ebase, planes).count(),
            "embedding_lsh_bits": _LSH_BITS,
            "embedding_lsh_candidates_scaled_bits": similarity.lsh_candidate_pairs(
                ebase, splanes
            ).count(),
            "embedding_lsh_scaled_bits": scaled_bits,
        }

    # exponent is fit between the ladder ENDPOINTS (1x and 100x);
    # intermediate points are reported for shape but not in the fit
    exponents: dict[str, float] = {}
    if len(ladder) >= 2:
        lo, hi = points[ladder[0]], points[ladder[-1]]
        for metric, nkey in (
            ("minhash_lsh_candidates", "n_docs"),
            ("jaccard_dfcap_candidates", "n_docs"),
            ("embedding_lsh_candidates", "n_vecs"),
            ("embedding_lsh_candidates_scaled_bits", "n_vecs"),
        ):
            if lo[metric] > 0 and hi[nkey] > lo[nkey]:
                exponents[metric] = round(
                    math.log(hi[metric] / lo[metric]) / math.log(hi[nkey] / lo[nkey]), 3
                )
    return {
        "note": (
            "candidate pairs BEFORE verification; exponent 2.0 = all-pairs. "
            "minhash bands are sub-quadratic as-is; fixed-bits embedding LSH "
            "tracks its documented N^2/2^bits term, and the scaled-bits "
            "column shows the bits~log2(N) knob holding candidates/N flat; "
            "the jaccard df-cap binds only once shingle dfs saturate the "
            "cap (bound: cap x postings = linear)"
        ),
        "points": points,
        "growth_exponent": exponents,
    }


if __name__ == "__main__":
    main()
