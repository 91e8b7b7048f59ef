"""Registry of driver-checked queries.

Each entry pairs a Spark query builder ``(spark, sf_dir) -> DataFrame``
with (usually) an equivalent DuckDB SQL oracle over the same parquet
tables. The driver runs both at sf0.01 and compares row count, schema and
an order-insensitive value hash — so builders and oracles must agree on
column *names* and produce deterministic values (aggregates over doubles
are rounded or computed in exact decimal on both sides).
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

#: Same-operator variants and redundant TPC-H shapes, kept runnable (pytest,
#: tools/check.py --shelved) but excluded from the driver gate so every
#: *distinct* operator family fits inside the driver's 50-query check budget.
SHELVED_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
SHELVED_ORACLES: dict[str, str] = {}


def register(name: str, oracle: Optional[str] = None, shelved: bool = False):
    def deco(fn):
        q, o = (SHELVED_QUERIES, SHELVED_ORACLES) if shelved else (QUERIES, ORACLES)
        q[name] = fn
        if oracle is not None:
            o[name] = oracle
        return fn

    return deco


#: Gate ordering: one representative per operator family first, so even a
#: truncated check run still touches every family. Names absent from this
#: list keep their registration order after it.
_PRIORITY = [
    # flagship + core time-series planner (S9, F4/F5, A12-A16, A19)
    "ts_group_by_time_mean",
    "fimp_transform_pipeline",
    # dedup family (datapipe; incremental = the cross-batch manifest path;
    # r9: hybrid verify on signal; r9b: SemDeDup in, embedding-cosine shelved)
    "dedup_minhash_lsh",
    "dedup_incremental",
    "dedup_semantic_hier",
    "dedup_span_removal",
    # ANN family (r9: bucket-store probe; r11: the hierarchical probe)
    "ann_ivf_topk",
    "ann_ivf_hier_topk",
    "ann_ivf_pq_topk",
    # text family (r9b: Gopher rules; r11: the composed text-rewrite flow)
    "text_gopher_rules",
    "datapipe_curation_text",
    # multimodal family (r11: progressive JPEG + GIF on signal; real PNG
    # decode runs e2e inside datapipe_warc_response)
    "mm_png_palette",
    "mm_tiff_decode",
    "mm_jpeg_progressive",
    "mm_gif_decode",
    "mm_jpeg_exif_orientation",
    # aggregation / rollup operators (r7: the composed lifecycle flow —
    # ingest -> preagg -> cascade -> tiered query -> TTL — carries A20)
    "preagg_30s_directives",
    "counter_difference_10m",
    "outlier_fence",
    "hour_reattribution",
    "lifecycle_tiered_query",
    "energy_rollup",
    "two_level_group_energy",
    # joins / enrichment
    "enrichment_left_join",
    "asof_join_last_purchase",
    "interval_join_post_purchase",
    # filters / transform / topics / sink routing (A11)
    "filter_engine_chain",
    "routing_branches",
    # fill + agg variants (+r6: parameterized percentile, chunked raw
    # window; r7: per-tag raw derivative)
    "ts_group_by_time_tag_fill_previous",
    "ts_agg_count_fill_zero",
    "ts_filtered_devices_raw",
    # InfluxQL clause closure (r6: plan_tree subquery + INTO write path;
    # r7: selector arithmetic, wall-clock tz bucketing, GROUP BY *)
    "influxql_select_into",
    "influxql_tz_clause",
    "influxql_select_star",
    "influxql_multi_field",
    "influxql_multi_field_agg",
    "influxql_agg_star_fields",
    # sessions / sketches / streaming (r5: the session-window slot moved
    # from the batch shape to the real streaming replay of the same op)
    "sketch_kmv_distinct_users",
    "streaming_preagg_replay",
    "streaming_counter_diff_replay",
    # training-data assembly (r6: the two-level distributed prefix sum;
    # r7: weighted corpus mixing)
    "datapipe_pack_sequences",
    "datapipe_streaming_ingest",
    # SQL surface + grouped top-n
    "raw_sql_query",
    # storage boundary (S3/S4/S7 — sink outputs + replay parse as value gates)
    "sink_parquet_roundtrip",
    "replay_tai64n_load",
    # flagship composed LLM-pipeline flow + crawl ingestion (r11)
    "datapipe_curation",
    "datapipe_warc_ingest",
    "datapipe_warc_response",
    # §2.6 relational surface (q1 + q9 span scan-agg and 5-way join-agg;
    # the other TPC-H shapes are shelved, still checked via --shelved)
    "tpch_q1_pricing_summary",
]


def _reorder() -> None:
    ordered = {n: QUERIES[n] for n in _PRIORITY if n in QUERIES}
    for n, fn in QUERIES.items():
        ordered.setdefault(n, fn)
    QUERIES.clear()
    QUERIES.update(ordered)
    o_ordered = {n: ORACLES[n] for n in ordered if n in ORACLES}
    ORACLES.clear()
    ORACLES.update(o_ordered)


def load_all() -> None:
    """Import all query modules (idempotent)."""
    from ecollector_spark.driver_queries import (  # noqa: F401
        asof_q,
        cascade,
        core,
        influx_funcs,
        planner_extra,
        sessionize,
        sinks_q,
        sketches_q,
        streaming_q,
        transform_q,
    )

    try:
        from ecollector_spark.driver_queries import tpch  # noqa: F401
    except ImportError:
        pass
    try:
        from ecollector_spark.driver_queries import datapipe  # noqa: F401
        from ecollector_spark.driver_queries import packing_q  # noqa: F401
    except ImportError:
        pass
    _reorder()
