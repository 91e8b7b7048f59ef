"""Metadata enrichment (reference J1/T2/T3).

The reference looks up each event's topic in a device registry cache
(metadata/vinc_store.go:34-61, file_store.go:41-46) to attach dev_id /
location_id / dev_type; missing metadata is tolerated (process.go:141-145
logs and continues) — i.e. a *left outer* join.

Spark form: a broadcast left join against the (tiny) device dimension.
Broadcast is explicit — at 100 TB the fact side must never shuffle for a
lookup join; the dimension (thousands of devices) ships to every executor
once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ecollector_spark.fimp import topic_to_address


def enrich_with_metadata(
    events: DataFrame,
    metadata: DataFrame,
    topic_col: str = "topic",
) -> DataFrame:
    """Left-join device metadata on the normalized topic address.

    Only ``rt:dev`` topics carry device metadata (SURVEY §2.3 T3); others
    keep null dev columns, matching the reference's tolerant lookup.
    Output adds dev_id / location_id / dev_type as *strings* (tags).
    """
    dim = F.broadcast(
        metadata.select(
            F.col("address").alias("_addr"),
            F.col("device_id").cast("string").alias("dev_id"),
            F.col("location_id").cast("string").alias("location_id"),
            F.col("device_type").alias("dev_type"),
        )
    )
    ev = events.withColumn("_addr", topic_to_address(topic_col))
    return ev.join(dim, on="_addr", how="left").drop("_addr")
