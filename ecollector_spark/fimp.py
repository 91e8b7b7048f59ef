"""FIMP topic/address handling (reference fimpgo/address.go:22-31,78-115
and src/utils/utils.go:13-41).

A topic like ``pt:j1/mt:evt/rt:dev/rn:zw/ad:1/sv:sensor_temp/ad:15_0``
carries (payload type, message type, resource type/name/address, service
name, service address). Everything here is expression-only: topic parsing
compiles to `split`/`regexp_extract`, and MQTT wildcard routes compile to
anchored regexes — all JVM-side, codegen'd, pushdown-friendly.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F


def topic_to_address(topic: Column | str) -> Column:
    """Normalize a topic to a registry address: strip the ``pt:j1/mt:evt``
    / ``pt:j1/mt:cmd`` prefix (reference metadata/vinc_store.go:38-39)."""
    c = F.col(topic) if isinstance(topic, str) else topic
    return F.regexp_replace(c, r"^pt:j1/mt:(evt|cmd)", "")


def route_to_regex(route: str) -> str:
    """Compile an MQTT route with ``+``/``#`` wildcards to an anchored
    regex with the same accept-language as the reference's recursive
    matcher (src/utils/utils.go:13-41):

    - ``+`` matches exactly one level (``[^/]*``)
    - ``#`` matches the rest, including nothing ("a/#" accepts "a")
    - otherwise literal segment equality

    The produced pattern uses only portable constructs so the identical
    string runs under Java regex (Spark) and RE2 (DuckDB oracle).
    """
    segs = route.split("/")
    parts: list[str] = []
    for i, s in enumerate(segs):
        if s == "#":
            # '#' swallows the remainder; also allow it to match "nothing"
            # by absorbing the preceding '/'
            prefix = "".join(parts)
            if prefix.endswith("/"):
                prefix = prefix[: -len("/")]
            return "^" + prefix + "(/.*)?$" if parts else "^.*$"
        parts.append("[^/]*" if s == "+" else re.escape(s))
        if i < len(segs) - 1:
            parts.append("/")
    return "^" + "".join(parts) + "$"


def route_includes_topic(route: str, topic: Column | str) -> Column:
    """Column predicate: does ``topic`` match the MQTT ``route``?"""
    c = F.col(topic) if isinstance(topic, str) else topic
    return c.rlike(route_to_regex(route))
