"""InfluxQL compatibility shim for ``cmd.tsdb.query`` strings.

The reference forwards raw InfluxQL to InfluxDB (src/api/admin.go:156-177;
docs/api:181-248 shows the documented query shapes). This engine's native
raw-query surface is Spark SQL, but a migrating user's saved queries
follow a small documented grammar:

    SELECT sel [AS "alias"] [, sel ...] FROM [["db".]"rp".]"measurement" | /regex/
      [WHERE time > now()-10m [AND time < now()-1m]
             [AND "tag"='v' | "tag"!='v'
              | "tag"=~/re/ | "tag"!~/re/ ...]]
      [GROUP BY time(30m)[, "tag"] | "tag"]
      [FILL(null|previous|0|none|linear)]
      [ORDER BY time [ASC|DESC]] [LIMIT n] [OFFSET n]
      [SLIMIT n] [SOFFSET n]

    where ``sel`` is any selector the reference itself generates
    (influxdb_v1.go:159-188): a bare field (``"value"`` — raw points),
    an aggregate (``mean("value")``), or a transform-wrapped aggregate
    (``difference(max("value"))`` — the A15 f(g(x)) surface); plus the
    public-docs extensions — parameterized aggregates
    (``percentile("value", 95)``, ``integral("value", 1h)``,
    ``count(distinct("value"))``), the window-transform family
    (``derivative``/``moving_average``/``cumulative_sum``/...), and a
    multi-selector list (``mean(v) AS a, max(v), count(v)`` — all
    single-stage aggregates, computed by ONE groupBy via
    ``QueryPlanner.plan_multi``, FILL(none) only), and — r9 — a
    multi-FIELD raw select over dir-mangled names
    (``SELECT "e_import", "e_export"`` — the reference's own multi-field
    write shape, transform.go:115-184 — re-assembled from the
    dir/measurement twin rows by ``QueryPlanner.plan_fields``).

``parse_influxql`` compiles that into a :class:`DataPointsRequest`, so the
docs/README examples run verbatim through ``EcollectorApi.run_query`` on
the structured planner path (predicate pushdown, tier choice, gap fill —
not a string rewrite). Anything outside the recognized grammar raises
:class:`InfluxQLParseError`, and ``run_query`` falls back to Spark SQL.

Beyond the shapes the reference generates itself, the hand-written
surface from InfluxDB's public docs is accepted too (a drop-in user's
ad-hoc queries): ``ORDER BY time DESC``, ``LIMIT``/``OFFSET`` (InfluxQL
semantics: per-series when the query groups by a tag),
``SLIMIT``/``SOFFSET`` (series paging), negated/regex tag predicates
(``!=``, ``=~ /re/``, ``!~ /re/`` — regexes run as Java regex via
``rlike``, a superset of InfluxDB's RE2 for the patterns users write),
and regex-measurement ``FROM /re/`` (expanded against the catalog by
``run_query`` — one result series per matching measurement).

Write-path statements: ``SELECT ... INTO "target"`` (the one-off twin
of the CQ template — the planned result is written into the target
measurement, null fill buckets skipped, reported as InfluxDB's
``(time, written)`` row) and the CQ DDL pair the reference's
AddCQ/DeleteCQ generate (see :func:`parse_cq_ddl`).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from dataclasses import replace as _dc_replace

from ecollector_spark import tiers
from ecollector_spark.query import DataPointsFilter, DataPointsRequest, Selector

from ecollector_spark.query import _SCALAR_TRANSFORMS, _WINDOW_TRANSFORMS

#: documented aggregate functions: the reference's generated selector
#: surface (influxdb_v1.go:159-188) plus the hand-written public-docs set
#: (stddev/spread/mode/percentile/integral; count(distinct(..)) parses to
#: count_distinct)
_FUNCS = {
    "mean", "sum", "min", "max", "count", "median", "last", "first",
    "difference", "stddev", "spread", "mode", "percentile", "integral",
    "distinct", "top", "bottom",
}
#: cardinality-changing selectors: single-select only, no transform wrap
_CARDINALITY = {"distinct", "top", "bottom"}
#: transform wraps the planner's A15 surface accepts: the scalar math
#: family (abs/ceil/floor/round/sqrt/exp/ln/log2/log10/trig — public
#: InfluxQL transformation functions, r6) + the window family
_TRANSFORMS = set(_SCALAR_TRANSFORMS) | _WINDOW_TRANSFORMS

#: function parameters: a bare number (percentile N, moving_average N)
#: or an InfluxQL duration (derivative/integral/elapsed unit)
_DURATION_PARAM_RE = re.compile(r"^\d+[smhdw]$")
_NUMBER_PARAM_RE = re.compile(r"^\d+(\.\d+)?$")

#: one select-list entry; the statement regex captures the whole list
#: and parse_influxql splits it on top-level commas
_SEL_RE = re.compile(
    r"""^\s*
    (?:
        (?P<cd>count)\(\s*distinct\(\s*"?(?P<fieldcd>[\w.]+)"?\s*\)\s*\)
      | (?P<tf>\w+)\(\s*(?P<fn2>\w+)\(\s*"?(?P<field2>[\w.]+)"?\s*\)\s*(?:,\s*(?P<tfparam>[\w.]+)\s*)?\)
      | (?P<fn>\w+)\(\s*"?(?P<field>[\w.]+)"?\s*(?:,\s*(?P<fnparam>[\w.]+)\s*)?\)
      | "?(?P<rawfield>[\w.]+)"?
    )
    (?:\s+AS\s+"?(?P<alias>[\w.]+)"?)?
    \s*$""",
    re.IGNORECASE | re.VERBOSE,
)

_STMT_RE = re.compile(
    r"""^\s*SELECT\s+(?P<sel>.+?)
    (?:\s+INTO\s+(?P<into>"[^"]+"(?:\."[^"]+"){0,2}|[\w.]+))?
    \s+FROM\s+(?P<from>/(?:[^/\\]|\\.)+/
        |(?:"[^"]+"(?:\."[^"]+"){0,2}|[\w.]+)
         (?:\s*,\s*(?:"[^"]+"(?:\."[^"]+"){0,2}|[\w.]+))*)
    (?:\s+WHERE\s+(?P<where>.*?))?
    (?:\s+GROUP\s+BY\s+(?P<group>.*?))?
    (?:\s+FILL\(\s*(?P<fill>\w+)\s*\))?
    (?:\s+ORDER\s+BY\s+(?P<order>[^;]*?))?
    (?:\s+LIMIT\s+(?P<limit>\d+))?
    (?:\s+OFFSET\s+(?P<offset>\d+))?
    (?:\s+SLIMIT\s+(?P<slimit>\d+))?
    (?:\s+SOFFSET\s+(?P<soffset>\d+))?
    (?:\s+TZ\(\s*'(?P<tz>[^']+)'\s*\))?
    \s*;?\s*$""",
    re.IGNORECASE | re.VERBOSE | re.DOTALL,
)

_ORDER_RE = re.compile(r'^"?time"?(?:\s+(?P<dir>ASC|DESC))?$', re.IGNORECASE)

#: dir-mangled field names (mapping.go:48-61): e_import, p_export, ...
_MULTI_FIELD_RE = re.compile(r"^[\w.]+_(import|export)$", re.IGNORECASE)

_TIME_RE = re.compile(r"^time\s*(?P<op>>=|<=|>|<)\s*(?P<rhs>.+)$", re.IGNORECASE)
_NOW_RE = re.compile(r"^now\(\)\s*-\s*(?P<dur>\w+)$", re.IGNORECASE)
_TAG_RE = re.compile(
    r"""^"?(?P<key>[\w.]+)"?\s*(?P<op>!=|<>|=)\s*'(?P<val>[^']*)'$"""
)
_TAG_REGEX_RE = re.compile(
    r"""^"?(?P<key>[\w.]+)"?\s*(?P<op>=~|!~)\s*/(?P<val>(?:[^/\\]|\\.)+)/$"""
)
#: numeric field comparison: WHERE "value" > 50 (public InfluxDB docs —
#: field predicates are unquoted numbers, tag values are quoted strings)
_FIELD_CMP_RE = re.compile(
    r"""^"?(?P<key>[\w.]+)"?\s*(?P<op>>=|<=|!=|<>|>|<|=)\s*
    (?P<num>-?\d+(\.\d+)?)\s*$""",
    re.VERBOSE,
)
_GROUP_TIME_RE = re.compile(
    r"^time\(\s*(?P<dur>\w+)\s*(?:,\s*(?P<off>-?\w+)\s*)?\)$", re.IGNORECASE
)


class InfluxQLParseError(ValueError):
    """The string is not one of the supported InfluxQL shapes."""


_EPOCH_RE = re.compile(r"^(?P<n>\d{6,19})(?P<unit>ns|u|µ|ms|s)?$")
_EPOCH_DIV = {"ns": 10**9, "u": 10**6, "µ": 10**6, "ms": 10**3, "s": 1}


def _time_literal_to_rfc3339(lit: str) -> str:
    """Absolute time literals: RFC3339 strings pass through; InfluxQL's
    epoch forms — a bare integer (nanoseconds, the InfluxQL default
    precision) or an integer with an s/ms/u/ns suffix — convert to the
    RFC3339 string the request struct carries. Sub-second remainders are
    floored (the planner's row predicate is epoch-second anyway)."""
    from datetime import datetime, timezone

    m = _EPOCH_RE.match(lit)
    if not m:
        return lit  # RFC3339 (or invalid: the planner's parser reports it)
    unit = m.group("unit") or "ns"
    secs = int(m.group("n")) // _EPOCH_DIV[unit]
    try:
        return (
            datetime.fromtimestamp(secs, tz=timezone.utc)
            .strftime("%Y-%m-%dT%H:%M:%SZ")
        )
    except (ValueError, OverflowError, OSError) as e:
        # e.g. 17+ digits with an 's' suffix: year out of range. Raise
        # the parse error the callers' error envelopes expect, never a
        # bare ValueError escaping run_query's contract.
        raise InfluxQLParseError(f"time literal out of range: {lit!r}") from e


_SHOW_RE = re.compile(
    r"""^\s*SHOW\s+
    (?P<what>MEASUREMENTS|RETENTION\s+POLICIES|DATABASES|CONTINUOUS\s+QUERIES)
    (?:\s+ON\s+"?[\w.]+"?)?          # optional ON <database> (dropped:
                                     # there is exactly one warehouse)
    \s*;?\s*$""",
    re.IGNORECASE | re.VERBOSE,
)


_SHOW_META_RE = re.compile(
    r"""^\s*SHOW\s+(?P<what>TAG\s+KEYS|TAG\s+VALUES|FIELD\s+KEYS
                  |SERIES\s+CARDINALITY|SERIES)
    (?:\s+ON\s+"?[\w.]+"?)?               # optional ON <database>
    (?:\s+FROM\s+(?P<from>"[^"]+"|[\w.]+))?
    (?:\s+WITH\s+KEY\s*(?:=\s*"?(?P<key>[\w.]+)"?
        |\s+IN\s*\(\s*(?P<keys>[^)]*)\)))?
    \s*;?\s*$""",
    re.IGNORECASE | re.VERBOSE,
)


def parse_show_meta(query: str) -> dict | None:
    """The schema-exploration SHOW statements a dashboarding client
    (Grafana-style) issues against an InfluxDB-compatible endpoint —
    beyond the three the reference itself sends
    (influxdb_v1.go:376-413): ``SHOW TAG KEYS [FROM m]``,
    ``SHOW TAG VALUES [FROM m] WITH KEY = "k" | WITH KEY IN ("a","b")``
    and ``SHOW FIELD KEYS [FROM m]``. Returns
    ``{"what", "measurement", "keys"}`` or None when the string is not
    one of these; raises :class:`InfluxQLParseError` for a TAG VALUES
    without its mandatory WITH KEY."""
    m = _SHOW_META_RE.match(query)
    if not m:
        return None
    what = re.sub(r"\s+", "_", m.group("what").lower())
    meas = m.group("from")
    meas = meas.strip('"') if meas else None
    keys = None
    if m.group("key"):
        keys = [m.group("key")]
    elif m.group("keys") is not None:
        keys = [
            k.strip().strip('"').strip("'")
            for k in m.group("keys").split(",")
            if k.strip()
        ]
    if what == "tag_values" and not keys:
        raise InfluxQLParseError("SHOW TAG VALUES requires WITH KEY = ... or WITH KEY IN (...)")
    return {"what": what, "measurement": meas, "keys": keys}


def parse_show_statement(query: str) -> str | None:
    """Route the InfluxQL catalog statements the reference issues as
    query strings (storage/influxdb_v1.go:376-413 sends
    ``SHOW MEASUREMENTS`` / ``SHOW RETENTION POLICIES`` through the same
    query client, at ms precision — precision only affects time columns,
    which these results don't have). Returns ``"measurements"`` /
    ``"retention_policies"`` / ``"databases"``, or None when the string
    is not a SHOW statement."""
    m = _SHOW_RE.match(query)
    if not m:
        return None
    return re.sub(r"\s+", "_", m.group("what").lower())


_CQ_CREATE_RE = re.compile(
    r"""^\s*CREATE\s+CONTINUOUS\s+QUERY\s+"?(?P<name>[\w.-]+)"?
    \s+ON\s+"?(?P<db>[\w.-]+)"?\s+
    BEGIN\s+
    SELECT\s+mean\(\*\)\s+
    INTO\s+(?:"?(?P<into_db>[\w.-]+)"?\.)?"?(?P<target_rp>[\w.-]+)"?\.:MEASUREMENT\s+
    FROM\s+(?:"?(?P<from_db>[\w.-]+)"?\.)?"?(?P<src_rp>[\w.-]+)"?\./\.\*/\s+
    GROUP\s+BY\s+time\((?P<interval>\d+[a-zµ]+)\)\s*,\s*\*\s+
    END\s*;?\s*$""",
    re.IGNORECASE | re.VERBOSE | re.DOTALL,
)

_CQ_DROP_RE = re.compile(
    r"""^\s*DROP\s+CONTINUOUS\s+QUERY\s+"?(?P<name>[\w.-]+)"?
    \s+ON\s+"?(?P<db>[\w.-]+)"?\s*;?\s*$""",
    re.IGNORECASE | re.VERBOSE,
)

_CQ_HEAD_RE = re.compile(
    r"^\s*(CREATE|DROP)\s+CONTINUOUS\s+QUERY\b", re.IGNORECASE
)


def parse_cq_ddl(query: str) -> dict | None:
    """The continuous-query DDL strings the reference generates
    (storage/influxdb_v1.go:333-348 ``AddCQ`` emits
    ``CREATE CONTINUOUS QUERY "name" ON "db" BEGIN SELECT mean(*) INTO
    "db"."target_rp".:MEASUREMENT FROM "db"."src_rp"./.*/ GROUP BY
    time(X),* END``; :350-361 ``DeleteCQ`` emits
    ``DROP CONTINUOUS QUERY name ON db``). Returns
    ``{"kind": "create", "name", "src_rp", "target_rp", "interval"}`` or
    ``{"kind": "drop", "name"}``; None when the string is not CQ DDL.

    Only the reference's own mean(*)-per-tag-set template body is
    accepted for CREATE — that is exactly what the downsampling cascade
    implements (``downsample.downsample_step``). A CREATE with any other
    body starts with the CQ DDL head but can't be mapped onto the
    cascade, so it raises :class:`InfluxQLParseError` instead of
    silently falling through to the Spark SQL path."""
    m = _CQ_CREATE_RE.match(query)
    if m:
        from ecollector_spark.functions.timeutil import parse_relative_duration

        interval = m.group("interval")
        if parse_relative_duration(interval) <= 0:
            raise InfluxQLParseError(
                f"unsupported CQ interval {interval!r}: expected the "
                "reference's h/d/m/w units (mapping.go:106-122)"
            )
        return {
            "kind": "create",
            "name": m.group("name"),
            "src_rp": m.group("src_rp"),
            "target_rp": m.group("target_rp"),
            "interval": interval,
        }
    m = _CQ_DROP_RE.match(query)
    if m:
        return {"kind": "drop", "name": m.group("name")}
    if _CQ_HEAD_RE.match(query):
        raise InfluxQLParseError(
            "unsupported CONTINUOUS QUERY statement: only the reference's "
            'mean(*) INTO "rp".:MEASUREMENT template (influxdb_v1.go:335-338) '
            "maps onto the downsampling cascade"
        )
    return None


_DELETE_RE = re.compile(
    r"""^\s*DELETE
    (?:\s+FROM\s+(?P<from>"[^"]+"|[\w.]+))?
    (?:\s+WHERE\s+(?P<where>.+?))?
    \s*;?\s*$""",
    re.IGNORECASE | re.VERBOSE | re.DOTALL,
)

_DROP_SERIES_RE = re.compile(
    r"""^\s*DROP\s+SERIES\s+FROM\s+(?P<from>"[^"]+"|[\w.]+)\s*;?\s*$""",
    re.IGNORECASE | re.VERBOSE,
)


def parse_delete(query: str) -> dict | None:
    """InfluxQL's data-deletion statements (public docs):
    ``DELETE FROM "m" [WHERE time <op> <t> [AND time <op> <t>]]``,
    ``DELETE WHERE time < t`` (every measurement) and
    ``DROP SERIES FROM "m"`` (all of a measurement's points, keeping
    the measurement name droppable separately). Returns
    ``{"measurement": str|None, "from": bound|None, "to": bound|None}``
    where a bound is ``("abs", rfc3339, op)`` or ``("rel", seconds,
    op)`` (``now()-dur``); None when the string is not a delete
    statement.
    ``from`` is inclusive and ``to`` exclusive after the api layer
    resolves epochs (``<=``/``>`` shift by one second — the engine's
    wire precision). Tag EQUALITY predicates (``"dev_id" = '7'`` /
    ``!=``, public InfluxQL DELETE surface, r9 second session) are
    returned under ``"tags"`` as ``(key, op, value)`` triples — the
    warehouse restricts the rewrite to matching rows; regex and field
    predicates raise, rather than silently deleting more than asked."""
    m = _DROP_SERIES_RE.match(query)
    if m:
        return {
            "measurement": m.group("from").strip('"'),
            "from": None,
            "to": None,
            "tags": [],
        }
    m = _DELETE_RE.match(query)
    if not m or (m.group("from") is None and m.group("where") is None):
        return None
    out: dict = {
        "measurement": m.group("from").strip('"') if m.group("from") else None,
        "from": None,
        "to": None,
        "tags": [],
    }
    for cond in re.split(r"\s+AND\s+", m.group("where") or "", flags=re.IGNORECASE):
        cond = cond.strip()
        if not cond:
            continue
        tm = _TIME_RE.match(cond)
        if not tm:
            tg = _TAG_RE.match(cond)
            if tg:
                from ecollector_spark.schema import DATAPOINT_TAG_COLUMNS

                key = tg.group("key")
                if key not in DATAPOINT_TAG_COLUMNS:
                    raise InfluxQLParseError(
                        f"DELETE tag predicate on unknown tag {key!r} "
                        f"(known: {', '.join(DATAPOINT_TAG_COLUMNS)})"
                    )
                op = "!=" if tg.group("op") in ("!=", "<>") else "="
                out["tags"].append((key, op, tg.group("val")))
                continue
            raise InfluxQLParseError(
                f"DELETE supports time and tag-equality predicates only: {cond!r}"
            )
        rhs, op = tm.group("rhs").strip().strip("'"), tm.group("op")
        if re.fullmatch(r"now\(\)", rhs, re.IGNORECASE):
            bound = ("rel", 0, op)
        else:
            now_m = _NOW_RE.match(rhs)
            if now_m:
                from ecollector_spark.functions.timeutil import parse_relative_duration

                secs = parse_relative_duration(now_m.group("dur"))
                if secs <= 0:
                    raise InfluxQLParseError(f"bad duration: {now_m.group('dur')!r}")
                bound = ("rel", secs, op)
            else:
                bound = ("abs", _time_literal_to_rfc3339(rhs), op)
        side = "from" if op in (">", ">=") else "to"
        if out[side] is not None:
            # two bounds in the same direction: the conjunction selects
            # the INTERSECTION, but rel-vs-abs bounds can't be compared
            # until `now` is known — refuse rather than risk deleting
            # more than the WHERE clause selects
            raise InfluxQLParseError(
                f"duplicate {'lower' if side == 'from' else 'upper'} time "
                f"bound in DELETE: {cond!r}"
            )
        out[side] = bound
    return out


@dataclass
class InfluxQLQuery:
    request: DataPointsRequest
    measurement: str
    retention_policy: str | None  # advisory: the planner re-derives the tier
    alias: str | None
    #: FROM /re/ — pattern to expand against the measurement catalog
    #: (``measurement`` holds the raw pattern text); None for plain FROM
    measurement_regex: str | None = None
    #: ORDER BY time DESC (InfluxQL only orders by time)
    order_desc: bool = False
    #: LIMIT / OFFSET — per series when group_by_tag is set (InfluxQL
    #: applies them per GROUP BY group), plain row bounds otherwise
    limit: int | None = None
    offset: int | None = None
    #: SLIMIT / SOFFSET — bound the number of SERIES returned (tag
    #: values, in tag order), InfluxDB's series-paging pair; only
    #: meaningful with a tag group
    slimit: int | None = None
    soffset: int | None = None
    #: multi-selector query (SELECT mean(v), max(v), ...): the full
    #: select list for QueryPlanner.plan_multi; None for the
    #: reference-parity single-selector shape (request carries it)
    selectors: list[Selector] | None = None
    #: ``FROM (SELECT ...)``: the parsed inner statement; the outer plan
    #: reads the inner's result as its source (see :func:`plan_tree`)
    subquery: "InfluxQLQuery | None" = None
    #: the outer statement had no WHERE time of its own and inherited the
    #: inner's range — plan_tree aligns the inherited lower bound down to
    #: the inner bucket grid so the first bucket stamp is not dropped
    inherited_range: bool = False
    #: ``SELECT ... INTO "target"`` (public InfluxQL — the one-off twin
    #: of the CQ template): write the result into this measurement
    #: instead of returning rows; ``into_rp`` pins the target retention
    #: policy (tier), else the warehouse routes by measurement name
    into_measurement: str | None = None
    into_rp: str | None = None
    #: ``FROM "a", "b"`` (public InfluxQL measurement lists): every
    #: listed measurement, planned one statement each like regex FROM —
    #: one result series per measurement; None for a single FROM
    measurement_list: "list[str] | None" = None
    #: multi-FIELD raw select (r9: ``SELECT "e_import", "e_export" FROM
    #: "electricity_meter_energy"`` — the reference's own multi-field
    #: write shape): [(field, output column)] answered from the
    #: dir/measurement twin rows by ``QueryPlanner.plan_fields``; None
    #: for every other shape
    multi_fields: "list[tuple[str, str]] | None" = None
    #: selector arithmetic (public InfluxQL: ``SELECT mean("value") * 2``,
    #: ``max("value") - min("value")``, ``"value" * 1000``): expression
    #: AST over the select value — ``("num", x)``, ``("sel", i)`` (the
    #: i-th planned column: the single request's value, or selectors[i]
    #: when two or more distinct aggregates combine), or
    #: ``("op", "+|-|*|/", lhs, rhs)``. None = plain select.
    value_arith: tuple | None = None
    #: FIELD arithmetic over dir-mangled names (r9 late:
    #: ``SELECT "e_import" + "e_export"`` — InfluxDB's per-point binary
    #: expression across fields of one multi-field point): the leaf
    #: field name for each ``("sel", i)`` node of ``value_arith``, in
    #: leaf order; ``multi_fields`` carries the deduped (field, column)
    #: pivot list for plan_fields and the expression combines the
    #: pivoted columns per point. None for every other arith shape.
    arith_fields: "list[str] | None" = None
    #: ``SELECT *`` (r9 second session): raw points with every tag
    #: column plus the value — QueryPlanner.plan_star; raw shape only
    select_star: bool = False
    #: ``SELECT *::field`` (r10): the star narrowed to field columns —
    #: time + value only, no tag columns
    star_fields: bool = False
    #: ``<fn>(*)`` (r10; r11 extends to multi-field measurements): the
    #: (function, output-name base) pair when the select list was a
    #: wildcard aggregate. On the canonical one-field schema the parse
    #: already rewrote it to ``fn("value") AS <base>_value`` and this
    #: is advisory; on a measurement in
    #: ``query.MANGLED_MEASUREMENT_FIELDS`` :func:`plan_tree` expands it
    #: to one aggregate per mangled field (``<base>_e_import``, ...)
    #: through plan_multi — InfluxDB's per-field wildcard expansion.
    star_aggregate: "tuple[str, str] | None" = None


def _split_from_list(frm: str) -> list[str]:
    """Split a FROM clause on commas OUTSIDE double-quoted identifiers:
    ``"a", "b"`` -> two entries; ``"a,b"`` (a measurement whose name
    contains a comma — accepted by the single-FROM grammar) -> one.
    A comma is a separator iff an even number of ``"`` follows it."""
    return re.split(r',(?=(?:[^"]*"[^"]*")*[^"]*$)', frm)


def _parse_from(frm: str) -> tuple[str | None, str]:
    """'["db".]["rp".]"measurement"' | unquoted equivalents. The 3-part
    form is what the reference's energy query emits
    (influxdb_v1.go:233 — '"historian"."gen_year"."..."'); the database
    part is dropped (there is exactly one warehouse)."""
    m = re.fullmatch(r'"([^"]+)"\."([^"]+)"\."([^"]+)"', frm)
    if m:
        return m.group(2), m.group(3)
    m = re.fullmatch(r'"([^"]+)"\."([^"]+)"', frm)
    if m:
        return m.group(1), m.group(2)
    m = re.fullmatch(r'"([^"]+)"', frm)
    if m:
        return None, m.group(1)
    # unquoted: split off a leading known-tier prefix, else whole string
    # is the measurement (measurements themselves contain dots)
    head, _, rest = frm.partition(".")
    if rest and head in tiers.TIERS:
        return head, rest
    return None, frm


#: placeholder measurement for the outer statement of FROM (subquery)
_SUBQ_TOKEN = "sub.query"


def _extract_subquery(query: str) -> tuple[str, str | None]:
    """``FROM ( SELECT ... )``: split off the parenthesized inner query
    (matching-paren scan — the inner statement contains function parens)
    and substitute a placeholder measurement so the outer statement
    parses through the normal grammar."""
    m = re.search(r"\sFROM\s+\(", query, re.IGNORECASE)
    if not m:
        return query, None
    start = query.index("(", m.end() - 1)
    depth = 0
    end = -1
    for i in range(start, len(query)):
        if query[i] == "(":
            depth += 1
        elif query[i] == ")":
            depth -= 1
            if depth == 0:
                end = i
                break
    if end < 0:
        raise InfluxQLParseError("unbalanced parens in FROM (subquery)")
    inner = query[start + 1 : end].strip()
    outer = query[:start] + f'"{_SUBQ_TOKEN}"' + query[end + 1 :]
    return outer, inner


def _parse_selector(sm: "re.Match") -> tuple[str, str, str, str, str, str]:
    """One select-list entry -> (fn, fn_param, tf, tf_param, field,
    alias), with parameter validation."""
    tf = (sm.group("tf") or "").lower()
    fn_param = tf_param = ""
    alias = sm.group("alias") or ""
    if sm.group("cd"):  # count(distinct("field"))
        fn, fld = "count_distinct", sm.group("fieldcd")
    elif tf:  # transform-wrapped aggregate: tf(fn("field")[, param])
        fn, fld = sm.group("fn2").lower(), sm.group("field2")
        tf_param = sm.group("tfparam") or ""
        if tf not in _TRANSFORMS:
            raise InfluxQLParseError(f"unsupported transform: {tf}")
        if tf == "moving_average":
            if not re.fullmatch(r"\d+", tf_param) or int(tf_param) < 2:
                raise InfluxQLParseError(
                    f"moving_average needs an integer window >= 2: {tf_param!r}"
                )
        elif tf in ("derivative", "non_negative_derivative", "elapsed"):
            if tf_param and not _DURATION_PARAM_RE.match(tf_param):
                raise InfluxQLParseError(f"bad {tf} unit: {tf_param!r}")
        elif tf_param:
            raise InfluxQLParseError(f"{tf} takes no parameter: {tf_param!r}")
    elif sm.group("fn") and sm.group("fn").lower() in _TRANSFORMS - _FUNCS:
        # raw-series transform: tf("value"[, param]) with no aggregate —
        # derivative/elapsed/cumulative_sum/... over raw points (the
        # planner's chunk-partitioned window path). ``difference`` stays
        # on the data_function route (it is in both sets).
        fn, tf = "", sm.group("fn").lower()
        fld = sm.group("field")
        tf_param = sm.group("fnparam") or ""
        if fld.lower() != "value":
            raise InfluxQLParseError(f"not a raw-field selector: {fld!r}")
        if tf == "moving_average":
            raise InfluxQLParseError(
                "moving_average needs an aggregate: moving_average(mean(\"value\"), N)"
            )
        if tf in ("derivative", "non_negative_derivative", "elapsed"):
            if tf_param and not _DURATION_PARAM_RE.match(tf_param):
                raise InfluxQLParseError(f"bad {tf} unit: {tf_param!r}")
        elif tf_param:
            raise InfluxQLParseError(f"{tf} takes no parameter: {tf_param!r}")
        return fn, "", tf, tf_param, fld, alias
    elif sm.group("fn"):
        fn, fld = sm.group("fn").lower(), sm.group("field")
        fn_param = sm.group("fnparam") or ""
    else:  # bare field -> raw points (influxdb_v1.go:163,180)
        fn, fld = "", sm.group("rawfield")
        # SELECT is statement-shaped but bare-SELECT of a non-"value"
        # word is far more likely Spark SQL: only accept known fields —
        # "value" (the canonical single field) or a dir-mangled
        # multi-field name (<name>_import/_export — the reference's own
        # multi-field write shape, transform.go:115-184, answered from
        # the dir twin rows by QueryPlanner.plan_fields since r9)
        if fld.lower() not in ("value",) and not _MULTI_FIELD_RE.match(fld):
            raise InfluxQLParseError(f"not a raw-field selector: {fld!r}")
    if fn and fn not in _FUNCS and fn != "count_distinct":
        raise InfluxQLParseError(f"unsupported function: {fn}")
    if fn == "percentile":
        if not _NUMBER_PARAM_RE.match(fn_param) or not (0 < float(fn_param) <= 100):
            raise InfluxQLParseError(f"percentile needs N in (0, 100]: {fn_param!r}")
    elif fn == "integral":
        if fn_param and not _DURATION_PARAM_RE.match(fn_param):
            raise InfluxQLParseError(f"bad integral unit: {fn_param!r}")
    elif fn in ("top", "bottom"):
        if not re.fullmatch(r"\d+", fn_param) or int(fn_param) < 1:
            raise InfluxQLParseError(f"{fn} needs an integer N >= 1: {fn_param!r}")
    elif fn_param:
        raise InfluxQLParseError(f"{fn} takes no parameter: {fn_param!r}")
    if tf and fn in _CARDINALITY:
        raise InfluxQLParseError(
            f"{fn} emits multiple rows per bucket; transform wraps do not apply"
        )
    return fn, fn_param, tf, tf_param, fld, alias


#: one arithmetic token: a number, an operator/paren, or a selector atom
#: (function call with one nesting level — difference(max("v")),
#: percentile("v", 95) — or a quoted/bare field word)
_ARITH_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<num>\d+(?:\.\d+)?)
      | (?P<op>[+\-*/()])
      | (?P<atom>\w+\(\s*(?:[^()]|\([^()]*\))*\)|"[\w.]+"|[\w.]+)
    )""",
    re.VERBOSE,
)

_ARITH_ALIAS_RE = re.compile(r'\s+AS\s+"?(?P<alias>[\w.]+)"?\s*$', re.IGNORECASE)


def _parse_arith(piece: str):
    """Selector arithmetic (public InfluxQL binary expressions — the
    reference's own kW→W habit, ``mean("value") * 1000``): parse one
    select entry into ``(ast, leaves, alias)`` where ``leaves`` is the
    list of :func:`_parse_selector` results referenced by ``("sel", i)``
    nodes. Grammar: ``expr := term ((+|-) term)*; term := factor
    ((*|/) factor)*; factor := NUMBER | SELECTOR | - factor | (expr)``.
    Returns None when the piece contains no operator (not an arithmetic
    expression — let the plain selector error stand)."""
    am = _ARITH_ALIAS_RE.search(piece)
    alias = am.group("alias") if am else ""
    body = piece[: am.start()] if am else piece
    tokens: list[tuple[str, object]] = []
    pos = 0
    while pos < len(body):
        m = _ARITH_TOKEN_RE.match(body, pos)
        if not m or m.end() == pos:
            if body[pos:].strip():
                return None  # unrecognized char — not arithmetic
            break
        if m.group("num") is not None:
            tokens.append(("num", float(m.group("num"))))
        elif m.group("op") is not None:
            tokens.append(("op", m.group("op")))
        else:
            tokens.append(("atom", m.group("atom")))
        pos = m.end()
    if not any(t == ("op", o) for t in tokens for o in "+-*/"):
        return None
    leaves: list[tuple] = []

    def _leaf(atom: str) -> tuple:
        sm = _SEL_RE.match(atom)
        if not sm:
            raise InfluxQLParseError(f"unrecognized selector in expression: {atom!r}")
        leaves.append(_parse_selector(sm))
        return ("sel", len(leaves) - 1)

    idx = 0

    def _peek():
        return tokens[idx] if idx < len(tokens) else (None, None)

    def _factor():
        nonlocal idx
        kind, val = _peek()
        if kind == "op" and val == "-":
            idx += 1
            return ("op", "-", ("num", 0.0), _factor())
        if kind == "op" and val == "(":
            idx += 1
            node = _expr()
            k2, v2 = _peek()
            if not (k2 == "op" and v2 == ")"):
                raise InfluxQLParseError(f"unbalanced parens in expression: {piece!r}")
            idx += 1
            return node
        if kind == "num":
            idx += 1
            return ("num", val)
        if kind == "atom":
            idx += 1
            return _leaf(val)
        raise InfluxQLParseError(f"bad arithmetic expression: {piece!r}")

    def _binary(sub, ops):
        nonlocal idx
        node = sub()
        while True:
            kind, val = _peek()
            if kind == "op" and val in ops:
                idx += 1
                node = ("op", val, node, sub())
            else:
                return node

    def _expr():
        return _binary(lambda: _binary(_factor, "*/"), "+-")

    ast = _expr()
    if idx != len(tokens):
        raise InfluxQLParseError(f"trailing tokens in expression: {piece!r}")
    if not leaves:
        raise InfluxQLParseError(f"expression has no field selector: {piece!r}")
    return ast, leaves, alias


def arith_column(ast: tuple, leaf_cols):
    """AST -> Spark Column over the planned leaf columns (list indexed
    by the ``("sel", i)`` nodes). Division is ``try_divide``: a zero
    divisor yields null, like InfluxDB's null result rows, under ANSI
    mode too."""
    from pyspark.sql import functions as F

    kind = ast[0]
    if kind == "num":
        return F.lit(ast[1])
    if kind == "sel":
        return leaf_cols[ast[1]]
    _, op, lhs, rhs = ast
    lc, rc = arith_column(lhs, leaf_cols), arith_column(rhs, leaf_cols)
    if op == "/":
        return F.try_divide(lc, rc)
    return {"+": lc + rc, "-": lc - rc, "*": lc * rc}[op]


def parse_influxql(query: str) -> InfluxQLQuery:
    query, inner_q = _extract_subquery(query)
    m = _STMT_RE.match(query)
    if not m:
        raise InfluxQLParseError(f"unrecognized InfluxQL shape: {query!r}")
    # split the select list on top-level commas (commas inside function
    # parens — percentile("v", 95) — don't separate selectors)
    pieces = re.split(r",(?![^()]*\))", m.group("sel"))
    value_arith = None
    select_star = False
    star_fields = False
    star_aggregate = None
    if len(pieces) == 1 and pieces[0].strip() in ("*", "*::field", "*::tag"):
        # SELECT * (public InfluxQL): raw points with every tag column
        # and the value — QueryPlanner.plan_star. ``*::field`` (r10)
        # narrows to the field columns only (the canonical schema has
        # ONE field, so that is time + value); ``*::tag`` alone selects
        # no field, which InfluxDB answers with an empty result — this
        # engine refuses loudly instead of returning nothing.
        if pieces[0].strip() == "*::tag":
            raise InfluxQLParseError(
                "'*::tag' selects no field; a query needs at least one "
                "field (use bare * for tags plus the value)"
            )
        star_fields = pieces[0].strip() == "*::field"
        select_star = True
        pieces = []
    # <fn>(*) rewrites only for statements that LOOK InfluxQL (a quoted
    # FROM or a time predicate): ``SELECT count(*) FROM t`` is also the
    # most common plain-SQL query, and before r10 it fell through to the
    # raw Spark-SQL path — hijacking it into a structured point query
    # silently changed raw_sql_query results (caught by the round's own
    # review). InfluxQL-styled queries keep the wildcard aggregate.
    influxql_styled = '"' in (m.group("from") or "") or bool(
        re.search(r"\btime\b", m.group("where") or "", re.IGNORECASE)
    )
    sel_ms = []
    for piece in pieces:
        # <fn>(*) (r10, public InfluxQL): the aggregate applied to every
        # field. On the canonical one-field schema that is <fn>("value")
        # with InfluxDB's wildcard output name <fn>_value. On a
        # dir-mangled multi-field measurement (r11 — the reference's own
        # write shape) plan_tree expands the recorded star_aggregate to
        # one aggregate per mangled field instead; the single-field
        # rewrite below still happens so every other clause parses
        # unchanged. Rewritten BEFORE the selector match so fills, tags
        # and transforms compose.
        star_agg = influxql_styled and re.match(
            r'^\s*(\w+)\(\s*\*\s*\)\s*(?:AS\s+"?([\w.]+)"?)?\s*$',
            piece,
            re.IGNORECASE,
        )
        if star_agg:
            fn, al = star_agg.group(1), star_agg.group(2)
            # the multi-field expansion applies only to a LONE fn(*):
            # inside a comma list the wildcard keeps its r10 single-field
            # reading (a mixed list has no per-field column story)
            if len(pieces) == 1:
                star_aggregate = (fn.lower(), al or fn.lower())
            piece = f'{fn}("value") AS {al or fn.lower() + "_value"}'
        sm = _SEL_RE.match(piece)
        if not sm:
            if len(pieces) == 1:
                # single entry that is not a plain selector: try the
                # binary-expression grammar (mean("value") * 2, ...)
                ar = _parse_arith(piece)
                if ar is not None:
                    value_arith, arith_leaves, arith_alias = ar
                    break
            raise InfluxQLParseError(f"unrecognized selector: {piece.strip()!r}")
        sel_ms.append(sm)
    arith_fields = None
    if value_arith is not None:
        parsed = arith_leaves  # 6-tuples from _parse_selector; leaf aliases unused
        fn, fn_param, tf, tf_param, fld, _ = parsed[0]
        alias = arith_alias
        selectors = None
        bare = [not p[0] and not p[2] and p[4].lower() != "value" for p in parsed]
        if all(bare):
            # FIELD arithmetic over dir-mangled names (r9 late:
            # ``SELECT "e_import" + "e_export"`` — InfluxDB's per-point
            # expression across the fields of one multi-field point,
            # the write shape of transform.go:115-184): pivot the dir
            # twin rows once (plan_fields) and combine the pivoted
            # columns per point — still one scan, one groupBy, no join.
            # Rows where the expression is null (a missing operand
            # field) are dropped, InfluxDB's null-result rule.
            arith_fields = [p[4] for p in parsed]
            cols: dict[str, str] = {}
            for f_ in arith_fields:
                cols.setdefault(f_, f"_f{len(cols)}")
            parse_multi_fields = list(cols.items())
        elif any(bare):
            raise InfluxQLParseError(
                "an expression mixes bare fields with aggregates; "
                'combine aggregates (mean("e_import") + mean("e_export")) '
                'or bare fields ("e_import" + "e_export"), not both'
            )
        elif len(parsed) > 1:
            # two or more distinct selectors combine per bucket — ride
            # plan_multi with synthesized column names; the same
            # single-stage restriction as the comma multi-select applies
            selectors = []
            for i, (s_fn, s_fp, s_tf, _, s_fld, _) in enumerate(parsed):
                if s_tf or not s_fn or s_fn in (
                    ("difference", "mode", "integral") + tuple(_CARDINALITY)
                ):
                    raise InfluxQLParseError(
                        "selector arithmetic between aggregates supports "
                        f"single-stage aggregates only: {(s_tf or s_fn or s_fld)!r}"
                    )
                selectors.append(Selector(s_fn, s_fp, f"_a{i}", field=s_fld))
    elif select_star:
        parsed = [("", "", "", "", "value", "")]
        fn, fn_param, tf, tf_param, fld, alias = parsed[0]
        selectors = None
    else:
        parsed = [_parse_selector(sm) for sm in sel_ms]
        fn, fn_param, tf, tf_param, fld, alias = parsed[0]
        selectors = None
    multi_fields = parse_multi_fields if arith_fields is not None else None
    if value_arith is None and any(
        not p[0] and not p[2] and p[4].lower() != "value" for p in parsed
    ):
        # dir-mangled multi-FIELD select (r9, QueryPlanner.plan_fields):
        # every entry must be a bare mangled field — mixing with
        # aggregates or "value" has no single-plan answer shape
        for p_fn, _, p_tf, _, p_fld, _ in parsed:
            if p_fn or p_tf or p_fld.lower() == "value":
                raise InfluxQLParseError(
                    "a multi-field select lists bare dir-mangled fields "
                    f"only (e_import, e_export, ...): {(p_fn or p_tf or p_fld)!r}"
                )
        multi_fields = [(p[4], p[5] or p[4]) for p in parsed]
    if value_arith is None and multi_fields is None and len(parsed) > 1:
        # hand-written multi-select: every entry must be a single-stage
        # aggregate (one groupBy computes them side by side; transforms,
        # raw fields and two-stage shapes stay single-selector); each
        # selector keeps ITS OWN field
        selectors = []
        for s_fn, s_fp, s_tf, _, s_fld, s_alias in parsed:
            if s_tf or not s_fn or s_fn in (
                ("difference", "mode", "integral") + tuple(_CARDINALITY)
            ):
                raise InfluxQLParseError(
                    "multi-select supports single-stage aggregates only: "
                    f"{(s_tf or s_fn or s_fld)!r}"
                )
            selectors.append(Selector(s_fn, s_fp, s_alias, field=s_fld))
    frm = m.group("from")
    measurement_regex = None
    measurement_list = None
    if frm.startswith("/") and frm.endswith("/"):
        rp, measurement = None, frm[1:-1]
        measurement_regex = frm[1:-1]
        try:
            re.compile(measurement_regex)
        except re.error as e:
            raise InfluxQLParseError(f"bad measurement regex: {e}") from None
    elif len(_split_from_list(frm)) > 1:
        # FROM "a", "b" (public InfluxQL measurement lists): plan each,
        # one series per measurement — same loop as regex FROM. All
        # entries must agree on an explicit retention policy prefix.
        # Splitting is quote-aware: a measurement named "a,b" (legal in
        # the single-FROM grammar) is ONE entry, not a two-item list
        # (ADVICE r6).
        parts = [_parse_from(p.strip()) for p in _split_from_list(frm)]
        rps = {p[0] for p in parts}
        if len(rps) > 1:
            raise InfluxQLParseError(
                f"FROM list mixes retention policies: {sorted(r or '' for r in rps)}"
            )
        rp = parts[0][0]
        measurement_list = [p[1] for p in parts]
        measurement = measurement_list[0]
    else:
        rp, measurement = _parse_from(frm)

    flt = DataPointsFilter()
    relative_time = relative_to_time = from_time = to_time = ""
    for cond in re.split(r"\s+AND\s+", m.group("where") or "", flags=re.IGNORECASE):
        cond = cond.strip()
        if not cond:
            continue
        tm = _TIME_RE.match(cond)
        if tm:
            rhs = tm.group("rhs").strip()
            now_m = _NOW_RE.match(rhs)
            if now_m:
                if tm.group("op") in (">", ">="):
                    relative_time = now_m.group("dur")
                else:
                    # windowed relative range: time < now()-B (public
                    # InfluxDB docs; the reference only generates the
                    # open-ended form)
                    relative_to_time = now_m.group("dur")
            else:
                lit = _time_literal_to_rfc3339(rhs.strip("'\""))
                if tm.group("op") in (">", ">="):
                    from_time = lit
                else:
                    to_time = lit
            continue
        fc = _FIELD_CMP_RE.match(cond)
        if fc:
            if fc.group("key").lower() != (fld or "value").lower():
                raise InfluxQLParseError(
                    f"numeric comparison on a non-field column: {cond!r}"
                )
            op = "!=" if fc.group("op") == "<>" else fc.group("op")
            flt.field_predicates.append((op, float(fc.group("num"))))
            continue
        tg = _TAG_RE.match(cond)
        if tg:
            key, val = tg.group("key"), tg.group("val")
            if tg.group("op") in ("!=", "<>"):
                flt.neg_tags[key] = val
            elif key == "dev_id":
                flt.devices.append(val)
            elif key == "location_id":
                flt.locations.append(val)
            elif key == "dev_type":
                flt.dev_types.append(val)
            else:
                flt.tags[key] = val
            continue
        tr = _TAG_REGEX_RE.match(cond)
        if tr:
            key, val = tr.group("key"), tr.group("val")
            try:
                re.compile(val)
            except re.error as e:
                raise InfluxQLParseError(f"bad tag regex: {e}") from None
            if tr.group("op") == "=~":
                flt.regex_tags[key] = val
            else:
                flt.neg_regex_tags[key] = val
            continue
        raise InfluxQLParseError(f"unsupported WHERE condition: {cond!r}")

    group_by_time = ""
    group_by_offset = ""
    group_tags: list[str] = []
    group = (m.group("group") or "").strip()
    if group:
        # top-level commas only: time(1d, 4h) keeps its offset argument
        for item in re.split(r",(?![^()]*\))", group):
            item = item.strip()
            gt = _GROUP_TIME_RE.match(item)
            if gt:
                group_by_time = gt.group("dur")
                group_by_offset = gt.group("off") or ""
                if group_by_offset and not _DURATION_PARAM_RE.match(
                    group_by_offset.lstrip("-")
                ):
                    raise InfluxQLParseError(
                        f"bad GROUP BY time offset: {group_by_offset!r}"
                    )
            elif item == "*":
                # GROUP BY * (public InfluxQL): one series per distinct
                # combination of every tag. The engine's tag set is the
                # fixed datapoint tag columns (schema.py), so * expands
                # to exactly those — tags absent on a series group as
                # null, like InfluxDB's missing-tag series key entries.
                from ecollector_spark.schema import DATAPOINT_TAG_COLUMNS

                group_tags.extend(
                    t for t in DATAPOINT_TAG_COLUMNS if t not in group_tags
                )
            elif re.fullmatch(r'"?[\w.]+"?', item):
                group_tags.append(item.strip('"'))
            else:
                raise InfluxQLParseError(f"unsupported GROUP BY item: {item!r}")
    # single tag keeps reference-struct parity; a hand-written multi-tag
    # group rides the same field comma-joined (query.split_group_tags)
    group_by_tag = ",".join(group_tags)

    order = (m.group("order") or "").strip()
    order_desc = False
    if order:
        om = _ORDER_RE.match(order)
        if not om:
            raise InfluxQLParseError(f"unsupported ORDER BY: {order!r}")
        order_desc = (om.group("dir") or "").upper() == "DESC"
    limit = int(m.group("limit")) if m.group("limit") else None
    offset = int(m.group("offset")) if m.group("offset") else None
    slimit = int(m.group("slimit")) if m.group("slimit") else None
    soffset = int(m.group("soffset")) if m.group("soffset") else None

    tz_name = m.group("tz") or ""
    if tz_name:
        try:
            from zoneinfo import ZoneInfo

            ZoneInfo(tz_name)
        except Exception:
            raise InfluxQLParseError(f"unknown time zone: {tz_name!r}") from None

    fill = (m.group("fill") or "").lower()
    if select_star:
        # raw-points shape only, like bare fields (InfluxDB rejects
        # SELECT * under GROUP BY time without an aggregate too).
        # GROUP BY <tag>/* IS allowed (r10): raw points regrouped per
        # series — the tags ride the normal group_by_tag and the Series
        # serializer moves them into the series key, InfluxDB's
        # ``SELECT * ... GROUP BY *`` wire shape.
        if group_by_time:
            raise InfluxQLParseError(
                "SELECT * returns raw points; GROUP BY time does not "
                "apply (aggregate a named field instead)"
            )
        if group_tags and star_fields:
            raise InfluxQLParseError(
                "'*::field' drops the tag columns; GROUP BY tags has "
                "nothing to key the series on (use bare *)"
            )
        if fill not in ("", "none"):
            raise InfluxQLParseError(
                f"FILL has no bucket spine on a raw SELECT *: {fill}"
            )
    if multi_fields is not None:
        # raw-points shape only, like InfluxDB (bare fields under GROUP
        # BY time are rejected there too); fills need a bucket spine
        if group_by_time or group_tags:
            raise InfluxQLParseError(
                "a multi-field select returns raw points; GROUP BY does "
                "not apply (aggregate one field per selector instead)"
            )
        if fill not in ("", "none"):
            raise InfluxQLParseError(
                f"FILL has no bucket spine on a raw multi-field select: {fill}"
            )
        if flt.field_predicates:
            raise InfluxQLParseError(
                "numeric field predicates are not supported with a "
                "multi-field select"
            )
        if inner_q is not None:
            raise InfluxQLParseError(
                "a multi-field select over a subquery is not supported"
            )
    if selectors is not None and fill not in ("", "none", "null", "0"):
        # plan_multi spine-joins for null/0 (InfluxQL's default must not
        # change when a second selector is added); previous/linear carry
        # per-column fills that stay single-selector
        raise InfluxQLParseError(
            f"multi-select supports FILL(none|null|0) only: {fill}"
        )
    req = DataPointsRequest(
        measurement_name=measurement,
        field_name=fld,
        data_function=fn,
        function_param=fn_param,
        transform_function=tf,
        transform_param=tf_param,
        relative_time=relative_time,
        relative_to_time=relative_to_time,
        from_time=from_time,
        to_time=to_time,
        group_by_time=group_by_time,
        group_by_offset=group_by_offset,
        group_by_tag=group_by_tag,
        fill_type=fill,
        filters=flt,
        tz=tz_name,
    )
    subquery = None
    inherited_range = False
    if inner_q is not None:
        subquery = parse_influxql(inner_q)
        if subquery.selectors is not None:
            raise InfluxQLParseError(
                "subquery must be single-selector (its value feeds the outer field)"
            )
        if subquery.measurement_regex is not None:
            raise InfluxQLParseError("regex FROM inside a subquery is unsupported")
        if subquery.measurement_list is not None:
            raise InfluxQLParseError(
                "a FROM measurement list inside a subquery is unsupported"
            )
        # InfluxDB bounds the outer statement by the inner one's range;
        # an outer statement without its own WHERE time inherits it
        if not (relative_time or req.relative_to_time or from_time or to_time):
            req.relative_time = subquery.request.relative_time
            req.relative_to_time = subquery.request.relative_to_time
            req.from_time = subquery.request.from_time
            req.to_time = subquery.request.to_time
            inherited_range = True
    into_rp = into_measurement = None
    if m.group("into"):
        into_rp, into_measurement = _parse_from(m.group("into"))
        if into_measurement == ":MEASUREMENT":
            raise InfluxQLParseError(
                ":MEASUREMENT backreference is CQ-only (see parse_cq_ddl)"
            )
        if measurement_regex is not None or measurement_list is not None:
            raise InfluxQLParseError(
                "INTO with a regex/list FROM is not supported: the target "
                "would merge every matching measurement into one"
            )
        if selectors is not None:
            raise InfluxQLParseError(
                "INTO supports a single selector (one value field per point)"
            )
        if multi_fields is not None:
            raise InfluxQLParseError(
                "INTO with a multi-field select is not supported (the "
                "canonical point schema carries one value per row)"
            )
        if select_star:
            raise InfluxQLParseError(
                "INTO with SELECT * is not supported (write a named "
                "field select instead)"
            )
    return InfluxQLQuery(
        request=req,
        measurement=measurement,
        retention_policy=rp,
        alias=alias or None,
        measurement_regex=measurement_regex,
        order_desc=order_desc,
        limit=limit,
        offset=offset,
        slimit=slimit,
        soffset=soffset,
        selectors=selectors,
        subquery=subquery,
        inherited_range=inherited_range,
        into_measurement=into_measurement,
        into_rp=into_rp,
        value_arith=value_arith,
        measurement_list=measurement_list,
        multi_fields=multi_fields,
        arith_fields=arith_fields,
        select_star=select_star,
        star_fields=star_fields,
        star_aggregate=star_aggregate,
    )


def plan_tree(planner, iq: InfluxQLQuery, now=None):
    """Plan an :class:`InfluxQLQuery`, including ``FROM (subquery)``
    trees: the inner statement plans first (recursively), its result is
    adapted back into the planner's source schema (time -> ts, value ->
    value_f, inner group tags carried as columns), and the outer
    statement plans against THAT frame — one composed Catalyst plan, no
    materialization between levels. Multi-selector outer statements ride
    the same path via plan_multi."""
    from pyspark.sql import functions as F

    from ecollector_spark.query import (
        MANGLED_MEASUREMENT_FIELDS,
        QueryPlanner,
        Selector,
        split_group_tags,
    )

    if iq.subquery is None:
        if iq.star_aggregate is not None:
            # <fn>(*) on a MULTI-FIELD (dir-mangled) measurement (r11):
            # InfluxDB expands the wildcard to one aggregate per field
            # of the measurement — here the reference's write shape
            # (mapping.go:48-61) fixes that field set, and each mangled
            # field aggregates ITS direction's twin rows side by side
            # in ONE plan_multi groupBy (conditional columns, no join).
            # Single-field measurements were already rewritten to
            # fn("value") at parse time and fall through unchanged.
            flds = MANGLED_MEASUREMENT_FIELDS.get(iq.request.measurement_name)
            if flds:
                fn, base = iq.star_aggregate
                if iq.into_measurement is not None:
                    raise InfluxQLParseError(
                        "fn(*) INTO on a multi-field measurement is not "
                        "supported — the INTO writer carries one value "
                        "column; name the fields explicitly"
                    )
                if fn in ("difference", "mode", "integral") or fn in _CARDINALITY:
                    raise InfluxQLParseError(
                        f"{fn}(*) on a multi-field measurement needs "
                        "per-field single-stage aggregation; two-stage/"
                        "cardinality functions stay single-selector"
                    )
                if (iq.request.fill_type or "") not in ("", "none", "null", "0"):
                    raise InfluxQLParseError(
                        "fn(*) on a multi-field measurement supports "
                        f"FILL(none|null|0) only: {iq.request.fill_type}"
                    )
                sels = [
                    Selector(
                        fn,
                        iq.request.function_param,
                        f"{base}_{f}",
                        field=f,
                    )
                    for f in flds
                ]
                return planner.plan_multi(iq.request, sels, now=now)
        if iq.select_star:
            return planner.plan_star(
                iq.request, now=now, fields_only=iq.star_fields
            )
        if iq.multi_fields is not None:
            df = planner.plan_fields(iq.request, iq.multi_fields, now=now)
            if iq.arith_fields is None:
                return df
            # FIELD arithmetic (r9 late): combine the pivoted twin
            # columns per point; null results (a missing operand field
            # at that point) drop, InfluxDB's null-result rule
            colmap = dict(iq.multi_fields)
            leaf_cols = [F.col(colmap[f]) for f in iq.arith_fields]
            return (
                df.select(
                    "time",
                    arith_column(iq.value_arith, leaf_cols)
                    .cast("double")
                    .alias("value"),
                )
                .where(F.col("value").isNotNull())
                .orderBy("time", "value")
            )
        req = iq.request
    else:
        # the inner statement's OWN result clauses (ORDER/LIMIT/SLIMIT)
        # apply before the outer statement sees its rows
        inner = apply_result_shape(plan_tree(planner, iq.subquery, now=now), iq.subquery)
        req = _align_inherited_range(iq, now)
        # InfluxDB names the inner column by its AS alias, else by its
        # outermost function ("mean"); the outer statement may read it
        # by that name as well as by the canonical "value"
        inner_req = iq.subquery.request
        named = iq.subquery.alias or inner_req.transform_function or inner_req.data_function
        if named and named != "value":
            if req.field_name == named:
                req = _dc_replace(req, field_name="value")
            if iq.selectors is not None:
                iq = _dc_replace(iq, selectors=[
                    _dc_replace(s, field="value") if s.field == named else s
                    for s in iq.selectors
                ])
        tags = split_group_tags(inner_req.group_by_tag)
        src = inner.select(
            F.lit(req.measurement_name).alias("measurement"),
            F.timestamp_seconds(F.col("time")).alias("ts"),
            *tags,
            F.col("value").alias("value_f"),
        )
        planner = QueryPlanner(lambda tier: src, profile=planner.profile)
    if iq.selectors is not None:
        df = planner.plan_multi(req, iq.selectors, now=now)
        if iq.value_arith is None:
            return df
        # MULTI-leaf selector arithmetic: the plan_multi columns combine
        # per bucket into ONE value column (fill is FILL(none) for
        # multi-select, so post-combining is fill-exact)
        return df.select(
            "time",
            *split_group_tags(req.group_by_tag),
            arith_column(iq.value_arith, [F.col(s.alias) for s in iq.selectors])
            .cast("double")
            .alias("value"),
        )
    # single-leaf arithmetic (mean("value") * 2 + 1, "value" * 1000)
    # rides plan(post_agg=...) so it applies BEFORE gap fill, like the
    # scalar-transform path: FILL(0) buckets must carry the literal 0,
    # not expr(0) (ADVICE r6)
    post_agg = None
    if iq.value_arith is not None:
        def post_agg(d):
            return d.withColumn(
                "value", arith_column(iq.value_arith, [F.col("value")]).cast("double")
            )
    return planner.plan(req, now=now, post_agg=post_agg)


def _align_inherited_range(iq: InfluxQLQuery, now):
    """An outer statement that INHERITED the inner's time range must not
    drop the inner's first bucket: bucket stamps are floor-aligned at or
    before the raw lower bound, so the inherited bound is re-resolved to
    an absolute range whose lower edge aligns down to the inner bucket
    grid (inclusive >=/<= branch). Explicit outer WHERE time is the
    user's own predicate and passes through untouched."""
    from datetime import datetime, timezone

    from ecollector_spark.functions.timeutil import parse_relative_duration
    from ecollector_spark.query import (
        _parse_group_interval,
        _parse_signed_duration,
        rfc3339_epoch,
    )

    req = iq.request
    inner_req = iq.subquery.request
    in_step = _parse_group_interval(inner_req.group_by_time)
    if not iq.inherited_range or not in_step:
        return req
    now_dt = now or datetime.now(timezone.utc)
    now_epoch = int(now_dt.timestamp())
    if req.from_time and req.to_time:
        fe = rfc3339_epoch(req.from_time)
        te = rfc3339_epoch(req.to_time)
    else:
        fe = now_epoch - parse_relative_duration(req.relative_time)
        te = (
            now_epoch - parse_relative_duration(req.relative_to_time) - 1
            if req.relative_to_time
            else now_epoch
        )
    off = (
        _parse_signed_duration(inner_req.group_by_offset)
        if inner_req.group_by_offset
        else 0
    )
    fe_aligned = (fe - off) // in_step * in_step + off

    def _iso(e: int) -> str:
        return datetime.fromtimestamp(e, tz=timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")

    return _dc_replace(
        req,
        relative_time="",
        relative_to_time="",
        from_time=_iso(fe_aligned),
        to_time=_iso(te),
    )


def apply_result_shape(df, iq: InfluxQLQuery):
    """Apply the post-planner result clauses: ORDER BY time DESC,
    LIMIT/OFFSET and SLIMIT/SOFFSET. InfluxQL bounds points *per series*
    when the query groups by a tag (its LIMIT applies to each GROUP BY
    group), so the tagged shape uses a tag-partitioned row_number window
    — partitioned, and over an already-bucketed result (bounded by the
    bucket spine), never over raw points. The untagged shape is a plain
    sort + offset + limit. SLIMIT/SOFFSET page the SERIES dimension:
    distinct tag values in tag order, applied as a broadcast semi-join
    (the tag frame is tiny by construction)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ecollector_spark.query import split_group_tags

    if not (
        iq.order_desc
        or iq.limit is not None
        or iq.offset is not None
        or iq.slimit is not None
        or iq.soffset is not None
    ):
        return df
    tags = split_group_tags(iq.request.group_by_tag)
    if tags and (iq.slimit is not None or iq.soffset is not None):
        keep = df.select(*tags).distinct().orderBy(*tags)
        if iq.soffset:
            keep = keep.offset(iq.soffset)
        if iq.slimit is not None:
            keep = keep.limit(iq.slimit)
        df = df.join(F.broadcast(keep), tags, "left_semi")
    order = F.col("time").desc() if iq.order_desc else F.col("time").asc()
    if iq.limit is None and iq.offset is None:
        return df.orderBy(*tags, order)
    lo = iq.offset or 0
    if tags:
        rn = F.row_number().over(Window.partitionBy(*tags).orderBy(order))
        df = df.withColumn("_rn", rn).where(F.col("_rn") > lo)
        if iq.limit is not None:
            df = df.where(F.col("_rn") <= lo + iq.limit)
        return df.drop("_rn").orderBy(*tags, order)
    df = df.orderBy(order)
    if lo:
        df = df.offset(lo)
    if iq.limit is not None:
        df = df.limit(iq.limit)
    return df
