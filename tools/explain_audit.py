"""Physical-plan audit: assert the plans we ship are the plans we want.

For each audited query this checks executed-plan properties that matter
at 100 TB: parquet filter pushdown, column-pruned schemas, broadcast
joins for dimensions, map-side partial aggregation, and absence of
row-at-a-time Python evaluation in hot paths.

    python tools/explain_audit.py [sf_dir] [-v]

Exit 0 = every assertion holds. Run under -v to dump the plans.
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

_LSH_PROBE = [
    r"PartitionFilters: \[[^\]]*_t#\d+ = ",
    r"PartitionFilters: \[[^\]]*_b#\d+ = ",
    "!SortMergeJoin",
    "!ShuffledHashJoin",
    "!Exchange hashpartitioning",
]

CHECKS = {
    # planner path: measurement + time predicates must reach the scan,
    # aggregation must have a partial (map-side) phase
    # (the scan is the raw events adapter: pruned to [ts,event_type,value]
    # with the measurement predicate pushed as event_type=...)
    "ts_group_by_time_mean": [
        "PushedFilters: \\[IsNotNull\\(event_type\\), IsNotNull\\(ts\\), "
        "EqualTo\\(event_type",
        # r10: the time range reaches the scan as a sargable timestamp
        # literal (unix_timestamp() alone could never push)
        "GreaterThanOrEqual\\(ts,",
        # ... and is the only time bound: no per-row unix_timestamp(ts)
        # comparison in any Filter (the bucket key's sits in the aggregate)
        "!Filter[^\\n]*unix_timestamp",
        "partial_",
        "FileScan parquet \\[ts#\\d+L?,event_type#\\d+,value#\\d+\\]",
        # the FILL spine is built from the aggregate's own rows: no
        # distinct-groups scan crossed with a generated range
        "!BroadcastNestedLoopJoin",
        "!CartesianProduct",
    ],
    # enrichment is a broadcast join, never a shuffle of the fact side
    "enrichment_left_join": ["BroadcastHashJoin"],
    # TPC-H Q5: dimensions broadcast; fact join is hash/sort-merge
    "tpch_q5_local_supplier_volume": ["BroadcastHashJoin", "partial_"],
    # scan-heavy query: predicate pushdown into parquet
    # pushed-filter list renders truncated; IsNotNull(l_shipdate) leading
    # the list + the >= DataFilter proves the range predicate reached the
    # scan, and the ReadSchema is pruned to the 4 needed columns
    "tpch_q6_forecast_revenue": [
        "PushedFilters: \\[IsNotNull\\(l_shipdate\\)",
        "l_shipdate#\\d+ >= ",
        "FileScan parquet \\[l_quantity#\\d+,l_extendedprice#\\d+,l_discount#\\d+,l_shipdate#\\d+\\]",
        "partial_",
    ],
    # dedup: the minhash aggregate must be partial (map-side min); built
    # via _raw_minhash_candidates below. The DEFAULT pairs path is
    # verify='exact' and its shipped contract is the PLAIN chain: pair
    # equi-join on band keys, no candidate-doc semi-join — the LeftSemi
    # filter was tried on the exact path in r8 and REVERTED by
    # measurement (salted 1000x: +25-50 %; dedup.py:255 documents it),
    # so !LeftSemi here pins that decision against silent re-adds.
    "_raw_minhash_candidates": [
        "partial_min",
        "BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin",
        # the signature kernel parses each md5 digest as two 64-bit
        # words and slices them with shifts: at the default 8 hashes (one
        # digest) no plan node holds more than 2 hex parses, where a
        # parse per 16-bit slice puts 8 in each min aggregate
        "!(?:conv\\([^\\n]*){3}",
    ],
    "_raw_minhash": [
        "BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin",
        "!LeftSemi",
        "!CartesianProduct",
    ],
    # verify='hybrid' (r8): signature-agreement primary verdict (sure
    # accepts union border exact-verify), signatures replayed from a
    # lazy localCheckpoint (Scan ExistingRDD) instead of re-running the
    # shingle aggregate per branch, and the border's shingle-set
    # collection bounded to candidate docs via LeftSemi
    "_raw_minhash_hybrid": [
        "Union",
        "LeftSemi",
        "Scan ExistingRDD",
        "BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin",
        "!CartesianProduct",
    ],
    # paragraph dedup (r9): the dup set comes from a partial-aggregated
    # count-distinct on a long key, paragraphs leave via LEFT ANTI — no
    # pairwise enumeration and no corpus-wide window
    "dedup_paragraphs": [
        "LeftAnti",
        "partial_count",
        "!CartesianProduct",
        "!Window",
    ],
    # multi-FIELD select (r9): the dir-twin pivot is ONE scan + ONE
    # conditional-aggregate groupBy — no join of any kind, no union
    "influxql_multi_field": [
        "partial_max",
        "!BroadcastHashJoin",
        "!SortMergeJoin",
        "!ShuffledHashJoin",
        "!Union",
        "!CartesianProduct",
    ],
    # aggregates over mangled fields (r9): same one-groupBy contract as
    # plan_multi, conditional columns instead of per-field re-plans
    "influxql_multi_field_agg": [
        "partial_",
        "!BroadcastHashJoin",
        "!SortMergeJoin",
        "!ShuffledHashJoin",
        "!Union",
        "!CartesianProduct",
    ],
    # text ops are one map-side pass: no shuffle except the explicit sort
    "text_quality": ["^((?!Exchange hashpartitioning).)*$"],
    # two-level SemDeDup (r10; final-frame shape updated r13 — the
    # normed assignment table is now behind a lazy localCheckpoint, so
    # the frame starts at Scan ExistingRDD): within-cluster pairing is
    # a hash equi-join, drops leave via LEFT ANTI, never a cartesian
    # enumeration. The Lloyd partial phase and the cid1 equi-join moved
    # into the checkpoint-materialization lineage — pinned separately by
    # _raw_lloyd_means / _raw_hier_assign below.
    "dedup_semantic_hier": [
        "BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin",
        "LeftAnti",
        "Scan ExistingRDD",
        "!CartesianProduct",
    ],
    # CCNet perplexity scoring (r10): the five (n, gram-hash) lookups
    # are broadcast hash joins (the pruned LM fits), the counts table
    # replays from its lazy localCheckpoint instead of re-running the
    # training aggregate per branch, per-doc totals have a partial phase
    "datapipe_perplexity": [
        "BroadcastHashJoin",
        "Scan ExistingRDD",
        "partial_",
        "!CartesianProduct",
    ],
    # lone absolute lower bound (r10): the open-ended range must still
    # push its >= predicate into the scan — an open upper side is no
    # excuse for a full-history scan
    "influxql_lone_lower_bound": [
        "PushedFilters: \\[IsNotNull\\(event_type\\), IsNotNull\\(ts\\), "
        "EqualTo\\(event_type",
        "GreaterThanOrEqual\\(ts,",
    ],
    # ANN brute force: the query vector is a broadcast, the scan is pruned
    "ann_cosine_topk": ["BroadcastNestedLoopJoin|BroadcastHashJoin", "TakeOrderedAndProject"],
    # IVF probe against the materialized index: the scan must be
    # partition-pruned to the nprobe cid= lists (never a corpus scan,
    # never a join — the query vector is a literal), top-k a TakeOrdered
    "ann_ivf_topk": [
        "PartitionFilters: \\[cid#\\d+ IN \\(",
        "TakeOrderedAndProject",
        "!CartesianProduct",
        "!BroadcastHashJoin",
        "!Exchange hashpartitioning",
    ],
    # IVF probe against an APPENDED index (build prefix + ivf_append):
    # identical pruning contract — the appended files must land inside
    # the cid= partitions, never beside them
    "ann_ivf_append_topk": [
        "PartitionFilters: \\[cid#\\d+ IN \\(",
        "TakeOrderedAndProject",
        "!CartesianProduct",
        "!BroadcastHashJoin",
        "!Exchange hashpartitioning",
    ],
    # q9: widest join tree — dims broadcast, rollup has a partial phase
    "tpch_q9_profit_by_nation": ["BroadcastHashJoin", "partial_sum"],
    # q17: decorrelated scalar subquery — the brand dim broadcasts and
    # the per-part threshold aggregate is partial before its shuffle
    "tpch_q17_small_quantity": ["BroadcastHashJoin", "partial_"],
    # embedding near-dup: bucket-equality pairing must be a hash join on
    # the bucket key, never a cartesian pair enumeration
    "_raw_embedding_near_dup": [
        "BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin",
        "!CartesianProduct",
    ],
    # LSH probe against the materialized bucket store: the scan prunes
    # to the query's (_t, _b) partitions, and a vector colliding in
    # several tables keeps one copy by a row-local rule — one scan, zero
    # shuffles (the old id->vector re-join shape measured exponent 1.27
    # at 20M). Both LSH gates run the same builder.
    "ann_lsh_bucketed": _LSH_PROBE,
    "ann_lsh_indexed": _LSH_PROBE,
    # transform: the price fan-out rides the same scan as every other
    # branch — exactly one parquet scan, no Union (built pre-checkpoint)
    "_raw_transform": ["!Union", "Generate explode"],
    # q16: anti-join + dim join broadcast; distinct agg has partial phase
    "tpch_q16_parts_supplier_counts": ["BroadcastHashJoin", "LeftAnti", "partial_"],
    # q19 (adapted): OR-of-ANDs evaluated inside ONE join — no union of
    # per-branch joins, part pre-filtered and broadcast
    "tpch_q19_disjunctive_predicates": [
        "BroadcastHashJoin",
        "!Union",
        "partial_sum",
    ],
    # q20 (adapted): correlated-aggregate threshold feeds a broadcast
    # LEFT SEMI into the supplier dim — never a row-per-key subquery
    "tpch_q20_part_promotion": ["BroadcastHashJoin.*LeftSemi|LeftSemi", "partial_sum"],
    # q21 (adapted): the EXISTS/NOT-EXISTS pair is decorrelated into ONE
    # per-order aggregate pass (two count(distinct) columns), so the fact
    # table is scanned at most twice (base + per-order agg), with partial
    # phases — and never a cartesian correlation
    "tpch_q21_waiting_suppliers": ["partial_", "!CartesianProduct", "TakeOrderedAndProject"],
    # q18: lineitem pre-aggregates map-side before any join; final top-k
    "tpch_q18_large_volume_customers": ["partial_sum", "TakeOrderedAndProject"],
    # gap fill: this gate's spine is statically <= CHUNK_BUCKETS buckets
    # (188 four-hour buckets), so gap_fill's driver-side bucket count
    # takes the single-chunk fast path — ONE group-partitioned fill
    # window (here unpartitioned: no group tags), no chunk machinery.
    # The window is bounded by the same constant the chunked path uses
    # (enumerated in BOUNDED_WINDOWS below); a spine that outgrows
    # CHUNK_BUCKETS flips back to the [_ck]-partitioned chunked shape.
    "ts_agg_mean_fill_linear": [
        "windowspecdefinition\\(time#\\d+L? ASC",
        "!\\], \\[_ck#\\d+L\\], \\[time#\\d+L ASC",
        "!Scan ExistingRDD",
    ],
    "ts_group_by_time_tag_fill_previous": [
        "!windowspecdefinition\\(time#\\d+L? ASC",
        "!BroadcastNestedLoopJoin",
        "!CartesianProduct",
    ],
    # sequence packing: the tiny chunk-offset frame must broadcast back
    # into the per-doc join, the per-doc running offset must be a
    # _chunk-partitioned window, and pairing never degenerates
    "datapipe_pack_sequences": [
        "BroadcastHashJoin",
        "\\], \\[_chunk#\\d+L\\], \\[",
        "!CartesianProduct",
    ],
    # domain mixing is expression-only: a generate/explode pass with no
    # hash shuffle at all (the gate's cosmetic sort is range, not hash)
    "datapipe_mix_weights": [
        "Generate explode",
        "!Exchange hashpartitioning",
        "!CartesianProduct",
    ],
    # multi-select: every aggregate in ONE groupBy — a per-selector
    # re-plan would surface as a union or a self-join
    "influxql_multi_select": [
        "partial_",
        "!Union",
        "!BroadcastHashJoin",
        "!SortMergeJoin",
        "!CartesianProduct",
    ],
    # raw-series transform with a tag: the per-series window must be
    # (tag, _ck)-partitioned — a window ordered directly by time with no
    # partition would serialize the raw range through one task
    "ts_raw_derivative_by_tag": [
        "\\[location_id#\\d+, _ck#\\d+L\\], \\[_t#\\d+L ASC",
        "!CartesianProduct",
    ],
    # untagged raw transform: main window _ck-partitioned; the only
    # unpartitioned window is the chunk-lasts seed pass (BOUNDED below)
    "ts_raw_difference": [
        "\\[_ck#\\d+L\\], \\[_t#\\d+L ASC",
        "!CartesianProduct",
    ],
    # epoch shuffle: chunk offsets broadcast back, in-chunk rank is a
    # _chunk-partitioned window (the global permutation never funnels
    # the corpus through one task)
    "datapipe_epoch_order": [
        "BroadcastHashJoin",
        "\\], \\[_chunk#\\d+L\\], \\[",
        "!CartesianProduct",
    ],
    # incremental dedup: manifest lookups and the band-bucket candidate
    # step are hash equi-joins with map-side partial mins — never a
    # pairwise enumeration, and the only window is text_hash-partitioned
    # (raw builder: the gate wraps its result in a lazy localCheckpoint
    # for the harness sort, which opaques the plan)
    "_raw_dedup_incremental": [
        "BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin",
        "partial_min",
        "!CartesianProduct",
    ],
    # selector arithmetic between aggregates (r6): both leaves computed
    # by ONE plan_multi groupBy and combined in a projection — a
    # per-leaf re-plan would surface as a union or a self-join
    "influxql_selector_arith": [
        "partial_",
        "!Union",
        "!BroadcastHashJoin",
        "!SortMergeJoin",
        "!CartesianProduct",
    ],
    # tz() (r6): wall-clock bucketing is a from_utc_timestamp expression
    # inside the same partial-aggregated groupBy — zone logic never
    # leaves the JVM and adds no join/shuffle beyond the aggregation
    "influxql_tz_clause": [
        "partial_avg",
        "from_utc_timestamp",
        "!CartesianProduct",
        "!Union",
    ],
    # GROUP BY * (r6): the 7-tag expansion is still ONE partial-agg
    # groupBy over the pruned scan
    "influxql_group_by_star": [
        "partial_avg",
        "!Union",
        "!CartesianProduct",
    ],
    # span removal (r9 second session): same no-pairwise contract as
    # paragraph dedup — dup set from a partial count-distinct on longs,
    # covered positions leave via LEFT ANTI, no corpus-wide window
    "dedup_span_removal": [
        "LeftAnti",
        "partial_count",
        "!CartesianProduct",
        "!Window",
    ],
    # URL dedup (r9 second session): one normalization projection + ONE
    # partial-min groupBy — no join of any kind, no window
    "dedup_urls": [
        "partial_min",
        "!BroadcastHashJoin",
        "!SortMergeJoin",
        "!ShuffledHashJoin",
        "!CartesianProduct",
        "!Window",
    ],
    # SemDeDup (r9 second session; final-frame shape updated r13 — see
    # dedup_semantic_hier): within-cluster pairing is a hash equi-join
    # on cid, drops leave via LEFT ANTI — never a cartesian enumeration.
    # The one-row-centroid-array broadcast argmin (BroadcastNestedLoop,
    # never an exploded corpus x k shuffle) now sits in the checkpoint
    # lineage — pinned by _raw_flat_assign below.
    "dedup_semantic": [
        "LeftAnti",
        "Scan ExistingRDD",
        "!CartesianProduct",
    ],
    # the flat quantizer's assignment lineage (r13): the centroid argmin
    # must stay a broadcast of the collapsed one-row centroid array —
    # BroadcastNestedLoopJoin, never a cartesian product or an exploded
    # corpus x k shuffle
    "_raw_flat_assign": [
        "BroadcastNestedLoopJoin",
        "!CartesianProduct",
        "!Generate",
    ],
    # the Lloyd means aggregate lineage (r13): exact-decimal means keep
    # their map-side partial phase
    "_raw_lloyd_means": [
        "partial_",
    ],
    # the two-level assignment lineage (r13): sub-centroids arrive
    # through an ordinary cid1 equi-join, never a cartesian pairing
    "_raw_hier_assign": [
        "BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin",
        "!CartesianProduct",
    ],
    # field arithmetic over mangled names (r9 second session): same
    # one-scan one-groupBy contract as the multi-field pivot — the
    # expression combines pivoted columns in a projection, never a join
    # or per-field re-plan
    "influxql_multi_field_arith": [
        "partial_max",
        "!BroadcastHashJoin",
        "!SortMergeJoin",
        "!ShuffledHashJoin",
        "!Union",
        "!CartesianProduct",
    ],
    # Gopher rules (r9 second session): expression-only map pass — no
    # hash shuffle at all (the gate's cosmetic sort is range, not hash)
    "text_gopher_rules": [
        "!Exchange hashpartitioning",
        "!CartesianProduct",
    ],
    # composed text curation (r9 second session): inherits every
    # stage's contract — dup set via partial count-distinct, covered
    # positions leave via LEFT ANTI, the final dedup is a partial-min
    # groupBy, and nothing in the chain enumerates pairs or opens a
    # corpus-wide window
    "datapipe_curation_text": [
        "LeftAnti",
        "partial_count",
        "partial_min",
        "!CartesianProduct",
        "!Window",
    ],
    # SELECT * (r9 second session): one pruned scan + projection + the
    # result sort — no join, no hash shuffle
    "influxql_select_star": [
        "!BroadcastHashJoin",
        "!SortMergeJoin",
        "!ShuffledHashJoin",
        "!CartesianProduct",
        "!Exchange hashpartitioning",
    ],
    # WARC response-record ingestion (r11): record walk + HTTP split +
    # decode all live inside Arrow stages (MapInPandas), routing joins
    # on doc_id broadcast at gate scale — and nothing ever enumerates
    # pairs or falls back to a row-UDF (BatchEvalPython is banned
    # globally below)
    "datapipe_warc_response": [
        "MapInPandas",
        "BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin",
        "!CartesianProduct",
    ],
    # hierarchical IVF probe (r11 on-driver): the scan must prune to the
    # probed coarse partitions (cid1 IN) AND push the global-cell filter
    # into the parquet reader (In(cid,...) — row-group skipping on the
    # sorted cid2 layout), finishing with a driver-side top-k; no joins,
    # no shuffle — the probe reads only the probed cells
    "ann_ivf_hier_topk": [
        "PartitionFilters: \\[cid1#\\d+ IN \\(",
        "PushedFilters: \\[IsNotNull\\(vec_id\\), In\\(cid",
        "TakeOrderedAndProject",
        "!CartesianProduct",
        "!BroadcastHashJoin",
        "!Exchange hashpartitioning",
    ],
    # PQ ADC search (r11): codes score inside an Arrow stage (the
    # vectorized lut gather), the one-row collapsed codebook broadcasts
    # (BroadcastNestedLoopJoin — the same shape as every in-row argmin
    # here), the top-k collapses to TakeOrdered; nothing enumerates
    # pairs.
    "ann_pq_topk": [
        "MapInPandas",
        "TakeOrderedAndProject",
        "BroadcastNestedLoopJoin",
        "!CartesianProduct",
    ],
    # single-stage IVF-PQ probe against the materialized index: the scan
    # prunes to the probed lists (cid IN) and reads (vec_id, codes)
    # only, scoring is the Arrow lut gather, the top-k a TakeOrdered;
    # the codebooks come from the sidecar, so no collapsed-codebook
    # cross join (BroadcastNestedLoopJoin) — the plan carries no training
    "ann_ivf_pq_topk": [
        r"PartitionFilters: \[cid#\d+ IN \(",
        r"ReadSchema: struct<vec_id:bigint,codes:array<int>>",
        "MapInPandas",
        "TakeOrderedAndProject",
        "!BroadcastNestedLoopJoin",
        "!CartesianProduct",
    ],
    # materialized IVF-PQ probe (r12): both scans partition-prune to the
    # probed lists (cid IN), the ADC scan projects (vec_id, codes, cid)
    # ONLY — the raw vector column is never read before the re-rank
    # (the Output [3] regex pins that), scoring is the Arrow lut gather,
    # the shortlist joins back by broadcast, and there is NO
    # BroadcastNestedLoopJoin: the codebooks come from the sidecar, not
    # an in-plan collapsed-array cross join — the probe plan carries no
    # training at all
    "ann_ivf_pq_indexed": [
        r"PartitionFilters: \[cid#\d+ IN \(",
        r"ReadSchema: struct<vec_id:bigint,codes:array<int>>",
        "MapInPandas",
        "TakeOrderedAndProject",
        "BroadcastHashJoin",
        "!BroadcastNestedLoopJoin",
        "!CartesianProduct",
    ],
    # EXIF orientation gate (r11): generate + decode + orient are two
    # Arrow stages back to back — no shuffle at all beyond the cosmetic
    # range sort, no join
    "mm_jpeg_exif_orientation": [
        "MapInPandas",
        "!BroadcastHashJoin",
        "!SortMergeJoin",
        "!ShuffledHashJoin",
        "!CartesianProduct",
        "!Exchange hashpartitioning",
    ],
}

FORBIDDEN_EVERYWHERE = ["BatchEvalPython", "InMemoryTableScan"]  # row-UDFs / stray caches

#: The fences (``functions.barriers.fence``), one gate per fenced path:
#: gate -> (fenced output column, regex for the fenced expression). Each
#: must plan as a Filter reading the column directly above the
#: one-element Generate that produces it, with the expression evaluated
#: in ONE plan node, at or below that Generate. If Catalyst ever inlined
#: a one-element explode, the Generate would vanish and the expression
#: would be re-derived in the Filter (or a join condition) above.
FENCES = {
    # transform: the payload parses under the error-verdict row filter
    "_raw_transform": ("_parsed", r"from_json\("),
    # fimp adapter: the JSON-synthesis struct under the self-traffic filter
    "fimp_transform_pipeline": ("_r", r"CASE WHEN \(event_type#\d+ = purchase\) THEN meter_elec"),
    # curation: the tokenizer under the quality filter
    "datapipe_curation": ("_toks", r"regexp_extract_all\("),
    # minhash verify: the pair Jaccard under the threshold filter
    "_raw_minhash": ("jaccard", r"size\(array_intersect\(set_a"),
    # threshold search: the cosine fold under the threshold filter
    "ann_cosine_threshold": ("cosine", r"aggregate\(zip_with\(cast\(embedding"),
    # LSH probe: the cosine fold (not the bucket folds) under the filter
    "ann_lsh_indexed": ("cosine", r"round\(\(aggregate\(zip_with\(v#\d+"),
    # embedding near-dup verify: the pair (not norm) dot-product fold
    "_raw_embedding_near_dup": ("cosine", r"aggregate\(zip_with\(_v#(\d+), _v#(?!\1\b)\d+"),
}


def _plan_nodes(plan: str) -> list[tuple[int, str]]:
    """(depth, node text) per line of a physical-plan tree string; the
    depth is the column where the node starts after the tree drawing."""
    nodes = []
    for line in plan.splitlines():
        depth = re.match(r"[ :+-]*", line).end()
        nodes.append((depth, re.sub(r"^\*\(\d+\) ", "", line[depth:])))
    return nodes


def _array_arity(text: str) -> int:
    """Top-level element count of the first ``explode(array(...))``."""
    i = text.index("explode(array(") + len("explode(array(")
    depth, n = 0, 1
    for ch in text[i:]:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            if depth == 0:
                return n
            depth -= 1
        elif ch == "," and depth == 0:
            n += 1
    return n


def fence_failures(plan: str, col: str, expr: str) -> list[str]:
    """Why ``plan`` lacks a working fence for ``col`` (empty: it has one)."""
    nodes = _plan_nodes(plan)
    gens = [
        (i, m.group(1))
        for i, (_, t) in enumerate(nodes)
        if t.startswith("Generate explode(array(")
        and _array_arity(t) == 1
        and (m := re.search(rf", \[{re.escape(col)}#(\d+)L?\]$", t))
    ]
    hits = [i for i, (_, t) in enumerate(nodes) if re.search(expr, t)]
    out = []
    if len(hits) != 1:
        out.append(f"the fenced expression /{expr}/ is evaluated in {len(hits)} plan nodes (want 1)")
    if len(gens) != 1:
        return out + [f"{len(gens)} one-element Generates produce {col} (want 1)"]
    g, attr = gens[0]
    depth = nodes[g][0]
    parent = next((t for d, t in reversed(nodes[:g]) if d < depth), "")
    if not (parent.startswith("Filter ") and f"{col}#{attr}" in parent):
        out.append(f"the node above the {col} Generate is not a Filter reading it")
    end = next((j for j in range(g + 1, len(nodes)) if nodes[j][0] <= depth), len(nodes))
    if len(hits) == 1 and not g <= hits[0] < end:
        out.append(f"the fenced expression /{expr}/ is evaluated above the {col} Generate")
    return out

#: Unpartitioned WindowExec allowlist: (order-spec regex, why the input is
#: provably bounded). An unpartitioned window funnels its whole input
#: through ONE task — only acceptable over inputs whose size is bounded by
#: construction, never over raw data. Any unpartitioned window that is not
#: enumerated here fails the audit, so the benign WindowExec warnings in
#: the bench tail can't mask a real unbounded one creeping in.
BOUNDED_WINDOWS = {
    "ts_agg_mean_fill_linear": [
        (
            r"time#\d+L ASC",
            "single-chunk fast-path fill: gap_fill proved the spine "
            "<= CHUNK_BUCKETS (1024) buckets from the literal from/to/"
            "step before choosing this window, and the spine frame is "
            "one partition of aggregated rows already (gapfill.py)",
        ),
    ],
    "datapipe_pack_sequences": [
        (
            r"_chunk#\d+L ASC",
            "chunk-offset prefix sum: one row per md5-range chunk (<= 1024 rows)",
        ),
    ],
    "ts_raw_difference": [
        (
            r"_ck#\d+L ASC",
            "boundary-seed pass: one last-row per time chunk (<= 1025 rows)",
        ),
    ],
    "datapipe_epoch_order": [
        (
            r"_chunk#\d+L ASC",
            "chunk-offset prefix sum: one row per md5-range chunk (<= 1024 rows)",
        ),
    ],
}


def unpartitioned_windows(plan: str) -> list[str]:
    """Order specs of every WindowExec with an empty partitionSpec.

    WindowExec prints ``Window [exprs], [partitionSpec], [orderSpec]``;
    with no partition columns the middle group is absent, leaving two
    top-level bracket groups. Scan bracket depth to split the groups
    (expressions nest brackets internally).

    A partition-only window (``min(x) OVER (PARTITION BY k)`` — no ORDER
    BY) also prints two groups, but its second group is the PARTITION
    spec: distinguish by the sort direction tokens only order specs
    carry (``ASC``/``DESC``). Partition-only windows scale fine; an
    empty second group (over ()) is still a funnel and is flagged."""
    out = []
    for line in plan.splitlines():
        idx = line.find("Window [")
        if idx < 0:
            continue
        groups, depth, cur = [], 0, []
        for ch in line[idx + len("Window ") :]:
            if ch == "[":
                depth += 1
                if depth == 1:
                    cur = []
                    continue
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append("".join(cur))
                    continue
            if depth >= 1:
                cur.append(ch)
        if len(groups) == 2 and (
            not groups[1].strip() or re.search(r"\b(ASC|DESC)\b", groups[1])
        ):  # [exprs], [order] — no partition group
            out.append(groups[1])
    return out


def _raw_minhash(spark, sf_dir):
    from ecollector_spark.datapipe.dedup import minhash_lsh_pairs
    from ecollector_spark.driver_queries.datapipe import dedup_corpus

    return minhash_lsh_pairs(dedup_corpus(spark, sf_dir), verify="exact")


def _raw_minhash_hybrid(spark, sf_dir):
    from ecollector_spark.datapipe.dedup import minhash_lsh_pairs
    from ecollector_spark.driver_queries.datapipe import dedup_corpus

    return minhash_lsh_pairs(dedup_corpus(spark, sf_dir), verify="hybrid")


def _raw_minhash_candidates(spark, sf_dir):
    from ecollector_spark.datapipe.dedup import (
        _doc_shingles,
        minhash_lsh_candidates,
    )
    from ecollector_spark.driver_queries.datapipe import dedup_corpus

    return minhash_lsh_candidates(
        _doc_shingles(dedup_corpus(spark, sf_dir), "text", 3)
    )


def _raw_embedding_near_dup(spark, sf_dir):
    from ecollector_spark.datapipe.similarity import embedding_near_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_near_dup_pairs(emb, threshold=0.3)


def _raw_transform(spark, sf_dir):
    from ecollector_spark.sources.fimp_adapter import fimp_from_events
    from ecollector_spark.transform import default_transform

    return default_transform(fimp_from_events(spark, sf_dir))


def _raw_dedup_incremental(spark, sf_dir):
    from ecollector_spark.datapipe import dedup
    from ecollector_spark.driver_queries.datapipe import incremental_batch

    old = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return dedup.dedup_incremental(
        incremental_batch(spark, sf_dir),
        dedup.exact_manifest(old),
        dedup.minhash_signatures(old),
    )


def _raw_flat_assign(spark, sf_dir):
    from ecollector_spark.datapipe.similarity import ivf_assignments

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_assignments(emb, n_centroids=8, n_iter=2)


def _raw_lloyd_means(spark, sf_dir):
    # one Lloyd mean step over seed centroids, pre-checkpoint: the
    # exact-decimal means aggregate must keep its map-side partial phase
    from pyspark.sql import functions as F

    from ecollector_spark.datapipe.similarity import _assign_to_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cents = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cvec")
    )
    comp = _assign_to_centroids(e, cents).select(
        "cid", F.posexplode("v").alias("pos", "x")
    )
    return comp.groupBy("cid", "pos").agg(
        (F.sum(F.col("x").cast("decimal(28,12)")).cast("double") / F.count("*")).alias("m")
    )


def _raw_hier_assign(spark, sf_dir):
    from ecollector_spark.datapipe.similarity import hierarchical_assignments

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return hierarchical_assignments(emb, 16, n_iter=2, level1=4)


def audit_builders():
    """Every audited plan builder: driver gates + the raw shapes above."""
    from ecollector_spark import driver_queries

    driver_queries.load_all()
    return {
        **driver_queries.QUERIES,
        **driver_queries.SHELVED_QUERIES,
        "_raw_minhash": _raw_minhash,
        "_raw_minhash_hybrid": _raw_minhash_hybrid,
        "_raw_minhash_candidates": _raw_minhash_candidates,
        "_raw_embedding_near_dup": _raw_embedding_near_dup,
        "_raw_transform": _raw_transform,
        "_raw_dedup_incremental": _raw_dedup_incremental,
        "_raw_flat_assign": _raw_flat_assign,
        "_raw_lloyd_means": _raw_lloyd_means,
        "_raw_hier_assign": _raw_hier_assign,
    }


def pattern_failures(plan: str, patterns: list[str]) -> list[str]:
    """Why ``plan`` breaks a CHECKS pattern list (empty: it keeps all)."""
    out = []
    for pat in patterns:
        if pat.startswith("!"):
            if re.search(pat[1:], plan, re.MULTILINE | re.DOTALL):
                out.append(f"plan contains forbidden /{pat[1:]}/")
        elif not re.search(pat, plan, re.MULTILINE | re.DOTALL):
            out.append(f"plan lacks /{pat}/")
    return out


def run_audit(spark, sf_dir, verbose=False, out=print):
    """Execute every CHECKS assertion; returns the failure count.

    Importable so the pytest suite runs the SAME audit the round-close
    claim cites (VERDICT r8 #1: a stale assert must never again coexist
    with a 'plan audit PASS' claim — tests/test_plan_audit.py wires this
    into `pytest tests/`)."""
    builders = audit_builders()
    failures = 0

    # VERDICT r6 #1: shuffle parallelism must be data-proportional ENGINE
    # behavior, not a hand-set env knob — AQE coalescing is on and every
    # batch shuffle starts wide (initialPartitionNum >= max(8 x cores,
    # 512)), letting AQE merge small stages back down. Without this the
    # fixed 32-way shuffle was the measured 1000x wall (preagg exponent
    # 1.61; minhash spill).
    import os as _os

    if "SPARK_GRAFT_SHUFFLE" not in _os.environ:
        _cores = int(_os.environ.get("SPARK_GRAFT_CPUS") or _os.cpu_count() or 8)
        _want = max(8 * _cores, 512)
        _aqe = spark.conf.get("spark.sql.adaptive.enabled")
        _coal = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
        _init = int(
            spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
        )
        if _aqe != "true" or _coal != "true" or _init < _want:
            out(
                f"FAIL session-conf: AQE wide-start missing (aqe={_aqe}, "
                f"coalesce={_coal}, initialPartitionNum={_init}, want >= {_want})"
            )
            failures += 1
        else:
            out(f"OK session-conf (AQE wide-start, initialPartitionNum={_init})")
    for name in dict.fromkeys([*CHECKS, *FENCES]):
        patterns = CHECKS.get(name, [])
        df = builders[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        if verbose:
            out(f"\n===== {name} =====\n{plan}")
        before = failures
        for why in pattern_failures(plan, patterns):
            out(f"FAIL {name}: {why}")
            failures += 1
        for pat in FORBIDDEN_EVERYWHERE:
            if re.search(pat, plan):
                out(f"FAIL {name}: plan contains forbidden {pat}")
                failures += 1
        if name in FENCES:
            for why in fence_failures(plan, *FENCES[name]):
                out(f"FAIL {name}: fence: {why}")
                failures += 1
        allowed = BOUNDED_WINDOWS.get(name, [])
        for spec in unpartitioned_windows(plan):
            for pat, bound in allowed:
                if re.search(pat, spec):
                    out(f"  bounded-window {name}: ordered by [{spec}] — {bound}")
                    break
            else:
                out(
                    f"FAIL {name}: UNPARTITIONED window over [{spec}] with no "
                    "declared bound (single-task funnel at scale)"
                )
                failures += 1
        if failures == before:
            out(f"OK {name}")
    return failures


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("-") else "/root/testdata/sf0.001"
    verbose = "-v" in sys.argv

    from ecollector_spark.session import get_spark

    spark = get_spark("explain_audit")
    failures = run_audit(spark, sf_dir, verbose=verbose)
    print(f"\n{'FAIL' if failures else 'PASS'} ({failures} failures)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
