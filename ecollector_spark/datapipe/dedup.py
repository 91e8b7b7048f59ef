"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each variant):
- exact: hash-groupBy on md5(text) — one shuffle on a 128-bit key,
  perfectly balanced; the keeper is min(doc_id) per group.
- n-gram Jaccard: exact pairwise similarity, but candidate pairs come
  from an inverted shingle index (docs sharing >=1 shingle), with a
  document-frequency cap so a stop-shingle can't produce a quadratic
  bucket. Cost = sum over shingles of df^2, bounded by max_df.
- MinHash+LSH: 8 md5-derived min-hashes -> 4 bands x 2 rows; docs
  colliding in any band are candidates, then exact Jaccard verifies.
  This is the 100 TB path: cost is linear in corpus + bucket-local
  joins; md5 keeps it deterministic and oracle-checkable (lexicographic
  min over md5 hex strings is a valid permutation min-hash).
- SimHash: 16-bit signed-projection hash over tokens; equal values are
  near-dup candidates. One map-side pass + tiny groupBy.

All expression-only — no Python UDFs anywhere.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ecollector_spark.datapipe.text import floor6_sql, shingles_expr, tokens_expr
from ecollector_spark.functions import barriers
from ecollector_spark.session import spread_small_scan


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical texts: (text_hash, keeper_id, n_docs) for
    groups with more than one doc. Dropping everything except keeper_id
    implements exact dedup."""
    h = docs.select(F.md5(F.col(text_col)).alias("text_hash"), "doc_id")
    return (
        h.groupBy("text_hash")
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_docs"))
        .where(F.col("n_docs") > 1)
    )


def _doc_shingles(docs: DataFrame, text_col: str, k: int, materialize: bool = False) -> DataFrame:
    # An input with fewer scan splits than the cluster has cores (one
    # parquet row group is one split) is spread over every core first,
    # so tokenizing, shingling and hashing do not run as one task; at
    # real scale the helper returns the input unchanged (see
    # spread_small_scan).
    # Tokenize in a separate projection: shingles_expr references the
    # token array k+2 times, and inlining the tokenizer into each
    # reference would re-run the regex split per shingle per element
    # (~150x per doc). A multi-referenced non-cheap alias survives
    # CollapseProject, so tokens are computed once per row.
    toks = spread_small_scan(docs).select("doc_id", tokens_expr(text_col).alias("_toks"))
    sh = toks.select("doc_id", F.explode(shingles_expr("_toks", k)).alias("shingle"))
    if materialize:
        # The shingle table feeds the signature aggregate, both sides of
        # the verification intersection join, and the two size joins —
        # five evaluations of tokenize+shingle+explode without a
        # barrier. materialize computes it once on first use; at cluster
        # scale this is the standard persist-the-exploded-index step of
        # an LSH pipeline.
        sh = barriers.materialize(sh)
    return sh


def jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_df: int = 100,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs from an inverted shingle
    index. Pairing uses only shingles with document frequency <= max_df
    (skew guard); the Jaccard itself uses ALL shingles of both docs.
    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard rounded
    to 6 decimals."""
    sh = _doc_shingles(docs, text_col, k, materialize=True)
    return _verify_jaccard(sh, jaccard_candidates(sh, max_df), threshold)


def jaccard_candidates(sh: DataFrame, max_df: int = 100) -> DataFrame:
    """Candidate pairs (doc_a < doc_b) from the df-capped inverted
    shingle index — the pre-verification stage, exposed separately so the
    scale probe (bench.py) can measure candidate growth vs corpus size.

    The index key is ``xxhash64(shingle)`` (r7): document frequency and
    postings-list equality over the hashes match the string key exactly
    short of a 64-bit collision (which could only ADD a candidate pair —
    immediately rejected by exact verification), and both the df
    aggregate and the postings self-join — the two big shuffles of this
    operator — move fixed-width longs instead of shingle text."""
    sh = sh.select("doc_id", F.xxhash64("shingle").alias("shingle"))
    rare = sh.join(
        sh.groupBy("shingle").agg(F.countDistinct("doc_id").alias("df")).where(
            F.col("df") <= max_df
        ),
        "shingle",
    ).select("doc_id", "shingle")
    a, b = rare.alias("a"), rare.alias("b")
    return (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _verify_jaccard(
    sh: DataFrame,
    cand: DataFrame,
    threshold: float,
    cand_docs: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over ALL shingles of each candidate pair: the shingle
    set of each doc is collected once (docs are bounded-length, so the set
    is a small array), then each candidate pair needs just TWO doc_id
    equi-joins and an `array_intersect` — versus the alternative
    intersection-count-by-shingle-join shape, which costs three joins and
    re-shuffles the full exploded shingle table.

    The collected sets hold ``xxhash64(shingle)`` longs, not the shingle
    strings (r7): per-doc shingles are already distinct
    (``shingles_expr`` ends in array_distinct), so |A∩B| and |A∪B| over
    the hashes equal the string-set values unless two DISTINCT shingles
    of one candidate pair collide in 64 bits (P ≈ |A∪B|²/2⁶⁵ ≈ 1e-15 —
    far below the float rounding already applied to the quotient), while
    the groupBy/join shuffles and their spill move 8-byte fixed-width
    elements instead of ~20-byte UTF-8 strings. The 1000× rung showed
    this stage's spill bandwidth — not signature width — is the minhash
    wall (SCALE.md §r7).

    r8: the sets are collected ONLY for docs that can appear in a
    candidate pair (left-semi join on ``cand_docs`` before the groupBy).
    The r7 shape collected every doc's set — the whole corpus's shingles
    shuffled and spilled even when candidates touch a fraction of it;
    now the verify shuffle is proportional to |candidate docs|, not
    |corpus|. Callers pass ``cand_docs`` derived UPSTREAM of the pair
    join (minhash: docs in a >=2-doc LSH bucket — one aggregate on the
    band keys' existing shuffle) so the expensive pair join still has
    exactly its r7 two consumers; deriving the filter from ``cand``
    itself would give the join a third consumer, which measured +25-50%
    at the salted 100x rung (plan-identical exchanges are not reused
    across the union branches) and an explicit localCheckpoint of the
    pairs GC-stalled the 48g driver past the heartbeat timeout at
    1000x. A superset filter is harmless (extra sets join to no pair);
    ``None`` skips the filter (the r7 shape)."""
    sets = sh
    if cand_docs is not None:
        sets = sh.join(cand_docs, "doc_id", "left_semi")
    sets = sets.groupBy("doc_id").agg(
        F.collect_set(F.xxhash64("shingle")).alias("sh_set"),
        F.count("*").alias("n_sh"),
    )
    if cand_docs is None:
        # r13 (exact path only): the per-doc set table behind
        # barriers.materialize — the a/b sides of the pair join otherwise
        # each replay the xxhash64 + collect_set aggregate over the
        # full shingle table (plan-verified: the ObjectHashAggregate +
        # Exchange subtree appeared twice; the branches canonicalize
        # differently after the alias renames, so ReuseExchange never
        # fired). Per-doc arrays of distinct shingle hashes — strictly
        # smaller than the exploded shingle table the caller already
        # checkpoints, so the 100 TB posture is unchanged. The hybrid
        # border path keeps the plain shape: its sets are LeftSemi-
        # bounded to candidate docs (a small table by construction —
        # duplication there is cheap, and the pinned audit contract
        # keeps the semi-join visible in the final plan frame).
        sets = barriers.materialize(sets)
    a = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("set_a"), F.col("n_sh").alias("na")
    )
    b = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("set_b"), F.col("n_sh").alias("nb")
    )
    inter = "size(array_intersect(set_a, set_b))"
    jac = F.expr(floor6_sql(f"{inter} / (na + nb - {inter})"))
    # jaccard behind a fence (functions.barriers): the threshold filter
    # otherwise pushes INTO the join condition with alias substitution,
    # so array_intersect — the verify's per-pair compute — ran once per
    # candidate in the condition AND again per surviving pair in the
    # projection. Behind the fence it runs exactly once per candidate;
    # on dup-heavy corpora (most candidates survive) that halves the
    # verify compute.
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            barriers.fence(jac).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", k: int = 3, num_hashes: int = 8
) -> DataFrame:
    """(doc_id, mh_0..mh_{n-1}): per-seed minimum of md5(seed|shingle),
    carried as ``long`` columns. Lexicographic min over fixed-width hex
    == numeric min of the slice value, so the int64 form has the exact
    collision structure of the historical 4-hex-char string form while
    shuffling 8-byte fixed-width values instead of ~16-byte strings
    (VERDICT r6 #2: the 1000x pair-verify shuffle moves ~200 M
    signature rows — bytes are the wall).

    Computed as ``min()`` aggregates over the *exploded* shingle table —
    one shuffle on doc_id with map-side partial mins — rather than
    array-HOF expressions per hash: N array expressions each re-expand
    the whole tokenize→shingle subtree, which Catalyst's project-collapse
    then inflates multiplicatively (minutes of driver time and MB-sized
    codegen at a few thousand docs); the aggregate form keeps every
    expression O(1) and scales to corpora that don't fit in one array."""
    return _signatures_from_shingles(_doc_shingles(docs, text_col, k), num_hashes)


def _signatures_from_shingles(sh: DataFrame, num_hashes: int) -> DataFrame:
    # The num_hashes hash functions are disjoint 16-bit slices of md5
    # digests: mh_i is slice i % 8 of digest i // 8 (digest 0 is
    # md5(shingle), digest d is md5('d|' || shingle)), read as an
    # unsigned value 0..65535. md5 bits are independent, so each slice
    # is a valid permutation hash; 16-bit min ties only blunt candidate
    # generation, and exact-Jaccard verification decides membership.
    # Min over the slice value equals the lexicographic min over its 4
    # hex chars, so the longs keep the collision structure of the hex
    # form while shuffling 8-byte fixed-width values.
    # Kernel: each digest is projected once per shingle row, then parsed
    # once per half as a signed 64-bit word (conv to base -10 gives the
    # two's-complement value when the top bit is set). Slice i is
    # shiftrightunsigned(word, 48 - 16 * (i % 4)) & 65535 inside its
    # min(). Digests and words are each referenced more than once above
    # their projection, so CollapseProject keeps both layers, and the
    # BIGINT min buffers keep a codegen'd HashAggregate with a map-side
    # partial_min. Built as one SQL string per column.
    n_digests = -(-num_hashes // 8)

    def _digest_sql(d: int) -> str:
        return "md5(shingle)" if d == 0 else f"md5(concat('{d}|', shingle))"

    def _word_sql(w: int) -> str:
        digest, half = divmod(w, 2)
        return (
            f"CAST(conv(substring(_h{digest}, {1 + 16 * half}, 16), 16, -10)"
            f" AS BIGINT) AS _w{w}"
        )

    def _hash_sql(i: int) -> str:
        word, pos = divmod(i, 4)
        return f"min(shiftrightunsigned(_w{word}, {48 - 16 * pos}) & 65535) AS mh_{i}"

    words = sh.selectExpr(
        "doc_id", *[f"{_digest_sql(d)} AS _h{d}" for d in range(n_digests)]
    ).selectExpr("doc_id", *[_word_sql(w) for w in range(-(-num_hashes // 4))])
    return words.groupBy("doc_id").agg(
        F.expr(_hash_sql(0)), *[F.expr(_hash_sql(i)) for i in range(1, num_hashes)]
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    verify: str = "hybrid",
    margin: float = 0.35,
) -> DataFrame:
    """MinHash LSH: band signatures -> bucket join -> verification of
    colliding pairs. Returns (doc_a, doc_b, jaccard >= threshold).

    Bands are unpivoted to long form (doc_id, band, sig) so candidate
    generation is ONE self-equi-join on (band, sig) — the only pairwise
    step, touching only colliding docs; at 100 TB this is a shuffle on
    band signatures whose buckets are near-dup clusters by construction.

    ``verify`` (r8, VERDICT r7 #9 — the verify shuffle is the operator's
    measured spill wall at 1000×; r10 makes hybrid the DEFAULT, closing
    the r9 perf-weak finding: the exact default was per-device-spill-
    bound while the r9 local-cluster experiment showed hybrid under
    executors is the scale path — callers that need the exact Jaccard
    value on every pair opt into ``verify="exact"``):

    - ``"exact"``: exact Jaccard over the
      full shingle sets of every candidate pair.
    - ``"hybrid"`` (default): the already-computed signatures decide first — slice
      agreement a/num_hashes estimates J (E[agree] = J per slice), so
      pairs with agreement >= threshold+margin are accepted and pairs
      <= threshold-margin rejected WITHOUT touching shingle sets; only
      the borderline band pays the exact-Jaccard set shuffle. The
      ``jaccard`` column carries the exact value for borderline pairs
      and the floor6 signature estimate for high-agreement accepts —
      callers that need exact values everywhere use ``"exact"``.
      (The estimator-primary shape is the dedup_incremental near-pass
      semantics, already oracle-green there.)

      Hybrid accept error is bounded by the binomial tail of the
      ``num_hashes`` agreement estimate (ADVICE r8): a pair is
      mis-ACCEPTED without exact verification only when true J <
      threshold yet agreement >= threshold+margin. At the defaults
      (num_hashes=8, threshold=0.5, margin=0.35 -> accept needs >= 7/8
      slices agreeing) that is P[Bin(8, J) >= 7]: ~1.8 % at J = 0.45,
      ~0.13 % at J = 0.30, <0.01 % at J <= 0.20 — and symmetric
      mis-REJECTS (J >= threshold, agreement <= threshold-margin, i.e.
      <= 1/8 slices) are ~3.5 % at J = 0.5 exactly (9/256), falling to
      ~0.4 % at J = 0.65. Raising num_hashes
      tightens both tails exponentially; shrinking margin widens the
      exactly-verified border instead. Pairs inside the border band
      always get the exact Jaccard, so the error budget applies ONLY
      to pairs the 8-slice estimate places far from the threshold."""
    sh = _doc_shingles(docs, text_col, k, materialize=True)
    if verify == "exact":
        # the plain chain (sets for every doc, single-consumer pair
        # join). A candidate-doc filter was tried here in r8 and
        # REGRESSED the salted 1000x rung 1238.6 s vs hybrid's 687.8 s
        # same-session (the filter's extra band-key aggregate + semi
        # join land in the already-spill-bound regime, and on a
        # dup-heavy corpus they filter nothing); it pays only inside
        # hybrid, where the border is small.
        # r13: signatures behind barriers.materialize (the hybrid
        # path's shape) — the band self-join's two branches otherwise
        # each replay the full shingle aggregate (plan-verified: the
        # Sort/HashAggregate subtree appeared twice). Per-doc fixed
        # width (num_hashes longs), same scale class the hybrid path
        # already checkpoints.
        sig = barriers.materialize(_signatures_from_shingles(sh, num_hashes))
        cand = minhash_lsh_candidates(sh, num_hashes, bands, sig=sig)
        return _verify_jaccard(sh, cand, threshold)
    if verify != "hybrid":
        raise ValueError(f"unknown verify mode {verify!r}")
    # hybrid: the signature table is PER-DOC and fixed-width
    # (num_hashes longs) — small enough to checkpoint, unlike the pair
    # table whose materialization GC-killed the 1000x driver. Every
    # band-side branch below (pair join's two sides, the hot-bucket
    # aggregate, the candidate-doc semi-join) then replays a cheap
    # explode over the cached signatures instead of re-running the
    # shingle aggregate. The checkpoint is eager because AQE schedules
    # those branches as concurrent stages: over a lazy one, the first
    # job to end cuts the lineage while the other stages still carry
    # the signature plan's SQL metrics, and once a JVM GC drops them
    # each such task logs "attempted to access non-existent
    # accumulator" on completion.
    sig = barriers.snapshot(_signatures_from_shingles(sh, num_hashes))
    bl = _bands_long(sig, num_hashes, bands)
    cand = _pairs_from_bands(bl)
    # docs that can appear in any pair = members of a >=2-doc bucket —
    # ONE aggregate on the band keys, upstream of the pair join (so the
    # join keeps its single consumer); bounds the border verify's
    # shingle-set collection (see _verify_jaccard)
    hot = bl.groupBy("band", "sig").agg(F.count("*").alias("_c")).where(
        F.col("_c") >= 2
    )
    cand_docs = (
        bl.join(hot, ["band", "sig"], "left_semi").select("doc_id").distinct()
    )
    return _verify_hybrid(sh, sig, cand, threshold, num_hashes, margin, cand_docs)


def _verify_hybrid(
    sh: DataFrame,
    sig: DataFrame,
    cand: DataFrame,
    threshold: float,
    num_hashes: int,
    margin: float,
    cand_docs: DataFrame | None = None,
) -> DataFrame:
    """Signature-agreement primary verdict + exact Jaccard only for the
    borderline band (see minhash_lsh_pairs). The signature join moves
    ``num_hashes`` longs per doc — fixed width, no collect_set, no
    spill; the shingle-set machinery runs only for pairs whose estimate
    sits within ``margin`` of the threshold. Multi-branch reuse is by
    ReuseExchange (cand ends in a distinct), same as _verify_jaccard."""
    sig_a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(num_hashes)],
    )
    sig_b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(num_hashes)],
    )
    agree_n = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    est = (agree_n.cast("double") / num_hashes).alias("est")
    scored = (
        cand.join(sig_a, "doc_a").join(sig_b, "doc_b").select("doc_a", "doc_b", est)
    )
    hi, lo = min(1.0, threshold + margin), max(0.0, threshold - margin)
    sure = scored.where(F.col("est") >= hi).select(
        "doc_a", "doc_b", F.expr(floor6_sql("est")).alias("jaccard")
    )
    border = scored.where((F.col("est") < hi) & (F.col("est") > lo)).select(
        "doc_a", "doc_b"
    )
    return sure.unionByName(
        _verify_jaccard(sh, border, threshold, cand_docs=cand_docs)
    )


def _bands_long(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Unpivot a signature table (doc_id, mh_0..mh_{n-1}) to LSH bucket
    keys (doc_id, band, sig) — ``sig`` packs the band's 16-bit slices
    into ONE long (base-65536 positional combine: exact, no collisions,
    8 shuffle bytes vs the historical concatenated hex string), NULL
    (filtered) for docs with no shingles. Bands wider than 4 slices
    don't fit 64 bits positionally and fall back to xxhash64 over the
    slice columns (collisions ~2^-64; verification follows anyway)."""
    rows = num_hashes // bands

    # One SQL string for the whole unpivot (r12 optimization, guide §5):
    # the per-band Column loops cost ~15 py4j round-trips per band; the
    # parser builds the identical explode(array(named_struct(...))) tree
    # in a handful.
    def _band_sig(b: int) -> str:
        cols = [f"mh_{b * rows + r}" for r in range(rows)]
        if rows <= 4:
            expr = cols[0]
            for c in cols[1:]:
                expr = f"({expr} * 65536 + {c})"
            return f"CAST({expr} AS BIGINT)"
        any_null = " OR ".join(f"{c} IS NULL" for c in cols)
        return (
            f"CASE WHEN {any_null} THEN CAST(NULL AS BIGINT)"
            f" ELSE xxhash64({', '.join(cols)}) END"
        )

    band_structs = ", ".join(
        f"named_struct('band', {b}, 'sig', {_band_sig(b)})" for b in range(bands)
    )
    return (
        sig.selectExpr("doc_id", f"explode(array({band_structs})) AS _bs")
        .select("doc_id", F.col("_bs.band").alias("band"), F.col("_bs.sig").alias("sig"))
        .where(F.col("sig").isNotNull())
    )


def _pairs_from_bands(bands_long: DataFrame) -> DataFrame:
    """(doc_a < doc_b) pairs colliding in any (band, sig) bucket."""
    x, y = bands_long.alias("x"), bands_long.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.sig") == F.col("y.sig"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_candidates(
    sh: DataFrame, num_hashes: int = 8, bands: int = 4,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Banded-signature candidate pairs (doc_a < doc_b) — the
    pre-verification stage of :func:`minhash_lsh_pairs`, exposed so the
    scale probe can measure candidate growth vs corpus size. ``sig``
    passes a precomputed signature table."""
    if sig is None:
        sig = _signatures_from_shingles(sh, num_hashes)
    return _pairs_from_bands(_bands_long(sig, num_hashes, bands))


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-duplicate pairs -> (doc_id,
    cluster_id), cluster_id = min doc_id in the component. This is the
    step that turns pairwise dedup output into an actionable keep-list
    (keep doc_id == cluster_id, drop the rest).

    Iterative min-label propagation: each round every node takes the
    minimum label among itself and its neighbors; converges in
    O(component diameter) rounds (dup clusters are shallow). Each round
    is one join + one aggregate on node id — all hash-partitioned, no
    driver-side graph. Lineage is truncated per round with a lazy
    materialize (functions.barriers) so plan depth stays O(1) instead of O(iterations)
    (the classic iterative-algorithm trap at scale); convergence is
    detected by a count of changed labels. If the label propagation has
    not converged after ``max_iter`` rounds (component diameter >
    max_iter), a warning is emitted — unconverged labels would split one
    component into several cluster_ids and over-retain duplicates.
    """
    sym = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).unionByName(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
    labels = barriers.materialize(
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    for _ in range(max_iter):
        neigh = (
            sym.join(labels, sym["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = barriers.materialize(
            labels.join(neigh, labels["node"] == neigh["src"], "left").select(
                "node",
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        warnings.warn(
            f"connected_components: labels still changing after {max_iter} "
            "iterations; clusters may be split — raise max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def simhash(docs: DataFrame, text_col: str = "text", bits: int = 16) -> DataFrame:
    """(doc_id, simhash): signed-projection hash over distinct tokens.
    Token hash = first 60 bits of md5 (identical in the SQL twin via
    '0x'||substr cast); bit i of the simhash is set when the sum of
    (+1/-1) votes from token-hash bit i is >= 0."""
    # The three per-bit loops below are SQL strings (r12 optimization,
    # guide §5): the Column-builder form cost ~45 py4j round-trips per
    # bit (vote CASE + sum + weighted recombine); the parser builds the
    # identical trees in ~2 per expression.
    toks = F.array_distinct(tokens_expr(text_col))
    ex = docs.select("doc_id", F.explode(toks).alias("tok"))
    h = "CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT)"
    votes = ex.selectExpr(
        "doc_id",
        *[
            f"CASE WHEN (shiftright({h}, {i}) & 1) = 1 THEN 1 ELSE -1 END AS b{i}"
            for i in range(bits)
        ],
    )
    agg = votes.groupBy("doc_id").agg(
        F.expr("sum(b0) AS s0"), *[F.expr(f"sum(b{i}) AS s{i}") for i in range(1, bits)]
    )
    sim = " + ".join(
        f"CASE WHEN s{i} >= 0 THEN {1 << i} ELSE 0 END" for i in range(bits)
    )
    return agg.selectExpr("doc_id", f"CAST({sim} AS BIGINT) AS simhash")


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    k: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training docs that share ANY
    k-token shingle with the benchmark corpus — the standard
    pretraining-hygiene pass that keeps eval data out of the training
    set (n-gram overlap, the common published recipe).

    Returns (doc_id, n_hits) for contaminated training docs, where
    n_hits counts the distinct shared shingles; anti-join the training
    corpus on doc_id to clean it.

    Scale shape: the benchmark side collapses to its DISTINCT shingle
    set (benchmarks are orders of magnitude smaller than training
    corpora, so this is broadcast-sized in practice and Spark picks the
    broadcast automatically below the threshold); the train side is the
    usual exploded shingle index, and the flagging is one semi-join-
    shaped equi-join on the shingle key followed by a doc_id count.
    Nothing is quadratic; a stop-shingle costs train-df rows, not df^2,
    because the benchmark side is distinct.

    The join key is ``xxhash64(shingle)`` (r7): at pretraining scale the
    train-side shingle index is the single biggest shuffle input of the
    hygiene pass, and an 8-byte key more than halves its shuffle row
    width vs the k-token string. A 64-bit collision can only add a
    (spurious) hit for one doc — n_hits counts distinct hashes, and the
    published recipe tolerates over-flagging by construction."""
    ts = _doc_shingles(train, text_col, k).select(
        "doc_id", F.xxhash64("shingle").alias("shingle")
    )
    bs = (
        _doc_shingles(benchmark, text_col, k)
        .select(F.xxhash64("shingle").alias("shingle"))
        .distinct()
    )
    return (
        ts.join(bs, "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").alias("n_hits"))
    )


# ---------------------------------------------------------------------------
# incremental (cross-batch) dedup
# ---------------------------------------------------------------------------

def exact_manifest(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The compact exact-dedup state of an already-ingested corpus:
    DISTINCT md5(text) as ``text_hash``. O(corpus) rows of 32 chars —
    at 100 TB of documents this is the only thing the next ingest batch
    needs to see; the historical text itself is never re-read."""
    return docs.select(F.md5(F.col(text_col)).alias("text_hash")).distinct()


def dedup_incremental(
    new_docs: DataFrame,
    seen_exact: DataFrame,
    seen_sigs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    min_sig_agree: float = 0.5,
) -> DataFrame:
    """Dedup an incoming batch against compact manifests of everything
    already ingested — the only dedup shape that works at 100 TB, where
    re-deduplicating the historical corpus per ingest is off the table.

    ``seen_exact`` is :func:`exact_manifest` of the ingested corpus;
    ``seen_sigs`` is its :func:`minhash_signatures` table (doc_id +
    num_hashes 16-bit slices — a few bytes per historical doc). Returns
    one row per new doc: ``(doc_id, status, matched_seen)`` with status

    - ``dup_exact_seen`` — md5(text) already in ``seen_exact``;
    - ``dup_exact_batch`` — byte-identical to an earlier (min doc_id)
      doc of the same batch;
    - ``dup_near_seen`` — shares an LSH band bucket with a historical
      doc AND >= ceil(min_sig_agree * num_hashes) signature slices
      agree (the MinHash estimate of Jaccard >= min_sig_agree; exact
      verification is impossible by design — the old text is gone);
      ``matched_seen`` is the smallest such historical doc_id;
    - ``dup_near_batch`` — same banded verify against a SMALLER-id doc
      of the same batch (keeper = min doc_id, matching the batch
      family's connected-components min-label keeper); ``matched_seen``
      stays null — the partner is a batch id, not a historical one;
    - ``kept`` — survives all four; fold it into the manifests with
      :func:`fold_manifests` before the next batch.

    Scale shape: three equi-joins on uniform hash keys (text_hash;
    (band, sig); doc_id) plus one per-text_hash min — no step ever
    touches historical text, and candidate verification joins only
    bucket-colliding (new, old) id pairs to two narrow signature
    tables."""
    required = -(-int(min_sig_agree * num_hashes * 1000000) // 1000000)  # ceil
    new_h = new_docs.select("doc_id", F.md5(F.col(text_col)).alias("text_hash"))
    # seen_exact is DISTINCT by contract (exact_manifest / fold_manifests
    # both end in distinct) — re-distincting here would shuffle the whole
    # O(corpus) manifest on every ingest batch for nothing. A duplicated
    # hash in a non-conforming manifest would fan the left join out.
    seen = seen_exact.select(F.col("text_hash").alias("_seen_hash"))
    flagged = new_h.join(
        seen, new_h["text_hash"] == seen["_seen_hash"], "left"
    ).select(
        "doc_id",
        "text_hash",
        F.col("_seen_hash").isNotNull().alias("_exact_seen"),
    )
    w = Window.partitionBy("text_hash")
    flagged = flagged.withColumn("_keeper", F.min("doc_id").over(w))

    sig_new = minhash_signatures(new_docs, text_col, k, num_hashes)
    bn = _bands_long(sig_new, num_hashes, bands)
    bo = _bands_long(seen_sigs, num_hashes, bands)
    cand = (
        bn.alias("n")
        .join(
            bo.alias("o"),
            (F.col("n.band") == F.col("o.band")) & (F.col("n.sig") == F.col("o.sig")),
        )
        .select(
            F.col("n.doc_id").alias("new_id"), F.col("o.doc_id").alias("old_id")
        )
        .distinct()
    )
    agree = sum(
        (F.col(f"ns.mh_{i}") == F.col(f"os.mh_{i}")).cast("int")
        for i in range(num_hashes)
    )
    near = (
        cand.join(
            sig_new.alias("ns"), cand["new_id"] == F.col("ns.doc_id")
        )
        .join(seen_sigs.alias("os"), cand["old_id"] == F.col("os.doc_id"))
        .where(agree >= required)
        .groupBy("new_id")
        .agg(F.min("old_id").alias("_near_seen"))
    )
    # in-batch near-dups: without this, two near-duplicate (non-identical)
    # docs arriving in the SAME batch would both classify kept and both
    # fold into the manifests — permanently admitting a near-dup pair that
    # would have been dropped had they arrived in separate batches. Same
    # banded LSH + slice-agreement verify, run over the batch against
    # itself; keeper = smallest doc_id (pairwise min — matches the batch
    # family's connected-components min-label keeper, so a chain A~B~C
    # keeps only A even when A!~C). A doc whose smaller-id partner is
    # itself an exact dup drops consistently either way: identical text
    # means identical signatures, so the partner's keeper (or its
    # historical twin in seen_sigs) collides too.
    nb_cand = (
        bn.alias("a")
        .join(
            bn.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") > F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("nb_id"), F.col("b.doc_id").alias("partner_id"))
        .distinct()
    )
    agree_batch = sum(
        (F.col(f"na.mh_{i}") == F.col(f"pb.mh_{i}")).cast("int")
        for i in range(num_hashes)
    )
    near_batch = (
        nb_cand.join(sig_new.alias("na"), nb_cand["nb_id"] == F.col("na.doc_id"))
        .join(sig_new.alias("pb"), nb_cand["partner_id"] == F.col("pb.doc_id"))
        .where(agree_batch >= required)
        .groupBy("nb_id")
        .agg(F.min("partner_id").alias("_near_batch"))
    )
    out = flagged.join(near, flagged["doc_id"] == near["new_id"], "left").join(
        near_batch, flagged["doc_id"] == near_batch["nb_id"], "left"
    )
    status = (
        F.when(F.col("_exact_seen"), F.lit("dup_exact_seen"))
        .when(F.col("_keeper") != F.col("doc_id"), F.lit("dup_exact_batch"))
        .when(F.col("_near_seen").isNotNull(), F.lit("dup_near_seen"))
        .when(F.col("_near_batch").isNotNull(), F.lit("dup_near_batch"))
        .otherwise(F.lit("kept"))
    )
    return out.select(
        "doc_id",
        status.alias("status"),
        F.when(status == "dup_near_seen", F.col("_near_seen")).alias("matched_seen"),
    )


def fold_manifests(
    seen_exact: DataFrame,
    seen_sigs: DataFrame,
    new_docs: DataFrame,
    decisions: DataFrame,
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Advance the incremental-dedup state after a batch: the kept docs'
    hashes and signatures join the manifests (dropped docs add no state
    — their content is, by definition, already represented). Returns the
    new ``(seen_exact, seen_sigs)`` pair for the next
    :func:`dedup_incremental` call."""
    kept = decisions.where(F.col("status") == "kept").select("doc_id")
    kept_docs = new_docs.join(kept, "doc_id")
    new_exact = seen_exact.unionByName(exact_manifest(kept_docs, text_col)).distinct()
    new_sigs = seen_sigs.unionByName(
        minhash_signatures(kept_docs, text_col, k, num_hashes)
    )
    return new_exact, new_sigs


def dedup_paragraphs(
    docs: DataFrame,
    text_col: str = "text",
    sep: str = "\n",
    min_dups: int = 2,
    min_chars: int = 1,
) -> DataFrame:
    """Corpus-level repeated-paragraph removal (r9) — the public
    LLM-pipeline stage (Dolma / Gopher / Falcon style) that strips
    boilerplate paragraphs repeated across documents: every paragraph
    whose exact text occurs in >= ``min_dups`` DISTINCT documents is
    removed from ALL of them; each document's surviving paragraphs
    re-join in their original order, and documents with no surviving
    paragraph drop out entirely. Paragraphs shorter than ``min_chars``
    (after trim) are exempt — never counted, never removed — so blank
    separators don't dedup each other away.

    Scale shape (100 TB posture): one explode, one partial-aggregated
    groupBy on an xxhash64 long (count of DISTINCT doc ids — the dup
    set is tiny relative to the corpus by construction), one LEFT ANTI
    hash join back on the long key, and one per-doc groupBy whose
    order-preserving reassembly is an array_sort over that document's
    own paragraphs (bounded per group) — never a corpus-wide window,
    never a pairwise comparison. Returns (doc_id, text).
    """
    pid = F.col("doc_id")
    paras = docs.select(
        pid,
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    )
    eligible = F.length(F.trim(F.col("para"))) >= min_chars
    dup = (
        paras.where(eligible)
        .groupBy(F.xxhash64("para").alias("_h"))
        .agg(F.count_distinct("doc_id").alias("_docs"))
        .where(F.col("_docs") >= min_dups)
        .select("_h")
    )
    keep = paras.withColumn("_h", F.xxhash64("para")).join(
        dup, "_h", "left_anti"
    )
    return (
        keep.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "para"))),
                    lambda x: x["para"],
                ),
                sep,
            ).alias(text_col)
        )
        .select("doc_id", text_col)
    )


def normalize_url(url):
    """Canonical URL form for URL-level dedup (the CCNet / RefinedWeb
    pipeline stage: one crawl record per page, however the link was
    written). Pure Column expressions — Java-regex/RE2 common subset so
    a DuckDB oracle can mirror every rule:

    - scheme and host lowercase; leading ``www.`` stripped
    - userinfo (``user:pass@``) stripped from the authority
    - default port stripped (``:80`` for http, ``:443`` for https)
    - fragment dropped; trailing slashes on the path dropped
    - tracking query params dropped (utm_*, fbclid, gclid, ref);
      surviving params sorted so ``?b=2&a=1`` == ``?a=1&b=2``

    A string with no ``scheme://`` prefix is NOT a canonicalizable URL
    — it passes through UNCHANGED (r10, ADVICE: the old behavior folded
    scheme-less crawl records into malformed ``://host...`` keys that
    silently deduped against each other; unchanged pass-through keeps
    each malformed record its own key so it surfaces downstream)."""
    from pyspark.sql import functions as F

    url = F.col(url) if isinstance(url, str) else url
    u = F.regexp_replace(F.trim(url), r"#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    host = F.lower(F.regexp_extract(rest, r"^([^/?]+)", 1))
    host = F.regexp_replace(host, r"^[^/?]*@", "")
    host = F.regexp_replace(host, r"^www\.", "")
    host = F.when(scheme == "http", F.regexp_replace(host, ":80$", "")).otherwise(
        F.when(scheme == "https", F.regexp_replace(host, ":443$", "")).otherwise(host)
    )
    pathq = F.regexp_extract(rest, r"^[^/?]+(.*)$", 1)
    path = F.regexp_replace(F.regexp_extract(pathq, r"^([^?]*)", 1), r"/+$", "")
    query = F.regexp_extract(pathq, r"\?(.*)$", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "")
            & ~p.rlike(r"^(utm_[A-Za-z0-9_]+|fbclid|gclid|ref)="),
        )
    )
    qnorm = F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
    ).otherwise(F.lit(""))
    return F.when(
        scheme == "", url
    ).otherwise(F.concat(scheme, F.lit("://"), host, path, qnorm))


def dedup_urls(
    docs: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """URL-level exact dedup on the normalized form: one survivor (the
    lowest ``id_col``) per canonical URL. Returns
    (id_col, url_norm), ordered by id. One normalization projection +
    one groupBy on the canonical string (partial min map-side) — the
    cheapest dedup stage in the pipeline and usually the first."""
    from pyspark.sql import functions as F

    norm = docs.select(
        F.col(id_col), normalize_url(F.col(url_col)).alias("url_norm")
    )
    return (
        norm.groupBy("url_norm")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, "url_norm")
        .orderBy(id_col)
    )


def dedup_ngram_spans(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 5,
    min_dups: int = 2,
) -> DataFrame:
    """Exact duplicated-SPAN removal (r9) — the fine-grained twin of
    :func:`dedup_paragraphs`, after the public exact-substring dedup
    stage of Lee et al. 2021 ("Deduplicating Training Data Makes
    Language Models Better", arXiv:2107.06499): every token position
    covered by a ``k``-token shingle that occurs in >= ``min_dups``
    DISTINCT documents is removed from ALL of them (the suffix-array
    step of the paper re-expressed as shingle marking — token-level
    granularity instead of byte-level, removal from every copy instead
    of all-but-one, both deviations documented here). Surviving tokens
    re-join in original order with single spaces (tokenization is
    whitespace splitting, so runs of whitespace normalize); documents
    with no surviving token drop out. Documents shorter than ``k``
    tokens carry no shingle and pass through untouched (modulo the
    whitespace normalization).

    Scale shape (100 TB posture): expression-only — one shingle
    explode (n-k+1 rows/doc, xxhash64 longs), one partial-aggregated
    count-DISTINCT-docs groupBy on the long, one equi-join of doc
    shingles against the (small by construction) dup set, one
    bounded explode of hits to the <= k covered positions each, one
    LEFT ANTI join on (doc_id, pos), and a per-doc bounded array_sort
    reassembly. Never a corpus-wide window, never a suffix array in
    driver memory, no UDFs. Matching is on the 64-bit shingle hash
    (collisions over-remove with probability ~n_shingles^2 / 2^64 —
    the standard trade documented on every xxhash64 key in this
    module). Returns (doc_id, text)."""
    toks_arr = F.array_remove(F.split(F.col(text_col), r"\s+"), "")
    t = docs.select(F.col("doc_id"), toks_arr.alias("_toks"))
    shingle = lambda i: F.xxhash64(  # noqa: E731
        F.concat_ws(" ", F.slice(F.col("_toks"), i + 1, k))
    )
    sh = t.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("_toks") >= k,
                F.transform(
                    F.sequence(F.lit(0), F.size("_toks") - k),
                    lambda i: F.struct(i.alias("pos"), shingle(i).alias("_h")),
                ),
            ).otherwise(F.array().cast("array<struct<pos:int,_h:bigint>>"))
        ).alias("_s"),
    ).select("doc_id", F.col("_s.pos").alias("pos"), F.col("_s._h").alias("_h"))
    dup = (
        sh.groupBy("_h")
        .agg(F.count_distinct("doc_id").alias("_docs"))
        .where(F.col("_docs") >= min_dups)
        .select("_h")
    )
    covered = (
        sh.join(dup, "_h")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias(
                "pos"
            ),
        )
        .distinct()
    )
    tokens = t.select(
        "doc_id", F.posexplode("_toks").alias("pos", "tok")
    )
    keep = tokens.join(covered, ["doc_id", "pos"], "left_anti")
    return (
        keep.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x["tok"],
                ),
                " ",
            ).alias(text_col)
        )
        .select("doc_id", text_col)
    )
