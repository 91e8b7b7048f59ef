"""Similarity search over embedding columns (array<float>).

- brute-force cosine: exact baseline — one scan, dot product as a
  sequential fold (bit-identical to the DuckDB oracle's list_reduce),
  no shuffle until the final top-k (which AQE keeps tiny).
- LSH: random-hyperplane LSH for cosine with ``bits`` deterministic
  md5-seeded hyperplanes per table x ``tables`` independent tables.
  Candidate recall for a pair at angle theta is
  1 - (1 - (1 - theta/pi)^bits)^tables; more tables buys recall, more
  bits buys smaller buckets (expected bucket size N / 2^bits, so the
  bucket-local pair join is O(sum b^2) ~ N^2 / 2^bits per table instead
  of N^2). Search builds the index once (``lsh_build``: (table, bucket)
  partition columns) and probes it (``lsh_search_indexed``: partition
  pruning to the query's buckets).
- IVF: seeded-sample centroids refined by a fixed number of Lloyd
  iterations (means in exact decimal so any engine reproduces them
  bit-identically), then nprobe nearest inverted lists. Search builds
  the index once (``ivf_build``: cid-partitioned inverted lists + an
  O(n_centroids) centroid sidecar, optionally PQ codes beside each
  row) and probes it (``ivf_topk_indexed`` / ``ivf_pq_topk_indexed``:
  partition-pruned scan of nprobe lists — never a corpus scan, never a
  per-call training pass). Past ``flat_cap`` lists (r10) the index
  goes TWO-LEVEL (``hierarchical_centroids``): sqrt(k)-partitioned
  layout, two-stage O(sqrt(k)) driver probes, no 4096-list broadcast
  ceiling — the same quantizer SemDeDup's large-k path uses.

Everything is expression-only; a Pandas-UDF variant would move Arrow
batches for no gain since the fold is already JVM-side.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ecollector_spark.functions import barriers, publish, quote_ident

DEFAULT_LSH_SEED = "ecollector-lsh"


def _dot_sql(a: str, b: str) -> str:
    """Dot product of two double-array SQL fragments as a sequential
    left fold (deterministic order, bit-identical to the DuckDB
    oracle's list_reduce) — one parser call instead of ~50 py4j
    round-trips as a Column."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"


def _lit_vec_sql(vec) -> str:
    """A query vector as a SQL double-array literal. ``repr`` emits the
    shortest round-tripping decimal and Spark's parser is correctly
    rounded, so the doubles are bit-identical to ``F.lit(float(x))``.
    Non-finite values (ADVICE r12: ``repr`` would emit ``inf``/``nan``,
    which the SQL parser rejects) go through the CAST forms the parser
    does accept — same doubles as ``F.lit(float('inf'))`` etc."""

    def one(x) -> str:
        f = float(x)
        if f != f:  # NaN
            return "CAST('NaN' AS DOUBLE)"
        if f == float("inf"):
            return "CAST('Infinity' AS DOUBLE)"
        if f == float("-inf"):
            return "CAST('-Infinity' AS DOUBLE)"
        return f"{f!r}D"

    return "array(" + ", ".join(one(x) for x in vec) + ")"


def _cosine_sql(v: str, q: str, v_norm: str = "", q_norm: str = "") -> str:
    """cosine(v, q) fragment over already-double array fragments; the
    norms default to ``sqrt(dot(x, x))`` (pass precomputed ones). NULL
    when either norm is 0: a zero vector has no direction, and under
    ANSI the division would fail the whole query."""
    v_norm = v_norm or f"sqrt({_dot_sql(v, v)})"
    q_norm = q_norm or f"sqrt({_dot_sql(q, q)})"
    return f"try_divide({_dot_sql(v, q)}, {v_norm} * {q_norm})"


def _as_double(c: Column) -> Column:
    return c.cast("array<double>")


def cosine_scores(emb: DataFrame, query_vec: str, vec_col: str = "embedding") -> DataFrame:
    """``emb`` plus a ``cosine`` column between the named vector columns."""
    v = f"CAST({quote_ident(vec_col)} AS ARRAY<DOUBLE>)"
    q = f"CAST({quote_ident(query_vec)} AS ARRAY<DOUBLE>)"
    return emb.withColumn("cosine", F.expr(_cosine_sql(v, q)))


def brute_force_topk(
    emb: DataFrame, query_id: int, k: int = 10, vec_col: str = "embedding"
) -> DataFrame:
    """Exact top-k by cosine against the embedding of ``query_id``.
    Output (vec_id, cosine) ordered desc, ties by vec_id."""
    q = emb.where(F.col("vec_id") == query_id).select(F.col(quote_ident(vec_col)).alias("_q"))
    scored = cosine_scores(emb.crossJoin(F.broadcast(q)), "_q", vec_col)
    return (
        scored.where(F.col("vec_id") != query_id)
        .select("vec_id", F.round("cosine", 6).alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(k)
    )


def cosine_threshold(
    emb: DataFrame, query_id: int, threshold: float, vec_col: str = "embedding"
) -> DataFrame:
    """All vectors with round(cosine,6) >= threshold vs the query vector —
    the deterministic (orderless) form of similarity search."""
    q = emb.where(F.col("vec_id") == query_id).select(F.col(quote_ident(vec_col)).alias("_q"))
    scored = cosine_scores(emb.crossJoin(F.broadcast(q)), "_q", vec_col)
    # behind a fence (functions.barriers, same class as the near-dup
    # verifies): the threshold filter otherwise pushes below the
    # projection with alias substitution and the dim-length cosine fold
    # evaluates twice for every surviving row
    return (
        scored.where(F.col("vec_id") != query_id)
        .select("vec_id", barriers.fence(F.round("cosine", 6)).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def hyperplanes(
    dim: int, bits: int, tables: int = 1, seed: str = DEFAULT_LSH_SEED
) -> list[list[list[float]]]:
    """Deterministic pseudo-random hyperplanes ``[table][bit][dim]``.

    Each weight is md5(seed|table|bit|dim) mapped to [-1, 1) — a dyadic
    rational (k/2^31 - 1), exactly representable as a double, so any
    engine given the same literals computes bit-identical projections.
    No RNG state: reproducible across processes, rounds, and the SQL
    oracle."""
    return [
        [
            [
                int(hashlib.md5(f"{seed}|{t}|{j}|{d}".encode()).hexdigest()[:8], 16)
                / 2.0**31
                - 1.0
                for d in range(dim)
            ]
            for j in range(bits)
        ]
        for t in range(tables)
    ]


def hyperplane_bucket(vec: str, planes: list[list[float]]) -> Column:
    """Bucket id for one LSH table over the named double-array column:
    bit j set iff dot(vec, plane_j) >= 0."""
    bits = "".join(
        f" + CASE WHEN {_dot_sql(vec, _lit_vec_sql(ws))} >= 0 THEN {1 << j} ELSE 0 END"
        for j, ws in enumerate(planes)
    )
    return F.expr(f"CAST(0{bits} AS INT)")


def _embedding_dim(emb: DataFrame, vec_col: str) -> int:
    row = emb.select(F.size(vec_col).alias("d")).first()
    if row is None:
        raise ValueError("empty embedding table: pass dim= explicitly")
    return row["d"]


def _table_buckets(
    base: DataFrame, planes: list[list[list[float]]], vec: str = "_v", keep: tuple = ()
) -> DataFrame:
    """(vec_id, *keep, _t, _b): the bucket of ``base``'s named vector in
    every LSH table, one row per table. With no ``keep`` it is the slim
    index frame (ids only, vectors stay behind) that candidate
    generation joins on."""
    structs = [
        F.struct(F.lit(t).alias("t"), hyperplane_bucket(vec, tp).alias("b"))
        for t, tp in enumerate(planes)
    ]
    return base.select("vec_id", *keep, F.explode(F.array(*structs)).alias("_tb")).select(
        "vec_id", *keep, F.col("_tb.t").alias("_t"), F.col("_tb.b").alias("_b")
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    bits: int = 8,
    tables: int = 2,
    dim: int | None = None,
    seed: str = DEFAULT_LSH_SEED,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates share a
    hyperplane-LSH bucket in ANY of ``tables`` independent tables, then
    exact cosine verifies. Returns (vec_a, vec_b, cosine >= threshold),
    vec_a < vec_b, cosine rounded to 6 decimals.

    Scale shape (r7 rework, measurement-directed): the verify step is
    BUCKET-LOCAL — vectors ride through the per-table bucket explode
    (N x tables vector rows shuffled ONCE on the (table, bucket) key)
    and cosine is computed in the streamed output of the bucket
    self-join, so vector shuffle volume is ~N·tables·dim and
    independent of the candidate count. The previous shape (slim id
    pairs, then re-join both vectors by id) shuffled one vector PER
    CANDIDATE SIDE — ~candidates x dim — which filled the probe box's
    disk at the 20M-row rung (~2x10^8 candidates x 1 KB); bucket-local
    verify cut the rung's shuffle by the mean candidate degree.
    Per-vector norms are precomputed at the explode (sqrt(dot(v,v)),
    the exact operand order of the old expression, so cosines are
    bit-identical and no oracle changes). A pair colliding in several
    tables computes the same cosine each time; the final distinct()
    dedups surviving pairs (exact doubles, deterministic fold).
    Expected bucket size is N/2^bits per table (the candidate term is
    N^2/2^bits). Candidate recall for a pair at cosine c:
    1 - (1 - (1 - acos(c)/pi)^bits)^tables — tune tables up for higher
    recall, bits up for bigger corpora."""
    if dim is None:
        dim = _embedding_dim(emb, vec_col)
    planes = hyperplanes(dim, bits, tables, seed)
    base = emb.select(F.col("vec_id"), _as_double(F.col(vec_col)).alias("_v"))
    bk = _table_buckets(base, planes, keep=("_v",)).select(
        "vec_id", "_v", F.expr(f"sqrt({_dot_sql('_v', '_v')})").alias("_n"), "_t", "_b"
    )
    a, b = bk.alias("a"), bk.alias("b")
    cos = F.expr(f"round({_cosine_sql('a._v', 'b._v', 'a._n', 'b._n')}, 6)")
    # cosine behind a fence (functions.barriers, same shape as the
    # minhash verify): the threshold filter otherwise pushes into the
    # bucket join's condition with alias substitution, so the
    # dim-length dot-product fold ran once per candidate in the
    # condition AND again per surviving pair in the projection. Behind
    # the fence it runs exactly once per candidate.
    return (
        a.join(
            b,
            (F.col("a._t") == F.col("b._t"))
            & (F.col("a._b") == F.col("b._b"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            barriers.fence(cos).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .distinct()
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.95,
    n_centroids: int | None = None,
    n_iter: int = 2,
    vec_col: str = "embedding",
    flat_cap: int = 32,
    level1: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public paper):
    semantic deduplication of an embedded corpus by k-means clustering
    + within-cluster cosine pruning. Returns the SURVIVORS as
    (vec_id, cluster_id), ordered by vec_id.

    Semantics (deterministic, order-free): a vector DROPS iff some
    LOWER-ID vector in the SAME cluster has cosine >= ``threshold``
    with it (rounded to 6 decimals, the repo's cross-engine cosine
    convention). The paper keeps the member with the lowest distance
    to the centroid inside each epsilon-ball; lowest-id is the
    deterministic twin of that choice (documented deviation: the kept
    EXEMPLAR differs, and on similarity CHAINS the dedup RATE can too —
    the lower-id witness may itself be dropped, so cos(1,2)>=t,
    cos(2,3)>=t, cos(1,3)<t drops BOTH 2 and 3 here where iterative
    exemplar selection would keep one of them; r10 ADVICE note), and
    unlike iterative exemplar selection it is expressible as one
    relational predicate on both engines.

    Scale shape: the pairwise step shuffles the corpus ONCE on ``cid``
    and self-joins inside each cluster, so the comparison count is
    sum(c_i^2) over cluster sizes — never corpus^2. The knob that keeps
    that bounded at 100 TB is ``n_centroids``: the paper's regime is
    many small clusters (k scales WITH the corpus; k ~ sqrt(N) gives
    ~sqrt(N)-sized clusters and ~N^1.5 worst-case comparisons, larger k
    lowers it further). ``n_centroids=None`` (the default, r10 — the
    fixed-8 default was VERDICT r9's #1 footgun) therefore AUTO-SIZES:
    one metadata-cheap count() and :func:`default_n_centroids` with the
    dedup cap of 2^24 lists, so posture stays ~N^1.5 to a ~3e14-vector
    corpus instead of turning quadratic at the IVF broadcast cap.

    Clustering is the IVF coarse quantizer for k <= ``flat_cap``
    (:func:`ivf_assignments` — one broadcast-argmin scan per Lloyd
    step, exact-decimal means, bit-identical to the SQL oracle); past
    that it switches to the two-level quantizer. BEHAVIORAL BREAK
    (r11→, ADVICE r12): the two quantizers are NOT
    assignment-identical, so lowering ``flat_cap`` 4096→32 CHANGES the
    cluster assignments — and therefore which duplicates drop — for
    default-knob callers with 32 < k <= 4096; pin ``flat_cap=4096`` to
    reproduce pre-r11 outputs. ``flat_cap=32`` is the MEASURED
    crossover, not the broadcast-safety ceiling (r11, VERDICT r10 #6 —
    QUANTIZER_CROSSOVER.json): the flat path's cost is the
    in-row argmin over a broadcast k-array, so on a quiet box hier
    already wins 1.9x at k=64, 3.3x at 128, 5.6x at 512 on a 200k
    corpus (and 0.85x/1.2x at k=32/64 even on a 2k one); flat keeps a
    ~1.2x edge only at k <= 16-32, so 32 takes the flat win where it
    exists and the hier win everywhere it matters
    (:func:`hierarchical_assignments`): sqrt(k)-ish coarse centroids
    broadcast-assigned, then per-coarse-cluster sub-centroids that ride
    an ordinary cid1-keyed shuffle join — nothing broadcast is ever
    bigger than ~sqrt(k) vectors, and the Lloyd math stays
    exact-decimal/deterministic (same SQL-oracle property, see the
    ``dedup_semantic_hier`` gate). Vectors ride the join with
    precomputed norms; no id-pair re-join (the r7
    ``embedding_near_dup_pairs`` lesson)."""
    if n_centroids is None:
        n_centroids = default_n_centroids(emb.count(), cap=1 << 24)
    if n_centroids <= flat_cap:
        a = ivf_assignments(
            emb, n_centroids=n_centroids, vec_col=vec_col, n_iter=n_iter
        )
    else:
        a = hierarchical_assignments(
            emb,
            n_centroids,
            vec_col=vec_col,
            n_iter=n_iter,
            level1=level1,
        )
    # r13 (guide §5): the normed assignment table feeds BOTH sides of
    # the within-cluster self-join AND the survivor anti-join — three
    # evaluations of the full clustering lineage (each itself several
    # corpus passes) without a barrier. materialize computes it once;
    # corpus-sized, same storage class as the dedup family's
    # checkpointed shingle table.
    withn = barriers.materialize(
        a.select("vec_id", "cid", "v", F.expr(f"sqrt({_dot_sql('v', 'v')})").alias("_n"))
    )
    lo, hi = withn.alias("lo"), withn.alias("hi")
    cos = F.expr(_cosine_sql("lo.v", "hi.v", "lo._n", "hi._n"))
    drops = (
        lo.join(
            hi,
            (F.col("lo.cid") == F.col("hi.cid"))
            & (F.col("lo.vec_id") < F.col("hi.vec_id")),
        )
        .where(F.round(cos, 6) >= threshold)
        .select(F.col("hi.vec_id").alias("vec_id"))
        .distinct()
    )
    return (
        withn.join(drops, "vec_id", "left_anti")
        .select("vec_id", F.col("cid").alias("cluster_id"))
        .orderBy("vec_id")
    )


def lsh_candidate_pairs(
    base: DataFrame, planes: list[list[list[float]]]
) -> DataFrame:
    """(vec_a < vec_b) sharing a hyperplane bucket in ANY table — the
    pre-verification stage of :func:`embedding_near_dup_pairs`, exposed
    so the scale probe can measure candidate growth vs corpus size.
    ``base`` must carry (vec_id, _v)."""
    buckets = _table_buckets(base, planes)
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a._t") == F.col("b._t"))
            & (F.col("a._b") == F.col("b._b"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )


def _l2sq(a: Column, b: Column) -> Column:
    """Sequential-fold squared L2 distance (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, x: acc + x
    )


def _assign_to_centroids(e: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, v, cid, d2): nearest centroid by squared L2 (d2 = the
    distance to it, kept for drift accounting), ties to the lowest cid.

    The argmin happens WITHIN each row: the centroid table collapses to
    a one-row array that is broadcast-cross-joined, and the nearest cid
    is min(struct(d2, cid)) over that array — map-only, no row blowup,
    no shuffle. (The alternative — explode to (vector x centroid) pairs
    + a row_number window — shuffles corpus x n_centroids rows at full
    vector width per assignment pass, which is the term that grows
    fastest at 100 TB; assignment runs once per Lloyd iteration plus
    once per search.)"""
    carr = cents.agg(F.collect_list(F.struct("cid", "cvec")).alias("_cs"))
    best = F.array_min(
        F.transform(
            F.col("_cs"),
            lambda c: F.struct(
                _l2sq(F.col("v"), c["cvec"]).alias("d2"), c["cid"].alias("cid")
            ),
        )
    )
    return e.crossJoin(F.broadcast(carr)).select(
        "vec_id", "v", best["cid"].alias("cid"), best["d2"].alias("d2")
    )


def ivf_centroids(
    e: DataFrame, n_centroids: int = 8, n_iter: int = 2
) -> DataFrame:
    """(cid, cvec): k-means centroids — deterministic seed (the first
    ``n_centroids`` vec_ids) refined by ``n_iter`` Lloyd iterations.

    Every mean is computed as exact-decimal sum / count cast back to
    double, so the result is independent of partitioning AND bit-
    identical to a SQL oracle doing the same — which is why this is a
    fixed iteration count, not convergence-tested (the oracle mirrors
    the same fixed unrolling). A centroid whose cluster goes empty keeps
    its previous position. Per iteration: one broadcast-join assignment
    pass over the corpus + a (cid, dim)-keyed aggregate — no
    driver-side math, scales to any corpus that can stand one scan per
    iteration."""
    cents = e.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cvec")
    )
    for _ in range(n_iter):
        assigned = _assign_to_centroids(e, cents)
        comp = assigned.select("cid", F.posexplode("v").alias("pos", "x"))
        means = comp.groupBy("cid", "pos").agg(
            (
                F.sum(F.col("x").cast("decimal(28,12)")).cast("double") / F.count("*")
            ).alias("m")
        )
        new = means.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("ncvec")
        )
        cents = barriers.materialize(
            cents.join(new, "cid", "left").select(
                "cid", F.coalesce("ncvec", "cvec").alias("cvec")
            )
        )
    return cents


def ivf_assignments(
    emb: DataFrame,
    n_centroids: int = 8,
    vec_col: str = "embedding",
    n_iter: int = 2,
) -> DataFrame:
    """IVF coarse quantizer: Lloyd-refined centroids (see
    :func:`ivf_centroids`), every vector assigned to its nearest one by
    squared L2. Returns (vec_id, v, cid). At 100 TB ``cid`` becomes the
    partition column of the vector index, so probing is partition
    pruning."""
    e = emb.select("vec_id", _as_double(F.col(vec_col)).alias("v"))
    return _assign_to_centroids(e, ivf_centroids(e, n_centroids, n_iter))


def _assign_to_subcentroids(e1: DataFrame, subc: DataFrame) -> DataFrame:
    """(vec_id, v, cid1, cid2): nearest LEVEL-2 sub-centroid within the
    row's coarse cluster, ties to the lowest cid2.

    The level-1 twin (:func:`_assign_to_centroids`) broadcasts ALL
    centroids; here only the sub-centroids of the SAME coarse cluster
    are candidates, so they arrive grouped per ``cid1`` through an
    ordinary equi-join — a shuffle keyed on cid1, never a broadcast of
    the full k-vector codebook. Each corpus row then argmins over its
    in-row array of ~fanout sub-centroids (map-side, no row blowup).
    This is the piece that removes the flat quantizer's broadcast cap:
    per-row candidate work is fanout ~ sqrt(k), total shuffled codebook
    bytes are k vectors once per pass.

    LEFT join + cid2=0 fallback (r11, ADVICE): a coarse cluster that was
    EMPTY at build time has no sub-codebook rows (seeds come only from
    populated cid1s), yet :func:`ivf_append` can assign a new vector to
    that coarse centroid — an inner join would silently DROP it (neither
    appended nor counted). Unmatched rows fall back to ``cid2=0``, the
    cell :func:`ivf_build` backfills with the coarse centroid as its
    one-entry sub-codebook, so probes still find them (indexes built
    BEFORE that backfill existed are repaired by :func:`ivf_append`,
    which writes the missing one-entry codebooks on first touch —
    ADVICE r12). During training
    every cid1 in ``e1`` is populated by construction, so the fallback
    never fires there and the oracle replay is unchanged."""
    grouped = subc.groupBy("cid1").agg(
        F.collect_list(F.struct("cid2", "cvec")).alias("_sc")
    )
    best = F.array_min(
        F.transform(
            F.col("_sc"),
            lambda c: F.struct(
                _l2sq(F.col("v"), c["cvec"]).alias("d2"), c["cid2"].alias("cid2")
            ),
        )
    )
    return e1.join(grouped, "cid1", "left").select(
        "vec_id",
        "v",
        "cid1",
        F.coalesce(best["cid2"], F.lit(0)).alias("cid2"),
    )


def _pow2_near_sqrt(k: int, cap: int = 4096) -> int:
    import math

    s = max(2, int(round(math.sqrt(k))))
    p = 1
    while p * 2 <= s:
        p *= 2
    if s - p > 2 * p - s:
        p *= 2
    return max(2, min(p, cap))


def hierarchical_centroids(
    e: DataFrame,
    n_centroids: int,
    n_iter: int = 2,
    level1: int | None = None,
) -> tuple[DataFrame, DataFrame, int, int, DataFrame]:
    """Train both levels of the two-level quantizer over
    ``e = (vec_id, v)``: returns ``(coarse, subc, level1, fanout, e1)``
    where ``coarse`` is (cid, cvec) from the ordinary flat Lloyd,
    ``subc`` is (cid1, cid2, cvec) — the per-coarse-cluster codebook —
    and ``e1`` the checkpointed coarse assignment (vec_id, v, cid1),
    returned so callers reuse the materialization instead of replaying
    the corpus argmin pass (r13). Shared by
    :func:`hierarchical_assignments` (SemDeDup) and the hierarchical
    :func:`ivf_build` (the index path)."""
    if level1 is None:
        level1 = _pow2_near_sqrt(n_centroids)
    fanout = -(-n_centroids // level1)  # ceil
    coarse = ivf_centroids(e, level1, n_iter)
    # r13 (guide §5, iterative algorithms): the coarse assignment is
    # consumed by the seed window, EVERY sub-Lloyd iteration, and the
    # caller's final assignment — each consumer otherwise replays the
    # full corpus scan + broadcast argmin. materialize computes it
    # once; corpus-sized, the same storage class the dedup pipeline
    # already checkpoints for its shingle table.
    e1 = barriers.materialize(
        _assign_to_centroids(e, coarse).select("vec_id", "v", F.col("cid").alias("cid1"))
    )
    rn = F.row_number().over(Window.partitionBy("cid1").orderBy("vec_id"))
    subc = (
        e1.withColumn("_rn", rn)
        .where(F.col("_rn") <= fanout)
        .select("cid1", (F.col("_rn") - 1).alias("cid2"), F.col("v").alias("cvec"))
    )
    for _ in range(n_iter):
        assigned = _assign_to_subcentroids(e1, subc)
        comp = assigned.select("cid1", "cid2", F.posexplode("v").alias("pos", "x"))
        means = comp.groupBy("cid1", "cid2", "pos").agg(
            (
                F.sum(F.col("x").cast("decimal(28,12)")).cast("double") / F.count("*")
            ).alias("m")
        )
        new = means.groupBy("cid1", "cid2").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("ncvec")
        )
        subc = barriers.materialize(
            subc.join(new, ["cid1", "cid2"], "left").select(
                "cid1", "cid2", F.coalesce("ncvec", "cvec").alias("cvec")
            )
        )
    return coarse, subc, level1, fanout, e1


def hierarchical_assignments(
    emb: DataFrame,
    n_centroids: int,
    vec_col: str = "embedding",
    n_iter: int = 2,
    level1: int | None = None,
) -> DataFrame:
    """Two-level quantizer (VERDICT r9 #1): (vec_id, v, cid) over
    ``level1 * fanout`` cells (= ``n_centroids`` when it is a multiple
    of ``level1``, else the next multiple — cell count is a capacity,
    not an exact promise), none of it broadcast-bound by k.

    Level 1 is the ordinary flat quantizer with ``level1`` (default:
    power-of-two nearest sqrt(n_centroids), clamped to [2, 4096])
    coarse centroids — a broadcast of at most ~sqrt(k) vectors. Level 2
    trains ``fanout = ceil(n_centroids / level1)`` sub-centroids INSIDE
    each coarse cluster: seeds are the lowest ``fanout`` vec_ids per
    cluster (one bounded per-cluster window sort), refined by the same
    fixed ``n_iter`` exact-decimal Lloyd steps, with assignment via
    :func:`_assign_to_subcentroids` (cid1-keyed shuffle join + in-row
    argmin). Final cid = cid1 * fanout + cid2 — disjoint cells, dense
    enough for partition layout.

    Determinism matches the flat path (seeded by lowest ids, means as
    exact decimal / count, ties to the lowest sub-id), so a SQL oracle
    replays it bit-identically — the ``dedup_semantic_hier`` gate does.
    A coarse cluster smaller than ``fanout`` simply trains fewer
    sub-centroids; an emptied sub-cluster keeps its previous position
    (same rule as :func:`ivf_centroids`)."""
    e = emb.select("vec_id", _as_double(F.col(vec_col)).alias("v"))
    # e1 comes back checkpointed from training (r13): the final
    # assignment reuses the materialized coarse pass instead of
    # replaying scan + broadcast argmin a fourth time
    coarse, subc, level1, fanout, e1 = hierarchical_centroids(
        e, n_centroids, n_iter, level1
    )
    final = _assign_to_subcentroids(e1, subc)
    return final.select(
        "vec_id",
        "v",
        (F.col("cid1") * fanout + F.col("cid2")).alias("cid"),
    )


def pq_train(
    emb: DataFrame,
    m: int = 8,
    nbits: int = 8,
    n_iter: int = 2,
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebooks (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search" — the compression layer
    real 100 TB ANN runs on): the vector dimension splits into ``m``
    equal blocks and each block's sub-vectors are clustered into
    ``2**nbits`` centroids by the SAME deterministic exact-decimal
    Lloyd as :func:`ivf_centroids` (lowest-id seeds, fixed iteration
    count, empty cells keep their position) — so a SQL oracle replays
    every codebook bit-identically. Returns (block, cid, cvec).

    Scale posture: this is the TRAIN side — m small Lloyd jobs (one
    assignment scan per iteration each) over the training corpus; like
    every PQ deployment, train on a SAMPLE (a few hundred k vectors
    bounds the cost) and :func:`pq_encode` the full corpus against the
    frozen codebooks. A 64-dim float32 vector (256 B) becomes m code
    bytes — 32x smaller at m=8, which is what lets the ADC scan
    (:func:`pq_topk`) touch compressed codes instead of raw vectors."""
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    e = emb.select("vec_id", _as_double(F.col(vec_col)).alias("v"))
    first = e.select(F.size("v").alias("d")).first()
    if first is None:
        raise ValueError("pq_train: empty training corpus")
    dim = int(first["d"])
    if dim % m != 0:
        raise ValueError(
            f"pq_train: dim {dim} is not divisible into m={m} equal "
            "blocks (pad the vectors or pick a divisor)"
        )
    d = dim // m
    k = 1 << nbits
    parts = []
    for j in range(m):
        ej = e.select("vec_id", F.slice("v", j * d + 1, d).alias("v"))
        parts.append(
            ivf_centroids(ej, k, n_iter).select(
                F.lit(j).alias("block"), "cid", "cvec"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _pq_shape(codebooks_rows) -> tuple[int, int, int]:
    """(m, k, d) from collected codebook rows, validated rectangular
    AND cid-dense: :func:`pq_encode` emits POSITIONAL codes (index into
    the cid-sorted codebook array) and :func:`pq_topk` builds its LUT
    with ``range(k)``, so every block's cids must be exactly 0..k-1. A
    training corpus whose vec_ids don't start at 0 seeds fewer /
    non-contiguous cids (``ivf_centroids`` seeds on ``vec_id < k``) —
    that must fail HERE with a named error, not as a downstream
    KeyError or silently mislabeled codes (ADVICE r12)."""
    blocks: dict[int, dict[int, list[float]]] = {}
    for r in codebooks_rows:
        blocks.setdefault(int(r["block"]), {})[int(r["cid"])] = list(r["cvec"])
    m = len(blocks)
    if m == 0 or sorted(blocks) != list(range(m)):
        raise ValueError("pq codebooks: missing/non-contiguous blocks")
    ks = {len(c) for c in blocks.values()}
    ds = {len(v) for c in blocks.values() for v in c.values()}
    if len(ks) != 1 or len(ds) != 1:
        raise ValueError("pq codebooks: ragged shape")
    k = ks.pop()
    for j, c in blocks.items():
        if sorted(c) != list(range(k)):
            raise ValueError(
                f"pq codebooks: block {j} cids are not dense 0..{k - 1} "
                "(train on a corpus whose vec_ids start at 0 — "
                "ivf_centroids seeds on vec_id < k)"
            )
    return m, k, ds.pop()


def pq_encode(
    emb: DataFrame,
    codebooks: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, codes array<int>): every vector compressed to its m
    per-block nearest-centroid ids — ONE map-only projection, no
    shuffle, no per-block join. The codebooks (m * 2**nbits rows — tiny
    by construction) collapse to a one-row nested array that broadcasts,
    and each row argmins every block inside the same expression
    (sequential-fold squared L2, ties to the lowest cid — the exact
    convention of :func:`_assign_to_centroids`, so the oracle replays
    codes bit-identically).

    This expression form is the reference encoder. Corpus encodes (the
    index build and append) run :func:`_pq_encode_numpy`, which emits
    the same codes bit for bit (pytest-pinned) about 40x faster
    (PQ_SCALE.json): the expression tree's per-row overhead measured
    ~2 k rows/s at dim 64, PQ8."""
    grouped = codebooks.groupBy("block").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("cid", "cvec"))),
            lambda s: s["cvec"],
        ).alias("_cb")
    )
    carr = grouped.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("block", "_cb"))),
            lambda s: s["_cb"],
        ).alias("_pq")  # [block][cid] -> cvec, both indices dense
    )
    e = emb.select("vec_id", _as_double(F.col(vec_col)).alias("v"))
    first = e.select(F.size("v").alias("dim")).first()
    dim = int(first["dim"]) if first else 0
    m_row = codebooks.agg(F.countDistinct("block").alias("m")).first()
    m = int(m_row["m"] or 0)
    if m == 0 or dim % m != 0:
        raise ValueError(f"pq_encode: dim {dim} not divisible by m {m}")
    d = dim // m

    def block_code(j):
        sub = F.slice(F.col("v"), j * F.lit(d) + 1, F.lit(d))
        cands = F.element_at(F.col("_pq"), j + 1)

        def scored(cvec, idx):
            # two-param transform lambda: (element, 0-based index)
            return F.struct(
                _l2sq(sub, cvec).alias("d2"), idx.alias("cid")
            )

        return F.array_min(F.transform(cands, scored))["cid"].cast("int")

    codes = F.transform(F.sequence(F.lit(0), F.lit(m - 1)), block_code)
    return e.crossJoin(F.broadcast(carr)).select(
        "vec_id", codes.alias("codes")
    )


def _pq_encode_numpy(
    emb: DataFrame,
    codebooks: DataFrame,
    vec_col: str,
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """The vectorized twin of :func:`pq_encode`, emitting the same codes
    bit for bit. Codebooks ride into the closure as a numpy array
    (m * 2**nbits * d doubles — a few hundred KB at PQ8), the batch loop
    accumulates (x_t - c_t)^2 one dimension at a time so the float-add
    ORDER matches the expression fold exactly, and argmin's first-index
    rule IS the lowest-cid tie rule (cids are validated dense by
    :func:`_pq_shape`).

    ``keep_cols`` (r12) passes extra columns of ``emb`` through the
    Arrow stage untouched (same row order inside each batch), so the
    materialized IVF-PQ build can stamp codes onto the assignment rows
    WITHOUT a corpus-wide join — the encode stays one map-only pass."""
    import numpy as np

    rows = codebooks.collect()  # bounded: m * 2**nbits codebook entries
    m, kk, d = _pq_shape(rows)
    cb = np.empty((m, kk, d), dtype=np.float64)
    for r in rows:
        cb[int(r["block"]), int(r["cid"]), :] = [float(x) for x in r["cvec"]]
    emit_v = "v" in keep_cols or vec_col in keep_cols
    keep = [
        c for c in keep_cols if c not in ("vec_id", "codes", "v", vec_col)
    ]
    sel = emb.select(
        "vec_id", _as_double(F.col(vec_col)).alias("v"), *keep
    )
    # schema for the Arrow stage: vec_id + the vector (when kept, as
    # the double-cast "v" the encode consumed) + kept columns (their
    # existing types, straight from the plan) + the new codes column
    kept_fields = [f for f in sel.schema.fields if f.name in keep]
    out_schema = ", ".join(
        ["vec_id long"]
        + (["v array<double>"] if emit_v else [])
        + [f"{f.name} {f.dataType.simpleString()}" for f in kept_fields]
        + ["codes array<int>"]
    )

    def op(batches):
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            x = np.asarray([list(v) for v in pdf["v"]], dtype=np.float64)
            if x.shape[1] != m * d:
                raise ValueError(
                    f"pq_encode: dim {x.shape[1]} != codebook dim {m * d}"
                )
            codes = np.empty((n, m), dtype=np.int32)
            for j in range(m):
                sub = x[:, j * d : (j + 1) * d]
                acc = np.zeros((n, kk), dtype=np.float64)
                for t in range(d):
                    diff = sub[:, t : t + 1] - cb[j, :, t][None, :]
                    acc = acc + diff * diff
                codes[:, j] = np.argmin(acc, axis=1)
            out = {"vec_id": pdf["vec_id"]}
            if emit_v:
                out["v"] = pdf["v"]
            for c in keep:
                out[c] = pdf[c]
            out["codes"] = list(codes)
            yield pd.DataFrame(out)

    return sel.mapInPandas(op, schema=out_schema)


def pq_topk(
    codes_df: DataFrame,
    codebooks: DataFrame,
    query_vec: list[float],
    k: int = 10,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    UNcompressed, the corpus is codes only. The driver computes the
    m x 2**nbits lookup table lut[j][c] = ||q_j - codebook[j][c]||^2
    (same sequential fold as :func:`_l2sq`, so every entry is
    bit-identical to the oracle's), ships it as a literal, and the scan
    scores each row as the sequential sum of its m table hits — never
    touching a raw vector. Output (vec_id, d2_adc) ascending, rounded
    6, ties by vec_id.

    At 100 TB: the scan reads m bytes per vector instead of the full
    float array (32x less I/O at m=8 on dim-64 float32), the lookup
    table is a few KB broadcast with the plan, and the top-k collapses
    to TakeOrdered — the IVF layout (``ivf_build(pq_m=...)``) stores
    codes in each inverted list for pruned+compressed probes, the
    standard IVF-PQ stack.
    Measured crossover (PQ_SCALE.json v2, clustered corpus, parquet
    scans): the ADC scan reaches parity with the exact JVM scan at
    ~1M rows and wins 2.0x at 3M — compression pays where scans are
    byte-bound, not on an in-memory 200k corpus. Single-stage ADC
    top-k is a SHORTLIST generator, not a ranker: within a tight
    neighborhood the codes tie (recall@10 = 0.02 clustered), so ship
    the two-stage shape (:func:`ivf_pq_topk_indexed` ``rerank=``)."""
    rows = codebooks.collect()  # bounded: m * 2**nbits codebook entries
    m, kk, d = _pq_shape(rows)
    if len(query_vec) != m * d:
        raise ValueError(
            f"query dim {len(query_vec)} != codebook dim {m * d}"
        )
    cb: dict[int, dict[int, list[float]]] = {}
    for r in rows:
        cb.setdefault(int(r["block"]), {})[int(r["cid"])] = [
            float(x) for x in r["cvec"]
        ]
    lut = [
        [
            _driver_d2(cb[j][c], [float(x) for x in query_vec[j * d : (j + 1) * d]])
            for c in range(kk)
        ]
        for j in range(m)
    ]
    # the scoring is a VECTORIZED table gather, not a per-row expression
    # fold: an in-plan aggregate over m element_at's measured 2.7x
    # SLOWER than the exact scan at this scale (per-row overhead
    # dominates once everything is in memory), while numpy's
    # lut[j][codes[:, j]] gathers a whole Arrow batch per block. Blocks
    # accumulate SEQUENTIALLY (j = 0..m-1, one vectorized add each), so
    # the float sum is bit-identical to the oracle's s0 + s1 + ... ;
    # rounding stays Spark-side (F.round) so its HALF_UP decimal
    # semantics match the other gates exactly.
    import numpy as np
    import pandas as pd

    lut_np = [np.asarray(row, dtype=np.float64) for row in lut]

    def op(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes_mat = np.asarray(
                [list(c) for c in pdf["codes"]], dtype=np.int64
            )
            acc = np.zeros(len(pdf), dtype=np.float64)
            for j in range(m):
                acc = acc + lut_np[j][codes_mat[:, j]]
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "_d2": acc})

    out = codes_df
    if exclude_vec_id is not None:
        out = out.where(F.col("vec_id") != exclude_vec_id)
    scored = out.mapInPandas(op, schema="vec_id long, _d2 double")
    return (
        scored.select("vec_id", F.round("_d2", 6).alias("d2_adc"))
        .orderBy("d2_adc", "vec_id")
        .limit(k)
    )


def ivf_index_exists(index_path: str) -> bool:
    """True when a completed index lives at ``index_path`` (the centroid
    sidecar only appears after the atomic publish rename). Heals a
    crashed publish first (restores ``.old`` when it is the only
    complete copy)."""
    publish.recover(index_path)
    return os.path.isdir(os.path.join(index_path, "centroids"))


def default_n_centroids(n_rows: int, floor: int = 8, cap: int = 4096) -> int:
    """k ~= sqrt(N), rounded to the nearest power of two, clamped.

    ANN_QUANTIZER.json follow-through (VERDICT r7 #7): the measured
    20M-vector probe showed growing the quantizer (fixed nprobe) is what
    holds per-query cost down — probed rows are nprobe * N / k, so
    k = sqrt(N) keeps them at nprobe * sqrt(N), sublinear in corpus
    size, while build cost (one O(N*k) assignment pass per Lloyd step)
    stays a periodic-batch-job expense. The cap bounds the assignment
    broadcast and the build pass; the floor keeps tiny corpora from
    degenerate 1-2 list indexes."""
    import math

    k = max(1, int(round(math.sqrt(max(1, n_rows)))))
    p = 1
    while p * 2 <= k:
        p *= 2
    if k - p > 2 * p - k:  # nearest power of two
        p *= 2
    return max(floor, min(p, cap))


def _refuse_stale(index_path: str, built: dict, want: dict) -> None:
    """Raise when the index at ``index_path`` was built with other
    parameters than ``want``: serving it would answer for an index the
    caller did not ask for. Fields the sidecar does not record are not
    compared."""
    for field, value in want.items():
        if field in built and built[field] != value:
            raise ValueError(
                f"index at {index_path!r} was built with {field}="
                f"{built[field]!r}, not {value!r}; pass overwrite=True to "
                "rebuild it"
            )


def ivf_build(
    emb: DataFrame,
    index_path: str,
    n_centroids: int | None = 8,
    n_iter: int = 2,
    vec_col: str = "embedding",
    overwrite: bool = False,
    flat_cap: int = 32,
    pq_m: int | None = None,
    pq_nbits: int = 8,
    pq_n_iter: int = 2,
) -> str:
    """Train-once IVF index build — the expensive half of IVF, paid once
    per corpus instead of per query.

    Trains centroids (:func:`ivf_centroids`), assigns every vector, and
    persists:

    - ``<index_path>/assignments/cid=<c>/...`` — the inverted lists,
      parquet ``partitionBy("cid")`` so a probe is *partition pruning*:
      searching nprobe lists reads nprobe directories, never the corpus.
    - ``<index_path>/centroids/`` — the O(n_centroids) sidecar the probe
      planner reads to pick lists (tiny; safe to read on the driver).
    - ``<index_path>/stats.json`` — train-time assignment statistics
      (vector count, mean squared distance to the assigned centroid);
      :func:`ivf_append` compares incoming batches against it to decide
      when the centroids have drifted enough to warrant a retrain.

    The build lands in a staging directory and is published with the
    rename-aside swap of :mod:`ecollector_spark.functions.publish`: the
    live index is renamed aside, the replacement renamed in, the old
    copy deleted last — no window with a half-deleted index, and a
    concurrent reader's heal-on-touch waits for the swap to finish. At
    100 TB this runs as a periodic batch job; queries go through
    :func:`ivf_topk_indexed` and touch only ``nprobe / n_centroids`` of
    the data; corpus growth goes through :func:`ivf_append`
    (assign-only) until drift forces a retrain.

    ``n_centroids > flat_cap`` (r10) builds the HIERARCHICAL layout —
    the same two-level quantizer as :func:`hierarchical_assignments`,
    removing the 4096-list ceiling that bounded the flat broadcast.
    ``flat_cap=32`` is the measured flat/hier crossover, not a
    broadcast bound (r11 — QUANTIZER_CROSSOVER.json; see
    :func:`semantic_dedup`, including the behavioral-break note: the
    two layouts assign differently, so default-knob builds with
    32 < k <= 4096 changed layout AND assignments across r11):

    - ``assignments/cid1=<c>/`` — partitioned by the ~sqrt(k) COARSE id
      (a k-directory layout would drown the filesystem at k in the
      millions) and ``sortWithinPartitions("cid2")``, so a probe prunes
      to ncoarse directories and parquet row-group min/max stats on the
      sorted ``cid2`` skip to the probed sub-cells.
    - ``centroids/`` — the coarse codebook only (driver-readable at any
      k; the probe never materializes all k centroids anywhere).
    - ``subcentroids/cid1=<c>/`` — the per-coarse-cluster codebooks,
      pruned the same way during the probe's second stage.

    ``pq_m`` (r12 — the materialized IVF-PQ index, Jégou et al. 2011
    §V as a LAYOUT, not just a plan): train product-quantization
    codebooks (:func:`pq_train`, ``pq_m`` blocks x ``2**pq_nbits``
    sub-centroids) over the corpus, stamp every assignment row with its
    ``codes array<int>`` (one extra map-only Arrow pass — the numpy
    encode engine with column passthrough, NO corpus join), and persist
    ``pq_codebooks/`` as a third sidecar. A probe
    (:func:`ivf_pq_topk_indexed`) then partition-prunes to the probed
    lists AND projects only ``(vec_id, codes)`` — m bytes per vector
    instead of the full float array — which is the composition that
    makes 100 TB ANN serveable: the expensive halves (coarse Lloyd, PQ
    Lloyd, full-corpus encode) are all paid HERE, once.
    :func:`ivf_append` encodes incoming batches against the FROZEN
    codebooks (appends never retrain, same drift policy as the coarse
    quantizer).
    """
    import json

    pq = None if pq_m is None else {"m": pq_m, "nbits": pq_nbits, "n_iter": pq_n_iter}
    if ivf_index_exists(index_path) and not overwrite:
        want = {"n_iter": n_iter, "pq": pq}
        if n_centroids is not None:
            want.update(n_centroids=n_centroids, hierarchical=n_centroids > flat_cap)
        _refuse_stale(index_path, _index_stats(index_path), want)
        return index_path
    e = emb.select("vec_id", _as_double(F.col(vec_col)).alias("v"))
    if n_centroids is None:
        # size the quantizer from the corpus (k ~= sqrt(N)); one
        # column-pruned count, recorded in the sidecar below so probes
        # can derive their default nprobe with zero knobs. r10: the cap
        # is the hierarchical ceiling (2^24 lists), not the flat
        # broadcast cap — past flat_cap the layout switches below
        n_centroids = default_n_centroids(e.count(), cap=1 << 24)
    tmp = publish.staging(index_path)
    pq_cb = None
    if pq_m is not None:
        # train the PQ codebooks ONCE and land them in the scratch dir
        # before encoding: the encode collects the codebooks and the
        # sidecar must persist them anyway — materializing first means
        # the m block Lloyds never re-run for the second consumer
        pq_train(e, m=pq_m, nbits=pq_nbits, n_iter=pq_n_iter, vec_col="v")\
            .coalesce(1).write.mode("overwrite").parquet(
                os.path.join(tmp, "pq_codebooks")
            )
        pq_cb = emb.sparkSession.read.parquet(
            os.path.join(tmp, "pq_codebooks")
        )
    hierarchical = n_centroids > flat_cap
    if hierarchical:
        # e1 reused from training (r13) — see hierarchical_centroids
        coarse, subc, level1, fanout, e1 = hierarchical_centroids(
            e, n_centroids, n_iter
        )
        assigned = _assign_to_subcentroids(e1, subc).select(
            "vec_id",
            "v",
            "cid1",
            "cid2",
            (F.col("cid1") * fanout + F.col("cid2")).alias("cid"),
        )
        if pq_cb is not None:
            assigned = _pq_encode_numpy(
                assigned, pq_cb, "v", keep_cols=("v", "cid1", "cid2", "cid")
            )
        (
            # sort by (cid1, cid2), not cid2 alone: partitionBy injects
            # its own non-stable sort on the partition column when the
            # incoming order doesn't already satisfy it, which would
            # scramble cid2 inside each file — sorting on both keys
            # satisfies the writer's requirement, so no extra sort runs
            # and every cid1= file is internally cid2-ordered (the
            # row-group min/max skipping the probe relies on)
            assigned.repartition("cid1")
            .sortWithinPartitions("cid1", "cid2")
            .write.mode("overwrite")
            .partitionBy("cid1")
            .parquet(os.path.join(tmp, "assignments"))
        )
        coarse.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(tmp, "centroids")
        )
        # Backfill EMPTY coarse cells with a one-entry sub-codebook
        # (cid2=0, cvec = the coarse centroid itself): ivf_append's
        # fallback assigns late vectors of such cells to cid2=0, and the
        # probe's second stage can only rank cells that have a
        # sub-centroid row (ADVICE r11 — silent-drop fix, probe half).
        empty_cells = (
            coarse.select(F.col("cid").alias("cid1"), "cvec")
            .join(subc.select("cid1").distinct(), "cid1", "left_anti")
            .select("cid1", F.lit(0).alias("cid2"), "cvec")
        )
        subc.unionByName(empty_cells).write.mode("overwrite").partitionBy(
            "cid1"
        ).parquet(os.path.join(tmp, "subcentroids"))
        st = (
            emb.sparkSession.read.parquet(os.path.join(tmp, "assignments"))
            .agg(F.count("*").alias("n"))
            .collect()[0]
        )
        extra = {
            "hierarchical": True,
            "level1": level1,
            "fanout": fanout,
            "mean_d2": None,
            "default_ncoarse": 2,
        }
    else:
        cents = ivf_centroids(e, n_centroids, n_iter)
        flat_assigned = _assign_to_centroids(e, cents)
        if pq_cb is not None:
            flat_assigned = _pq_encode_numpy(
                flat_assigned, pq_cb, "v", keep_cols=("v", "cid", "d2")
            )
        flat_assigned.write.mode("overwrite").partitionBy(
            "cid"
        ).parquet(os.path.join(tmp, "assignments"))
        cents.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(tmp, "centroids")
        )
        # stats from the files just written (reads only the d2 column)
        st = (
            emb.sparkSession.read.parquet(os.path.join(tmp, "assignments"))
            .agg(F.count("*").alias("n"), F.avg("d2").alias("mean_d2"))
            .collect()[0]
        )
        extra = {"hierarchical": False, "mean_d2": st["mean_d2"]}
    with open(os.path.join(tmp, "stats.json"), "w") as f:
        json.dump(
            {
                "n": st["n"],
                "n_centroids": n_centroids,
                "n_iter": n_iter,
                # the probe default for this index (ANN_QUANTIZER.json:
                # fixed nprobe over a sqrt(N) quantizer is the measured
                # flat-cost configuration — probed rows ~ 2*sqrt(N))
                "default_nprobe": 2,
                "pq": pq,
                **extra,
            },
            f,
        )
    publish.publish(tmp, index_path)
    return index_path


def ivf_append(
    emb_new: DataFrame,
    index_path: str,
    vec_col: str = "embedding",
    drift_factor: float = 4.0,
) -> dict:
    """Incremental IVF maintenance: fold a batch of new vectors into an
    existing index WITHOUT retraining — the operation that keeps IVF
    viable at 100 TB, where a full rebuild per corpus growth step would
    dwarf the query cost.

    New vectors are assigned to the EXISTING centroids (one broadcast
    map-only pass over the batch) and appended to the ``cid=`` inverted
    lists; the centroid sidecar is untouched, so an appended index is
    definitionally identical to one whose assignment pass had included
    the batch from the start (parity-tested). ``stats.json`` is updated
    with the running count/mean atomically (``publish.write_atomic``).

    Drift guard: when the batch's mean squared assignment distance
    exceeds ``drift_factor ×`` the index's running mean, the centroids no
    longer represent the data and the whole corpus (existing lists + the
    batch) is retrained via :func:`ivf_build` — the rebuild publishes
    with the same rename-aside swap. Returns
    ``{"appended": n, "rebuilt": bool, "batch_mean_d2": ..., "index_mean_d2": ...}``.

    Concurrency note: an append adds parquet files to live partitions;
    a concurrent probe sees each file atomically but may observe a
    prefix of the batch (monotone recall, never a torn file). Rebuilds
    republish atomically. ``vec_id`` uniqueness across appends is the
    caller's contract, as in any vector store.
    """
    import json

    spark = emb_new.sparkSession
    if not ivf_index_exists(index_path):
        raise FileNotFoundError(f"no IVF index at {index_path!r}")
    # An index built before the running-stats sidecar existed has none:
    # appends remain exact (assignment only depends on the live
    # centroids), but there is no drift baseline — the guard stays
    # disabled and the stats file is not invented, until a full rebuild
    # records one. Graceful degradation instead of a bare
    # FileNotFoundError.
    stats = _index_stats(index_path) or dict.fromkeys(
        ("n", "mean_d2", "n_centroids", "n_iter")
    )
    cents = spark.read.parquet(os.path.join(index_path, "centroids"))
    e = emb_new.select("vec_id", _as_double(F.col(vec_col)).alias("v"))
    hierarchical = bool(stats.get("hierarchical"))
    if hierarchical:
        # two-stage assign (r10): coarse broadcast-argmin, then the
        # sub-codebook of each vector's coarse cell via the cid1 join —
        # the same math as the build, so an appended index stays
        # definitionally identical to a from-scratch assignment. The
        # drift guard has no per-level mean baseline here (mean_d2 is
        # None on hierarchical indexes), so appends never auto-rebuild.
        fanout = int(stats["fanout"])
        subc = spark.read.parquet(os.path.join(index_path, "subcentroids"))
        # Legacy-index backfill (ADVICE r12): an index built BEFORE the
        # r11 empty-cell backfill has no sub-codebook rows for coarse
        # cells that were empty at build time, so the assignment
        # fallback's cid2=0 rows would be stored-but-never-rankable by
        # the probe's second stage. Repair on first touch: write the
        # one-entry codebook (cvec = the coarse centroid itself) for
        # every still-missing cell — idempotent (the anti-join is empty
        # once written, and always empty on post-r11 builds), tiny
        # (centroid sidecar vs distinct cid1s), and it makes the legacy
        # index match what ivf_build now publishes.
        missing = (
            cents.select(F.col("cid").alias("cid1"), "cvec")
            .join(subc.select("cid1").distinct(), "cid1", "left_anti")
            .select("cid1", F.lit(0).alias("cid2"), "cvec")
        )
        if missing.limit(1).count() > 0:
            missing.write.mode("append").partitionBy("cid1").parquet(
                os.path.join(index_path, "subcentroids")
            )
            subc = spark.read.parquet(
                os.path.join(index_path, "subcentroids")
            )
        e1 = _assign_to_centroids(e, cents).select(
            "vec_id", "v", F.col("cid").alias("cid1")
        )
        assigned = _assign_to_subcentroids(e1, subc).select(
            "vec_id",
            "v",
            "cid1",
            "cid2",
            (F.col("cid1") * fanout + F.col("cid2")).alias("cid"),
        )
        b = assigned.agg(F.count("*").alias("n")).collect()[0]
        n_new, batch_mean = b["n"], None
    else:
        assigned = _assign_to_centroids(e, cents)
        b = assigned.agg(
            F.count("*").alias("n"), F.avg("d2").alias("mean_d2")
        ).collect()[0]
        n_new, batch_mean = b["n"], b["mean_d2"]
    out = {
        "appended": n_new,
        "rebuilt": False,
        "batch_mean_d2": batch_mean,
        "index_mean_d2": stats["mean_d2"],
    }
    if n_new == 0:
        return out
    if (
        stats["mean_d2"] is not None
        and stats["mean_d2"] > 0
        and batch_mean is not None
        and batch_mean > drift_factor * stats["mean_d2"]
    ):
        full = (
            spark.read.parquet(os.path.join(index_path, "assignments"))
            .select("vec_id", F.col("v").alias("embedding"))
            .unionByName(e.select("vec_id", F.col("v").alias("embedding")))
        )
        pq_meta = stats.get("pq")
        ivf_build(
            full,
            index_path,
            n_centroids=stats["n_centroids"],
            n_iter=stats["n_iter"],
            overwrite=True,
            # a PQ-bearing index rebuilds WITH its PQ layout: the drift
            # that forced the coarse retrain also means the codebooks
            # should re-fit the data (codes are re-encoded either way,
            # since every assignment row is rewritten)
            pq_m=None if pq_meta is None else int(pq_meta["m"]),
            pq_nbits=8 if pq_meta is None else int(pq_meta["nbits"]),
            pq_n_iter=2 if pq_meta is None else int(pq_meta["n_iter"]),
        )
        out["rebuilt"] = True
        return out
    if stats.get("pq") is not None:
        # PQ-bearing index (r12): stamp the batch with codes from the
        # FROZEN codebooks sidecar — appends never retrain, so appended
        # rows are encoded exactly as a from-the-start build would have
        # encoded them (the numpy engine is bit-identical to the expr
        # fold). Without this the appended files would lack the codes
        # column and parquet schema-merge would surface them as NULL
        # codes — silently invisible to the ADC probe.
        pq_cb = spark.read.parquet(os.path.join(index_path, "pq_codebooks"))
        keep = (
            ("v", "cid1", "cid2", "cid")
            if hierarchical
            else ("v", "cid", "d2")
        )
        assigned = _pq_encode_numpy(assigned, pq_cb, "v", keep_cols=keep)
    if hierarchical:
        # match the build layout (ADVICE r11): sorted-by-cid2 files keep
        # parquet row-group min/max skipping alive for appended rows —
        # an unsorted append is correct but degrades probe pruning.
        # (cid1, cid2) so the writer's partition-column sort is already
        # satisfied and doesn't scramble cid2 — see ivf_build
        assigned = assigned.repartition("cid1").sortWithinPartitions(
            "cid1", "cid2"
        )
    assigned.write.mode("append").partitionBy(
        "cid1" if hierarchical else "cid"
    ).parquet(os.path.join(index_path, "assignments"))
    if stats["n"] is not None:
        total = stats["n"] + n_new
        if stats["mean_d2"] is None and batch_mean is None:
            # hierarchical indexes have no drift baseline — keep the
            # sentinel None, never fabricate a 0.0 "perfect fit"
            new_mean = None
        else:
            new_mean = (
                (stats["mean_d2"] or 0.0) * stats["n"]
                + (batch_mean or 0.0) * n_new
            ) / total
        publish.write_atomic(
            os.path.join(index_path, "stats.json"),
            json.dumps({**stats, "n": total, "mean_d2": new_mean}),
        )
    return out


def _index_stats(index_path: str) -> dict:
    import json

    try:
        with open(os.path.join(index_path, "stats.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def _sidecar_collect(spark: SparkSession, path: str) -> list[dict]:
    """Driver-side read of a small index sidecar. Every caller already
    ``collect()``s the whole sidecar (it is O(sqrt(N)) by construction),
    so driver memory is unchanged — but the Spark read+collect paid a
    read-analysis pass plus a scheduled job (~0.15 s/probe at bench
    scale). pyarrow reads the same parquet rows in-process; the driver
    already touches ``index_path`` directly (stats.json, publish
    recovery), so the fs assumption is not new. Only the EXPECTED
    failures fall back to the Spark reader (ADVICE r12: a blanket
    except silently re-routed corrupted sidecars through the slow
    path) — missing pyarrow, or an unreadable/non-local path; a
    corrupted parquet footer raises either way."""
    try:
        import pyarrow.parquet as pq
    except ImportError:
        return [r.asDict() for r in spark.read.parquet(path).collect()]
    try:
        return pq.read_table(path).to_pylist()
    except (OSError, FileNotFoundError):
        # non-local / unreadable path: let Spark's reader resolve it
        return [r.asDict() for r in spark.read.parquet(path).collect()]


def _driver_d2(cvec, query_vec: list[float]) -> float:
    """Driver-side squared L2 in the same sequential order as
    :func:`_l2sq`, so probe picks are bit-identical to in-plan ranking
    and to the oracle's."""
    acc = 0.0
    for x, y in zip(cvec, query_vec):
        acc = acc + (x - y) * (x - y)
    return acc


def ivf_probe_cells(
    spark: SparkSession,
    index_path: str,
    query_vec: list[float],
    nprobe: int = 2,
    ncoarse: int | None = None,
) -> tuple[list[int], list[int]]:
    """Two-stage probe selection for a HIERARCHICAL index: rank the
    coarse sidecar driver-side (O(sqrt(k)) rows), read ONLY the
    sub-codebooks of the ``ncoarse`` nearest coarse cells (partition-
    pruned scan of ``subcentroids/cid1=``), rank those driver-side and
    return ``(coarse_ids, global_cell_cids)`` for the ``nprobe``
    nearest sub-cells. Nothing ever materializes all k centroids —
    driver memory is O(sqrt(k) + ncoarse * fanout)."""
    st = _index_stats(index_path)
    if not st.get("hierarchical"):
        raise ValueError(
            f"{index_path!r} is not a hierarchical index (flat index, or "
            "the stats sidecar is missing) — use ivf_probe_cids"
        )
    fanout = int(st["fanout"])
    if ncoarse is None:
        ncoarse = int(st.get("default_ncoarse") or 2)
    rows = spark.read.parquet(os.path.join(index_path, "centroids")).collect()
    ranked1 = sorted((_driver_d2(r["cvec"], query_vec), r["cid"]) for r in rows)
    coarse = [cid for _, cid in ranked1[:ncoarse]]
    sub = (
        spark.read.parquet(os.path.join(index_path, "subcentroids"))
        .where(F.col("cid1").isin([int(c) for c in coarse]))
        .collect()
    )
    ranked2 = sorted(
        (
            _driver_d2(r["cvec"], query_vec),
            int(r["cid1"]) * fanout + int(r["cid2"]),
        )
        for r in sub
    )
    return coarse, [cid for _, cid in ranked2[:nprobe]]


def ivf_probe_cids(
    spark: SparkSession, index_path: str, query_vec: list[float], nprobe: int = 2
) -> list[int]:
    """The ``nprobe`` nearest inverted lists for a query vector.

    Reads only the O(n_centroids) sidecar; the squared-L2 fold runs on
    the driver (:func:`_driver_d2`), so the probed lists are
    bit-identical to an in-plan ranking (ties to the lowest cid)."""
    publish.recover(index_path)
    rows = _sidecar_collect(spark, os.path.join(index_path, "centroids"))
    ranked = sorted((_driver_d2(r["cvec"], query_vec), r["cid"]) for r in rows)
    return [cid for _, cid in ranked[:nprobe]]


def ivf_topk_indexed(
    spark: SparkSession,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int | None = 2,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """IVF search against a materialized index: NO training, no corpus
    scan — pick ``nprobe`` lists from the centroid sidecar, partition-
    prune the assignment table to those ``cid=`` directories, exact
    cosine inside them, top-k. The query vector enters the plan as a
    literal array, so the whole probe is one pruned scan + project +
    TakeOrdered (asserted in tools/explain_audit.py). Output
    (vec_id, cosine) ordered desc, ties by vec_id.

    ``nprobe=None`` reads the index's own recorded default from
    ``stats.json`` (``default_nprobe``, written by :func:`ivf_build`) —
    with an auto-sized sqrt(N) quantizer that is the zero-knob
    configuration the quantizer probe measured as cost-flat.

    On a HIERARCHICAL index (r10, ``ivf_build`` past ``flat_cap``) the
    probe is two-stage (:func:`ivf_probe_cells`): the scan prunes to
    the ncoarse ``cid1=`` partition directories AND filters the probed
    global ``cid`` cells — the sorted-by-cid2 layout lets parquet
    row-group stats skip straight to them."""
    publish.recover(index_path)
    st = _index_stats(index_path)
    if nprobe is None:
        nprobe = int(st.get("default_nprobe") or 2)
    scan = _pruned_assignments(spark, index_path, query_vec, nprobe, st)
    # query vector + cosine as ONE SQL expression: the 64-element literal
    # array alone cost ~260 py4j round-trips as F.lit columns (guide §5)
    cos = _cosine_sql("v", _lit_vec_sql(query_vec))
    if exclude_vec_id is not None:
        scan = scan.where(F.col("vec_id") != exclude_vec_id)
    return (
        scan.selectExpr("vec_id", f"round({cos}, 6) AS cosine")
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(k)
    )


def _pruned_assignments(
    spark: SparkSession,
    index_path: str,
    query_vec: list[float],
    nprobe: int,
    st: dict,
) -> DataFrame:
    """The probe's pruned scan of the assignment table, shared by
    :func:`ivf_topk_indexed` and :func:`ivf_pq_topk_indexed`: flat —
    ``cid`` IS the partition column, so the isin is directory pruning;
    hierarchical — the ``cid1`` isin prunes directories and the global
    ``cid`` isin rides the sorted-by-cid2 layout's row-group min/max
    stats. NO column projection here: each caller selects only what it
    reads, so parquet column pruning composes on top."""
    if st.get("hierarchical"):
        coarse, cells = ivf_probe_cells(spark, index_path, query_vec, nprobe)
        return (
            spark.read.parquet(os.path.join(index_path, "assignments"))
            .where(F.col("cid1").isin([int(c) for c in coarse]))
            .where(F.col("cid").isin([int(c) for c in cells]))
        )
    probes = ivf_probe_cids(spark, index_path, query_vec, nprobe)
    return spark.read.parquet(os.path.join(index_path, "assignments")).where(
        F.col("cid").isin([int(c) for c in probes])
    )


def ivf_pq_topk_indexed(
    spark: SparkSession,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int | None = 2,
    rerank: int | None = None,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """IVF-PQ search against a MATERIALIZED index (r12): the index was
    built with ``ivf_build(pq_m=...)``, so the coarse Lloyd, the PQ
    Lloyds and the full-corpus encode are paid once, the probed
    inverted lists already carry ``codes``, and the probe never
    touches a raw vector until (optionally) the re-rank.

    The plan is the 100 TB shape end-to-end: pick ``nprobe`` lists from
    the centroid sidecar (driver-side, O(sqrt(k)) rows), partition-prune
    the assignment scan to them, project ONLY ``(vec_id, codes)`` — m
    bytes per vector instead of the full float array — and ADC-score
    against the driver-built lookup table (:func:`pq_topk`). With
    ``rerank=<shortlist>`` the two-stage deployment shape runs: the ADC
    scan shortlists inside the probed cells, then the exact squared-L2
    re-ranks just those rows by reading their vectors (a second pruned
    scan joined on the tiny shortlist — broadcast, no shuffle of the
    lists).

    Use ``rerank=`` in production: single-stage ADC is a shortlist
    generator, not a ranker. The measured operating point (PQ_SCALE.json
    v2, clustered 200k corpus of 100-member planted neighborhoods):
    single-stage ADC recall@10 is 0.02 — members of one neighborhood
    quantize to near-identical codes, so within-cluster ADC ranks are
    ties — while a shortlist covering the neighborhood size (named
    config m=4, nprobe=1, shortlist=100 = 10x k) re-ranks to
    recall@10 = 1.0 at every (m, nprobe) swept, with the IVF pruning
    itself lossless; shortlist 5x k reached 0.4. ADC finds the
    neighborhood, exact math resolves within it: size the shortlist to
    the expected duplicate/neighborhood multiplicity, 5-10x k as the
    default. Compression pays at scan-bound scale: the ADC full scan
    crosses the exact scan at ~1M rows and wins 2.0x at 3M (21.6x
    fewer bytes), while at 200k in memory the exact scan still wins.

    The DuckDB oracle replays this probe bit for bit: the coarse Lloyd,
    the probe pick, the PQ Lloyds, the encode (numpy twin of the
    expression fold) and the ADC sum all share its conventions.
    Output: ``(vec_id, d2_adc)`` ascending, or ``(vec_id, d2)``
    ascending with ``rerank=``, rounded 6, ties by vec_id."""
    publish.recover(index_path)
    st = _index_stats(index_path)
    if not st.get("pq"):
        raise ValueError(
            f"{index_path!r} has no PQ layout (built without pq_m) — "
            "use ivf_topk_indexed, or rebuild with ivf_build(pq_m=...)"
        )
    if rerank is not None and rerank < k:
        raise ValueError(f"rerank shortlist {rerank} must be >= k {k}")
    if nprobe is None:
        nprobe = int(st.get("default_nprobe") or 2)
    scan = _pruned_assignments(spark, index_path, query_vec, nprobe, st)
    cb = spark.read.parquet(os.path.join(index_path, "pq_codebooks"))
    q = [float(x) for x in query_vec]
    adc = pq_topk(
        scan.select("vec_id", "codes"),
        cb,
        q,
        k=k if rerank is None else rerank,
        exclude_vec_id=exclude_vec_id,
    )
    if rerank is None:
        return adc
    qlit = F.array(*[F.lit(x) for x in q])
    return (
        scan.select("vec_id", "v")
        .join(F.broadcast(adc.select("vec_id")), "vec_id")
        .select("vec_id", F.round(_l2sq(F.col("v"), qlit), 6).alias("d2"))
        .orderBy("d2", "vec_id")
        .limit(k)
    )


def lsh_build(
    emb: DataFrame,
    index_path: str,
    bits: int = 8,
    tables: int = 2,
    dim: int | None = None,
    seed: str = DEFAULT_LSH_SEED,
    vec_col: str = "embedding",
    overwrite: bool = False,
) -> str:
    """Materialize the hyperplane-LSH index: vectors stored once per
    table under ``<index_path>/buckets/_t=<t>/_b=<b>/`` so a probe is
    partition pruning of the query's (table, bucket) pairs — the "at
    100 TB (table, bucket) becomes a partition column" design stated in
    the module docstring, made real. A ``params.json`` sidecar pins
    (bits, tables, dim, seed) so the probe derives the identical
    hyperplanes. Published with the same rename-aside swap as
    :func:`ivf_build` (no half-deleted-index window); corpus growth goes
    through :func:`lsh_append`, which is always exact (hyperplanes are
    data-independent, so there is no drift case). Storage cost:
    ``tables`` copies of the vectors — the standard multi-table LSH
    trade (each table is an independent recall chance)."""
    import json

    publish.recover(index_path)
    if os.path.isfile(os.path.join(index_path, "params.json")) and not overwrite:
        want = {"bits": bits, "tables": tables, "seed": seed}
        if dim is not None:
            want["dim"] = dim
        _refuse_stale(index_path, _lsh_params(index_path), want)
        return index_path
    if dim is None:
        dim = _embedding_dim(emb, vec_col)
    planes = hyperplanes(dim, bits, tables, seed)
    base = emb.select(F.col("vec_id"), _as_double(F.col(vec_col)).alias("v"))
    rows = _table_buckets(base, planes, "v", keep=("v",))
    tmp = publish.staging(index_path)
    rows.write.mode("overwrite").partitionBy("_t", "_b").parquet(
        os.path.join(tmp, "buckets")
    )
    with open(os.path.join(tmp, "params.json"), "w") as f:
        json.dump({"bits": bits, "tables": tables, "dim": dim, "seed": seed}, f)
    publish.publish(tmp, index_path)
    return index_path


def _lsh_params(index_path: str) -> dict:
    """The LSH index's ``params.json`` sidecar: bits, tables, dim, seed."""
    import json

    with open(os.path.join(index_path, "params.json")) as f:
        return json.load(f)


def lsh_append(emb_new: DataFrame, index_path: str, vec_col: str = "embedding") -> dict:
    """Incremental LSH maintenance: bucket a batch of new vectors with
    the index's pinned hyperplanes (params.json) and append them to the
    ``(_t, _b)`` partitions. Because the hyperplanes are data-independent
    (derived only from (dim, bits, tables, seed)), an appended index is
    bit-identical to a full rebuild over the grown corpus — there is no
    drift case and no retrain path (parity-tested). Same concurrency
    contract as :func:`ivf_append`: files land atomically, a concurrent
    probe may see a prefix of the batch. Returns ``{"appended": n}``."""
    publish.recover(index_path)
    p = _lsh_params(index_path)
    planes = hyperplanes(p["dim"], p["bits"], p["tables"], p["seed"])
    base = emb_new.select(F.col("vec_id"), _as_double(F.col(vec_col)).alias("v"))
    rows = _table_buckets(base, planes, "v", keep=("v",))
    n = rows.count() // max(p["tables"], 1)
    rows.write.mode("append").partitionBy("_t", "_b").parquet(
        os.path.join(index_path, "buckets")
    )
    return {"appended": n}


def lsh_query_buckets(query_vec: list[float], planes: list[list[list[float]]]) -> list[int]:
    """The query's bucket id in each table, computed driver-side with
    the same sequential-fold dot product as :func:`hyperplane_bucket`
    (bit j set iff dot >= 0) — O(tables x bits x dim), no scan."""
    out = []
    for tp in planes:
        b = 0
        for j, ws in enumerate(tp):
            acc = 0.0
            for x, w in zip(query_vec, ws):
                acc = acc + x * float(w)
            if acc >= 0:
                b |= 1 << j
        out.append(b)
    return out


def lsh_search_indexed(
    spark: SparkSession,
    index_path: str,
    query_vec: list[float],
    threshold: float,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Approximate search against a materialized LSH index: read the
    params sidecar, compute the query's (table, bucket) pairs on the
    driver, partition-prune the bucket store to those directories,
    keep one copy of each candidate (a vector can collide in several
    tables), exact cosine. Output (vec_id, cosine >= threshold,
    rounded to 6); the scan touches ``tables`` directories instead of
    the corpus, and nothing is shuffled."""
    publish.recover(index_path)
    p = _lsh_params(index_path)
    planes = hyperplanes(p["dim"], p["bits"], p["tables"], p["seed"])
    qb = lsh_query_buckets(query_vec, planes)
    probed = first = None
    for t, b in enumerate(qb):
        c = (F.col("_t") == t) & (F.col("_b") == int(b))
        probed = c if probed is None else (probed | c)
        # a vector colliding in several tables is stored once per table:
        # keep the copy from its lowest colliding table, decided row by
        # row from the stored vector's buckets, so no dedup shuffle runs
        own = F.col("_t") == t
        for u in range(t):
            own = own & (hyperplane_bucket("v", planes[u]) != qb[u])
        first = own if first is None else (first | own)
    cand = spark.read.parquet(os.path.join(index_path, "buckets")).where(probed & first)
    cos = F.expr(_cosine_sql("v", _lit_vec_sql(query_vec)))
    if exclude_vec_id is not None:
        cand = cand.where(F.col("vec_id") != exclude_vec_id)
    # fenced, as in cosine_threshold: else the threshold filter takes a
    # copy of the cosine fold and it runs twice per candidate row
    return (
        cand.select("vec_id", barriers.fence(F.round(cos, 6)).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )
