"""Driver queries for the training-data-pipeline operators (dedup,
similarity search, text analysis, multimodal) over the ``documents`` and
``embeddings`` tables.

The raw synthetic corpus has no duplicates, so dedup operators run on a
derived corpus with deterministically planted near-duplicates (doc_id%10:
first 80% of tokens) and exact duplicates (doc_id%17) — both engines
construct it with identical expressions, so every operator stays
value-hash checkable end to end.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ecollector_spark.datapipe import curation, dedup, similarity, text
from ecollector_spark.datapipe.multimodal import (
    attach_fake_media,
    extract_features,
    sample_frames,
)
from ecollector_spark.driver_queries import register
from ecollector_spark.functions import barriers
from ecollector_spark.session import read_parquet

# ---------------------------------------------------------------------------
# shared corpus (Spark + SQL twins)
# ---------------------------------------------------------------------------

_TOKS = (
    "list_filter(string_split_regex(lower(regexp_replace(text, '[^A-Za-z0-9 ]', ' ', 'g')),"
    " ' +'), x -> x <> '')"
)
_SH3 = "[array_to_string(toks[i:i+2], ' ') FOR i IN generate_series(1, len(toks)-2)]"
_SH5 = "[array_to_string(toks[i:i+4], ' ') FOR i IN generate_series(1, len(toks)-4)]"

_CORPUS = f"""corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id,
         array_to_string(toks[1:greatest(CAST(floor(len(toks)*4/5) AS INT), 1)], ' ') AS text
  FROM (SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id % 10 = 0)
  UNION ALL
  SELECT doc_id + 20000000 AS doc_id, text FROM documents WHERE doc_id % 17 = 0
)"""

_SHINGLED = f"""tok AS (SELECT doc_id, {_TOKS} AS toks FROM corpus),
sh AS (SELECT doc_id, unnest(list_distinct({_SH3})) AS shingle FROM tok),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1)"""

_JV_CTE = """inter AS (
  SELECT doc_a, doc_b, count(*) AS inter
  FROM sh x JOIN cand ON x.doc_id = cand.doc_a
  JOIN sh y ON y.doc_id = cand.doc_b AND x.shingle = y.shingle
  GROUP BY 1, 2)"""

_JV_SELECT = """SELECT i.doc_a, i.doc_b, floor((i.inter/(sa.n_sh + sb.n_sh - i.inter))*1000000)/1000000 AS jaccard
FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE floor((i.inter/(sa.n_sh + sb.n_sh - i.inter))*1000000)/1000000 >= {thr}"""

_JACCARD_VERIFY = _JV_CTE + "\n" + _JV_SELECT + "\nORDER BY 1, 2"


def dedup_corpus(spark, sf_dir):
    from ecollector_spark.session import spread_small_scan

    # Tokenize/shingle/md5 downstream is per-row-heavy and the corpus file
    # is a single row group (one scan task); spread to cluster width so
    # the explode+partial-agg map stage parallelizes. Inert at real scale
    # (see spread_small_scan) — measured dedup_minhash_lsh 1.73 -> 1.29 s
    # interleaved medians at sf0.1.
    docs = spread_small_scan(
        read_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id", "text"),
        input_path=f"{sf_dir}/documents.parquet",
    )
    # Corpus synthesis via explode instead of a 3-branch union (r12
    # optimization): the union replanned the spread scan per branch (3
    # shuffle reads + 3 branch stages); one Generate emits the same
    # multiset of rows in a single pass. Rows every branch would filter
    # out carry keep=false and leave right after the explode; the
    # near-dup text (the only expensive per-row expr) is CASE-guarded so
    # it is evaluated only for the doc_id % 10 rows, exactly like the
    # old branch filter. Built as ONE SQL string (r12 guide §5): the
    # Column-builder form cost ~80 py4j round-trips per build.
    toks = text.tokens_sql("text")
    keep = f"greatest(CAST(floor(size({toks}) * 4 / 5) AS INT), 1)"
    near = "(doc_id % 10) = 0"
    rows = (
        "array("
        "named_struct('keep', true, 'doc_id', doc_id, 'text', text), "
        f"named_struct('keep', {near}, 'doc_id', doc_id + 10000000, 'text', "
        f"CASE WHEN {near} THEN concat_ws(' ', slice({toks}, 1, {keep})) "
        "ELSE '' END), "
        "named_struct('keep', (doc_id % 17) = 0, 'doc_id', doc_id + 20000000,"
        " 'text', text))"
    )
    return (
        docs.selectExpr(f"explode({rows}) AS _r")
        .where(F.col("_r.keep"))
        .select("_r.doc_id", "_r.text")
    )


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    f"""WITH {_CORPUS}
SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id, count(*) AS n_docs
FROM corpus GROUP BY 1 HAVING count(*) > 1 ORDER BY 1
""",
    shelved=True,  # rotated out r9 (family keeps a main-gate twin)
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on md5(text), keep min doc_id."""
    return dedup.exact_duplicates(dedup_corpus(spark, sf_dir))


@register(
    "dedup_paragraphs",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
           FROM documents),
-- synthesized 3-paragraph docs: a mostly-unique head, a boilerplate
-- line shared by ~1/5 of the corpus, a mostly-unique tail
d2 AS (SELECT doc_id,
              array_to_string(ws[1:6], ' ') || chr(10) ||
              'shared boilerplate ' || CAST(doc_id % 5 AS VARCHAR) || chr(10) ||
              array_to_string(ws[7:18], ' ') AS text
       FROM w),
p AS (SELECT doc_id,
             unnest(string_split(text, chr(10))) AS para,
             unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
      FROM d2),
dup AS (SELECT para FROM p WHERE length(trim(para)) >= 1
        GROUP BY para HAVING count(DISTINCT doc_id) >= 3),
keep AS (SELECT doc_id, para, pos FROM p
         WHERE para NOT IN (SELECT para FROM dup))
SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text
FROM keep GROUP BY doc_id ORDER BY doc_id
""",
    shelved=True,
)
def dedup_paragraphs(spark, sf_dir):
    """Corpus-level repeated-paragraph removal (r9 — the Dolma/Gopher
    boilerplate-stripping stage, a first-class LLM-pipeline operator):
    paragraphs occurring in >= 3 distinct documents are removed from
    ALL of them, survivors re-join in original order, emptied documents
    drop out. The gate synthesizes 3-paragraph documents (unique head,
    1-of-5 shared boilerplate line, unique tail) so the dup set is
    non-trivial and deterministic; the boilerplate lines vanish, the
    heads/tails survive except incidental cross-doc repeats — which the
    oracle computes identically. One explode, one count-distinct
    groupBy on an xxhash64 long, one left-anti join, one per-doc
    reassembly — never a corpus-wide window (dedup.dedup_paragraphs)."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    words = F.split("text", " ")
    text2 = F.concat_ws(
        "\n",
        F.array_join(F.slice(words, 1, 6), " "),
        F.concat(F.lit("shared boilerplate "), (F.col("doc_id") % 5).cast("string")),
        F.array_join(F.slice(words, 7, 12), " "),
    )
    d2 = docs.select("doc_id", text2.alias("text"))
    return dedup.dedup_paragraphs(d2, min_dups=3).orderBy("doc_id")


#: synthesized promo-span document expression (6 mostly-unique head
#: words, a 5-token span shared by ~1/4 of the corpus, 12 mostly-unique
#: tail words) — the input of the span-removal family oracles
_SPAN_DOC = (
    "array_to_string(ws[1:6], ' ') || ' promo promo code alpha ' || "
    "CAST(doc_id % 4 AS VARCHAR) || ' ' || array_to_string(ws[7:18], ' ')"
)


def _span_ctes(doc_expr: str = _SPAN_DOC) -> str:
    """Shared CTE chain of the span-removal oracles: synthesized docs
    (``doc_expr``) -> shingle marking -> covered-position anti join ->
    per-doc rebuilt text (the ``reb`` relation)."""
    return f"""w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
d2 AS (SELECT doc_id, {doc_expr} AS text FROM w),
t AS (SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
      FROM d2),
shi AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i FROM t),
sh AS (SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+4], ' ') AS s
       FROM shi),
dup AS (SELECT s FROM sh GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
cov AS (SELECT DISTINCT sh.doc_id, sh.pos + o.off AS pos
        FROM sh JOIN dup USING (s), generate_series(0, 4) o(off)),
toki AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t),
tok AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok FROM toki),
keep AS (SELECT tok.doc_id, tok.pos, tok.tok FROM tok
         ANTI JOIN cov USING (doc_id, pos)),
reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text
        FROM keep GROUP BY doc_id)"""


@register(
    "dedup_span_removal",
    f"""WITH {_span_ctes()}
SELECT doc_id, text FROM reb ORDER BY doc_id
""",
    # r11 rotation: on the driver signal (never had driver exposure)
)
def dedup_span_removal(spark, sf_dir):
    """Exact duplicated-SPAN removal (r9 — the Lee et al. 2021
    exact-substring dedup stage, arXiv:2107.06499, re-expressed as
    token-shingle marking): every token position covered by a 5-gram
    occurring in >= 2 distinct documents is removed from all of them,
    survivors re-join in order, emptied documents drop. The gate
    synthesizes documents with a 5-token promo span shared by ~1/4 of
    the corpus mid-document; those spans (plus any incidental natural
    cross-doc 5-grams, which the oracle computes identically) vanish
    while the per-doc head/tail words survive. Expression-only plan:
    shingle explode -> count-distinct-docs groupBy on an xxhash64
    long -> hit join -> bounded position explode -> anti join ->
    bounded per-doc reassembly (dedup.dedup_ngram_spans)."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    words = F.split("text", " ")
    text2 = F.concat_ws(
        " ",
        F.array_join(F.slice(words, 1, 6), " "),
        F.concat(
            F.lit("promo promo code alpha "), (F.col("doc_id") % 4).cast("string")
        ),
        F.array_join(F.slice(words, 7, 12), " "),
    )
    d2 = docs.select("doc_id", text2.alias("text"))
    return dedup.dedup_ngram_spans(d2, k=5, min_dups=2).orderBy("doc_id")


#: stop-word suffix variation for the composed curation gate: 2/3 of
#: docs gain enough distinct Gopher stop words to pass r_stopwords, the
#: rest keep the word-salad text and fail it — so the rule filter has
#: real variance (the 2-token suffixes follow unique tail words, so
#: they never form a shared 5-gram and span removal is unaffected)
_CUR_SUFFIX_SQL = (
    " || CASE WHEN doc_id % 3 = 0 THEN ' of the' "
    "WHEN doc_id % 3 = 1 THEN ' and that' ELSE '' END"
)


@register(
    "datapipe_curation_text",
    f"""WITH {_span_ctes(_SPAN_DOC + _CUR_SUFFIX_SQL)},
-- Gopher rules over the CLEANED text (min_words=8; same integer
-- cross-multiplied comparisons as the text_gopher_rules oracle)
gt AS (SELECT doc_id, text,
              list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS gw
       FROM reb),
gm AS (SELECT doc_id, text, len(gw) AS n,
              coalesce(list_sum(list_transform(gw, x -> length(x))), 0) AS sum_len,
              length(text) - length(replace(text, '#', '')) AS hashes,
              len(regexp_extract_all(text, '\\.\\.\\.|…')) AS ellipses,
              list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                          x -> x <> '') AS lf,
              len(list_filter(gw, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha,
              len(list_distinct(list_filter(list_transform(gw, x -> lower(x)),
                  x -> x IN ('the','be','to','of','and','that','have','with')))) AS stops
       FROM gt),
gpass AS (SELECT doc_id, text FROM gm
          WHERE n >= 8 AND n <= 100000
            AND sum_len >= 3*n AND sum_len <= 10*n AND n > 0
            AND (hashes + ellipses) * 10 <= n
            AND len(list_filter(lf, x -> regexp_matches(x, '^[-*•]'))) * 10 <= len(lf)
            AND len(list_filter(lf, x -> regexp_matches(x, '(\\.\\.\\.|…)$'))) * 10
                <= 3 * len(lf)
            AND alpha * 5 >= 4 * n
            AND stops >= 2)
SELECT min(doc_id) AS doc_id, text FROM gpass GROUP BY text ORDER BY doc_id
""",
    # r11 rotation: on the driver signal (never had driver exposure)
)
def datapipe_curation_text(spark, sf_dir):
    """The composed TEXT-rewriting curation flow (r9 second session —
    ``curation.curate_text``): duplicated-span removal (Lee et al.
    2021) -> Gopher rule filter on the CLEANED text -> exact dedup
    (lowest id per byte-identical survivor). Every stage is an
    individually-gated operator; this gate pins that they COMPOSE —
    the oracle chains the span-removal CTEs into the Gopher-rule
    comparisons into a min-id group-by, so any stage-boundary mistake
    (filtering before cleaning, deduping the dirty text, rule
    thresholds on the wrong token set) breaks the hash."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    words = F.split("text", " ")
    text2 = F.concat_ws(
        " ",
        F.array_join(F.slice(words, 1, 6), " "),
        F.concat(
            F.lit("promo promo code alpha "), (F.col("doc_id") % 4).cast("string")
        ),
        F.array_join(F.slice(words, 7, 12), " "),
    )
    suffix = (
        F.when(F.col("doc_id") % 3 == 0, " of the")
        .when(F.col("doc_id") % 3 == 1, " and that")
        .otherwise("")
    )
    d2 = docs.select("doc_id", F.concat(text2, suffix).alias("text"))
    return curation.curate_text(d2, span_k=5, span_min_dups=2, min_words=8)


@register(
    "dedup_urls",
    """-- closed-form oracle: all five synthesized variants of a group
-- normalize to ONE canonical form, so the survivors are exactly the
-- lowest doc_id of each 5-group (ids are contiguous from 0) and the
-- canonical string is constructible directly; any normalization rule
-- the engine gets wrong (case, www, default port, trailing slash,
-- fragment, tracking params, param order) leaves extra survivors or a
-- different string and breaks the hash
SELECT doc_id,
       'https://example.com/a/' || CAST(doc_id // 5 AS VARCHAR) || '?x=1&y=2'
         AS url_norm
FROM documents WHERE doc_id % 5 = 0 ORDER BY doc_id
""",
    shelved=True,  # rotated out r11 (driver-green r10); span_removal +
    # minhash + incremental + semantic_hier keep dedup on the signal
)
def dedup_urls(spark, sf_dir):
    """URL-level dedup on the normalized form (r9 — the CCNet /
    RefinedWeb first-stage dedup): five messy spellings of each page
    URL (scheme/host case, www., default :443 port, trailing slash,
    fragment, utm_/gclid tracking params, shuffled param order) are
    synthesized per doc 5-group; ``dedup.normalize_url`` canonicalizes
    them to one string and ``dedup.dedup_urls`` keeps the lowest id per
    canonical URL — one projection + one partial-min groupBy, the
    cheapest dedup stage in the pipeline."""
    from ecollector_spark.datapipe.dedup import dedup_urls as _dedup_urls

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    bp = F.concat(F.lit("/a/"), F.expr("doc_id DIV 5").cast("string"))
    variants = F.array(
        F.concat(F.lit("https://example.com"), bp, F.lit("?x=1&y=2")),
        F.concat(F.lit("HTTPS://WWW.EXAMPLE.COM"), bp, F.lit("?y=2&x=1")),
        F.concat(F.lit("https://example.com:443"), bp, F.lit("/?x=1&y=2")),
        F.concat(
            F.lit("https://example.com"), bp, F.lit("?utm_source=feed&x=1&y=2#top")
        ),
        F.concat(F.lit("https://example.com"), bp, F.lit("?x=1&y=2&gclid=abc")),
    )
    d2 = docs.select(
        "doc_id",
        F.element_at(variants, (F.col("doc_id") % 5 + 1).cast("int")).alias("url"),
    )
    return _dedup_urls(d2)


_PPL_SQL = f"""WITH pt AS (
  SELECT doc_id, ['<s>','<s>'] || {_TOKS} || ['</s>'] AS p
  FROM documents WHERE doc_id % 5 = 0),
g AS (SELECT n, gram, count(*) AS cnt FROM (
    SELECT 1 AS n, unnest(p) AS gram FROM pt
    UNION ALL
    SELECT 2, unnest([array_to_string(p[i:i+1], ' ')
                      FOR i IN generate_series(1, len(p)-1)]) FROM pt
    UNION ALL
    SELECT 3, unnest([array_to_string(p[i:i+2], ' ')
                      FOR i IN generate_series(1, len(p)-2)]) FROM pt
  ) GROUP BY 1, 2),
nn AS (SELECT CAST(sum(cnt) AS DOUBLE) AS N FROM g WHERE n = 1 AND gram <> '<s>'),
ap AS (
  SELECT doc_id, ['<s>','<s>'] || {_TOKS} || ['</s>'] AS p FROM documents),
spl AS (SELECT doc_id,
               unnest([struct_pack(
                   g3 := array_to_string(p[i-2:i], ' '),
                   g2 := array_to_string(p[i-1:i], ' '),
                   g1 := p[i],
                   c2g := array_to_string(p[i-2:i-1], ' '),
                   c1g := p[i-1]) FOR i IN generate_series(3, len(p))]) AS t
        FROM ap),
sp AS (SELECT doc_id, t.g3 AS g3, t.g2 AS g2, t.g1 AS g1,
              t.c2g AS c2g, t.c1g AS c1g FROM spl),
sc AS (SELECT doc_id,
              CASE WHEN t3.cnt IS NOT NULL THEN t3.cnt / tc2.cnt
                   WHEN t2.cnt IS NOT NULL THEN 0.4 * t2.cnt / tc1.cnt
                   WHEN t1.cnt IS NOT NULL THEN 0.4 * 0.4 * t1.cnt / nn.N
                   ELSE 0.4 * 0.4 / nn.N END AS s,
              CAST(t1.cnt IS NULL AS INT) AS oov,
              CAST(t3.cnt IS NOT NULL AS INT) AS h3,
              CAST(t3.cnt IS NULL AND t2.cnt IS NOT NULL AS INT) AS h2,
              CAST(t2.cnt IS NULL AND t1.cnt IS NOT NULL AS INT) AS h1
       FROM sp CROSS JOIN nn
       LEFT JOIN g t3 ON t3.n = 3 AND t3.gram = sp.g3
       LEFT JOIN g t2 ON t2.n = 2 AND t2.gram = sp.g2
       LEFT JOIN g t1 ON t1.n = 1 AND t1.gram = sp.g1
       LEFT JOIN g tc2 ON tc2.n = 2 AND tc2.gram = sp.c2g
       LEFT JOIN g tc1 ON tc1.n = 1 AND tc1.gram = sp.c1g)
SELECT doc_id,
       count(*) AS n_scored,
       CAST(sum(oov) AS BIGINT) AS oov,
       CAST(sum(h3) AS BIGINT) AS hits3,
       CAST(sum(h2) AS BIGINT) AS hits2,
       CAST(sum(h1) AS BIGINT) AS hits1,
       CAST(sum(CAST(floor(-log2(s) * 1000000) AS BIGINT)) AS BIGINT)
         AS bits_micro,
       CAST(floor(CAST(sum(CAST(floor(-log2(s) * 1000000) AS BIGINT))
                       AS DOUBLE) / count(*)) AS BIGINT) AS ppl_micro_bits
FROM sc GROUP BY doc_id ORDER BY doc_id
"""


@register("datapipe_perplexity", _PPL_SQL)
def datapipe_perplexity(spark, sf_dir):
    """CCNet perplexity filtering (r10 — Wenzek et al. 2020,
    arXiv:1911.00359): a 3-gram stupid-backoff LM (Brants et al. 2007)
    trained on the doc_id % 5 == 0 reference slice, then EVERY document
    scored against it — ``lm.train_ngram_lm`` (one gram explode +
    partial-agg groupBy per order) + ``lm.score_perplexity`` (one row
    per scored token, five broadcast lookups on (n, xxhash64(gram))).
    Per-token bits are floor(-log2(S)*1e6) micro-bits summed as longs,
    so every hashed column is an integer; the oracle replays the exact
    counts, backoff chain and micro-bit arithmetic on gram STRINGS
    (engine keys on xxhash64 — identical short of a 64-bit collision).
    The backoff-level hit counts (hits3/2/1, oov) pin WHICH branch
    scored each token, not just the total."""
    from ecollector_spark.datapipe import lm as _lm

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    ref = docs.where(F.col("doc_id") % 5 == 0)
    model = _lm.train_ngram_lm(ref)
    n = _lm.lm_total_tokens(model)
    return _lm.score_perplexity(docs, model, n).orderBy("doc_id")


@register(
    "datapipe_warc_ingest",
    """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 6 = 1),
r AS (SELECT doc_id, unnest(generate_series(0, doc_id % 3)) AS rec_idx FROM d),
t AS (SELECT doc_id, rec_idx,
             'warc doc ' || doc_id || ' record ' || rec_idx || ' '
               || repeat('x', CAST(doc_id % 5 AS INT)) AS txt
      FROM r)
SELECT doc_id,
       CAST(rec_idx AS INT) AS rec_idx,
       'conversion' AS warc_type,
       'https://crawl.example/' || doc_id || '/' || rec_idx AS url,
       '2024-01-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
         || 'T00:00:00Z' AS date,
       CAST(length(txt) AS BIGINT) AS content_length,
       txt AS text
FROM t ORDER BY doc_id, rec_idx
""",
    # r11 rotation: the r10 WET path joins its new response twin on signal
)
def datapipe_warc_ingest(spark, sf_dir):
    """WARC/WET ingestion (r10 — ISO 28500, the container Common Crawl
    actually ships): byte-exact WET files are synthesized per doc
    inside mapInPandas (``attach_synthetic_wet_media`` — odd doc_ids in
    the gzip-member-per-record layout, stdlib zlib multi-member
    inflate) and ``warc.read_warc_media`` explodes them back into one
    row per record. Every parsed field is a closed form of doc_id, so
    the oracle predicts the whole record table analytically — a
    mis-chained Content-Length, a broken gzip member walk, or a header
    mis-parse breaks the hash. The 1→N record explode happens inside
    the Arrow stage (no shuffle), the same shape a binaryFile scan of a
    crawl bucket feeds at 100 TB."""
    from ecollector_spark.datapipe.multimodal import attach_synthetic_wet_media
    from ecollector_spark.datapipe.warc import read_warc_media

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") % 6 == 1
    )
    return read_warc_media(attach_synthetic_wet_media(docs)).orderBy(
        "doc_id", "rec_idx"
    )


@register(
    "datapipe_warc_response",
    """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 6 = 5)
-- record 0 is always the PNG response (geometry/pixel closed forms of
-- doc_id, same as the real-decode corpus); record 1 exists only for
-- doc_id % 5 = 0 and is a 404 text/plain body — all predictable
-- analytically, so a broken HTTP split, Content-Type routing slip,
-- gzip member walk or codec error breaks the hash
SELECT doc_id, CAST(0 AS INT) AS rec_idx, 200 AS status,
       'image/png' AS content_type, 'png' AS kind,
       CAST(40 + doc_id % 32 AS INT) AS width,
       CAST(30 + doc_id % 24 AS INT) AS height,
       CAST(doc_id % 256 AS INT) AS lum,
       CAST(NULL AS VARCHAR) AS body_text,
       FALSE AS truncated
FROM d
UNION ALL
-- doc_id % 25 = 0: the record is a MARKED truncation (WARC-Truncated:
-- length) — the stored body is the first 4 bytes, surfaced with the flag
SELECT doc_id, CAST(1 AS INT), 404, 'text/plain', CAST(NULL AS VARCHAR),
       CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS INT),
       CASE WHEN doc_id % 25 = 0 THEN 'not '
            ELSE 'not found ' || doc_id END,
       doc_id % 25 = 0
FROM d WHERE doc_id % 5 = 0
UNION ALL
-- doc_id % 7 = 3: a Transfer-Encoding: chunked body (r12) — the
-- de-chunked text is a closed form; its file position depends on
-- whether the 404 record precedes it
SELECT doc_id,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 1 END AS INT),
       200, 'text/plain', CAST(NULL AS VARCHAR),
       CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS INT),
       repeat('chunk ' || doc_id || ' ', CAST(1 + doc_id % 3 AS INT)),
       FALSE
FROM d WHERE doc_id % 7 = 3
ORDER BY doc_id, rec_idx
""",
)
def datapipe_warc_response(spark, sf_dir):
    """Raw-crawl WARC ``response``-record ingestion, end to end (r11 —
    VERDICT r10 #1, the actual 100 TB input path): byte-exact response
    WARCs are synthesized per doc inside mapInPandas
    (``attach_synthetic_response_warc_media`` — odd doc_ids in the
    gzip-member-per-record layout), ``warc.read_warc_responses`` walks
    the record chain, splits each HTTP message (status line, headers,
    strict Content-Length, chunked bodies strictly DE-CHUNKED — r12,
    the chunked arm's decoded text is a closed form of doc_id) and
    routes by the HTTP Content-Type: image/png bodies flow through ``probe_media``
    (header re-parse pins kind/width/height) AND the real PNG decode
    (``extract_features(decode_stub=False)``, 256-bin histogram argmax
    = the constant pixel), text/plain bodies are decoded as text. Every
    output value is a closed form of doc_id, so the oracle predicts the
    whole routed table analytically. Mirrors the reference's ingest →
    transform staging (process/process.go) re-expressed for crawl
    archives; explode + split + decode all happen inside Arrow stages —
    no shuffle until the final tiny joins on doc_id."""
    from ecollector_spark.datapipe.multimodal import (
        attach_synthetic_response_warc_media,
        extract_features,
        probe_media,
    )
    from ecollector_spark.datapipe.warc import read_warc_responses

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") % 6 == 5
    )
    # materialize the explode ONCE before the fan-out (ADVICE r12):
    # three consumers (probe_media, extract_features, the text branch)
    # would each re-run synthesize + gunzip + record walk + HTTP split
    # through lazy lineage — exactly the multi-consumer re-walk
    # read_warc_responses' own scale note warns about
    recs = barriers.materialize(
        read_warc_responses(attach_synthetic_response_warc_media(docs))
    )
    imgs = recs.where(F.col("content_type") == "image/png").select(
        "doc_id",
        "rec_idx",
        "status",
        "content_type",
        F.col("payload").alias("media"),
        F.lit("image/png").alias("media_type"),
        "n_bytes",
    )
    probe = probe_media(imgs).select("doc_id", "kind", "width", "height")
    lum = (F.expr("array_position(feature, array_max(feature))") - 1).cast(
        "int"
    )
    img_out = (
        imgs.select("doc_id", "rec_idx", "status", "content_type")
        .join(probe, "doc_id")
        .join(
            extract_features(imgs, decode_stub=False, dim=256).select(
                "doc_id", lum.alias("lum")
            ),
            "doc_id",
        )
        .select(
            "doc_id", "rec_idx", "status", "content_type", "kind",
            "width", "height", "lum",
            F.lit(None).cast("string").alias("body_text"),
            F.lit(False).alias("truncated"),
        )
    )
    txt_out = recs.where(F.col("content_type") == "text/plain").select(
        "doc_id",
        "rec_idx",
        "status",
        "content_type",
        F.lit(None).cast("string").alias("kind"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("lum"),
        F.decode(F.col("payload"), "UTF-8").alias("body_text"),
        "truncated",
    )
    return img_out.unionByName(txt_out).orderBy("doc_id", "rec_idx")


@register(
    "dedup_jaccard_pairs",
    f"""WITH {_CORPUS},
{_SHINGLED},
dfq AS (SELECT shingle FROM (SELECT shingle, count(DISTINCT doc_id) AS df FROM sh GROUP BY 1)
        WHERE df <= 100),
rare AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN dfq USING (shingle)),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
{_JACCARD_VERIFY.replace('{thr}', '0.5')}
""",
    shelved=True,
)
def dedup_jaccard_pairs(spark, sf_dir):
    """Exact 3-gram Jaccard near-dup pairs (inverted-index candidates,
    df-capped against stop-shingle blowup)."""
    pairs = dedup.jaccard_pairs(dedup_corpus(spark, sf_dir), threshold=0.5, max_df=100)
    # lazy checkpoint: the sort's range sampling must not re-run the joins
    return barriers.materialize(pairs)


_BANDS_SQL = """mh AS (
  -- 8 hash fns = disjoint 16-bit slices of one md5 per shingle
  -- (mirrors dedup._signatures_from_shingles)
  SELECT doc_id,
         list_min([substr(h, 1, 4) FOR h IN hl]) AS mh_0,
         list_min([substr(h, 5, 4) FOR h IN hl]) AS mh_1,
         list_min([substr(h, 9, 4) FOR h IN hl]) AS mh_2,
         list_min([substr(h, 13, 4) FOR h IN hl]) AS mh_3,
         list_min([substr(h, 17, 4) FOR h IN hl]) AS mh_4,
         list_min([substr(h, 21, 4) FOR h IN hl]) AS mh_5,
         list_min([substr(h, 25, 4) FOR h IN hl]) AS mh_6,
         list_min([substr(h, 29, 4) FOR h IN hl]) AS mh_7
  FROM (SELECT doc_id, [md5(s) FOR s IN list_distinct({sh3})] AS hl FROM tok)),
banded AS (SELECT doc_id, mh_0||mh_1 AS b0, mh_2||mh_3 AS b1, mh_4||mh_5 AS b2, mh_6||mh_7 AS b3 FROM mh),
cand AS (
  SELECT DISTINCT doc_a, doc_b FROM (
    SELECT x.doc_id doc_a, y.doc_id doc_b FROM banded x JOIN banded y ON x.b0=y.b0 AND x.doc_id<y.doc_id
    UNION ALL
    SELECT x.doc_id, y.doc_id FROM banded x JOIN banded y ON x.b1=y.b1 AND x.doc_id<y.doc_id
    UNION ALL
    SELECT x.doc_id, y.doc_id FROM banded x JOIN banded y ON x.b2=y.b2 AND x.doc_id<y.doc_id
    UNION ALL
    SELECT x.doc_id, y.doc_id FROM banded x JOIN banded y ON x.b3=y.b3 AND x.doc_id<y.doc_id))"""


@register(
    "dedup_minhash_lsh",
    f"""WITH {_CORPUS},
{_SHINGLED},
{_BANDS_SQL.replace('{sh3}', _SH3)},
{_JACCARD_VERIFY.replace('{thr}', '0.5')}
""",
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(8) + LSH(4 bands x 2 rows) candidates, exact-Jaccard
    verified — the linear-cost dedup path for 100 TB corpora."""
    pairs = dedup.minhash_lsh_pairs(
        dedup_corpus(spark, sf_dir),
        num_hashes=8,
        bands=4,
        threshold=0.5,
        verify="exact",
    )
    return barriers.materialize(pairs)


_AGREE_SQL = " + ".join(f"CAST(a.mh_{i} = b.mh_{i} AS INT)" for i in range(8))


@register(
    "dedup_minhash_hybrid",
    f"""WITH {_CORPUS},
{_SHINGLED},
{_BANDS_SQL.replace('{sh3}', _SH3)},
-- hybrid verify (dedup._verify_hybrid): slice agreement over the
-- signatures is the primary verdict (E[agree] = J per slice; hex-slice
-- equality == the engine's int64-slice equality, fixed-width bijection);
-- only the borderline band pays the exact-Jaccard shingle intersection
scored AS (
  SELECT c.doc_a, c.doc_b, ({_AGREE_SQL}) / 8.0 AS est
  FROM cand c JOIN mh a ON a.doc_id = c.doc_a JOIN mh b ON b.doc_id = c.doc_b),
sure AS (SELECT doc_a, doc_b, floor(est*1000000)/1000000 AS jaccard
         FROM scored WHERE est >= 0.85),
border AS (SELECT doc_a, doc_b FROM scored WHERE est < 0.85 AND est > 0.15),
binter AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
  FROM sh x JOIN border ON x.doc_id = border.doc_a
  JOIN sh y ON y.doc_id = border.doc_b AND x.shingle = y.shingle
  GROUP BY 1, 2),
bexact AS (
  SELECT i.doc_a, i.doc_b,
         floor((i.inter/(sa.n_sh + sb.n_sh - i.inter))*1000000)/1000000 AS jaccard
  FROM binter i JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE floor((i.inter/(sa.n_sh + sb.n_sh - i.inter))*1000000)/1000000 >= 0.5)
SELECT doc_a, doc_b, jaccard FROM sure
UNION ALL SELECT doc_a, doc_b, jaccard FROM bexact
ORDER BY 1, 2
""",
    shelved=True,  # rotated out r11 (driver-green r9/r10); dedup_minhash_lsh
    # pins the same banding + the exact contract path on the signal
)
def dedup_minhash_hybrid(spark, sf_dir):
    """minhash_lsh_pairs(verify='hybrid') — the r8 scale path: signature
    agreement decides high/low-agreement pairs without touching shingle
    sets; exact Jaccard only for the borderline band. Same-session
    salted-1000x A/B: hybrid 687.8 s vs exact 1238.6 s (SCALE.md §r8c).
    The oracle mirrors the two-path verdict exactly, so the estimate-
    valued jaccard column of sure-accepts is value-checked too."""
    pairs = dedup.minhash_lsh_pairs(
        dedup_corpus(spark, sf_dir),
        num_hashes=8,
        bands=4,
        threshold=0.5,
        verify="hybrid",
    )
    return barriers.materialize(pairs)


@register(
    "dedup_clusters",
    f"""WITH RECURSIVE {_CORPUS},
{_SHINGLED},
{_BANDS_SQL.replace('{sh3}', _SH3)},
{_JV_CTE},
pairs AS ({_JV_SELECT.replace('{thr}', '0.5')}),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach AS (
  SELECT node, node AS label FROM nodes
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY 1 ORDER BY 1
""",
    shelved=True,  # rotated out r8 (family keeps a main-gate twin)
)
def dedup_clusters(spark, sf_dir):
    """Connected components over the LSH-verified near-dup pairs ->
    (doc_id, cluster_id = min doc_id of the component): the keep-list
    step of a dedup pipeline (keep doc_id == cluster_id). Iterative
    min-label propagation in Spark, transitive-closure recursive CTE in
    the oracle — an iterative algorithm inside the value gate."""
    pairs = barriers.materialize(
        dedup.minhash_lsh_pairs(
            dedup_corpus(spark, sf_dir),
            num_hashes=8,
            bands=4,
            threshold=0.5,
            verify="exact",
        )
    )
    cc = dedup.connected_components(pairs)
    return barriers.materialize(cc)


_SIMHASH_BITS = 16
_SIMHASH_SQL = f"""tokd AS (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM tok),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tokd),
votes AS (SELECT doc_id,
  {', '.join(f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}" for i in range(_SIMHASH_BITS))}
  FROM h GROUP BY 1)
SELECT doc_id,
  CAST({' + '.join(f"CASE WHEN s{i} >= 0 THEN {1 << i} ELSE 0 END" for i in range(_SIMHASH_BITS))} AS BIGINT) AS simhash
FROM votes ORDER BY doc_id"""


@register(
    "dedup_simhash",
    f"""WITH {_CORPUS},
tok AS (SELECT doc_id, {_TOKS} AS toks FROM corpus),
{_SIMHASH_SQL}
""",
    shelved=True,
)
def dedup_simhash(spark, sf_dir):
    """16-bit SimHash per document (signed projection over md5 token
    hashes); equal values = near-dup candidates."""
    sh = dedup.simhash(dedup_corpus(spark, sf_dir), bits=_SIMHASH_BITS)
    return barriers.materialize(sh)


# ---------------------------------------------------------------------------
# incremental (cross-batch) dedup
# ---------------------------------------------------------------------------

#: the incoming batch for the incremental gate: near variants (80% of
#: tokens) of doc_id%10, exact copies of doc_id%17, a SECOND copy of the
#: near variant for doc_id%20 (same text as the %10 variant -> within-
#: batch exact dup), and token-sorted rewrites of doc_id%7==3 (novel
#: shingles -> survivors). The historical corpus is the raw documents
#: table; only its manifests (md5 set + minhash signatures) are consumed.
_NEARVAR = ("SELECT doc_id, array_to_string(toks[1:greatest(CAST(floor(len(toks)*4/5)"
            " AS INT), 1)], ' ') AS text FROM tok0")

_MH8 = ",\n         ".join(
    f"list_min([substr(h, {4 * i + 1}, 4) FOR h IN hl]) AS mh_{i}" for i in range(8)
)
_AGREE = " + ".join(f"(n.mh_{i} = o.mh_{i})::INT" for i in range(8))


def _mh8_sql(name: str, tok_cte: str) -> str:
    return f"""{name} AS (
  SELECT doc_id,
         {_MH8}
  FROM (SELECT doc_id, [md5(s) FOR s IN list_distinct({_SH3})] AS hl FROM {tok_cte}))"""


def _banded_sql(name: str, mh_cte: str) -> str:
    return (f"{name} AS (SELECT doc_id, mh_0||mh_1 AS b0, mh_2||mh_3 AS b1, "
            f"mh_4||mh_5 AS b2, mh_6||mh_7 AS b3 FROM {mh_cte})")


_INCR_SQL = f"""WITH docs0 AS (SELECT doc_id, text FROM documents),
tok0 AS (SELECT doc_id, {_TOKS} AS toks FROM docs0),
nearvar AS ({_NEARVAR}),
newb AS (
  SELECT doc_id + 10000000 AS doc_id, text FROM nearvar WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 20000000, text FROM docs0 WHERE doc_id % 17 = 0
  UNION ALL
  SELECT doc_id + 30000000, text FROM nearvar WHERE doc_id % 20 = 0
  UNION ALL
  SELECT doc_id + 40000000, array_to_string(list_sort(toks), ' ') FROM tok0 WHERE doc_id % 7 = 3
),
tokn AS (SELECT doc_id, {{_TOKS_NEW}} AS toks FROM newb),
{_mh8_sql('mh_old', 'tok0')},
{_mh8_sql('mh_new', 'tokn')},
{_banded_sql('banded_old', 'mh_old')},
{_banded_sql('banded_new', 'mh_new')},
cand AS (SELECT DISTINCT new_id, old_id FROM (
  SELECT n.doc_id AS new_id, o.doc_id AS old_id FROM banded_new n JOIN banded_old o ON n.b0 = o.b0
  UNION ALL
  SELECT n.doc_id, o.doc_id FROM banded_new n JOIN banded_old o ON n.b1 = o.b1
  UNION ALL
  SELECT n.doc_id, o.doc_id FROM banded_new n JOIN banded_old o ON n.b2 = o.b2
  UNION ALL
  SELECT n.doc_id, o.doc_id FROM banded_new n JOIN banded_old o ON n.b3 = o.b3)),
near AS (
  SELECT new_id, min(old_id) AS matched_seen FROM (
    SELECT c.new_id, c.old_id, {_AGREE} AS agree
    FROM cand c JOIN mh_new n ON n.doc_id = c.new_id
                JOIN mh_old o ON o.doc_id = c.old_id)
  WHERE agree >= 4 GROUP BY 1),
candb AS (SELECT DISTINCT a.doc_id AS nb_id, b.doc_id AS partner_id
  FROM banded_new a JOIN banded_new b
    ON a.doc_id > b.doc_id
   AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)),
nearb AS (
  SELECT nb_id, min(partner_id) AS partner FROM (
    SELECT c.nb_id, c.partner_id, {_AGREE} AS agree
    FROM candb c JOIN mh_new n ON n.doc_id = c.nb_id
                 JOIN mh_new o ON o.doc_id = c.partner_id)
  WHERE agree >= 4 GROUP BY 1),
seen_exact AS (SELECT DISTINCT md5(text) AS text_hash FROM docs0),
keepers AS (SELECT doc_id, text_hash,
                   min(doc_id) OVER (PARTITION BY text_hash) AS keeper
            FROM (SELECT doc_id, md5(text) AS text_hash FROM newb))
SELECT k.doc_id,
  CASE WHEN se.text_hash IS NOT NULL THEN 'dup_exact_seen'
       WHEN k.keeper <> k.doc_id THEN 'dup_exact_batch'
       WHEN nr.matched_seen IS NOT NULL THEN 'dup_near_seen'
       WHEN nb.partner IS NOT NULL THEN 'dup_near_batch'
       ELSE 'kept' END AS status,
  CASE WHEN se.text_hash IS NULL AND k.keeper = k.doc_id THEN nr.matched_seen END AS matched_seen
FROM keepers k
LEFT JOIN seen_exact se USING (text_hash)
LEFT JOIN near nr ON nr.new_id = k.doc_id
LEFT JOIN nearb nb ON nb.nb_id = k.doc_id
ORDER BY 1
""".replace("{_TOKS_NEW}", _TOKS)


def incremental_batch(spark, sf_dir):
    """The Spark twin of the oracle's ``newb`` CTE."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id", "text")
    toks = text.tokens_expr("text")
    keep = F.greatest(F.floor(F.size(toks) * 4 / 5).cast("int"), F.lit(1))
    near_txt = F.concat_ws(" ", F.slice(toks, F.lit(1), keep))
    return (
        docs.where(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 10000000).alias("doc_id"), near_txt.alias("text"))
        .unionByName(
            docs.where(F.col("doc_id") % 17 == 0).select(
                (F.col("doc_id") + 20000000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            docs.where(F.col("doc_id") % 20 == 0).select(
                (F.col("doc_id") + 30000000).alias("doc_id"), near_txt.alias("text")
            )
        )
        .unionByName(
            docs.where(F.col("doc_id") % 7 == 3).select(
                (F.col("doc_id") + 40000000).alias("doc_id"),
                F.concat_ws(" ", F.sort_array(toks)).alias("text"),
            )
        )
    )


@register("dedup_incremental", _INCR_SQL)
def dedup_incremental(spark, sf_dir):
    """Cross-batch dedup of an incoming batch against compact manifests
    of the already-ingested corpus (md5 set + minhash signature table) —
    the historical text is never re-read, which is the only ingest-dedup
    shape that holds at 100 TB. One row per new doc with its
    keep/drop decision and, for near-dups, the matched historical id."""
    old = read_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id", "text")
    out = dedup.dedup_incremental(
        incremental_batch(spark, sf_dir),
        dedup.exact_manifest(old),
        dedup.minhash_signatures(old),
    )
    return barriers.materialize(out)


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

_DOT = "list_reduce(list_transform(generate_series(1, len({a})), i -> {a}[i]*{b}[i]), (x,y) -> x+y)"


def _cos_sql(v: str, q: str) -> str:
    return (
        f"{_DOT.format(a=v, b=q)} / "
        f"(sqrt({_DOT.format(a=v, b=v)}) * sqrt({_DOT.format(a=q, b=q)}))"
    )


@register(
    "ann_cosine_topk",
    f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT vec_id, round({_cos_sql('v', 'qv')}, 6) AS cosine
FROM e, q WHERE vec_id <> 0
ORDER BY cosine DESC, vec_id LIMIT 10
""",
    shelved=True,
)
def ann_cosine_topk(spark, sf_dir):
    """Brute-force exact cosine top-10 vs vec_id=0 (the ANN baseline)."""
    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    return similarity.brute_force_topk(emb, query_id=0, k=10)


@register(
    "ann_cosine_threshold",
    f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT vec_id, round({_cos_sql('v', 'qv')}, 6) AS cosine
FROM e, q WHERE vec_id <> 0 AND round({_cos_sql('v', 'qv')}, 6) >= 0.25
ORDER BY vec_id
""",
    shelved=True,
)
def ann_cosine_threshold(spark, sf_dir):
    """All vectors with cosine >= 0.25 vs vec_id=0 (orderless exact
    similarity search)."""
    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    return similarity.cosine_threshold(emb, query_id=0, threshold=0.25)


# ---- hyperplane-LSH twins: the SQL embeds the SAME md5-derived weight
# ---- literals the Spark expressions use (similarity.hyperplanes), so both
# ---- engines compute bit-identical projections
_EMB_DIM = 64
#: near-dup config: 8 bits (small buckets, the quadratic term / 256) x 2
#: tables; planted near-dups (cosine ~1) collide with ~certainty
_LSH_BITS, _LSH_TABLES = 8, 2
#: search config: 4 bits x 4 tables — wider probes so moderate-cosine
#: neighbors are still reachable (recall at cosine c per module formula)
_SEARCH_BITS, _SEARCH_TABLES = 4, 4


def _dot_lit_sql(v: str, ws) -> str:
    arr = "[" + ", ".join(repr(float(w)) for w in ws) + "]"
    return (
        f"list_reduce(list_transform(generate_series(1, {_EMB_DIM}), "
        f"i -> {v}[i]*({arr})[i]), (x,y) -> x+y)"
    )


def _hp_bucket_sql(v: str, planes_t) -> str:
    cases = " + ".join(
        f"CASE WHEN {_dot_lit_sql(v, ws)} >= 0 THEN {1 << j} ELSE 0 END"
        for j, ws in enumerate(planes_t)
    )
    return f"({cases})"


def _b_cte(bits: int, tables: int) -> tuple[str, str]:
    """(bucket CTE over e, any-table-equality predicate) for the given
    LSH config — built from the same hyperplanes() literals Spark uses."""
    planes = similarity.hyperplanes(_EMB_DIM, bits, tables)
    cte = (
        "b AS (SELECT vec_id, "
        + ", ".join(f"{_hp_bucket_sql('v', planes[t])} AS b{t}" for t in range(tables))
        + " FROM e)"
    )
    any_eq = " OR ".join(f"a.b{t} = y.b{t}" for t in range(tables))
    return cte, any_eq


_B_CTE, _ANY_TABLE_EQ = _b_cte(_LSH_BITS, _LSH_TABLES)
_SB_CTE, _S_ANY_EQ = _b_cte(_SEARCH_BITS, _SEARCH_TABLES)


_LSH_SEARCH_SQL = f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_SB_CTE},
qb AS (SELECT * FROM b WHERE vec_id = 0),
cand AS (SELECT DISTINCT a.vec_id FROM b a, qb y WHERE {_S_ANY_EQ}),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT vec_id, round({_cos_sql('v', 'qv')}, 6) AS cosine
FROM cand JOIN e USING (vec_id), q
WHERE vec_id <> 0 AND round({_cos_sql('v', 'qv')}, 6) >= 0.2
"""
_LSH_INDEX = {"bits": _SEARCH_BITS, "tables": _SEARCH_TABLES, "dim": _EMB_DIM}


@register("ann_lsh_indexed", _LSH_SEARCH_SQL)
@register(
    "ann_lsh_bucketed",
    _LSH_SEARCH_SQL,
    shelved=True,  # rotated out r10: ann_lsh_indexed keeps the LSH bucket-store path
)
def ann_lsh_indexed(spark, sf_dir):
    """Hyperplane-LSH search over a materialized index: build once into
    a (_t, _b)-partitioned bucket store (4 tables x 4 seeded
    hyperplanes), compute the query's buckets driver-side, probe =
    pruned scan of the query's (table, bucket) directories, exact
    cosine >= 0.2 within. The oracle buckets every vector with the same
    hyperplanes, so the rows and cosines hash-match."""
    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    idx = _ivf_index_dir(sf_dir, **_LSH_INDEX)
    similarity.lsh_build(emb, idx, **_LSH_INDEX)
    return similarity.lsh_search_indexed(
        spark, idx, _query_vec(emb), threshold=0.2, exclude_vec_id=0
    )


_L2SQ = (
    "list_reduce(list_transform(generate_series(1, len({a})), "
    "i -> ({a}[i]-{b}[i])*({a}[i]-{b}[i])), (x,y) -> x+y)"
)


@register(
    "dedup_embedding_cosine",
    f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_B_CTE},
cand AS (SELECT DISTINCT a.vec_id AS vec_a, y.vec_id AS vec_b
         FROM b a JOIN b y ON a.vec_id < y.vec_id AND ({_ANY_TABLE_EQ}))
SELECT vec_a, vec_b, round({_cos_sql('ea.v', 'eb.v')}, 6) AS cosine
FROM cand JOIN e ea ON ea.vec_id = vec_a JOIN e eb ON eb.vec_id = vec_b
WHERE round({_cos_sql('ea.v', 'eb.v')}, 6) >= 0.3
""",
    shelved=True,  # rotated out r9b (family keeps minhash/semantic main twins)
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs: hyperplane-LSH candidates (any of
    {_LSH_TABLES} tables x {_LSH_BITS} seeded hyperplanes) + exact-cosine
    verify (the semantic-dedup path for embedded corpora)."""
    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    pairs = similarity.embedding_near_dup_pairs(
        emb, threshold=0.3, bits=_LSH_BITS, tables=_LSH_TABLES, dim=_EMB_DIM
    )
    return barriers.materialize(pairs)


def _ivf_sql(
    n_centroids: int = 8,
    nprobe: int = 2,
    n_iter: int = 2,
    k: int = 10,
    train_max_id: int | None = None,
) -> str:
    """DuckDB twin of the IVF index probe (similarity.ivf_build +
    ivf_topk_indexed, query vec_id 0): the same seed centroids and the
    same ``n_iter`` Lloyd steps unrolled as chained CTEs. Means are
    exact-decimal sum / count cast to double on both engines, so centroid
    coordinates (and therefore assignments and the probed lists) are
    bit-identical.

    ``train_max_id`` models the incremental-index path
    (``ivf_build`` on ``vec_id < train_max_id`` + ``ivf_append`` of the
    rest): Lloyd runs over the training prefix only, while the final
    assignment — which is what an append IS — covers the whole corpus."""

    def assign(c: str, src: str = "e") -> str:
        return (
            f"SELECT vec_id, v, cid FROM (SELECT {src}.vec_id, {src}.v, {c}.cid, "
            f"{_L2SQ.format(a=f'{src}.v', b=f'{c}.cvec')} AS d2 FROM {src}, {c} {c}) "
            f"QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1"
        )

    train = "et" if train_max_id is not None else "e"
    parts = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
    ]
    if train_max_id is not None:
        parts.append(f"et AS (SELECT * FROM e WHERE vec_id < {train_max_id})")
    parts.append(
        f"c0 AS (SELECT vec_id AS cid, v AS cvec FROM {train} WHERE vec_id < {n_centroids})"
    )
    for i in range(n_iter):
        parts += [
            f"a{i} AS ({assign(f'c{i}', train)})",
            f"m{i} AS (SELECT cid, i, CAST(sum(CAST(v[i] AS DECIMAL(28,12))) AS DOUBLE)"
            f" / count(*) AS m FROM a{i}, generate_series(1, {_EMB_DIM}) AS g(i)"
            f" GROUP BY cid, i)",
            f"n{i} AS (SELECT cid, list(m ORDER BY i) AS ncvec FROM m{i} GROUP BY cid)",
            f"c{i + 1} AS (SELECT c{i}.cid, coalesce(n{i}.ncvec, c{i}.cvec) AS cvec"
            f" FROM c{i} LEFT JOIN n{i} USING (cid))",
        ]
    cf = f"c{n_iter}"
    parts += [
        f"assign AS ({assign(cf)})",
        "q AS (SELECT v AS qv FROM e WHERE vec_id = 0)",
        f"probes AS (SELECT cid FROM (SELECT {cf}.cid, "
        f"{_L2SQ.format(a=f'{cf}.cvec', b='q.qv')} AS d2 FROM {cf}, q) "
        f"QUALIFY row_number() OVER (ORDER BY d2, cid) <= {nprobe})",
    ]
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT vec_id, round({_cos_sql('v', 'qv')}, 6) AS cosine
FROM assign JOIN probes USING (cid), q
WHERE vec_id <> 0
ORDER BY cosine DESC, vec_id LIMIT {k}
"""
    )


def _ivf_index_dir(sf_dir: str, **params) -> str:
    """Deterministic per-corpus index location: keyed on the corpus path,
    the parquet mtime (a regenerated corpus triggers a rebuild instead
    of serving a stale index) and every parameter of the index, so two
    gates share a directory only when they ask for the same index."""
    import hashlib as _hl
    import tempfile as _tf

    src = os.path.join(sf_dir, "embeddings.parquet")
    try:
        mt = str(int(os.path.getmtime(src)))
    except OSError:
        mt = "0"
    key = _hl.md5(
        f"{os.path.abspath(sf_dir)}|{mt}|{sorted(params.items())!r}".encode()
    ).hexdigest()[:12]
    return os.path.join(_tf.gettempdir(), f"ecollector_ivf_{key}")


def _query_vec(emb) -> list[float]:
    """vec_id 0's embedding as doubles: the query every ANN gate runs."""
    row = (
        emb.where(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .first()
    )
    return list(row["v"])


_IVF_INDEX = {"n_centroids": 8, "n_iter": 2}


@register("ann_ivf_topk", _ivf_sql())
def ann_ivf_topk(spark, sf_dir):
    """IVF approximate top-10 vs vec_id=0: train-once index (seeded
    coarse centroids (8) refined by 2 exact-decimal Lloyd iterations,
    inverted lists persisted partitionBy(cid)), then a probe that
    partition-prunes to the 2 nearest lists — exact cosine within. The
    build is idempotent per corpus (skipped when the index exists), so
    repeated searches pay only the pruned probe scan."""
    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    idx = _ivf_index_dir(sf_dir, **_IVF_INDEX)
    similarity.ivf_build(emb, idx, **_IVF_INDEX)
    return similarity.ivf_topk_indexed(
        spark, idx, _query_vec(emb), k=10, nprobe=2, exclude_vec_id=0
    )


def _cluster_assign_sql(n_centroids: int = 8, n_iter: int = 2) -> str:
    """Assignment-only twin of _ivf_sql: every vector labeled with its
    Lloyd-trained cluster — the semantic-clustering surface (corpus
    domain balancing), not a search."""
    full = _ivf_sql(n_centroids=n_centroids, n_iter=n_iter)
    head, _, _ = full.partition("q AS (")
    return (
        head.rstrip().rstrip(",")
        + """
SELECT vec_id, cid AS cluster_id FROM assign ORDER BY vec_id
"""
    )


@register(
    "datapipe_cluster_assign",
    _cluster_assign_sql(),
    shelved=True,  # same Lloyd machinery as ann_ivf_topk; clustering surface
)
def datapipe_cluster_assign(spark, sf_dir):
    """Semantic clustering for corpus balancing: every embedding labeled
    with its k-means cluster (the coarse quantizer reused as the
    clustering operator — one broadcast-argmin scan per Lloyd step, no
    shuffle wider than (cid, dim)). The oracle replays the identical
    exact-decimal Lloyd unrolling, so labels are bit-equal. A training
    pipeline samples per-cluster from this table to balance domains."""
    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    return (
        similarity.ivf_assignments(emb, n_centroids=8, n_iter=2)
        .select("vec_id", F.col("cid").alias("cluster_id"))
        .orderBy("vec_id")
    )


def _semantic_dedup_sql(
    threshold: float = 0.3, n_centroids: int = 8, n_iter: int = 2
) -> str:
    """SemDeDup oracle: the _ivf_sql Lloyd head (bit-identical cluster
    assignment) + the drop rule — a vector survives iff no lower-id
    same-cluster vector is >= threshold cosine-similar (rounded 6, both
    engines). Join + ANTI JOIN rather than a correlated NOT EXISTS:
    DuckDB's list lambdas cannot reference correlated outer columns."""
    full = _ivf_sql(n_centroids=n_centroids, n_iter=n_iter)
    head, _, _ = full.partition("q AS (")
    return (
        head.rstrip().rstrip(",")
        + f""",
drops AS (SELECT DISTINCT hi.vec_id
          FROM assign lo JOIN assign hi
            ON hi.cid = lo.cid AND lo.vec_id < hi.vec_id
          WHERE round({_cos_sql('lo.v', 'hi.v')}, 6) >= {threshold})
SELECT vec_id, cid AS cluster_id FROM assign ANTI JOIN drops USING (vec_id)
ORDER BY vec_id
"""
    )


def _hier_quant_sql(level1: int = 4, fanout: int = 4, n_iter: int = 2) -> str:
    """Shared DuckDB head for the TWO-LEVEL quantizer (r10): the
    _ivf_sql Lloyd head trains the ``level1`` coarse centroids
    (bit-identical assignment, reused as cid1), then the level-2 grouped
    Lloyd is unrolled the same way — seeds are the lowest ``fanout``
    vec_ids per coarse cluster, assignment is a cid1-equi-join + QUALIFY
    argmin (ties to the lowest cid2), means are exact-decimal. Ends at
    ``hassign`` (vec_id, v, cid = cid1 * fanout + cid2); callers append
    their own tail (SemDeDup drop rule, or the hierarchical-index probe
    stages)."""

    def sub_assign(s: str) -> str:
        return (
            f"SELECT vec_id, v, cid1, cid2 FROM ("
            f"SELECT lvl1.vec_id, lvl1.v, lvl1.cid1, {s}.cid2, "
            f"{_L2SQ.format(a='lvl1.v', b=f'{s}.cvec')} AS d2 "
            f"FROM lvl1 JOIN {s} ON {s}.cid1 = lvl1.cid1) "
            f"QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid2) = 1"
        )

    full = _ivf_sql(n_centroids=level1, n_iter=n_iter)
    head, _, _ = full.partition("q AS (")
    parts = [
        "lvl1 AS (SELECT vec_id, v, cid AS cid1 FROM assign)",
        f"s0 AS (SELECT cid1, row_number() OVER (PARTITION BY cid1 ORDER BY vec_id)"
        f" - 1 AS cid2, v AS cvec FROM lvl1"
        f" QUALIFY row_number() OVER (PARTITION BY cid1 ORDER BY vec_id) <= {fanout})",
    ]
    for i in range(n_iter):
        parts += [
            f"sa{i} AS ({sub_assign(f's{i}')})",
            f"sm{i} AS (SELECT cid1, cid2, i AS pos, "
            f"CAST(sum(CAST(v[i] AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS m"
            f" FROM sa{i}, generate_series(1, {_EMB_DIM}) AS g(i)"
            f" GROUP BY cid1, cid2, i)",
            f"sn{i} AS (SELECT cid1, cid2, list(m ORDER BY pos) AS ncvec"
            f" FROM sm{i} GROUP BY cid1, cid2)",
            f"s{i + 1} AS (SELECT s{i}.cid1, s{i}.cid2, "
            f"coalesce(sn{i}.ncvec, s{i}.cvec) AS cvec"
            f" FROM s{i} LEFT JOIN sn{i} USING (cid1, cid2))",
        ]
    parts += [
        f"fa AS ({sub_assign(f's{n_iter}')})",
        f"hassign AS (SELECT vec_id, v, cid1 * {fanout} + cid2 AS cid FROM fa)",
    ]
    return head.rstrip().rstrip(",") + ",\n" + ",\n".join(parts)


def _hier_semantic_sql(
    threshold: float = 0.3, level1: int = 4, fanout: int = 4, n_iter: int = 2
) -> str:
    """DuckDB twin of the TWO-LEVEL quantizer path of semantic_dedup
    (similarity.hierarchical_assignments, r10 — VERDICT r9 #1):
    :func:`_hier_quant_sql` + the SemDeDup drop rule on
    cid = cid1 * fanout + cid2."""
    return (
        _hier_quant_sql(level1, fanout, n_iter)
        + f""",
drops AS (SELECT DISTINCT hi.vec_id
          FROM hassign lo JOIN hassign hi
            ON hi.cid = lo.cid AND lo.vec_id < hi.vec_id
          WHERE round({_cos_sql('lo.v', 'hi.v')}, 6) >= {threshold})
SELECT vec_id, cid AS cluster_id FROM hassign ANTI JOIN drops USING (vec_id)
ORDER BY vec_id
"""
    )


def _ivf_hier_sql(
    level1: int = 4,
    fanout: int = 4,
    n_iter: int = 2,
    ncoarse: int = 2,
    nprobe: int = 3,
    k: int = 5,
) -> str:
    """DuckDB twin of the HIERARCHICAL index probe (r10,
    similarity.ivf_topk_indexed on a past-flat_cap index): the
    :func:`_hier_quant_sql` head, then the exact two-stage cell pick —
    ncoarse nearest COARSE centroids (ties to the lowest cid1), nprobe
    nearest SUB-cells among their codebooks (ties to the lowest global
    cid) — and exact cosine top-k inside the probed cells."""
    head = _hier_quant_sql(level1, fanout, n_iter)
    cf = f"c{n_iter}"
    sf = f"s{n_iter}"
    # sfb mirrors ivf_build's empty-cell backfill (ADVICE r11): a coarse
    # cell with no trained sub-codebook gets a one-entry codebook at
    # cid2=0 whose cvec is the coarse centroid itself, so the probe's
    # second stage ranks the same candidate set on both engines.
    return (
        head
        + f""",
sfb AS (SELECT cid1, cid2, cvec FROM {sf}
        UNION ALL
        SELECT c.cid AS cid1, 0 AS cid2, c.cvec
        FROM {cf} c WHERE NOT EXISTS (
            SELECT 1 FROM {sf} s WHERE s.cid1 = c.cid)),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
co AS (SELECT cid AS cid1 FROM (
        SELECT {cf}.cid, {_L2SQ.format(a=f'{cf}.cvec', b='q.qv')} AS d2
        FROM {cf}, q)
       QUALIFY row_number() OVER (ORDER BY d2, cid) <= {ncoarse}),
ce AS (SELECT cid FROM (
        SELECT sfb.cid1 * {fanout} + sfb.cid2 AS cid,
               {_L2SQ.format(a='sfb.cvec', b='q.qv')} AS d2
        FROM sfb JOIN co USING (cid1), q)
       QUALIFY row_number() OVER (ORDER BY d2, cid) <= {nprobe})
SELECT vec_id, round({_cos_sql('v', 'qv')}, 6) AS cosine
FROM hassign JOIN ce USING (cid), q
WHERE vec_id <> 0
ORDER BY cosine DESC, vec_id LIMIT {k}
"""
    )


@register(
    "ann_ivf_hier_topk",
    _ivf_hier_sql(),
    # r11 rotation: the hierarchical-index probe onto the signal (built
    # r10, never had driver exposure; now also pins the empty-cell
    # backfilled sub-codebook mirror in the oracle)
)
def ann_ivf_hier_topk(spark, sf_dir):
    """Hierarchical IVF index probe (r10 — the no-4096-ceiling ANN
    path): ``ivf_build(flat_cap=8, n_centroids=16)`` writes the
    two-level layout (cid1-partitioned lists sorted by cid2, coarse
    sidecar, per-coarse sub-codebooks), then the two-stage probe picks
    2 coarse cells and the 3 nearest sub-cells inside them, exact
    cosine within. The oracle replays BOTH Lloyd levels and both probe
    stages bit-identically (same tie rules), so the returned rows AND
    cosines hash-match."""
    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    params = {"n_centroids": 16, "n_iter": 2, "flat_cap": 8}
    idx = _ivf_index_dir(sf_dir, **params)
    similarity.ivf_build(emb, idx, **params)
    return similarity.ivf_topk_indexed(
        spark, idx, _query_vec(emb), k=5, nprobe=3, exclude_vec_id=0
    )


@register(
    "dedup_semantic_hier",
    _hier_semantic_sql(),
)
def dedup_semantic_hier(spark, sf_dir):
    """SemDeDup over the TWO-LEVEL quantizer (r10, VERDICT r9 #1): the
    same drop rule as ``dedup_semantic``, but clustering runs the
    hierarchical path — 4 broadcast coarse centroids, then 4
    Lloyd-trained sub-centroids per coarse cluster arriving through a
    cid1-keyed shuffle join (k = 16 cells total, nothing broadcast
    bigger than level 1). ``flat_cap=8`` forces the large-k branch at
    test scale; at 100 TB the same branch engages automatically when
    auto-sized k exceeds the flat broadcast cap, keeping comparisons
    ~N^1.5 instead of quadratic past 4096 lists. The oracle replays
    BOTH Lloyd levels bit-identically (exact-decimal means, lowest-id
    seeds, lowest-cid2 ties), so cluster ids and survivors hash-match."""
    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    return similarity.semantic_dedup(
        emb, threshold=0.3, n_centroids=16, n_iter=2, flat_cap=8, level1=4
    )


@register(
    "dedup_semantic",
    _semantic_dedup_sql(),
    shelved=True,  # rotated out r10: dedup_semantic_hier keeps the drop
    # rule + Lloyd head on signal; flat assignment stays via ann_ivf_topk
)
def dedup_semantic(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    k-means clustering + within-cluster cosine pruning —
    ``similarity.semantic_dedup``. Clustering is the same exact-decimal
    Lloyd quantizer as ``ann_ivf_topk`` (bit-identical centroids on both
    engines); the drop rule (exists a lower-id same-cluster vector at
    cosine >= 0.3) is one cid-shuffled self-join on the engine and one
    correlated NOT EXISTS in the oracle. Survivors keep their cluster
    label, so downstream balancing composes. Threshold 0.3 matches the
    synthetic corpus's near-dup density (same as
    ``dedup_embedding_cosine``)."""
    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    return similarity.semantic_dedup(
        emb, threshold=0.3, n_centroids=8, n_iter=2
    )


_HU_VEC = "('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT / 1152921504606846976.0"


def _balanced_sample_sql(per_cluster_n: int = 20) -> str:
    full = _cluster_assign_sql()
    head, _, _ = full.partition("SELECT vec_id, cid AS cluster_id")
    return (
        head
        + f"""SELECT vec_id, cluster_id FROM (
  SELECT vec_id, cid AS cluster_id,
         row_number() OVER (PARTITION BY cid ORDER BY {_HU_VEC}, vec_id) AS rn
  FROM assign)
WHERE rn <= {per_cluster_n} ORDER BY cluster_id, vec_id
"""
    )


@register(
    "datapipe_balanced_sample",
    _balanced_sample_sql(),
    shelved=True,  # composition of cluster_assign + hash_unit ranking
)
def datapipe_balanced_sample(spark, sf_dir):
    """Cluster-balanced corpus sampling: k-means assignment then at most
    20 members per cluster picked by smallest deterministic hash — the
    domain-balancing step of a training mix, reproducible bit-for-bit
    on any engine (hash_unit ordering, no rand())."""
    from ecollector_spark.datapipe.curation import balance_by_cluster

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    assign = similarity.ivf_assignments(emb, n_centroids=8, n_iter=2).select(
        "vec_id", F.col("cid").alias("cluster_id")
    )
    return balance_by_cluster(assign, 20).orderBy("cluster_id", "vec_id")


def _pq_sql(m: int = 2, d: int = 32, k: int = 4, n_iter: int = 2, topk: int = 10) -> str:
    """DuckDB twin of the PQ stack (pq_train -> pq_encode -> pq_topk):
    per block, the SAME exact-decimal Lloyd unrolling as _ivf_sql over
    the block's sub-vectors (seeds = lowest vec_ids, ties to the lowest
    cid), then the ADC score — the distance from each query block to
    the vector's ASSIGNED sub-centroid, which is definitionally the
    engine's lut[j][code_j] — summed in block order and rounded 6."""

    def assign(c: str, src: str) -> str:
        return (
            f"SELECT vec_id, v, cid FROM (SELECT {src}.vec_id, {src}.v, {c}.cid, "
            f"{_L2SQ.format(a=f'{src}.v', b=f'{c}.cvec')} AS d2 FROM {src}, {c} {c}) "
            f"QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1"
        )

    parts = ["e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"]
    for j in range(m):
        lo, hi = j * d + 1, (j + 1) * d
        parts.append(f"e{j} AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM e)")
        parts.append(
            f"c{j}_0 AS (SELECT vec_id AS cid, v AS cvec FROM e{j} WHERE vec_id < {k})"
        )
        for i in range(n_iter):
            parts += [
                f"a{j}_{i} AS ({assign(f'c{j}_{i}', f'e{j}')})",
                f"m{j}_{i} AS (SELECT cid, i, "
                f"CAST(sum(CAST(v[i] AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS m"
                f" FROM a{j}_{i}, generate_series(1, {d}) AS g(i) GROUP BY cid, i)",
                f"n{j}_{i} AS (SELECT cid, list(m ORDER BY i) AS ncvec"
                f" FROM m{j}_{i} GROUP BY cid)",
                f"c{j}_{i + 1} AS (SELECT c{j}_{i}.cid, "
                f"coalesce(n{j}_{i}.ncvec, c{j}_{i}.cvec) AS cvec"
                f" FROM c{j}_{i} LEFT JOIN n{j}_{i} USING (cid))",
            ]
        parts.append(f"f{j} AS ({assign(f'c{j}_{n_iter}', f'e{j}')})")
    parts.append("q AS (SELECT v AS qv FROM e WHERE vec_id = 0)")
    for j in range(m):
        lo = j * d
        cf = f"c{j}_{n_iter}"
        parts.append(
            f"s{j} AS (SELECT f{j}.vec_id, "
            f"{_L2SQ.format(a=f'{cf}.cvec', b=f'(q.qv[{lo + 1}:{lo + d}])')} AS dj"
            f" FROM f{j} JOIN {cf} ON f{j}.cid = {cf}.cid, q)"
        )
    total = " + ".join(f"s{j}.dj" for j in range(m))
    joins = "s0 " + " ".join(
        f"JOIN s{j} USING (vec_id)" for j in range(1, m)
    )
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT vec_id, round({total}, 6) AS d2_adc
FROM {joins}
WHERE vec_id <> 0
ORDER BY d2_adc, vec_id LIMIT {topk}
"""
    )


@register(
    "ann_pq_topk",
    _pq_sql(),
    shelved=True,  # new r11: product quantization (the 100 TB ANN
    # compression layer); r12 rotation candidate
)
def ann_pq_topk(spark, sf_dir):
    """Product quantization ADC search (Jégou et al. 2011 — the
    compression layer real 100 TB ANN stacks on top of IVF): the corpus
    trains m=2 per-block codebooks of 4 sub-centroids (the same
    deterministic exact-decimal Lloyd as every quantizer here),
    ``pq_encode`` compresses every vector to 2 code ids in ONE map-only
    projection, and ``pq_topk`` scores the query against CODES ONLY —
    the driver ships the m x k lookup table as a literal and the scan
    sums table hits, never touching a raw vector. The oracle replays
    both block Lloyds, the code assignment, and the ADC sum
    bit-identically (the engine's lut[j][code] IS the distance to the
    assigned sub-centroid, which the oracle computes by joining codes
    back to the final codebooks). Output: top-10 by ADC distance
    ascending, ties by vec_id."""
    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    cb = similarity.pq_train(emb, m=2, nbits=2, n_iter=2)
    codes = similarity.pq_encode(emb, cb)
    return similarity.pq_topk(codes, cb, _query_vec(emb), k=10, exclude_vec_id=0)


def _ivf_pq_sql(
    n_centroids: int = 8,
    nprobe: int = 2,
    m: int = 2,
    d: int = 32,
    k: int = 4,
    n_iter: int = 2,
    topk: int = 10,
    rerank: int | None = None,
) -> str:
    """DuckDB twin of the IVF-PQ index probe
    (similarity.ivf_build(pq_m=...) + ivf_pq_topk_indexed): the coarse
    Lloyd + probe pick of _ivf_sql (renamed g* to avoid clashing with
    the PQ CTEs) prunes the corpus to the probed lists; the _pq_sql
    block Lloyds + ADC score run over the FULL corpus's codebooks
    (training never sees the probe) and the final score joins against
    the pruned rows."""

    def assign(c: str, src: str) -> str:
        return (
            f"SELECT vec_id, v, cid FROM (SELECT {src}.vec_id, {src}.v, {c}.cid, "
            f"{_L2SQ.format(a=f'{src}.v', b=f'{c}.cvec')} AS d2 FROM {src}, {c} {c}) "
            f"QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1"
        )

    parts = ["e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"]
    # coarse quantizer over the full vectors
    parts.append(
        f"g0 AS (SELECT vec_id AS cid, v AS cvec FROM e WHERE vec_id < {n_centroids})"
    )
    for i in range(n_iter):
        parts += [
            f"ga{i} AS ({assign(f'g{i}', 'e')})",
            f"gm{i} AS (SELECT cid, i, "
            f"CAST(sum(CAST(v[i] AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS m"
            f" FROM ga{i}, generate_series(1, {_EMB_DIM}) AS g(i) GROUP BY cid, i)",
            f"gn{i} AS (SELECT cid, list(m ORDER BY i) AS ncvec FROM gm{i} GROUP BY cid)",
            f"g{i + 1} AS (SELECT g{i}.cid, coalesce(gn{i}.ncvec, g{i}.cvec) AS cvec"
            f" FROM g{i} LEFT JOIN gn{i} USING (cid))",
        ]
    gf = f"g{n_iter}"
    parts += [
        f"ga AS ({assign(gf, 'e')})",
        "q AS (SELECT v AS qv FROM e WHERE vec_id = 0)",
        f"probes AS (SELECT cid FROM (SELECT {gf}.cid, "
        f"{_L2SQ.format(a=f'{gf}.cvec', b='q.qv')} AS d2 FROM {gf}, q) "
        f"QUALIFY row_number() OVER (ORDER BY d2, cid) <= {nprobe})",
        "pr AS (SELECT vec_id FROM ga JOIN probes USING (cid))",
    ]
    # PQ block Lloyds + per-block ADC terms (same shapes as _pq_sql)
    for j in range(m):
        lo, hi = j * d + 1, (j + 1) * d
        parts.append(f"e{j} AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM e)")
        parts.append(
            f"c{j}_0 AS (SELECT vec_id AS cid, v AS cvec FROM e{j} WHERE vec_id < {k})"
        )
        for i in range(n_iter):
            parts += [
                f"a{j}_{i} AS ({assign(f'c{j}_{i}', f'e{j}')})",
                f"m{j}_{i} AS (SELECT cid, i, "
                f"CAST(sum(CAST(v[i] AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS m"
                f" FROM a{j}_{i}, generate_series(1, {d}) AS g(i) GROUP BY cid, i)",
                f"n{j}_{i} AS (SELECT cid, list(m ORDER BY i) AS ncvec"
                f" FROM m{j}_{i} GROUP BY cid)",
                f"c{j}_{i + 1} AS (SELECT c{j}_{i}.cid, "
                f"coalesce(n{j}_{i}.ncvec, c{j}_{i}.cvec) AS cvec"
                f" FROM c{j}_{i} LEFT JOIN n{j}_{i} USING (cid))",
            ]
        parts.append(f"f{j} AS ({assign(f'c{j}_{n_iter}', f'e{j}')})")
        cf = f"c{j}_{n_iter}"
        parts.append(
            f"s{j} AS (SELECT f{j}.vec_id, "
            f"{_L2SQ.format(a=f'{cf}.cvec', b=f'(q.qv[{j * d + 1}:{(j + 1) * d}])')} AS dj"
            f" FROM f{j} JOIN {cf} ON f{j}.cid = {cf}.cid, q)"
        )
    total = " + ".join(f"s{j}.dj" for j in range(m))
    joins = "s0 " + " ".join(f"JOIN s{j} USING (vec_id)" for j in range(1, m))
    if rerank is None:
        return (
            "WITH " + ",\n".join(parts) + f"""
SELECT vec_id, round({total}, 6) AS d2_adc
FROM {joins} JOIN pr USING (vec_id)
WHERE vec_id <> 0
ORDER BY d2_adc, vec_id LIMIT {topk}
"""
        )
    # two-stage shape (r12): ADC shortlist on the ROUNDED score (the
    # same (d2_adc, vec_id) order pq_topk emits), exact L2 re-rank
    return (
        "WITH " + ",\n".join(parts) + f""",
adc AS (SELECT vec_id, round({total}, 6) AS d2_adc
        FROM {joins} JOIN pr USING (vec_id)
        WHERE vec_id <> 0
        QUALIFY row_number() OVER (ORDER BY round({total}, 6), vec_id) <= {rerank})
SELECT e.vec_id, round({_L2SQ.format(a='e.v', b='q.qv')}, 6) AS d2
FROM e JOIN adc USING (vec_id), q
ORDER BY d2, vec_id LIMIT {topk}
"""
    )


_IVF_PQ_INDEX = {**_IVF_INDEX, "pq_m": 2, "pq_nbits": 2, "pq_n_iter": 2}


def _ivf_pq_probe(spark, sf_dir, rerank=None):
    """Top 10 of the IVF-PQ index probe for vec_id 0 (see the gates)."""
    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    idx = _ivf_index_dir(sf_dir, **_IVF_PQ_INDEX)
    similarity.ivf_build(emb, idx, **_IVF_PQ_INDEX)
    return similarity.ivf_pq_topk_indexed(
        spark, idx, _query_vec(emb), k=10, nprobe=2, rerank=rerank,
        exclude_vec_id=0,
    )


@register(
    "ann_ivf_pq_topk",
    _ivf_pq_sql(),
    # r12 rotation: the composed IVF-PQ stack onto the hard signal
)
def ann_ivf_pq_topk(spark, sf_dir):
    """The composed IVF-PQ search (Jégou et al. 2011 §V — THE standard
    100 TB ANN architecture), single-stage ADC: the index is built once
    with ``ivf_build(pq_m=2, pq_nbits=2)`` — 8 coarse lists, PQ
    codebooks of m=2 blocks x 4 sub-centroids, every row's codes
    stored beside it — and the probe partition-prunes to nprobe=2
    lists, reads ``(vec_id, codes)`` only and ranks the rows against
    the query's lookup table. The oracle replays the coarse Lloyd, the
    probe pick, BOTH block Lloyds, the code assignment and the ADC sum
    bit-identically."""
    return _ivf_pq_probe(spark, sf_dir)


@register(
    "ann_ivf_pq_indexed",
    _ivf_pq_sql(rerank=50),
    shelved=True,  # new r12: the MATERIALIZED IVF-PQ serving path
)
@register(
    "ann_ivf_pq_rerank",
    _ivf_pq_sql(rerank=50),
    shelved=True,  # new r12 (VERDICT r11 #1): the two-stage deployment
    # shape — ADC shortlist + exact re-rank, the named operating point
)
def ann_ivf_pq_rerank(spark, sf_dir):
    """The IVF-PQ DEPLOYMENT shape on a value gate (r12 — VERDICT r11
    #1): the same index as ``ann_ivf_pq_topk``; the coarse probe
    prunes, the ADC scan over ``(vec_id, codes)`` shortlists 50
    candidates (5x k, the named-config ratio from the clustered-corpus
    sweep in PQ_SCALE.json), and the exact squared-L2 re-ranks just
    those rows to the top 10. The oracle replays the whole stack —
    coarse Lloyd, probe pick, both block Lloyds, ADC sum, the
    ROUNDED-score shortlist cut and the exact re-rank — bit-identically,
    so a slip in any stage (including the shortlist tie rule, or codes
    dropped or lists scrambled by the build) breaks the hash."""
    return _ivf_pq_probe(spark, sf_dir, rerank=50)


_IVF_APPEND_TRAIN = 250  # < the smallest SF's corpus (sf0.001 has 500 vecs)


@register(
    "ann_ivf_append_topk",
    _ivf_sql(train_max_id=_IVF_APPEND_TRAIN),
    shelved=True,  # rotated out r6 (family keeps a main-gate twin)
)
def ann_ivf_append_topk(spark, sf_dir):
    """The incremental-index path on the value signal: build the IVF
    index over the first 250 vectors only, ``ivf_append`` the rest, then
    probe. The oracle replays exactly that — Lloyd over the training
    prefix, assignment (which is what an append is) over the whole
    corpus — so a drifting append implementation hash-mismatches.
    [reference intent: BASELINE.json 100 TB north star — index
    maintenance without retrain]"""
    import json
    import shutil

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    idx = _ivf_index_dir(sf_dir, **_IVF_INDEX, train_max_id=_IVF_APPEND_TRAIN)
    n_total = emb.count()

    def _complete() -> bool:
        # The build+append pair is not atomic: an interruption between
        # the two leaves a prefix-only index that ivf_index_exists alone
        # would trust forever. stats.json carries the running count
        # (ivf_append folds the batch into it), so n == corpus size is
        # the completeness sentinel.
        try:
            with open(os.path.join(idx, "stats.json")) as f:
                return json.load(f).get("n") == n_total
        except (OSError, ValueError):
            return False

    if not (similarity.ivf_index_exists(idx) and _complete()):
        if os.path.isdir(idx):
            shutil.rmtree(idx)
        similarity.ivf_build(
            emb.where(F.col("vec_id") < _IVF_APPEND_TRAIN), idx, **_IVF_INDEX
        )
        similarity.ivf_append(emb.where(F.col("vec_id") >= _IVF_APPEND_TRAIN), idx)
    return similarity.ivf_topk_indexed(
        spark, idx, _query_vec(emb), k=10, nprobe=2, exclude_vec_id=0
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def _markers_sql(markers) -> str:
    return "[" + ", ".join(f"'{m}'" for m in markers) + "]"


_LANG_SCORES = ", ".join(
    f"len(list_intersect(dt, {_markers_sql(m)})) AS s_{lang}"
    for lang, m in text.LANG_MARKERS.items()
)
_BEST = "greatest(s_en, s_de, s_fr, s_es, s_zh)"


@register(
    "text_langid",
    f"""WITH d AS (SELECT doc_id, list_distinct({_TOKS}) AS dt FROM documents),
s AS (SELECT doc_id, {_LANG_SCORES} FROM d)
SELECT doc_id, CASE WHEN {_BEST} = 0 THEN 'und'
  WHEN s_en = {_BEST} THEN 'en' WHEN s_de = {_BEST} THEN 'de'
  WHEN s_fr = {_BEST} THEN 'fr' WHEN s_es = {_BEST} THEN 'es' ELSE 'zh' END AS pred_lang
FROM s ORDER BY doc_id
""",
    shelved=True,  # rotated out r9b (family keeps pii_scrub/gopher main twins)
)
def text_langid(spark, sf_dir):
    """Marker-word language ID heuristic (argmax with fixed cascade)."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return text.lang_id(docs)


@register(
    "text_quality",
    f"""WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
m AS (SELECT doc_id, text, toks, CAST(len(toks) AS INT) AS n,
  CASE WHEN len(toks) > 0 THEN list_reduce(list_transform(toks, x -> CAST(length(x) AS DOUBLE)), (a,b) -> a+b) / len(toks) ELSE 0.0 END AS avg_len,
  CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains({_markers_sql(text.EN_STOPWORDS)}, x))) AS DOUBLE) / len(toks) ELSE 0.0 END AS stop_ratio,
  CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS punct_ratio
  FROM t)
SELECT doc_id, n AS n_tokens, floor(avg_len*1000000)/1000000 AS avg_token_len,
       floor(stop_ratio*1000000)/1000000 AS stopword_ratio, floor(punct_ratio*1000000)/1000000 AS punct_ratio,
       floor((0.4*least(n/100.0, 1.0) + 0.3*(1.0 - stop_ratio) + 0.3*least(avg_len/8.0, 1.0))*1000000)/1000000 AS quality
FROM m ORDER BY doc_id
""",
    shelved=True,  # rotated out r8 (family keeps a main-gate twin)
)
def text_quality(spark, sf_dir):
    """Per-doc quality features + blended score (pretraining-corpus gate)."""
    from ecollector_spark.session import spread_small_scan

    # tokenize-heavy map over a single-row-group scan: spread to cluster
    # width (inert at real scale). Interleaved medians: 0.76 -> 0.63 s.
    docs = spread_small_scan(
        read_parquet(spark, f"{sf_dir}/documents.parquet"),
        input_path=f"{sf_dir}/documents.parquet",
    )
    return text.quality_score(docs)


@register(
    "text_gopher_rules",
    f"""WITH t AS (SELECT doc_id, text, {_TOKS} AS w FROM documents),
m AS (SELECT doc_id,
  len(w) AS n,
  coalesce(list_sum(list_transform(w, x -> length(x))), 0) AS sum_len,
  length(text) - length(replace(text, '#', '')) AS hashes,
  len(regexp_extract_all(text, '\\.\\.\\.|…')) AS ellipses,
  list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
              x -> x <> '') AS lf,
  len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha,
  len(list_distinct(list_filter(list_transform(w, x -> lower(x)),
      x -> x IN ('the','be','to','of','and','that','have','with')))) AS stops
  FROM t),
r AS (SELECT doc_id, CAST(n AS INT) AS n_words,
  (n >= 50 AND n <= 100000) AS r_word_count,
  (sum_len >= 3*n AND sum_len <= 10*n AND n > 0) AS r_mean_len,
  ((hashes + ellipses) * 10 <= n) AS r_symbol_ratio,
  (len(list_filter(lf, x -> regexp_matches(x, '^[-*•]'))) * 10 <= len(lf))
    AS r_bullet,
  (len(list_filter(lf, x -> regexp_matches(x, '(\\.\\.\\.|…)$'))) * 10
    <= 3 * len(lf)) AS r_ellipsis,
  (alpha * 5 >= 4 * n) AS r_alpha,
  (stops >= 2) AS r_stopwords
  FROM m)
SELECT doc_id, n_words, r_word_count, r_mean_len, r_symbol_ratio, r_bullet,
       r_ellipsis, r_alpha, r_stopwords,
       (r_word_count AND r_mean_len AND r_symbol_ratio AND r_bullet
        AND r_ellipsis AND r_alpha AND r_stopwords) AS "pass"
FROM r ORDER BY doc_id
""",
)
def text_gopher_rules(spark, sf_dir):
    """The published Gopher quality-filter rule set (Rae et al. 2021,
    arXiv:2112.11446 Table A1) as per-doc booleans
    (``text.gopher_rules``): word count, mean word length,
    symbol-to-word ratio, bullet/ellipsis line fractions, alphabetic
    word fraction, required stop words. Every rule is an exact
    cross-multiplied INTEGER comparison on both engines — no float in
    any hashed column, so the gate is tolerance-free by construction."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return text.gopher_rules(docs).orderBy("doc_id")


@register(
    "text_token_counts",
    f"""SELECT doc_id, CAST(len({_TOKS}) AS INT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS bpe_pieces
FROM documents ORDER BY doc_id
""",
    shelved=True,
)
def text_token_counts(spark, sf_dir):
    """Whitespace + BPE-ish token counting."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return text.token_counts(docs)


@register(
    "text_repetition",
    f"""WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
base AS (SELECT doc_id,
  list_filter(list_transform(string_split(text, chr(10)), s -> trim(s)), s -> s <> '') AS ls,
  CASE WHEN len(toks) >= 2
       THEN list_transform(range(len(toks)-1), i -> toks[i+1] || ' ' || toks[i+2])
       ELSE [] END AS big
  FROM t),
tb AS (SELECT doc_id, CAST(max(c) AS DOUBLE)/sum(c) AS tbf FROM (
    SELECT doc_id, g, count(*) AS c
    FROM (SELECT doc_id, unnest(big) AS g FROM base) GROUP BY doc_id, g)
  GROUP BY doc_id)
SELECT b.doc_id, CAST(len(ls) AS INT) AS n_lines,
  floor((CASE WHEN len(ls) > 0
         THEN 1.0 - CAST(len(list_distinct(ls)) AS DOUBLE)/len(ls)
         ELSE 0.0 END)*1000000)/1000000 AS dup_line_frac,
  floor(coalesce(tbf, 0.0)*1000000)/1000000 AS top_bigram_frac
FROM base b LEFT JOIN tb USING (doc_id) ORDER BY doc_id
""",
    shelved=True,
)
def text_repetition(spark, sf_dir):
    """Gopher-style repetition signals: duplicate-line fraction +
    most-frequent-bigram fraction (boilerplate/spam gate)."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return text.repetition_signals(docs)


@register(
    "text_pii_scrub",
    f"""SELECT doc_id,
  regexp_replace(regexp_replace(text, '{text.EMAIL_RE}', '<EMAIL>', 'g'),
                 '{text.URL_RE}', '<URL>', 'g') AS scrubbed,
  CAST(len(regexp_extract_all(text, '{text.EMAIL_RE}')) AS INT) AS n_emails,
  CAST(len(regexp_extract_all(
      regexp_replace(text, '{text.EMAIL_RE}', '<EMAIL>', 'g'),
      '{text.URL_RE}')) AS INT) AS n_urls
FROM documents ORDER BY doc_id
""",
    shelved=True,  # rotated out r11 (on signal since r9); gopher_rules +
    # perplexity + curation_text keep the text family on the signal
)
def text_pii_scrub(spark, sf_dir):
    """Email/URL redaction with hit counts (map-side pre-tokenization
    scrub; RE2-safe patterns identical on both engines)."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return text.pii_scrub(docs)


@register(
    "text_top_terms",
    f"""WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
s AS (SELECT doc_id, term, tf, df, tf * nd / df AS sc
      FROM tf JOIN dfq USING (term), nd)
SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df AS doc_freq,
       floor(sc * 1000000) / 1000000 AS salience
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY sc DESC, term) AS rank FROM s)
WHERE rank <= 3 ORDER BY doc_id, rank
""",
    shelved=True,
)
def text_top_terms(spark, sf_dir):
    """Per-doc top-3 salient terms by tf x N/df (linear-idf tf-idf —
    exact-rational scoring so rankings are engine-reproducible)."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return text.top_terms(docs, n=3)


@register(
    "text_rolling_fingerprint",
    f"""WITH c AS (
  SELECT doc_id,
         list_transform(list_filter(string_split(text, ''), ch -> ch <> ''),
                        ch -> CAST(ord(ch) AS BIGINT)) AS codes
  FROM documents),
n AS (SELECT doc_id, codes, greatest(len(codes) - 15, 0) AS n FROM c)
SELECT doc_id,
       CASE WHEN n > 0 THEN list_min(list_transform(generate_series(1, n),
            i -> list_reduce(codes[i:i+15], (acc, x) -> (acc * {text.ROLL_BASE} + x) % {text.ROLL_MOD})))
       END AS rolling_fp,
       CAST(n AS INT) AS n_grams
FROM n ORDER BY doc_id
""",
    shelved=True,  # rotated out r6 (family keeps a main-gate twin)
)
def text_rolling_fingerprint(spark, sf_dir):
    """Character-level Rabin-Karp rolling-hash fingerprint (min 16-char
    gram hash, exact int64 Horner fold — the byte-level complement of
    the token-shingle fingerprint)."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return text.rolling_fingerprint(docs, k=16)


@register(
    "text_fingerprint",
    f"""WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, list_distinct({_SH5}) AS shl FROM t)
SELECT doc_id, list_min([md5(x) FOR x IN shl]) AS fingerprint,
       CAST(len(shl) AS INT) AS n_shingles
FROM s ORDER BY doc_id
""",
    shelved=True,
)
def text_fingerprint(spark, sf_dir):
    """Winnowing-style min-md5 fingerprint over 5-token shingles."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return text.fingerprint(docs, k=5)


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------

@register(
    "mm_binary_metadata",
    """SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image/png' WHEN doc_id % 3 = 1 THEN 'audio/wav'
            ELSE 'video/mp4' END AS media_type,
       CAST(doc_id % 640 + 1 AS INT) AS width,
       CAST(doc_id % 480 + 1 AS INT) AS height,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents ORDER BY doc_id
""",
    shelved=True,
)
def mm_binary_metadata(spark, sf_dir):
    """Multimodal plumbing: opaque binary column + typed metadata schema
    (decode itself is stubbed; see datapipe.multimodal)."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    media = attach_fake_media(docs)
    return media.select("doc_id", "media_type", "width", "height", "n_bytes")


@register(
    "mm_resize_metadata",
    """WITH m AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image/png' WHEN doc_id % 3 = 1 THEN 'audio/wav'
              ELSE 'video/mp4' END AS media_type,
         doc_id % 640 + 1 AS w, doc_id % 480 + 1 AS h,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents),
s AS (SELECT *, least(224.0 / w, 224.0 / h, 1.0) AS sc FROM m)
SELECT doc_id, media_type,
       CAST(greatest(1, floor(w * sc)) AS INT) AS width,
       CAST(greatest(1, floor(h * sc)) AS INT) AS height,
       n_bytes
FROM s ORDER BY doc_id
""",
    shelved=True,  # rotated out r8 (family keeps a main-gate twin)
)
def mm_resize_metadata(spark, sf_dir):
    """mapInPandas resize stage (fit-within-224x224, aspect preserved,
    no upscale): the pandas stage's metadata arithmetic is exact double
    math, so the SQL oracle verifies the Arrow batch path end to end."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    from ecollector_spark.datapipe.multimodal import resize_media

    out = resize_media(attach_fake_media(docs))
    return out.select("doc_id", "media_type", "width", "height", "n_bytes")


_F_COLS = ", ".join(
    f"floor((len(list_filter(codes, x -> x = {j})) / CAST(greatest(n, 1) AS DOUBLE)) * 1000000)"
    f" / 1000000 AS f{j}"
    for j in range(8)
)


@register(
    "mm_feature_hist",
    f"""WITH c AS (
  SELECT doc_id,
         list_transform(generate_series(1, length(text)), i -> ord(substr(text, i, 1)) % 8) AS codes,
         length(text) AS n
  FROM documents)
SELECT doc_id, {_F_COLS} FROM c ORDER BY doc_id
""",
    shelved=True,  # rotated out r9 (family keeps a main-gate twin)
)
def mm_feature_hist(spark, sf_dir):
    """The mapInPandas byte-histogram feature vector, value-matched: the
    corpus is ASCII so the SQL twin recomputes the same count/total
    quotients in double — the Arrow batch path sits in the value gate,
    not just a row count."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    feats = extract_features(attach_fake_media(docs))
    cols = [
        (F.floor(F.element_at("feature", j + 1) * 1000000.0) / 1000000.0).alias(f"f{j}")
        for j in range(8)
    ]
    return feats.select("doc_id", *cols)


@register(
    "mm_frame_sampling",
    """WITH m AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image/png' WHEN doc_id % 3 = 1 THEN 'audio/wav'
              ELSE 'video/mp4' END AS media_type,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents)
SELECT doc_id, media_type, CAST(f AS INT) AS frame_idx, CAST(f * 64 AS INT) AS byte_offset
FROM (SELECT doc_id, media_type,
             unnest(generate_series(0, CAST(floor(n_bytes/64.0) AS BIGINT))) AS f
      FROM m)
ORDER BY doc_id, frame_idx
""",
    shelved=True,
)
def mm_frame_sampling(spark, sf_dir):
    """Frame-sampling stage (1->N explode per every_n_bytes offset) —
    the video-frame extraction shape with the stub payload; offset
    arithmetic is exact so the SQL twin value-matches the explode."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return sample_frames(attach_fake_media(docs))


@register("datapipe_bpe_encode", shelved=True)  # rows-only: the merge
# recursion has no SQL form — value pins live in pytest (hand-derived
# Sennrich-example merges, reference-encoder parity, round-trip property)
def datapipe_bpe_encode(spark, sf_dir):
    """Real BPE tokenization (r9 second session — Sennrich et al. 2016,
    arXiv:1508.07909): merges trained via the scale-correct split
    (distributed word counting -> local merge loop over the bounded
    frequency dict), then the corpus encoded through the Arrow-batched
    mapInPandas stage with the merge table broadcast in the closure and
    a per-batch word cache. Returns (doc_id, n_words, n_tokens,
    first_tokens); deterministic for a fixed corpus (tie-break rule
    documented in the trainer), but the merge recursion is not
    SQL-expressible, so this gate is rows-only — the value pins are
    pytest's."""
    from ecollector_spark.datapipe import tokenizer

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    merges = tokenizer.train_on_corpus(docs, num_merges=200)
    enc = tokenizer.bpe_encode(docs, merges)
    return enc.select(
        "doc_id",
        "n_words",
        "n_tokens",
        F.slice("tokens", 1, 5).alias("first_tokens"),
    ).orderBy("doc_id")


@register("mm_feature_extract", shelved=True)  # rows-only: Arrow/pandas stage kept as the raw-vector form
def mm_feature_extract(spark, sf_dir):
    """mapInPandas feature extraction over binary payloads (stubbed
    byte-histogram features; real decode raises NotImplementedError)."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return extract_features(attach_fake_media(docs))


@register(
    "mm_real_decode",
    """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 0),
m AS (SELECT doc_id,
             40 + doc_id % 32 AS w0, 30 + doc_id % 24 AS h0,
             doc_id % 256 AS v
      FROM d),
s AS (SELECT *, least(32.0 / w0, 32.0 / h0, 1.0) AS sc FROM m)
SELECT doc_id,
       CAST(greatest(1, floor(w0 * sc)) AS INT) AS width,
       CAST(greatest(1, floor(h0 * sc)) AS INT) AS height,
       CAST((v * 8) // 256 AS INT) AS lum_bucket,
       1.0 AS bucket_mass
FROM s ORDER BY doc_id
""",
    shelved=True,  # rotated out r11 (on signal since r8); the real PNG
    # decode now runs e2e inside datapipe_warc_response from birth, and
    # png_palette/tiff/jpeg_progressive/gif keep image decode on signal
)
def mm_real_decode(spark, sf_dir):
    """REAL image decode, value-gated (r7, VERDICT r6 #5): synthetic
    constant-luminance PNGs are built per doc_id inside mapInPandas
    (``attach_synthetic_png_media``), resized for real (decode →
    nearest-neighbor → re-encode, ``resize_media(decode_stub=False)``),
    then decoded AGAIN by the real feature path
    (``extract_features(decode_stub=False)``) — so the gate's width/
    height come from the re-decoded output image and the luminance
    histogram from its actual pixels. The DuckDB twin predicts both
    analytically (constant image: one histogram bucket carries mass
    1.0; dims follow the documented floor math) — if any codec stage
    (filters, CRC, resample, re-encode) corrupted a pixel or a
    dimension, the histogram or dims shift and the hash breaks. The
    doc_id % 7 slice keeps the gate ~14% of the corpus (pixel work is
    the cost, and the driver budget is shared)."""
    from ecollector_spark.datapipe.multimodal import (
        attach_synthetic_png_media,
        resize_media,
    )

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") % 7 == 0
    )
    media = attach_synthetic_png_media(docs)
    resized = resize_media(media, max_w=32, max_h=32, decode_stub=False)
    feats = extract_features(resized, decode_stub=False, dim=8)
    # bucket index + its mass from the feature vector; dims from the
    # resized (re-encoded) metadata — both are decode-derived
    bucket = (F.expr(
        "array_position(feature, array_max(feature))"
    ) - 1).cast("int")
    return (
        resized.select("doc_id", "width", "height")
        .join(
            feats.select(
                "doc_id",
                bucket.alias("lum_bucket"),
                F.array_max("feature").alias("bucket_mass"),
            ),
            "doc_id",
        )
        .select("doc_id", "width", "height", "lum_bucket", "bucket_mass")
    )


@register(
    "mm_jpeg_decode",
    """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
m AS (SELECT doc_id,
             24 + doc_id % 17 AS w, 16 + doc_id % 13 AS h,
             doc_id % 256 AS v, 75 + doc_id % 21 AS q
      FROM d),
-- libjpeg quality scaling (q >= 50 branch: scale = 200 - 2q) applied to
-- the Annex-K luma table's DC entry (16), then the DC-only closed form
-- from jpeg_codec's module docstring: every rounding is floor(x + 0.5)
t AS (SELECT *, greatest(1, least(255, (16 * (200 - 2*q) + 50) // 100)) AS q00 FROM m),
r AS (SELECT doc_id, w, h, q00,
             floor(8.0 * (v - 128) / q00 + 0.5) AS dc
      FROM t)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(greatest(0, least(255, floor(dc * q00 / 8.0 + 0.5) + 128)) AS INT)
         AS lum_decoded,
       1.0 AS bucket_mass
FROM r ORDER BY doc_id
""",
    shelved=True,  # rotated out r10: mm_real_decode + mm_png_palette +
    # mm_tiff_decode keep image decode on signal; the progressive twin
    # stays shelved-green
)
def mm_jpeg_decode(spark, sf_dir):
    """REAL baseline JPEG decode, value-gated (r8, VERDICT r7 missing
    #1): constant-luminance grayscale JPEGs at per-doc quality are built
    inside mapInPandas (``attach_synthetic_jpeg_media`` — FDCT, Annex-K
    quantization, Huffman entropy coding), then decoded by the real
    feature path (``extract_features(decode_stub=False)``) with a
    256-bin histogram, so ``array_position(max)`` - 1 IS the decoded
    pixel value, exact to the unit. The DuckDB twin predicts it in
    closed form — quality→quant-table scaling, DC quantization, dequant
    + IDCT rounding — so any error in table scaling, Huffman coding,
    bit stuffing, DC prediction or the IDCT shifts the value and breaks
    the hash. width/height re-parse the produced bytes (jpeg_header),
    pinning marker framing too."""
    from ecollector_spark.datapipe.multimodal import attach_synthetic_jpeg_media

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") % 3 == 0
    )
    media = attach_synthetic_jpeg_media(docs)
    feats = extract_features(media, decode_stub=False, dim=256)
    lum = (F.expr("array_position(feature, array_max(feature))") - 1).cast("int")
    return (
        media.select("doc_id", "width", "height")
        .join(
            feats.select(
                "doc_id",
                lum.alias("lum_decoded"),
                F.array_max("feature").alias("bucket_mass"),
            ),
            "doc_id",
        )
        .select("doc_id", "width", "height", "lum_decoded", "bucket_mass")
    )


@register(
    "mm_jpeg_progressive",
    """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1),
m AS (SELECT doc_id,
             24 + doc_id % 17 AS w, 16 + doc_id % 13 AS h,
             doc_id % 256 AS v, 75 + doc_id % 21 AS q
      FROM d),
-- identical closed form to mm_jpeg_decode: the progressive scan script
-- transmits the same quantized coefficients (successive approximation
-- ends at Al=0), so the decoded pixel is the same DC-only prediction
t AS (SELECT *, greatest(1, least(255, (16 * (200 - 2*q) + 50) // 100)) AS q00 FROM m),
r AS (SELECT doc_id, w, h, q00,
             floor(8.0 * (v - 128) / q00 + 0.5) AS dc
      FROM t)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(greatest(0, least(255, floor(dc * q00 / 8.0 + 0.5) + 128)) AS INT)
         AS lum_decoded,
       1.0 AS bucket_mass
FROM r ORDER BY doc_id
""",
    # r11 rotation: progressive JPEG onto the signal (asked in r9)
)
def mm_jpeg_progressive(spark, sf_dir):
    """REAL progressive (SOF2) JPEG decode, value-gated (r9, VERDICT r8
    missing #1): same shape as mm_jpeg_decode but the mapInPandas
    generation stage emits multi-scan progressive files (interleaved DC
    first at Al=1, spectral-split AC first scans, DC refinement
    bit-plane, AC refinement to Al=0 — encode_jpeg(progressive=True)),
    and the real decode path accumulates all scans before the IDCT. The
    DuckDB twin is the SAME closed form as the baseline gate: successive
    approximation ends at Al=0, so any error in scan sequencing, EOB-run
    handling, refinement bit order or the point transform shifts the
    decoded value and breaks the hash. Different doc slice (% 3 == 1)
    than the baseline gate, so the two never share rows."""
    from ecollector_spark.datapipe.multimodal import attach_synthetic_jpeg_media

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") % 3 == 1
    )
    media = attach_synthetic_jpeg_media(docs, progressive=True)
    feats = extract_features(media, decode_stub=False, dim=256)
    lum = (F.expr("array_position(feature, array_max(feature))") - 1).cast("int")
    return (
        media.select("doc_id", "width", "height")
        .join(
            feats.select(
                "doc_id",
                lum.alias("lum_decoded"),
                F.array_max("feature").alias("bucket_mass"),
            ),
            "doc_id",
        )
        .select("doc_id", "width", "height", "lum_decoded", "bucket_mass")
    )


@register(
    "mm_png_palette",
    """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 1),
m AS (SELECT doc_id,
             18 + doc_id % 19 AS w, 10 + doc_id % 13 AS h,
             CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4
                  ELSE 8 END AS depth
      FROM d),
i AS (SELECT *, doc_id % (1 << depth) AS idx FROM m),
-- constant-index palette image decodes to the constant palette color;
-- any error in PLTE lookup, sub-byte unpacking, Adam7 geometry (odd
-- ids) or tRNS expansion (ids % 3 = 0 -> 4 channels) shifts a value
c AS (SELECT doc_id, w, h,
             (doc_id + 37 * idx) % 256 AS r,
             (doc_id + 11 * idx) % 256 AS g,
             (doc_id + 53 * idx) % 256 AS b,
             CASE WHEN doc_id % 3 = 0 THEN 4 ELSE 3 END AS ch
      FROM i)
SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(ch AS INT) AS channels,
       CAST((r + g + b) // 3 AS INT) AS lum_decoded,
       1.0 AS bucket_mass
FROM c ORDER BY doc_id
""",
)
def mm_png_palette(spark, sf_dir):
    """REAL palette-PNG decode, value-gated (r10, VERDICT r9 missing
    #2): indexed-color PNGs at every legal palette bit depth (1/2/4/8),
    Adam7-interlaced on odd doc_ids, tRNS-transparent on ids % 3 == 0,
    built inside mapInPandas (``attach_synthetic_palette_png_media``)
    and decoded by the real feature path with a 256-bin histogram whose
    argmax IS the decoded luminance. Palette lookup is lossless, so the
    DuckDB twin predicts (r+g+b)//3 of the selected palette entry in
    closed form; channel count comes from the content-sniffing header
    probe (``probe_media``), pinning the header-side tRNS walk."""
    from ecollector_spark.datapipe.multimodal import (
        attach_synthetic_palette_png_media,
        probe_media,
    )

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") % 5 == 1
    )
    media = attach_synthetic_palette_png_media(docs)
    probe = probe_media(media).select("doc_id", "channels")
    feats = extract_features(media, decode_stub=False, dim=256)
    lum = (F.expr("array_position(feature, array_max(feature))") - 1).cast("int")
    return (
        media.select("doc_id", "width", "height")
        .join(probe, "doc_id")
        .join(
            feats.select(
                "doc_id",
                lum.alias("lum_decoded"),
                F.array_max("feature").alias("bucket_mass"),
            ),
            "doc_id",
        )
        .select(
            "doc_id", "width", "height", "channels", "lum_decoded", "bucket_mass"
        )
    )


@register(
    "mm_jpeg_exif_orientation",
    """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 6 = 4),
m AS (SELECT doc_id, 1 + doc_id % 8 AS o, 75 + doc_id % 21 AS q,
             doc_id % 64 AS va, 64 + doc_id % 64 AS vb,
             128 + doc_id % 64 AS vc, 192 + doc_id % 64 AS vd
      FROM d),
-- per-block DC-only decode closed form (same as the mm_jpeg gates),
-- applied to each quadrant value independently
t AS (SELECT *, greatest(1, least(255, (16 * (200 - 2*q) + 50) // 100)) AS q00 FROM m),
r AS (SELECT doc_id, o,
  CAST(greatest(0, least(255, floor(floor(8.0*(va-128)/q00+0.5)*q00/8.0+0.5)+128)) AS INT) AS da,
  CAST(greatest(0, least(255, floor(floor(8.0*(vb-128)/q00+0.5)*q00/8.0+0.5)+128)) AS INT) AS db,
  CAST(greatest(0, least(255, floor(floor(8.0*(vc-128)/q00+0.5)*q00/8.0+0.5)+128)) AS INT) AS dc,
  CAST(greatest(0, least(255, floor(floor(8.0*(vd-128)/q00+0.5)*q00/8.0+0.5)+128)) AS INT) AS dd
      FROM t)
-- the eight spec transforms, as corner permutations of (da,db,dc,dd):
-- stored corners are (tl,tr,bl,br) = (a,b,c,d); undoing orientation o
-- yields a DISTINCT permutation per o, so the oracle pins WHICH
-- transform ran (histograms are blind to flips/rotations)
SELECT doc_id, CAST(o AS INT) AS orientation,
  CASE o WHEN 1 THEN da WHEN 2 THEN db WHEN 3 THEN dd WHEN 4 THEN dc
         WHEN 5 THEN da WHEN 6 THEN dc WHEN 7 THEN dd ELSE db END AS tl,
  CASE o WHEN 1 THEN db WHEN 2 THEN da WHEN 3 THEN dc WHEN 4 THEN dd
         WHEN 5 THEN dc WHEN 6 THEN da WHEN 7 THEN db ELSE dd END AS tr,
  CASE o WHEN 1 THEN dc WHEN 2 THEN dd WHEN 3 THEN db WHEN 4 THEN da
         WHEN 5 THEN db WHEN 6 THEN dd WHEN 7 THEN dc ELSE da END AS bl,
  CASE o WHEN 1 THEN dd WHEN 2 THEN dc WHEN 3 THEN da WHEN 4 THEN db
         WHEN 5 THEN dd WHEN 6 THEN db WHEN 7 THEN da ELSE dc END AS br
FROM r ORDER BY doc_id
""",
    # r12 rotation: the 8-transform EXIF table onto the hard signal
)
def mm_jpeg_exif_orientation(spark, sf_dir):
    """EXIF orientation, value-gated end to end (r11 — VERDICT r10 #9):
    quadrant JPEGs (four constant 8x8 blocks, values/quality/orientation
    all closed forms of doc_id) get an APP1 EXIF segment spliced in
    (``add_exif_orientation``), then the real pipeline runs — decode
    (T.81 baseline), ``exif_orientation`` (bounds-checked TIFF IFD walk
    inside APP1), ``apply_orientation`` (the eight spec transforms) —
    and the four corner luminances of the oriented result are compared
    against the oracle's per-orientation permutation of the per-block
    DC closed forms. Each of the eight transforms lands on a DISTINCT
    corner permutation, so a wrong flip/rotate/transpose (or a missed
    EXIF parse) breaks the hash."""
    from ecollector_spark.datapipe.multimodal import (
        attach_synthetic_exif_jpeg_media,
        extract_oriented_corners,
    )

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") % 6 == 4
    )
    media = attach_synthetic_exif_jpeg_media(docs)
    return extract_oriented_corners(media).orderBy("doc_id")


@register(
    "mm_gif_decode",
    """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 2),
m AS (SELECT doc_id,
             20 + doc_id % 23 AS w, 12 + doc_id % 11 AS h,
             doc_id % 256 AS v
      FROM d)
-- GIF is LOSSLESS: the decoded pixel of a flat image IS the input
-- value — any error in LZW coding/decoding, sub-block framing,
-- palette lookup or the interlace inversion (odd doc_ids) shifts it
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(v AS INT) AS lum_decoded,
       1.0 AS bucket_mass
FROM m ORDER BY doc_id
""",
    # r11 rotation: GIF decode onto the signal (asked in r9)
)
def mm_gif_decode(spark, sf_dir):
    """REAL GIF decode, value-gated (r9): constant-luminance grayscale
    GIFs at per-doc geometry are built inside mapInPandas
    (``attach_synthetic_gif_media`` — real LZW, sub-block framing, odd
    doc_ids 4-pass interlaced), then decoded by the real feature path
    (``extract_features(decode_stub=False)``) with a 256-bin histogram
    whose argmax IS the decoded pixel. GIF is lossless, so the DuckDB
    twin predicts the value with no math — which makes the gate a pure
    pin of the CODEC plumbing (LZW, framing, palette, interlace) and
    the Spark plumbing around it. width/height re-parse the produced
    bytes (gif_header), pinning header framing too."""
    from ecollector_spark.datapipe.multimodal import attach_synthetic_gif_media

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") % 4 == 2
    )
    media = attach_synthetic_gif_media(docs)
    feats = extract_features(media, decode_stub=False, dim=256)
    lum = (F.expr("array_position(feature, array_max(feature))") - 1).cast("int")
    return (
        media.select("doc_id", "width", "height")
        .join(
            feats.select(
                "doc_id",
                lum.alias("lum_decoded"),
                F.array_max("feature").alias("bucket_mass"),
            ),
            "doc_id",
        )
        .select("doc_id", "width", "height", "lum_decoded", "bucket_mass")
    )


@register(
    "mm_audio_features",
    """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
p AS (SELECT doc_id,
             800 + doc_id % 640 AS n,
             1 + doc_id % 16 AS half,
             1000 + doc_id % 9000 AS amp
      FROM d)
SELECT doc_id,
       CAST(8000 AS INT) AS sample_rate,
       CAST(n AS BIGINT) AS n_samples,
       CAST(n AS DOUBLE) / 8000 AS duration_sec,
       CAST(amp AS DOUBLE) AS rms,
       CAST((n - 1) // half AS DOUBLE) / (n - 1) AS zero_cross_rate,
       CAST(amp AS INT) AS peak
FROM p ORDER BY doc_id
""",
    shelved=True,  # rotated out r9b (family keeps flac/real_decode main twins)
)
def mm_audio_features(spark, sf_dir):
    """REAL audio decode, value-gated (r7): synthetic 16-bit PCM WAV
    square waves are built per doc_id inside mapInPandas
    (``attach_synthetic_wav_media``), then decoded for real
    (``wav_codec.decode_wav`` parses RIFF/fmt/data chunks) and reduced
    to duration/RMS/zero-cross-rate/peak from the actual samples
    (``extract_audio_features``). The DuckDB twin predicts every value
    analytically: a ±amp square wave has RMS exactly amp (sqrt of an
    exact perfect square is exact in IEEE double), zero crossings
    floor((n-1)/half_period), duration n/8000 — if the encoder wrote a
    wrong chunk size or the decoder misparsed the sample layout, RMS or
    the crossing count shifts and the hash breaks. The doc_id % 5 slice
    keeps the gate ~20% of the corpus (waveform synthesis is the
    cost)."""
    from ecollector_spark.datapipe.multimodal import (
        attach_synthetic_wav_media,
        extract_audio_features,
    )

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") % 5 == 0
    )
    return extract_audio_features(attach_synthetic_wav_media(docs)).select(
        "doc_id",
        "sample_rate",
        "n_samples",
        "duration_sec",
        "rms",
        "zero_cross_rate",
        "peak",
    )


@register(
    "mm_tiff_decode",
    """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 6 = 3),
m AS (SELECT doc_id,
             18 + doc_id % 29 AS w, 10 + doc_id % 13 AS h,
             doc_id % 256 AS v
      FROM d)
-- baseline TIFF is LOSSLESS: the decoded pixel of a flat image IS the
-- input value — any error in the IFD walk, strip assembly, PackBits
-- inversion (odd doc_ids) or photometric handling shifts it
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(v AS INT) AS lum_decoded,
       1.0 AS bucket_mass
FROM m ORDER BY doc_id
""",
)
def mm_tiff_decode(spark, sf_dir):
    """REAL baseline-TIFF decode, value-gated (r9 second session; r10
    widens the arms): constant-luminance grayscale TIFFs at per-doc
    geometry are built inside mapInPandas
    (``attach_synthetic_tiff_media`` — multi-strip, cycling
    none / PackBits / Deflate / LZW+Predictor-2 by doc_id % 4), then
    decoded by the real feature path
    (``extract_features(decode_stub=False)``) with a 256-bin histogram
    whose argmax IS the decoded pixel. The TIFF subset here is
    lossless, so the DuckDB twin predicts the value with no math — a
    pure pin of the codec plumbing (IFD walk, strip assembly, PackBits
    RLE, Deflate bounds, TIFF-LZW early change, predictor undo,
    photometric) and the Spark plumbing around it. width/height
    re-parse the produced bytes (tiff_header), pinning header framing
    too."""
    from ecollector_spark.datapipe.multimodal import attach_synthetic_tiff_media

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") % 6 == 3
    )
    media = attach_synthetic_tiff_media(docs)
    feats = extract_features(media, decode_stub=False, dim=256)
    lum = (F.expr("array_position(feature, array_max(feature))") - 1).cast("int")
    return (
        media.select("doc_id", "width", "height")
        .join(
            feats.select(
                "doc_id",
                lum.alias("lum_decoded"),
                F.array_max("feature").alias("bucket_mass"),
            ),
            "doc_id",
        )
        .select("doc_id", "width", "height", "lum_decoded", "bucket_mass")
    )


@register(
    "mm_probe_metadata",
    """WITH d AS (SELECT doc_id, doc_id % 9 AS k FROM documents)
-- every attach stage's geometry is a closed form of doc_id, and the
-- probe reads ONLY headers — so the whole mixed-format triage table
-- is predictable without decoding anything
SELECT doc_id,
  CASE k WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif'
         WHEN 3 THEN 'tiff' WHEN 4 THEN 'wav' WHEN 5 THEN 'flac'
         WHEN 6 THEN 'avi' WHEN 7 THEN 'mp3' ELSE 'mp4' END AS kind,
  CAST(CASE k WHEN 0 THEN 40 + doc_id % 32 WHEN 1 THEN 24 + doc_id % 17
              WHEN 2 THEN 20 + doc_id % 23 WHEN 3 THEN 18 + doc_id % 29
              WHEN 6 THEN 16 + doc_id % 16 WHEN 8 THEN 320 + doc_id % 64
              ELSE NULL END AS INT) AS width,
  CAST(CASE k WHEN 0 THEN 30 + doc_id % 24 WHEN 1 THEN 16 + doc_id % 13
              WHEN 2 THEN 12 + doc_id % 11 WHEN 3 THEN 10 + doc_id % 13
              WHEN 6 THEN 12 + doc_id % 12 WHEN 8 THEN 180 + doc_id % 36
              ELSE NULL END AS INT) AS height,
  CAST(CASE k WHEN 0 THEN 1 WHEN 1 THEN 1 WHEN 3 THEN 1
              WHEN 4 THEN 1 WHEN 5 THEN 2 WHEN 7 THEN 1 + doc_id % 2
              ELSE NULL END AS INT) AS channels,
  CAST(CASE WHEN k IN (4, 5) THEN 8000 WHEN k = 7 THEN 44100
            WHEN k = 8 THEN 1000 ELSE NULL END AS INT) AS sample_rate,
  CAST(CASE WHEN k IN (4, 5) THEN 800 + doc_id % 640
            WHEN k = 6 THEN 4 + doc_id % 12
            WHEN k = 7 THEN (4 + doc_id % 12) * 1152
            WHEN k = 8 THEN 1000 * (4 + doc_id % 56)
            ELSE NULL END AS BIGINT)
    AS n_samples,
  TRUE AS valid,
  CAST(NULL AS VARCHAR) AS error
FROM d ORDER BY doc_id
""",
    shelved=True,
)
def mm_probe_metadata(spark, sf_dir):
    """Content-sniffing metadata probe over a MIXED-format corpus (r9
    second session; r10 adds mp3/mp4 — ``probe_media``): every ninth of
    the corpus is attached as a different REAL format (PNG, JPEG, GIF,
    TIFF, WAV, FLAC, AVI, plus MP3 frame sequences and ISO-BMFF trees
    whose HEADERS are real even though their payloads are not
    decodable), and the probe must detect each kind from magic bytes
    and read its geometry/layout from the headers ALONE. Every attach
    stage's geometry is a pure function of doc_id, so the oracle
    predicts the full triage table in closed form — a wrong magic
    dispatch, a misread header field, a broken MP3 frame-chain walk or
    mvhd/tkhd offset, or a probe that accidentally decodes breaks the
    hash."""
    import functools as _ft

    from ecollector_spark.datapipe.multimodal import (
        attach_synthetic_avi_media,
        attach_synthetic_flac_media,
        attach_synthetic_gif_media,
        attach_synthetic_jpeg_media,
        attach_synthetic_mp3_media,
        attach_synthetic_mp4_media,
        attach_synthetic_png_media,
        attach_synthetic_tiff_media,
        attach_synthetic_wav_media,
        probe_media,
    )

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    stages = [
        attach_synthetic_png_media,
        attach_synthetic_jpeg_media,
        attach_synthetic_gif_media,
        attach_synthetic_tiff_media,
        attach_synthetic_wav_media,
        attach_synthetic_flac_media,
        attach_synthetic_avi_media,
        attach_synthetic_mp3_media,
        attach_synthetic_mp4_media,
    ]
    parts = [
        stage(docs.where(F.col("doc_id") % 9 == i))
        for i, stage in enumerate(stages)
    ]
    media = _ft.reduce(lambda a, b: a.unionByName(b), parts)
    return probe_media(media).orderBy("doc_id")


@register(
    "mm_g711_decode",
    """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 9 = 2),
p AS (SELECT doc_id,
             800 + doc_id % 640 AS n,
             1 + doc_id % 16 AS half,
             1000 + doc_id % 9000 AS amp
      FROM d),
-- the G.711 mu-law companding chain as plain integer arithmetic:
-- bias, segment by magnitude range, 4-bit mantissa, exact expansion
g AS (SELECT *, amp + 132 AS m FROM p),
e AS (SELECT *, CASE WHEN m >= 16384 THEN 7 WHEN m >= 8192 THEN 6
                     WHEN m >= 4096 THEN 5 WHEN m >= 2048 THEN 4
                     WHEN m >= 1024 THEN 3 WHEN m >= 512 THEN 2
                     WHEN m >= 256 THEN 1 ELSE 0 END AS ex
      FROM g),
dec AS (SELECT doc_id, n, half,
               (((((m >> (ex + 3)) & 15) << 3) + 132) << ex) - 132 AS amp2
        FROM e)
SELECT doc_id,
       CAST(8000 AS INT) AS sample_rate,
       CAST(n AS BIGINT) AS n_samples,
       CAST(n AS DOUBLE) / 8000 AS duration_sec,
       CAST(amp2 AS DOUBLE) AS rms,
       CAST((n - 1) // half AS DOUBLE) / (n - 1) AS zero_cross_rate,
       CAST(amp2 AS INT) AS peak
FROM dec ORDER BY doc_id
""",
    shelved=True,
)
def mm_g711_decode(spark, sf_dir):
    """REAL G.711 telephony-audio decode, value-gated (r9): mu-law WAV
    square waves (format 7) are companded per doc_id inside mapInPandas
    (``attach_synthetic_g711_media``), then expanded for real
    (``wav_codec.ulaw_decode`` — bias/segment/mantissa arithmetic) and
    reduced to the same per-clip features. G.711 is LOSSY but
    CLOSED-FORM: a ±amp square wave decodes to exactly ±expand(
    compress(amp)), and the oracle computes that chain as integer
    CASE/shift arithmetic — a wrong segment boundary, bias, or sign
    convention in either direction shifts RMS/peak and breaks the
    hash. The doc_id % 9 slice keeps the gate ~11% of the corpus."""
    from ecollector_spark.datapipe.multimodal import (
        attach_synthetic_g711_media,
        extract_audio_features,
    )

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") % 9 == 2
    )
    return extract_audio_features(attach_synthetic_g711_media(docs)).select(
        "doc_id",
        "sample_rate",
        "n_samples",
        "duration_sec",
        "rms",
        "zero_cross_rate",
        "peak",
    )


@register(
    "mm_flac_decode",
    """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 1),
p AS (SELECT doc_id,
             800 + doc_id % 640 AS n,
             1 + doc_id % 16 AS half,
             1000 + doc_id % 9000 AS amp
      FROM d)
SELECT doc_id,
       CAST(8000 AS INT) AS sample_rate,
       CAST(n AS BIGINT) AS n_samples,
       CAST(n AS DOUBLE) / 8000 AS duration_sec,
       CAST(amp AS DOUBLE) AS rms,
       CAST((n - 1) // half AS DOUBLE) / (n - 1) AS zero_cross_rate,
       CAST(amp AS INT) AS peak
FROM p ORDER BY doc_id
""",
    shelved=True,  # rotated out r11 (on signal since r9b); mm_video_frames
    # + the probe family keep §2.9 on signal, FLAC stays shelved-green
)
def mm_flac_decode(spark, sf_dir):
    """REAL compressed-audio decode, value-gated (r9): stereo FLAC
    clips are encoded per doc_id inside mapInPandas
    (``attach_synthetic_flac_media`` — channel 1 the WAV gate's square
    wave family, channel 2 = ch1 // 3, stereo decorrelation rotating
    independent / left_side / mid_side by doc_id % 3), then decoded for
    real (``flac_codec.decode_flac`` — frame sync, CRC-8/16, Rice
    residuals, fixed predictors, 17-bit side subframes, mid/side parity
    reconstruction, MD5 verify) and reduced to the same per-clip
    features from channel 1. FLAC is LOSSLESS, so the oracle is the WAV
    gate's analytic formula UNCHANGED — any decode defect in any of the
    three decorrelation paths shifts RMS/crossings and breaks the hash.
    The doc_id % 7 slice keeps the gate ~14% of the corpus (encode is
    the cost)."""
    from ecollector_spark.datapipe.multimodal import (
        attach_synthetic_flac_media,
        extract_audio_features,
    )

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") % 7 == 1
    )
    return extract_audio_features(attach_synthetic_flac_media(docs)).select(
        "doc_id",
        "sample_rate",
        "n_samples",
        "duration_sec",
        "rms",
        "zero_cross_rate",
        "peak",
    )


@register(
    "mm_video_frames",
    """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 11 = 0),
p AS (SELECT doc_id,
             4 + doc_id % 12 AS n,
             16 + doc_id % 16 AS w,
             12 + doc_id % 12 AS h
      FROM d),
fr AS (SELECT doc_id, n, w, h,
              unnest(generate_series(0, CAST(n - 1 AS BIGINT), 3)) AS f
       FROM p),
a AS (SELECT *, (doc_id + 17 * f) % 256 AS a0 FROM fr),
s AS (SELECT *,
             h * a0 + h * (h - 1) // 2 - 256 * greatest(0, a0 + h - 256) AS row_sum
      FROM a)
SELECT doc_id,
       CAST(f AS INT) AS frame_idx,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(n AS INT) AS n_frames,
       CAST(10 AS INT) AS fps,
       CAST(n AS DOUBLE) / 10 AS duration_sec,
       CAST(a0 AS INT) AS top_row_lum,
       CAST(row_sum * w * 3 AS DOUBLE) / (h * w * 3) AS mean_lum
FROM s ORDER BY doc_id, frame_idx
""",
    # r12 optimization round: restored to main — the optimization driver
    # re-runs every query declared in r11; none may disappear.
)
def mm_video_frames(spark, sf_dir):
    """REAL video decode, value-gated (r7): synthetic uncompressed-AVI
    clips (bottom-up BGR DIB frames, 4-byte row padding) are built per
    doc_id inside mapInPandas (``attach_synthetic_avi_media`` — every
    frame a VERTICAL gradient ``(doc_id + 17·frame + row) % 256``),
    then decoded for real (``avi_codec.decode_avi`` walks
    RIFF/hdrl/movi, un-pads rows, flips bottom-up, swaps BGR) and
    sampled every 3rd frame with per-frame stats from the actual pixels
    (``extract_video_frames``). The DuckDB twin predicts every value in
    closed form: the top row of frame f is ``(doc_id + 17f) % 256``
    (a forgotten DIB flip reads the BOTTOM row and shifts it by h−1),
    and the full-frame mean follows the one-wrap gradient sum
    ``h·a + h(h−1)/2 − 256·max(0, a+h−256)`` (a mis-strided un-pad
    bleeds pad bytes into the sum) — both sides divide identical
    integer operands, so the doubles are bit-equal. The doc_id % 11
    slice keeps the gate ~9% of the corpus (pixel synthesis is the
    cost). Widths 16–31 sweep all four row-pad phases."""
    from ecollector_spark.datapipe.multimodal import (
        attach_synthetic_avi_media,
        extract_video_frames,
    )

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") % 11 == 0
    )
    return extract_video_frames(attach_synthetic_avi_media(docs), every_n=3).select(
        "doc_id",
        "frame_idx",
        "width",
        "height",
        "n_frames",
        "fps",
        "duration_sec",
        "top_row_lum",
        "mean_lum",
    )


# ---------------------------------------------------------------------------
# composed curation pipeline (datapipe/curation.py)
# ---------------------------------------------------------------------------

@register(
    "datapipe_curation",
    f"""WITH cur AS (SELECT doc_id, text FROM documents
         UNION ALL SELECT doc_id + 20000000, text FROM documents),
keep AS (SELECT md5(text) AS h, min(doc_id) AS doc_id FROM cur GROUP BY 1),
d AS (SELECT cur.doc_id, cur.text FROM cur JOIN keep ON cur.doc_id = keep.doc_id),
t AS (SELECT doc_id, text, {_TOKS} AS toks FROM d),
m AS (SELECT doc_id, len(toks) AS n,
  CASE WHEN len(toks) > 0 THEN list_reduce(list_transform(toks, x -> CAST(length(x) AS DOUBLE)), (a,b) -> a+b) / len(toks) ELSE 0.0 END AS avg_len,
  CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains({_markers_sql(text.EN_STOPWORDS)}, x))) AS DOUBLE) / len(toks) ELSE 0.0 END AS stop_ratio
  FROM t),
q AS (SELECT doc_id, CAST(n AS INT) AS n_tokens,
  floor((0.4*least(n/100.0, 1.0) + 0.3*(1.0 - stop_ratio) + 0.3*least(avg_len/8.0, 1.0))*1000000)/1000000 AS quality
  FROM m),
dl AS (SELECT doc_id, list_distinct(toks) AS dt FROM t),
s AS (SELECT doc_id, {_LANG_SCORES} FROM dl),
lang AS (SELECT doc_id, CASE WHEN {_BEST} = 0 THEN 'und'
  WHEN s_en = {_BEST} THEN 'en' WHEN s_de = {_BEST} THEN 'de'
  WHEN s_fr = {_BEST} THEN 'fr' WHEN s_es = {_BEST} THEN 'es' ELSE 'zh' END AS pred_lang FROM s)
SELECT q.doc_id, pred_lang, n_tokens, quality
FROM q JOIN lang USING (doc_id) WHERE quality >= 0.65 ORDER BY doc_id
""",
)
def datapipe_curation(spark, sf_dir):
    """Composed curation manifest: exact-dedup keep-list -> quality gate
    -> (doc_id, pred_lang, n_tokens, quality). The corpus doubles every
    doc under an offset id so the dedup stage provably removes rows."""
    from ecollector_spark.session import spread_small_scan

    # single-row-group scan feeding the tokenize-heavy fused manifest:
    # spread to cluster width (inert at real scale); interleaved medians
    # consistently ~8% under the unspread fused shape
    docs = spread_small_scan(
        read_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id", "text"),
        input_path=f"{sf_dir}/documents.parquet",
    )
    # Doubling via explode instead of unionAll: curate() consumes the
    # corpus twice (md5-keeper aggregate + main side), and a union of two
    # scan branches replans BOTH scans per consumer (documents scanned 4x
    # physically). One scan -> spread exchange -> Generate doubles the
    # rows in-stage, and because the exchange subtree is now identical
    # for both consumers AQE reuses the shuffle stage: 4 scans -> 1.
    # Same multiset of rows by construction (explode of a 2-struct array
    # == the two union branches).
    doubled = docs.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_id"), F.col("text")),
                F.struct(
                    (F.col("doc_id") + 20000000).alias("doc_id"), F.col("text")
                ),
            )
        ).alias("_r")
    ).select("_r.doc_id", "_r.text")
    return curation.curate(doubled, min_quality=0.65)


@register(
    "dedup_decontaminate",
    f"""WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tsh AS (SELECT doc_id, unnest(list_distinct({_SH5})) AS shingle FROM t WHERE len(toks) >= 5),
bsh AS (SELECT DISTINCT shingle FROM tsh WHERE doc_id % 20 = 0)
SELECT doc_id, CAST(count(DISTINCT shingle) AS BIGINT) AS n_hits
FROM tsh JOIN bsh USING (shingle) GROUP BY doc_id ORDER BY doc_id
""",
    shelved=True,  # rotated out r6 (family keeps a main-gate twin)
)
def dedup_decontaminate(spark, sf_dir):
    """Benchmark decontamination: training docs sharing any 5-gram with
    the benchmark subset (doc_id % 20 == 0 plays the eval set)."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id", "text")
    benchmark = docs.where(F.col("doc_id") % 20 == 0)
    return dedup.decontaminate(docs, benchmark, k=5)


#: Full two-batch fold model (r6: the in-batch near-dup pass applies to
#: BOTH batches, and batch 2 checks against the manifests of batch 1's
#: KEPT docs only — exactly what fold_manifests publishes). Batch 1 =
#: the raw documents (exact keeper + smaller-id near partner drop);
#: batch 2 = the planted incremental batch against the folded state.
_INGEST_SQL = f"""WITH docs0 AS (SELECT doc_id, text FROM documents),
tok0 AS (SELECT doc_id, {_TOKS} AS toks FROM docs0),
nearvar AS ({_NEARVAR}),
newb AS (
  SELECT doc_id + 10000000 AS doc_id, text FROM nearvar WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 20000000, text FROM docs0 WHERE doc_id % 17 = 0
  UNION ALL
  SELECT doc_id + 30000000, text FROM nearvar WHERE doc_id % 20 = 0
  UNION ALL
  SELECT doc_id + 40000000, array_to_string(list_sort(toks), ' ') FROM tok0 WHERE doc_id % 7 = 3
),
tokn AS (SELECT doc_id, {_TOKS} AS toks FROM newb),
{_mh8_sql('mh_all', 'tok0')},
{_mh8_sql('mh_new', 'tokn')},
{_banded_sql('banded_all', 'mh_all')},
{_banded_sql('banded_new', 'mh_new')},
k1 AS (SELECT doc_id, md5(text) AS text_hash,
              min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
       FROM docs0),
cand1 AS (SELECT DISTINCT a.doc_id AS nb_id, b.doc_id AS partner_id
  FROM banded_all a JOIN banded_all b
    ON a.doc_id > b.doc_id
   AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)),
near1 AS (SELECT DISTINCT nb_id FROM (
    SELECT c.nb_id, {_AGREE} AS agree
    FROM cand1 c JOIN mh_all n ON n.doc_id = c.nb_id
                 JOIN mh_all o ON o.doc_id = c.partner_id)
  WHERE agree >= 4),
kept1 AS (SELECT k1.doc_id, k1.text_hash FROM k1
          LEFT JOIN near1 ON near1.nb_id = k1.doc_id
          WHERE k1.keeper = k1.doc_id AND near1.nb_id IS NULL),
seen1 AS (SELECT DISTINCT text_hash FROM kept1),
sig1 AS (SELECT mh_all.* FROM mh_all JOIN kept1 USING (doc_id)),
banded1 AS (SELECT banded_all.* FROM banded_all JOIN kept1 USING (doc_id)),
k2 AS (SELECT doc_id, md5(text) AS text_hash,
              min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
       FROM newb),
cands AS (SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
  FROM banded_new n JOIN banded1 o
    ON (n.b0 = o.b0 OR n.b1 = o.b1 OR n.b2 = o.b2 OR n.b3 = o.b3)),
nearseen AS (SELECT DISTINCT new_id FROM (
    SELECT c.new_id, {_AGREE} AS agree
    FROM cands c JOIN mh_new n ON n.doc_id = c.new_id
                 JOIN sig1 o ON o.doc_id = c.old_id)
  WHERE agree >= 4),
cand2 AS (SELECT DISTINCT a.doc_id AS nb_id, b.doc_id AS partner_id
  FROM banded_new a JOIN banded_new b
    ON a.doc_id > b.doc_id
   AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)),
near2 AS (SELECT DISTINCT nb_id FROM (
    SELECT c.nb_id, {_AGREE} AS agree
    FROM cand2 c JOIN mh_new n ON n.doc_id = c.nb_id
                 JOIN mh_new o ON o.doc_id = c.partner_id)
  WHERE agree >= 4),
kept2 AS (SELECT k2.doc_id FROM k2
          LEFT JOIN seen1 s ON s.text_hash = k2.text_hash
          LEFT JOIN nearseen ns ON ns.new_id = k2.doc_id
          LEFT JOIN near2 nb ON nb.nb_id = k2.doc_id
          WHERE s.text_hash IS NULL AND k2.keeper = k2.doc_id
            AND ns.new_id IS NULL AND nb.nb_id IS NULL)
SELECT doc_id FROM kept1
UNION ALL
SELECT doc_id FROM kept2
ORDER BY 1
"""


@register(
    "datapipe_streaming_ingest",
    _INGEST_SQL,
)
def datapipe_streaming_ingest(spark, sf_dir):
    """The streaming corpus-ingest composition as a value gate: batch 1
    (the raw documents) then batch 2 (the derived dup-planted batch) run
    through ``StreamingCorpusIngest.process_batch`` — manifest publish,
    fold, corpus append — and the gate returns the FINAL corpus ids.
    The oracle derives the same set declaratively (batch 1 union batch
    2's kept decisions against batch 1's manifests), so a fold bug,
    double append, or manifest drift is a hash mismatch."""
    import tempfile

    from ecollector_spark.datapipe.streaming_ingest import StreamingCorpusIngest

    import shutil

    root = tempfile.mkdtemp(prefix="ec_ingest_")
    ing = StreamingCorpusIngest(spark, root)
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id", "text")
    ing.process_batch(docs, 0)
    ing.process_batch(incremental_batch(spark, sf_dir), 1)
    # materialize before deleting the state dir the frame lazily reads —
    # a full corpus tree per gate run must not accumulate under /tmp
    out = barriers.snapshot(ing.corpus().select("doc_id"))
    shutil.rmtree(root, ignore_errors=True)
    return out
