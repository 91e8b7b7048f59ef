"""Text analysis operators for large-scale training-data pipelines:
tokenization, shingling, language-ID, quality scoring, token counting and
document fingerprinting.

All operators are pure Spark expressions (JVM, codegen'd, no UDFs) — at
100 TB these run as a single map-side pass over the corpus with no
shuffle; only per-doc aggregates (which explode to tokens first) shuffle
on doc_id, the natural partitioning. Every expression has an exact DuckDB
twin in driver_queries.datapipe so results are value-hash checkable.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ecollector_spark.functions import barriers
from ecollector_spark.functions import quote_ident as _ident

#: small stopword/marker sets for the language-ID heuristic. Order of
#: _LANGS is the tie-break cascade (first wins).
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "fr": ("le", "la", "les", "et", "est", "une"),
    "es": ("el", "los", "las", "es", "una", "que"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),
}
_LANGS = tuple(LANG_MARKERS)

EN_STOPWORDS = ("the", "a", "an", "of", "and", "or", "to", "in", "is", "it")


def tokens_sql(col: str) -> str:
    """SQL fragment of :func:`tokens_expr` over a named column — one
    parser call builds the whole tree (a Column-builder form cost ~12
    py4j round-trips per invocation)."""
    return (
        f"transform(regexp_extract_all({_ident(col)}, '[A-Za-z0-9]+', 0),"
        " x -> lower(x))"
    )


def tokens_expr(text: str) -> Column:
    """Lowercased alnum tokens — the DuckDB oracle twin is
    list_filter(string_split_regex(lower(regexp_replace(t,
    '[^A-Za-z0-9 ]',' ','g')), ' +'), x -> x <> '').

    r13 (guide §1.2 per-task work): ONE regex pass extracting the
    maximal [A-Za-z0-9]+ runs, each token lowercased, replacing the
    historical replace-non-alnum -> lower -> split(' +') -> drop-empty
    chain (three full-string passes building two intermediate document
    strings and an empties-bearing array). EXACTLY equivalent on every
    input: token boundaries are the same maximal alnum runs either way,
    and lower() over a pure-[A-Za-z0-9]+ run is the per-char ASCII
    mapping (no Unicode contextual case rule touches A-Z), so values,
    order, and the null/empty cases all match (null -> null, '' -> [],
    all-punct -> []). Measured 4.1x at the sf1 rung (2.01 -> 0.49 s for
    the tokenize pass over 58k docs) and exceptAll-identical on the
    corpus; this fragment is the per-row floor of the whole text/dedup
    family (quality, curation, shingles, simhash, langid, gopher)."""
    return F.expr(tokens_sql(text))


def tokens_barrier(
    docs: DataFrame, text_col: str = "text", keep_text: bool = True
) -> DataFrame:
    """(doc_id[, _text], _toks) with the token array produced behind a
    fence (:func:`ecollector_spark.functions.barriers.fence`). A
    downstream filter over columns derived from a plain ``tokens_expr``
    alias gets pushed below the projections with full alias
    substitution — the physical plans of the composed consumers
    re-derived the regexp tokenizer 6-11 times inside ONE pushed Filter
    condition (r12 measured: datapipe_curation 1.82 -> 0.91 s after the
    fence). Behind the fence tokenization runs exactly once per row."""
    cols = ["doc_id", F.col(text_col).alias("_text")]
    d = docs.select(*cols)
    out = ["doc_id", "_text"] if keep_text else ["doc_id"]
    return d.select(*out, barriers.fence(tokens_expr("_text")).alias("_toks"))


def shingles_sql(toks_col: str, k: int = 3) -> str:
    """SQL fragment of :func:`shingles_expr` over a named token-array
    column (same single-parser-call rationale as :func:`tokens_sql`)."""
    t = _ident(toks_col)
    elems = ", ".join(f"element_at({t}, i + {j + 1})" for j in range(k))
    return (
        f"array_distinct(CASE WHEN size({t}) >= {k} THEN "
        f"transform(sequence(0, size({t}) - {k}), i -> concat_ws(' ', {elems})) "
        f"ELSE CAST(array() AS array<string>) END)"
    )


def shingles_expr(toks: str, k: int = 3) -> Column:
    """Distinct k-token shingles (space-joined). Empty array when the doc
    has fewer than k tokens (Spark's sequence() would go descending on a
    negative span — guard required)."""
    return F.expr(shingles_sql(toks, k))


def lang_score_sql(dt_col: str) -> dict[str, str]:
    """SQL fragments of :func:`lang_score_cols` over a named
    distinct-token column (single parser call each)."""
    return {
        lang: (
            f"size(array_intersect({_ident(dt_col)}, array("
            + ", ".join(f"'{m}'" for m in markers)
            + ")))"
        )
        for lang, markers in LANG_MARKERS.items()
    }


def lang_score_cols(dt: str) -> dict[str, Column]:
    """Marker-hit counts per language over a (projected) distinct-token
    array column — one ``size(array_intersect(...))`` per language."""
    return {lang: F.expr(sql) for lang, sql in lang_score_sql(dt).items()}


def lang_pred_sql(score_cols: dict[str, str]) -> str:
    """SQL fragment of :func:`lang_pred_expr` over named score columns:
    a nested CASE cascade, one parser call."""
    best = "greatest(" + ", ".join(_ident(score_cols[lang]) for lang in _LANGS) + ")"
    pred = "'und'"
    for lang in reversed(_LANGS):
        pred = f"CASE WHEN {_ident(score_cols[lang])} = {best} THEN '{lang}' ELSE {pred} END"
    return f"CASE WHEN {best} > 0 THEN {pred} ELSE 'und' END"


def lang_pred_expr(scores: dict[str, str]) -> Column:
    """Argmax with the fixed tie-break cascade (en>de>fr>es>zh), 'und'
    when no marker hits. ``scores`` maps each language to the NAME of a
    projected score column (each is referenced twice here)."""
    return F.expr(lang_pred_sql(scores))


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """n-gram/marker-word language heuristic: count distinct marker hits
    per language, argmax with a fixed cascade (en>de>fr>es>zh), 'und'
    (undetermined) when no marker hits."""
    # tokens materialized once; every downstream reference sees the alias
    # (inlining would re-tokenize per marker-set intersection)
    d = docs.select("doc_id", F.array_distinct(tokens_expr(text_col)).alias("_dt"))
    s = d.select(
        "doc_id",
        *[c.alias(f"_s_{lang}") for lang, c in lang_score_cols("_dt").items()],
    )
    scores = {lang: f"_s_{lang}" for lang in _LANGS}
    return s.select("doc_id", lang_pred_expr(scores).alias("pred_lang"))


def floor6_sql(c: str) -> str:
    """``c`` truncated to 6 decimals. floor is a deterministic function
    of the double, unlike round, whose half-tie rule differs across
    engines on decimal-exact dyadic rationals like 2**-7."""
    return f"floor({c} * 1000000.0D) / 1000000.0D"


def quality_feature_sql(toks_col: str, text_col: str) -> dict[str, str]:
    """SQL fragments of :func:`quality_feature_cols` over named columns
    — one parser call per feature instead of ~20 Column-builder py4j
    round-trips each. D-suffixed literals are doubles (bare fractional
    literals would parse as DECIMAL); the doubled backslashes render the
    regex ``[^\\w\\s]``."""
    t, x = _ident(toks_col), _ident(text_col)
    nd = f"CAST(size({t}) AS DOUBLE)"
    avg_len = (
        f"CASE WHEN size({t}) > 0 THEN"
        f" aggregate({t}, 0.0D, (acc, v) -> acc + length(v)) / {nd}"
        f" ELSE 0.0D END"
    )
    stops = ", ".join(f"'{s}'" for s in EN_STOPWORDS)
    stop_hits = f"size(filter({t}, v -> v IN ({stops})))"
    stop_ratio = f"CASE WHEN size({t}) > 0 THEN {stop_hits} / {nd} ELSE 0.0D END"
    # r13: regexp_count of the single-char class == number of chars the
    # old regexp_replace removed (each match consumes exactly one char),
    # without building the replacement string; measured 0.43 -> 0.30 s
    # for the punct pass at the sf1 rung
    punct = f"regexp_count({x}, '[^\\\\w\\\\s]')"
    punct_ratio = (
        f"CASE WHEN length({x}) > 0 THEN {punct} / CAST(length({x}) AS DOUBLE)"
        f" ELSE 0.0D END"
    )
    score = (
        f"0.4D * least({nd} / 100.0D, 1.0D)"
        f" + 0.3D * (1.0D - {stop_ratio})"
        f" + 0.3D * least({avg_len} / 8.0D, 1.0D)"
    )
    return {
        "n_tokens": f"size({t})",
        "avg_token_len": floor6_sql(avg_len),
        "stopword_ratio": floor6_sql(stop_ratio),
        "punct_ratio": floor6_sql(punct_ratio),
        "quality": floor6_sql(f"({score})"),
    }


def quality_feature_cols(toks: str, text: str) -> dict[str, Column]:
    """The quality features as named Columns over (projected) tokens/text
    columns — shared by ``quality_score`` and the fused curation path so
    the two produce bit-identical values (see :func:`quality_feature_sql`)."""
    return {
        name: F.expr(sql) for name, sql in quality_feature_sql(toks, text).items()
    }


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality: token count, mean token length, stopword ratio,
    punctuation ratio, blended into a [0,1] score. Weights are arbitrary
    but fixed; the operator shape (cheap per-doc features -> filter) is
    the standard pretraining-corpus gate."""
    d = docs.select("doc_id", F.col(text_col).alias("_text"), tokens_expr(text_col).alias("_toks"))
    feats = quality_feature_cols("_toks", "_text")
    return d.select("doc_id", *[c.alias(name) for name, c in feats.items()])


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + a BPE-ish piece count (alnum runs and
    individual non-space symbols — the usual cheap proxy for tokenizer
    cost when the real tokenizer can't run engine-side)."""
    ws = F.size(tokens_expr(text_col))
    bpe = F.regexp_count(F.col(text_col), F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"))
    return docs.select("doc_id", ws.alias("ws_tokens"), bpe.cast("int").alias("bpe_pieces"))


#: Gopher rule 7's required stop words (Rae et al. 2021, Table A1)
GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """The published Gopher quality-filter rules (Rae et al. 2021,
    arXiv:2112.11446 Table A1) as per-doc booleans — the standard
    pretraining-corpus gate, expression-only, and every rule an EXACT
    integer comparison (ratios are cross-multiplied, never floats), so
    the oracle match is tolerance-free:

    - r_word_count:   word count in [min_words, max_words]
    - r_mean_len:     mean word length in [3, 10]
    - r_symbol_ratio: ('#' + '...' occurrences) / words <= 0.1
    - r_bullet:       <= 10% of lines start with a bullet (-, *, •)
    - r_ellipsis:     <= 30% of lines end with '...' (or '…')
    - r_alpha:        >= 80% of words contain an alphabetic character
    - r_stopwords:    >= 2 distinct of {the be to of and that have with}
    - pass:           all seven

    Words are whitespace tokens; lines are newline splits with blanks
    ignored (a doc with no non-blank line passes the two line rules
    vacuously)."""
    # tokens through the Generate barrier: curate_text's `where(pass)`
    # otherwise pushes below these projections and re-derives the
    # tokenizer once per rule reference in one Filter condition
    d = tokens_barrier(docs, text_col).withColumnsRenamed(
        {"_text": "_t", "_toks": "_w"}
    )
    w = F.col("_w")
    n = F.size(w)
    sum_len = F.aggregate(w, F.lit(0), lambda acc, x: acc + F.length(x))
    # r13: count '#' directly instead of length-diff of a replace pass
    hashes = F.regexp_count(F.col("_t"), F.lit("#"))
    ellipses = F.regexp_count(F.col("_t"), F.lit(r"\.\.\.|…"))
    lines = F.filter(
        F.transform(F.split("_t", "\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    nl = F.size(lines)
    bullet = F.size(F.filter(lines, lambda x: x.rlike(r"^[-*•]")))
    ell_end = F.size(F.filter(lines, lambda x: x.rlike(r"(\.\.\.|…)$")))
    alpha = F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]")))
    stops = F.size(
        F.array_distinct(
            F.filter(F.transform(w, F.lower), lambda x: x.isin(*GOPHER_STOPS))
        )
    )
    r = {
        "r_word_count": (n >= min_words) & (n <= max_words),
        "r_mean_len": (sum_len >= 3 * n) & (sum_len <= 10 * n) & (n > 0),
        "r_symbol_ratio": (hashes + ellipses) * 10 <= n,
        "r_bullet": bullet * 10 <= nl,
        "r_ellipsis": ell_end * 10 <= 3 * nl,
        "r_alpha": alpha * 5 >= 4 * n,
        "r_stopwords": stops >= 2,
    }
    cols = [c.alias(name) for name, c in r.items()]
    return d.select(
        "doc_id",
        n.alias("n_words"),
        *cols,
        functools.reduce(lambda a, b: a & b, r.values()).alias("pass"),
    )


def repetition_signals(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Repetition filters in the Gopher/MassiveText style: per doc, the
    fraction of non-empty lines that repeat an earlier line, and the
    fraction of all word bigrams occupied by the single most frequent
    bigram. High values on either flag boilerplate/spam for removal.

    dup_line_frac is a pure map-side expression. top_bigram_frac needs a
    per-(doc, bigram) count, so bigrams explode and aggregate keyed by
    (doc_id, bigram) then doc_id — the module's standard per-doc
    aggregate shape: both shuffles are on the natural doc_id-prefixed
    key, balanced at any corpus size. Docs with < 2 tokens get 0.0."""
    # tokens through the Generate barrier (see tokens_barrier): the
    # explode-side size/notnull guards otherwise re-derive the tokenizer
    # ~7x inside one pushed Filter condition
    d = tokens_barrier(docs, text_col)
    lines = "filter(transform(split(_text, '\\n'), s -> trim(s)), s -> s != '')"
    nl = f"size({lines})"
    dup_frac = (
        f"CASE WHEN {nl} > 0 THEN"
        f" 1.0D - size(array_distinct({lines})) / CAST({nl} AS DOUBLE) ELSE 0.0D END"
    )
    toks = F.col("_toks")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(" ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = d.select(
        "doc_id",
        F.expr(nl).alias("n_lines"),
        F.expr(floor6_sql(dup_frac)).alias("dup_line_frac"),
        bigrams.alias("_big"),
    )
    top = (
        base.select("doc_id", F.explode("_big").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg((F.max("c") / F.sum("c")).alias("_tb"))
    )
    return (
        base.drop("_big")
        .join(top, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            "dup_line_frac",
            F.expr(floor6_sql("coalesce(_tb, 0.0D)")).alias("top_bigram_frac"),
        )
    )


#: Redaction patterns chosen RE2-safe (no lookaround/backrefs) so the
#: Java-regex Spark side and the RE2 DuckDB oracle match byte for byte.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII/link redaction pass: replace emails then URLs with fixed
    placeholder tokens, reporting per-doc hit counts. Map-side only — at
    100 TB this is one codegen'd scan with zero shuffle, the cheapest
    possible pre-tokenization scrub. Emails are redacted first so an
    address inside a URL query string counts once, as an email."""
    t = F.col(text_col)
    n_emails = F.regexp_count(t, F.lit(EMAIL_RE))
    n_urls = F.regexp_count(F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), F.lit(URL_RE))
    scrubbed = F.regexp_replace(
        F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), URL_RE, "<URL>"
    )
    return docs.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        n_emails.cast("int").alias("n_emails"),
        n_urls.cast("int").alias("n_urls"),
    )


def top_terms(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Per-document top-``n`` salient terms by tf x N/df — tf-idf with a
    *linear* idf (N/df instead of ln(N/df)): the ranking rationale is
    the same (frequent-in-doc, rare-in-corpus), and the score stays an
    exact rational (one correctly-rounded int/int division), so any
    engine reproduces rankings bit-identically — a log-based idf would
    hinge on libm ulp agreement across engines. Output (doc_id, rank,
    term, tf, doc_freq, salience floor-6), ties broken by term asc.

    Scale shape: one explode + (doc, term) count (map-side partial),
    one term-keyed df aggregate (vocabulary-sized — broadcastable), the
    corpus count as a broadcast 1-row frame, and a per-doc ranking
    window on the already-aggregated (doc, term) rows."""
    toks = docs.select("doc_id", F.explode(tokens_expr(text_col)).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    nd = docs.select(F.count_distinct("doc_id").alias("nd"))
    score = F.col("tf") * F.col("nd") / F.col("df")
    w = Window.partitionBy("doc_id").orderBy(F.desc("_score"), "term")
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(nd))
        .withColumn("_score", score)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= n)
        .select(
            "doc_id",
            "rank",
            "term",
            "tf",
            F.col("df").alias("doc_freq"),
            (F.floor(F.col("_score") * 1000000.0) / 1000000.0).alias("salience"),
        )
    )


#: rolling-hash parameters: base > alphabet, Mersenne modulus keeps every
#: Horner step < 2^40 — exact in int64 on any engine (no float rounding)
ROLL_BASE = 257
ROLL_MOD = (1 << 31) - 1


def rolling_fingerprint(
    docs: DataFrame, text_col: str = "text", k: int = 16
) -> DataFrame:
    """Character-level rolling-hash fingerprint (Rabin-Karp / winnowing
    family): polynomial hash ``h_i = sum(code_j * B^(k-1-j)) mod M`` of
    every k-char gram, fingerprint = the minimum gram hash (deterministic
    1-permutation MinHash over positions), plus the gram count. The
    byte-level complement of the token-shingle :func:`fingerprint` —
    robust to tokenization differences, the standard blocking key for
    near-identical file/doc detection.

    Each gram hash is a sequential Horner fold over an integer slice —
    exact int64 arithmetic, bit-identical on any engine (the SQL twin
    replays the same fold). Cost O(len·k) per doc, map-side only."""
    codes = F.filter(
        F.transform(F.split(F.col(text_col), ""), lambda c: F.ascii(c)),
        lambda x: x > 0,
    )
    n_grams = F.greatest(F.size(F.col("_codes")) - (k - 1), F.lit(0))
    gram_hash = lambda i: F.aggregate(  # noqa: E731
        F.slice(F.col("_codes"), i, k),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * ROLL_BASE + x) % ROLL_MOD,
    )
    hashes = F.transform(F.sequence(F.lit(1), F.col("_n")), gram_hash)
    return (
        docs.select("doc_id", codes.alias("_codes"))
        .select("doc_id", "_codes", n_grams.alias("_n"))
        .select(
            "doc_id",
            F.when(F.col("_n") > 0, F.array_min(hashes)).alias("rolling_fp"),
            F.col("_n").cast("int").alias("n_grams"),
        )
    )


def fingerprint(docs: DataFrame, text_col: str = "text", k: int = 5) -> DataFrame:
    """Winnowing-style document fingerprint: the minimum md5 over k-token
    shingles (a deterministic 1-permutation MinHash), plus the shingle
    count. Equal fingerprints = candidate duplicates at
    0 storage overhead; used as a blocking key at scale."""
    d = docs.select("doc_id", tokens_expr(text_col).alias("_toks"))
    s = d.select("doc_id", shingles_expr("_toks", k).alias("_sh"))
    fp = F.array_min(F.transform(F.col("_sh"), lambda x: F.md5(x)))
    return s.select("doc_id", fp.alias("fingerprint"), F.size("_sh").alias("n_shingles"))
