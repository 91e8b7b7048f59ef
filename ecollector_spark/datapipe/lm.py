"""N-gram language-model perplexity filtering — the CCNet stage
(Wenzek et al. 2020, arXiv:1911.00359 — public paper): train a small
LM on a high-quality REFERENCE slice, score every document of the
crawl corpus, and filter/bucket on per-token perplexity. CCNet uses a
KenLM 5-gram; this is the distributed re-expression with **stupid
backoff** (Brants et al. 2007, arXiv — "Large Language Models in
Machine Translation"), the smoothing designed for exactly this
distributed-counts regime (no discount normalization pass, scores are
pure count ratios — deterministic and SQL-mirrorable).

Scale shape (100 TB posture):

- **train** is one tokenize + gram explode + a partial-aggregated
  groupBy per order over the reference slice — the only stage that
  touches reference bytes; ``min_count`` prunes the long tail so the
  model stays bounded.
- **score** explodes the corpus into one row per scored token and
  LEFT-joins the counts table five times (gram + context at each
  order), all keyed on ``(n, xxhash64(gram))`` — fixed-width longs on
  the shuffle, never gram strings. When the pruned LM fits the
  broadcast budget these become map-side hash joins; otherwise they
  are ordinary shuffle joins on a uniform 64-bit key. No UDFs, no
  driver-side model object.
- Scores are kept EXACT for the oracle: per-token bits are
  ``floor(-log2(S) * 1e6)`` micro-bits (floor, not round — the repo's
  cross-engine convention), summed as longs; per-token perplexity is
  integer micro-bits, so every hashed column is an integer.

Determinism caveat (documented, same class as the repo's other
libm-adjacent gates): ``log2`` is not required to be correctly rounded
by IEEE, so the two engines could disagree when ``-log2(S) * 1e6``
lands within an ulp of an integer boundary (~1e-10 per token);
everything else is exact integer arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ecollector_spark.datapipe.text import tokens_expr
from ecollector_spark.functions import barriers

#: sentence padding: the tokenizer strips non-alnum characters, so no
#: real token can ever collide with these markers
BOS = "<s>"
EOS = "</s>"
#: stupid-backoff factor (Brants et al. 2007 use 0.4)
ALPHA = 0.4


def _padded(text_col: str, order: int) -> Column:
    toks = tokens_expr(text_col)
    bos = F.array(*[F.lit(BOS)] * (order - 1))
    return F.concat(bos, toks, F.array(F.lit(EOS)))


def train_ngram_lm(
    docs: DataFrame,
    text_col: str = "text",
    order: int = 3,
    min_count: int = 1,
) -> DataFrame:
    """Counts table ``(n, gram_hash, cnt)`` of every 1..order-gram over
    BOS/EOS-padded lowercased-alnum tokens of the reference corpus.
    ``min_count`` drops grams of order >= 2 seen fewer times (unigrams
    always survive — they are the backoff floor's denominator domain).
    One tokenize projection + one explode + groupBy per order, partial
    aggregation map-side."""
    if order < 2:
        raise ValueError("order must be >= 2")
    p = docs.select(_padded(text_col, order).alias("_p"))

    def gram_list(n: int):
        # factory closure, NOT a default-arg lambda: F.transform calls a
        # two-parameter lambda as (element, index) and would silently
        # overwrite the bound order with the array index
        return F.transform(
            F.sequence(F.lit(1), F.size("_p") - n + 1),
            lambda i: F.concat_ws(" ", F.slice(F.col("_p"), i, n)),
        )

    parts = [
        p.select(F.lit(n).alias("n"), F.explode(gram_list(n)).alias("_g"))
        for n in range(1, order + 1)
    ]
    allg = parts[0]
    for part in parts[1:]:
        allg = allg.unionByName(part)
    counts = allg.groupBy("n", F.xxhash64("_g").alias("gram_hash")).agg(
        F.count("*").alias("cnt")
    )
    if min_count > 1:
        counts = counts.where(
            (F.col("n") == 1) | (F.col("cnt") >= min_count)
        )
    return counts


def lm_total_tokens(lm: DataFrame) -> int:
    """N for the unigram floor: total unigram occurrences EXCLUDING the
    BOS padding (EOS counts — it is a scored token)."""
    row = (
        lm.where(
            (F.col("n") == 1)
            & (F.col("gram_hash") != F.xxhash64(F.lit(BOS)))
        )
        .agg(F.sum("cnt"))
        .first()
    )
    return int(row[0] or 0)


def score_perplexity(
    docs: DataFrame,
    lm: DataFrame,
    total_tokens: int,
    text_col: str = "text",
    order: int = 3,
    broadcast_lm: bool = True,
) -> DataFrame:
    """Per-document stupid-backoff perplexity against a trained counts
    table: ``(doc_id, n_scored, oov, hits3, hits2, hits1, bits_micro,
    ppl_micro_bits)``.

    Every position after the BOS prefix is scored (EOS included), with

        S(w | a b) = f(abw)/f(ab)            when the trigram is known
                   = ALPHA * f(bw)/f(b)      else when the bigram is
                   = ALPHA^2 * f(w)/N        else when the unigram is
                   = ALPHA^2 * 1/N           else (OOV floor)

    (order generalizes — r11 implements the chain for ANY order >= 2,
    CCNet proper uses 5; shown for order=3). Per-token bits are
    ``floor(-log2(S) * 1e6)`` summed exactly as longs; ``ppl_micro_
    bits = bits_micro // n_scored`` (integer micro-bits per token —
    ~perplexity in log2 space; filter on it). ``broadcast_lm`` hints
    the ``2*order - 1`` lookups map-side (five at order 3) — set False
    when the LM exceeds the broadcast budget and let them shuffle on
    the uniform hash key. Output carries one ``hits<n>`` column per
    level (``hits3, hits2, hits1`` at the default order), counting
    tokens whose HIGHEST known level was n — a substring of a counted
    gram is always counted itself (min_count never breaks this: a
    context's count bounds its extensions'), so the when-chain needs no
    denominator null checks."""
    if order < 2:
        raise ValueError("order must be >= 2")
    if total_tokens <= 0:
        raise ValueError("total_tokens must be positive (empty reference?)")
    k = order
    # the lookups read the counts table — materialize the training job
    # once instead of re-running it per join branch
    c = barriers.materialize(lm)
    p = docs.select("doc_id", _padded(text_col, k).alias("_p"))

    def hashes(i):
        # per level n = k..2: the n-gram ENDING at i and its (n-1)-word
        # context ending at i-1 (both start at i - n + 1); level 1 is
        # the bare token. 1-based slice positions (Spark semantics).
        fields = []
        for n in range(k, 1, -1):
            fields.append(
                F.xxhash64(
                    F.concat_ws(" ", F.slice(F.col("_p"), i - n + 1, n))
                ).alias(f"h{n}")
            )
            fields.append(
                F.xxhash64(
                    F.concat_ws(" ", F.slice(F.col("_p"), i - n + 1, n - 1))
                ).alias(f"hc{n - 1}")
            )
        fields.append(F.xxhash64(F.element_at(F.col("_p"), i)).alias("h1"))
        return F.struct(*fields)

    pos = p.select(
        "doc_id",
        F.explode(
            F.transform(F.sequence(F.lit(k), F.size("_p")), hashes)
        ).alias("_t"),
    ).select("doc_id", "_t.*")

    def look(n: int, key: str, out: str) -> DataFrame:
        t = c.where(F.col("n") == n).select(
            F.col("gram_hash").alias(key), F.col("cnt").alias(out)
        )
        return F.broadcast(t) if broadcast_lm else t

    j = pos
    for n in range(k, 0, -1):
        j = j.join(look(n, f"h{n}", f"c{n}"), f"h{n}", "left")
    for n in range(k - 1, 0, -1):
        j = j.join(look(n, f"hc{n}", f"cc{n}"), f"hc{n}", "left")
    n_d = float(total_tokens)
    s = F.when(
        F.col(f"c{k}").isNotNull(), F.col(f"c{k}") / F.col(f"cc{k - 1}")
    )
    for n in range(k - 1, 1, -1):
        s = s.when(
            F.col(f"c{n}").isNotNull(),
            F.lit(ALPHA ** (k - n)) * F.col(f"c{n}") / F.col(f"cc{n - 1}"),
        )
    s = s.when(
        F.col("c1").isNotNull(),
        F.lit(ALPHA ** (k - 1)) * F.col("c1") / F.lit(n_d),
    ).otherwise(F.lit(ALPHA ** (k - 1) / n_d))
    bits_micro = F.floor(-F.log2(s) * 1000000.0).cast("long")
    hit_cols = [F.col(f"c{k}").isNotNull().cast("int").alias(f"_h{k}")]
    for n in range(k - 1, 0, -1):
        hit_cols.append(
            (F.col(f"c{n + 1}").isNull() & F.col(f"c{n}").isNotNull())
            .cast("int")
            .alias(f"_h{n}")
        )
    scored = j.select(
        "doc_id",
        bits_micro.alias("_b"),
        F.col("c1").isNull().cast("int").alias("_oov"),
        *hit_cols,
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_scored"),
            F.sum("_oov").alias("oov"),
            *[
                F.sum(f"_h{n}").alias(f"hits{n}")
                for n in range(k, 0, -1)
            ],
            F.sum("_b").alias("bits_micro"),
        )
        .select(
            "doc_id",
            "n_scored",
            "oov",
            *[f"hits{n}" for n in range(k, 0, -1)],
            "bits_micro",
            (F.col("bits_micro") / F.col("n_scored"))
            .cast("long")
            .alias("ppl_micro_bits"),
        )
    )


def perplexity_filter(
    scored: DataFrame, max_ppl_micro_bits: int
) -> DataFrame:
    """CCNet's keep rule: documents whose per-token micro-bits are at
    most the threshold (CCNet buckets into head/middle/tail thirds on
    the same statistic — :func:`perplexity_buckets`)."""
    return scored.where(F.col("ppl_micro_bits") <= int(max_ppl_micro_bits))


def perplexity_buckets(
    scored: DataFrame, head_max: int, middle_max: int
) -> DataFrame:
    """CCNet's quality partition: label every scored document
    ``head`` (ppl_micro_bits <= head_max), ``middle`` (<= middle_max)
    or ``tail`` — the paper keeps head+middle for training and samples
    tail for diversity. Pure expression; thresholds come from the
    corpus's own ppl distribution (CCNet uses per-language terciles —
    compute them with ``approxQuantile`` or an exact percentile over
    ``ppl_micro_bits`` and pass the cut points here, keeping this
    operator deterministic)."""
    if head_max > middle_max:
        raise ValueError(f"head_max {head_max} exceeds middle_max {middle_max}")
    return scored.withColumn(
        "ppl_bucket",
        F.when(F.col("ppl_micro_bits") <= int(head_max), "head")
        .when(F.col("ppl_micro_bits") <= int(middle_max), "middle")
        .otherwise("tail"),
    )
