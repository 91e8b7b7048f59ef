"""Value pins for the text and similarity SQL fragments.

Each text builder in ``datapipe.text`` is one ``F.expr`` over its
``*_sql`` fragment; the pins below fix that fragment's values on an
adversarial micro-corpus (nulls, empties, punct-only, unicode case
edges). The other cases pin a rewritten expression to its historical
form, and ``similarity._dot_sql``/``_cosine_sql`` to literal values.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ecollector_spark.datapipe import text


#: adversarial texts: None, empty, spaces, punct-only, mixed, unicode
#: case edges (Turkish dotted capital I, Kelvin sign), digits, newlines
EDGE_TEXTS = [
    (0, None),
    (1, ""),
    (2, "   "),
    (3, "!!! ... ###"),
    (4, "The quick-brown_fox 42 jumps!"),
    (5, "İstanbul Kelvin MIXED case"),
    (6, "a\nb\nc\n\n  d"),
    (7, "123 456 the the of of"),
    (8, "tab\tsep and émigré café"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(EDGE_TEXTS, "doc_id long, text string")


class TestTokensTwins:
    def test_matches_historical_tokenizer(self, docs):
        """The r13 single-pass tokenizer must equal the historical
        replace->lower->split->filter chain (the DuckDB oracle's form)
        on every edge row, including the unicode case edges."""
        old = F.filter(
            F.split(F.lower(F.regexp_replace("text", "[^A-Za-z0-9 ]", " ")), " +"),
            lambda x: x != "",
        )
        a = docs.select("doc_id", text.tokens_expr("text").alias("t"))
        b = docs.select("doc_id", old.alias("t"))
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


#: shingles of EDGE_TEXTS per k, by doc_id (captured before the Column
#: forms were removed)
SHINGLES = {
    2: [
        [], [], [], [],
        ["the quick", "quick brown", "brown fox", "fox 42", "42 jumps"],
        ["stanbul elvin", "elvin mixed", "mixed case"],
        ["a b", "b c", "c d"],
        ["123 456", "456 the", "the the", "the of", "of of"],
        ["tab sep", "sep and", "and migr", "migr caf"],
    ],
    3: [
        [], [], [], [],
        ["the quick brown", "quick brown fox", "brown fox 42", "fox 42 jumps"],
        ["stanbul elvin mixed", "elvin mixed case"],
        ["a b c", "b c d"],
        ["123 456 the", "456 the the", "the the of", "the of of"],
        ["tab sep and", "sep and migr", "and migr caf"],
    ],
    5: [
        [], [], [], [],
        ["the quick brown fox 42", "quick brown fox 42 jumps"],
        [], [],
        ["123 456 the the of", "456 the the of of"],
        ["tab sep and migr caf"],
    ],
}


class TestFragmentValues:
    @pytest.mark.parametrize("k", [2, 3, 5])
    def test_shingles(self, docs, k):
        base = docs.select("doc_id", text.tokens_expr("text").alias("_toks"))
        rows = base.select("doc_id", text.shingles_expr("_toks", k).alias("s"))
        assert [r.s for r in rows.orderBy("doc_id").collect()] == SHINGLES[k]

    def test_lang_id(self, docs):
        rows = text.lang_id(docs).orderBy("doc_id").collect()
        assert [r.pred_lang for r in rows] == [
            "und", "und", "und", "und", "en", "und", "en", "en", "en"
        ]

    def test_quality_score(self, docs):
        rows = text.quality_score(docs).orderBy("doc_id").collect()
        assert [tuple(r) for r in rows] == [
            # doc_id, n_tokens, avg_token_len, stopword_ratio, punct_ratio, quality
            (0, None, 0.0, 0.0, 0.0, 0.7),
            (1, 0, 0.0, 0.0, 0.0, 0.3),
            (2, 0, 0.0, 0.0, 0.0, 0.3),
            (3, 0, 0.0, 0.0, 0.818181, 0.3),
            (4, 6, 3.833333, 0.166666, 0.068965, 0.41775),
            (5, 4, 5.25, 0.0, 0.076923, 0.512874),
            (6, 4, 1.0, 0.25, 0.0, 0.278499),
            (7, 6, 2.666666, 0.666666, 0.0, 0.223999),
            (8, 5, 3.2, 0.2, 0.130434, 0.38),
        ]


class TestQualityTwins:
    def test_punct_count_matches_replace_form(self, docs):
        """regexp_count of the single-char class == length diff of the
        historical regexp_replace form on every edge row."""
        new = F.regexp_count("text", F.lit(r"[^\w\s]"))
        old = F.length("text") - F.length(F.regexp_replace("text", r"[^\w\s]", ""))
        d = docs.where(F.col("text").isNotNull()).select(
            "doc_id", new.alias("a"), old.alias("b")
        )
        assert d.where(F.col("a") != F.col("b")).count() == 0


class TestDotCosineValues:
    def test_dot_and_cosine(self, spark):
        """``_dot_sql`` and ``_cosine_sql`` on two rows, values captured
        when the Column twin of ``_dot`` still existed."""
        from ecollector_spark.datapipe import similarity as sim

        df = spark.createDataFrame(
            [(1, [1.0, 2.0, 3.0], [0.5, -1.0, 2.0]), (2, [0.0, 0.0, 0.0], [1.0, 1.0, 1.0])],
            "id long, a array<double>, b array<double>",
        )
        rows = df.select(
            "id",
            F.expr(sim._dot_sql("a", "b")).alias("ab"),
            F.expr(sim._dot_sql("b", "b")).alias("bb"),
        ).orderBy("id").collect()
        assert [tuple(r) for r in rows] == [(1, 4.5, 5.25), (2, 0.0, 3.0)]
        cos = df.where("id = 1").select(F.expr(sim._cosine_sql("a", "b"))).first()[0]
        assert cos == 0.524890659167824
