"""Property pin: chunked gap fill == single-chunk gap fill.

The previous/linear fills partition their windows by (group, coarse time
chunk) with a boundary-carry pass so no window is ever spine-sized
(gapfill.py CHUNK_BUCKETS). That machinery must be a pure physical
optimization: forcing many tiny chunks and forcing one giant chunk must
produce identical rows on random sparse series — including chunks that
are entirely empty (carry across several chunk boundaries) and series
with no leading value (nulls before the first sample; linear fill's
trailing extrapolation)."""

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import ecollector_spark.gapfill as gf

STEP = 60
N_BUCKETS = 24
FROM_E, TO_E = 0, STEP * (N_BUCKETS - 1)


def _run(spark, rows, fill_type, chunk_buckets):
    old = gf.CHUNK_BUCKETS
    gf.CHUNK_BUCKETS = chunk_buckets
    try:
        df = spark.createDataFrame(rows, "g string, time long, value double")
        out = gf.gap_fill(df, fill_type, FROM_E, TO_E, STEP, ["g"]).collect()
    finally:
        gf.CHUNK_BUCKETS = old

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return None
        return round(v, 9)

    return sorted((r["g"], r["time"], norm(r["value"])) for r in out)


_bucket_idx = st.sets(st.integers(min_value=0, max_value=N_BUCKETS - 1), min_size=1, max_size=8)
_vals = st.sampled_from([0.0, 1.5, -2.25, 7.0, 100.0])


@st.composite
def _series(draw):
    idxs = sorted(draw(_bucket_idx))
    return [(i * STEP, draw(_vals)) for i in idxs]


@given(
    st.dictionaries(st.sampled_from(["a", "b"]), _series(), min_size=1, max_size=2),
    st.sampled_from([gf.FILL_PREVIOUS, gf.FILL_LINEAR]),
)
@settings(max_examples=8, deadline=None)
def test_chunked_equals_unchunked(spark, series_by_group, fill_type):
    rows = [(g, t, v) for g, pts in series_by_group.items() for t, v in pts]
    tiny = _run(spark, rows, fill_type, chunk_buckets=3)   # many chunks + empties
    one = _run(spark, rows, fill_type, chunk_buckets=10_000)  # single chunk
    assert tiny == one


@pytest.mark.parametrize("fill_type", [gf.FILL_PREVIOUS, gf.FILL_LINEAR])
def test_carry_across_empty_chunks(spark, fill_type):
    """A single sample at bucket 0 and one at the end: with 3-bucket
    chunks every middle chunk is empty, so the carry must hop chunk
    boundaries — the exact case the edge table exists for."""
    rows = [("a", 0, 10.0), ("a", (N_BUCKETS - 1) * STEP, 40.0)]
    tiny = _run(spark, rows, fill_type, chunk_buckets=3)
    one = _run(spark, rows, fill_type, chunk_buckets=10_000)
    assert tiny == one
    assert len(tiny) == N_BUCKETS
    if fill_type == gf.FILL_PREVIOUS:
        # everything between the samples carries the first value
        mid = [v for _, t, v in tiny if 0 < t < (N_BUCKETS - 1) * STEP]
        assert set(mid) == {10.0}


@pytest.mark.parametrize("fill_type", [gf.FILL_NULL, gf.FILL_PREVIOUS, gf.FILL_LINEAR])
def test_backtick_identifiers_round_trip(spark, monkeypatch, fill_type):
    """Group, time and value names are escaped (each backtick doubled)
    in the spine and the window fragments: a group column named
    ``a`b`` and a value column named ``v`a.l`` survive every fill, on
    the single-chunk path and on the chunked path (one bucket per chunk,
    so the carried edges are read by field name)."""
    df = spark.createDataFrame(
        [("x", 0, 1.0), ("x", 2 * STEP, 3.0)], "`a``b` string, `t``s` long, `v``a.l` double"
    )
    filled = {gf.FILL_NULL: None, gf.FILL_PREVIOUS: 1.0, gf.FILL_LINEAR: 2.0}[fill_type]
    for chunk_buckets in (gf.CHUNK_BUCKETS, 1):
        monkeypatch.setattr(gf, "CHUNK_BUCKETS", chunk_buckets)
        out = gf.gap_fill(
            df, fill_type, 0, 2 * STEP, STEP, ["a`b"], time_col="t`s", value_col="v`a.l"
        )
        got = sorted((r["a`b"], r["t`s"], r["v`a.l"]) for r in out.collect())
        assert out.columns == ["t`s", "a`b", "v`a.l"]
        assert got == [("x", 0, 1.0), ("x", STEP, filled), ("x", 2 * STEP, 3.0)], chunk_buckets
