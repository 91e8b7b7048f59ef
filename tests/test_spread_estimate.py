"""spread_small_scan's driver-side split estimate (r12): must take the
same branch as the exact .rdd probe on single-file inputs, and must
never fire at real scale."""

import os

from ecollector_spark.session import _estimated_splits, read_parquet, spread_small_scan


def test_estimate_matches_probe_branch(spark, sf_dir):
    w = spark.sparkContext.defaultParallelism
    for name in ("documents", "events", "lineitem"):
        p = os.path.join(sf_dir, f"{name}.parquet")
        df = read_parquet(spark, p)
        exact = df.rdd.getNumPartitions()
        est = _estimated_splits(spark, os.path.getsize(p), w)
        assert (exact >= w) == (est >= w), name


def test_estimate_never_spreads_at_scale(spark):
    # a 100 TB single file plans vastly more splits than any cluster width
    assert _estimated_splits(spark, 100 * 1024**4, 32) > 32_000


def test_spread_with_input_bytes_same_result(spark, sf_dir):
    p = os.path.join(sf_dir, "documents.parquet")
    df = read_parquet(spark, p).select("doc_id")
    a = spread_small_scan(read_parquet(spark, p).select("doc_id"))
    b = spread_small_scan(df, input_bytes=os.path.getsize(p))
    c = spread_small_scan(read_parquet(spark, p).select("doc_id"), input_path=p)
    assert a.rdd.getNumPartitions() == b.rdd.getNumPartitions()
    assert a.rdd.getNumPartitions() == c.rdd.getNumPartitions()
    assert sorted(r["doc_id"] for r in b.collect()) == sorted(
        r["doc_id"] for r in a.collect()
    )


def test_directory_layout_matches_probe_branch(spark, sf_dir, tmp_path):
    """The r13 posture fix: a DIRECTORY dataset's spread decision must
    come from its content bytes/file count (getsize on the directory
    inode read ~4 KB and always spread). Build a multi-file directory
    wide enough that the planner gives it >= width splits, and assert
    the estimate takes the same no-spread branch as the exact probe."""
    from ecollector_spark.session import _estimated_splits as est
    from ecollector_spark.session import input_layout

    w = spark.sparkContext.defaultParallelism
    p = os.path.join(sf_dir, "events.parquet")
    out = str(tmp_path / "wide.parquet")
    read_parquet(spark, p).repartition(max(w, 8)).write.parquet(out)
    total, n_files = input_layout(out)
    assert n_files >= max(w, 8) and total > 0
    df = spark.read.parquet(out)
    exact = df.rdd.getNumPartitions()
    estimate = est(spark, total, w, n_files)
    assert (exact >= w) == (estimate >= w)
    # and the spread helper leaves it untouched via the path form
    assert spread_small_scan(df, input_path=out) is df


def test_directory_at_scale_never_spreads(spark):
    # 100 TB directory of 1 GB files: the estimate must dwarf any width
    assert _estimated_splits(spark, 100 * 1024**4, 32, n_files=100_000) > 32_000


def test_min_partition_num_reads_session_conf(spark):
    """The split estimate's denominator comes from the session's SQL
    conf: filesMinPartitionNum when set (a Scala Option), else
    sc.defaultParallelism; values <= 0 are ignored."""
    from ecollector_spark.session import _min_partition_num

    jconf = spark._jsparkSession.sessionState().conf()
    default = spark.sparkContext.defaultParallelism
    key = "spark.sql.files.minPartitionNum"
    assert spark.conf.get(key, None) is None
    assert _min_partition_num(jconf, default) == default
    spark.conf.set(key, "3")
    try:
        assert _min_partition_num(jconf, default) == 3
    finally:
        spark.conf.unset(key)
    assert _min_partition_num(jconf, default) == default


def test_min_partition_num_ignores_non_positive():
    from types import SimpleNamespace

    from ecollector_spark.session import _min_partition_num

    def jconf(files, leaf):
        opt = SimpleNamespace(isDefined=lambda: files is not None, get=lambda: files)
        return SimpleNamespace(
            filesMinPartitionNum=lambda: opt, getConfString=lambda key, default: leaf
        )

    assert _min_partition_num(jconf(0, None), 4) == 4
    assert _min_partition_num(jconf(-1, "6"), 4) == 6
    assert _min_partition_num(jconf(None, "0"), 4) == 4
    assert _min_partition_num(jconf(5, "6"), 4) == 5
