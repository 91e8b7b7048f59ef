"""spread_small_scan: the driver-side split estimate must take the same
branch as the exact .rdd probe on single-file inputs and never fire at
real scale; the plan probe runs no Spark job; and the shingle consumers
spread a one-split shard over every core."""

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


def _spread_jobs(spark, df, group):
    """(spread_small_scan(df), Spark jobs it ran) under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = spread_small_scan(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_spread_probe_runs_no_jobs(spark, sf_dir):
    """Without a layout the helper reads the split count from the physical
    plan only when that is planning alone: a plain scan is probed and
    spread, and an input with an exchange (whose adaptive plan would run
    its shuffle stage to be probed) comes back as it is, all with 0 jobs."""
    docs = read_parquet(spark, os.path.join(sf_dir, "documents.parquet")).select("doc_id", "text")
    spread, jobs = _spread_jobs(spark, docs, "spread-scan")
    assert jobs == 0 and spread is not docs
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    for name, df in (
        ("spread-groupby", docs.groupBy("doc_id").count()),
        ("spread-union-distinct", docs.union(docs).distinct()),
    ):
        out, jobs = _spread_jobs(spark, df, name)
        assert jobs == 0, name
        assert out is df, name


def test_spread_keeps_wide_inputs(spark):
    w = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 1000, 1, numPartitions=w)
    assert spread_small_scan(wide) is wide
    shuffled = spark.range(0, 1000, 1, numPartitions=1).repartition(1)
    assert spread_small_scan(shuffled) is shuffled


_SIGNATURE_STAGE_PROBE = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from ecollector_spark.datapipe import dedup
from ecollector_spark.session import get_spark

spark = get_spark("spread-probe", master="local[2]")
sc = spark.sparkContext
docs = spark.read.parquet(sys.argv[2])
out = {}
for name, df in (("spread", docs), ("unspread", docs.repartition(1))):
    group = "sig-" + name
    sc.setJobGroup(group, group)
    dedup.minhash_signatures(df).collect()
    sc.setLocalProperty("spark.jobGroup.id", None)
    stages = [s for j in sc.statusTracker().getJobIdsForGroup(group)
              for s in sc.statusTracker().getJobInfo(j).stageIds]
    pairs = dedup.minhash_lsh_pairs(df).select("doc_a", "doc_b").collect()
    out[name] = {
        "widest_stage": max(sc.statusTracker().getStageInfo(s).numTasks for s in stages),
        "pairs": sorted(map(list, pairs)),
    }
print(json.dumps(out))
"""


def test_one_row_group_shard_signatures_run_on_every_core(sf_dir, tmp_path):
    """At local[2] a one-row-group shard is one scan split; the shingle
    consumers spread it, so the stage that tokenizes, hashes and takes
    the partial mins runs 2 tasks (1 when the input arrives already
    shuffled to one partition), and the pairs are the same."""
    import json
    import subprocess
    import sys

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"])
    dups = pa.table({"doc_id": pc.add(src["doc_id"], 10_000_000), "text": src["text"]})
    shard = str(tmp_path / "shard.parquet")
    pq.write_table(pa.concat_tables([src, dups]), shard, row_group_size=1 << 20)
    assert pq.ParquetFile(shard).metadata.num_row_groups == 1
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_CPUS")}
    proc = subprocess.run(
        [sys.executable, "-c", _SIGNATURE_STAGE_PROBE, repo, shard],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["spread"]["widest_stage"] == 2
    assert got["unspread"]["widest_stage"] == 1
    assert len(got["spread"]["pairs"]) >= src.num_rows // 2
    assert got["spread"]["pairs"] == got["unspread"]["pairs"]
