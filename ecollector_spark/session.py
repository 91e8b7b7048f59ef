"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]`` but every knob here is chosen for the
multi-executor case too: AQE handles skew/partition-coalescing at runtime,
shuffle partitions default to cluster-width, Arrow is on for the (rare)
pandas exchange paths, and the session timezone is pinned to UTC so
epoch-second arithmetic is deterministic across engines (the DuckDB oracle
treats naive parquet timestamps as UTC).
"""

from __future__ import annotations

import os
import stat as _stat
import weakref

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ecollector_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]``. On a real cluster, pass ``master=None`` and set the
    master via spark-submit; all other conf still applies.
    """
    if master is None:
        # SPARK_GRAFT_MASTER overrides entirely (e.g.
        # "local-cluster[2,16,24576]" — real executor processes with
        # network shuffle on one box, the multi-JVM validation mode)
        master = os.environ.get("SPARK_GRAFT_MASTER")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if master.startswith("local-cluster"):
        # executor JVMs need their memory set explicitly (the bracket
        # number is the worker's, not the executor's), and executor
        # Python workers need the package importable: local[N] shares
        # the driver's cwd, separate worker processes do not. On a real
        # cluster this is a wheel via --py-files; for the single-box
        # multi-JVM validation mode the repo root on PYTHONPATH is the
        # same package the driver imports.
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        extra_conf = {
            "spark.executor.memory": os.environ.get(
                "SPARK_GRAFT_EXECUTOR_MEM", "20g"
            ),
            "spark.executorEnv.PYTHONPATH": repo_root,
            **(extra_conf or {}),
        }
    explicit_shuffle = shuffle_partitions is not None or "SPARK_GRAFT_SHUFFLE" in os.environ
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    # Data-proportional shuffle parallelism (VERDICT r6 #1): a fixed
    # partition count is the one measured scale-killer — 32 packs ~6 M
    # rows/partition at the 1000x rung (preagg exponent 1.61, minhash
    # spill). AQE only coalesces DOWN, so the engine starts every batch
    # shuffle WIDE (initialPartitionNum = max(8 x cores, 512)) and lets
    # AQE merge small partitions back to the 64 MB advisory target — no
    # hand-set knob grows with the data. shuffle.partitions itself stays
    # at the small default: it is the floor for non-AQE paths and the
    # STREAMING state-store partition count, which must stay stable
    # across restarts of a checkpointed query. An explicit
    # shuffle_partitions arg / SPARK_GRAFT_SHUFFLE env pins BOTH (the
    # escape hatch for experiments; the engine default needs neither).
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 8)
    initial_parts = (
        shuffle_partitions if explicit_shuffle else max(8 * cores, 512)
    )

    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(initial_parts),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Driver-side plan-construction cost (optimization guide §1/§5 —
        # the driver should do almost no work): PySpark's DataFrame
        # debugging captures the Python call site for every Column/
        # DataFrame API call and ships it to the JVM (PySparkCurrentOrigin
        # set/clear), tripling the py4j round-trips per expression. The
        # r12 profile measured 7,100 round-trips ≈ 1.9 s of the
        # fimp_transform_pipeline build, dropping to 0.7 s with capture
        # off. Pure driver-side overhead, scale-independent; error
        # messages lose only the Python call-site decoration.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Generated-class cache (static conf, so it is set here): the
        # default keeps 100 classes, and a query-serving mix overflows
        # it, so a repeated request recompiles its classes (Janino, 8-12
        # ms each). One whole `perfbench` `query` run, set-up and ingest
        # included, generates 311 distinct classes. With room for 2,000,
        # a repeat compiles nothing and a new request compiles only the
        # classes its inlined literals make unique (1-2). Each entry is
        # a small compiled class on the driver heap.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # the driver's events.parquet uses TIMESTAMP(NANOS); read as long
        # nanos and convert explicitly (Spark has no nanos timestamp)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # local mode: the driver is the only JVM; give it headroom but stay
        # below container limits. Harmless on a cluster (overridden there).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master:
        b = b.master(master)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: split_conf's answer memoized per live SparkContext — JVM conf reads,
#: fixed for the session's lifetime.
_SPLIT_CONF_MEMO: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _min_partition_num(jconf, default_parallelism: int) -> int:
    """Spark's own split denominator (ADVICE r12), read from the session
    SQL conf like the other split confs: FilePartition divides by
    spark.sql.files.minPartitionNum (a Scala ``Option``), falling back to
    spark.sql.leafNodeDefaultParallelism, falling back to
    sc.defaultParallelism — NOT by the caller's width, which only decides
    the spread threshold. Values <= 0 are ignored."""
    files = jconf.filesMinPartitionNum()
    for v in (
        files.get() if files.isDefined() else None,
        jconf.getConfString("spark.sql.leafNodeDefaultParallelism", None),
    ):
        if v is not None and int(v) > 0:
            return int(v)
    return default_parallelism


def split_conf(spark: SparkSession) -> tuple[int, int, int]:
    """(filesMaxPartitionBytes, filesOpenCostInBytes, minPartitionNum) of
    the session, read from the JVM once per live SparkContext (these
    confs are pinned at get_spark; mid-session changes are out of
    contract, same assumption as the other conf memos here)."""
    sc = spark.sparkContext
    memo = _SPLIT_CONF_MEMO.get(sc)
    if memo is None:
        jconf = spark._jsparkSession.sessionState().conf()
        memo = _SPLIT_CONF_MEMO[sc] = (
            int(jconf.filesMaxPartitionBytes()),
            int(jconf.filesOpenCostInBytes()),
            _min_partition_num(jconf, sc.defaultParallelism),
        )
    return memo


def _estimated_splits(
    spark: SparkSession, input_bytes: int, parallelism: int, n_files: int = 1
) -> int:
    """Planned scan split count, mirroring Spark's
    ``FilePartition.maxSplitBytes``: maxSplit = min(maxPartitionBytes,
    max(openCostInBytes, (bytes + n_files * openCost) / minPartitionNum))
    where minPartitionNum resolves exactly as the planner's
    (filesMinPartitionNum -> leafNodeDefaultParallelism ->
    sc.defaultParallelism); ``parallelism`` is kept for signature
    stability but the denominator no longer uses it (ADVICE r12: a
    caller width != defaultParallelism took a different branch than the
    exact ``.rdd`` probe).
    For a single file splits = ceil(bytes / maxSplit) (each slice packs
    alone: slice + openCost > maxSplit). For a multi-file dataset the
    greedy packer bins file slices each charged (size + openCost), so
    splits ~= ceil((bytes + n_files * openCost) / maxSplit) — an
    estimate, used only for the spread decision where the two regimes
    are far apart. Driver-side arithmetic — replaces the ``df.rdd``
    probe (~35 ms of physical planning per call) where the caller knows
    the input layout."""
    max_part, open_cost, min_partition_num = split_conf(spark)
    charged = input_bytes + max(n_files, 1) * open_cost
    bytes_per_core = charged // max(min_partition_num, 1)
    max_split = min(max_part, max(open_cost, bytes_per_core)) or 1
    if n_files <= 1:
        return max(1, -(-input_bytes // max_split))
    return max(1, -(-charged // max_split))


def input_layout(path: str) -> tuple[int, int] | None:
    """(total_bytes, n_files) of a parquet input — a plain file or a
    directory dataset (sum of regular files under it, recursively).
    None when the path cannot be statted. The 100 TB posture fix for
    spread callers (r13): ``os.path.getsize`` on a DIRECTORY returns
    the directory inode size (~4 KB), which made the spread estimate
    read every directory dataset as "tiny" — at real scale, where
    inputs are always directories, the spread's repartition would have
    fired on the full table."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if _stat.S_ISREG(st.st_mode):
        return st.st_size, 1
    if not _stat.S_ISDIR(st.st_mode):
        return None
    total = n = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue  # _SUCCESS / hidden markers: not data files
            try:
                total += os.path.getsize(os.path.join(root, f))
                n += 1
            except OSError:
                pass
    return total, max(n, 1)


def spread_small_scan(
    df,
    width: int | None = None,
    input_bytes: int | None = None,
    input_path: str | None = None,
):
    """Widen a tiny scan to cluster parallelism before per-row-heavy work.

    A single-row-group parquet file plans as ONE scan task no matter the
    split config (row groups are the unit of parquet splitting), so an
    expression-heavy operator downstream runs on one core while the rest
    of the cluster idles. When the planned scan partition count is below
    ``sparkContext.defaultParallelism``, round-robin repartition to that
    width; otherwise return the input unchanged. Without ``input_bytes``
    or ``input_path`` the count comes from the input's physical plan,
    and an input whose plan has an exchange (it was shuffled already;
    probing it would run the upstream stage) is returned unchanged. The
    decision never runs a Spark job.

    Scale posture (optimization guide §2.4): at real scale inputs have
    hundreds-to-millions of splits, the branch never fires, and no
    shuffle is added — this only redistributes inputs that are *smaller
    than the cluster is wide*, where the shuffled bytes are by
    construction trivial. The width derives from the session's actual
    parallelism, not a constant, so the driver's reduced-core bench runs
    scale the same way. Catalyst still pushes filters and column pruning
    through the Repartition into the scan (verified in the plan audit).
    """
    sc = df.sparkSession.sparkContext
    w = width or sc.defaultParallelism
    n_files = 1
    if input_path is not None:
        # caller passed the input PATH: resolve (bytes, n_files) driver-
        # side — correct for both plain files and directory datasets
        # (the getsize-of-a-directory trap; see input_layout). Falls
        # back to the exact probe when the path cannot be statted.
        layout = input_layout(input_path)
        if layout is not None:
            input_bytes, n_files = layout
        else:
            input_bytes = None
    if input_bytes is not None:
        # estimate the planned split count driver-side (see
        # _estimated_splits) — same branch at both extremes (tiny bench
        # file -> spread; at real scale splits >> parallelism ->
        # untouched, no exchange added)
        if _estimated_splits(df.sparkSession, input_bytes, w, n_files) >= w:
            return df
        return df.repartition(w)
    # No layout given: read the split count from the physical plan, but
    # only when that is planning alone. Under AQE a plan with an exchange
    # is an AdaptiveSparkPlanExec, whose execute() runs the upstream
    # shuffle stages; such an input already went through a shuffle, so
    # it is returned as it is.
    plan = df._jdf.queryExecution().executedPlan()
    if _runs_jobs_to_plan(plan) or plan.execute().getNumPartitions() >= w:
        return df
    return df.repartition(w)


def _runs_jobs_to_plan(plan) -> bool:
    """Whether executing ``plan`` (a JVM SparkPlan) down to its RDD runs
    Spark jobs: an adaptive plan or an exchange anywhere in the tree."""
    name = plan.nodeName()
    if name.startswith("AdaptiveSparkPlan") or "Exchange" in name:
        return True
    children = plan.children()
    return any(_runs_jobs_to_plan(children.apply(i)) for i in range(children.size()))


#: Inferred parquet schemas memoized per live SparkContext (weak key: a
#: restarted context can never serve stale JVM handles), keyed on the
#: file's (realpath, mtime_ns, size) so ANY rewrite re-infers. Schema
#: inference opens the footer through a JVM round-trip on every
#: ``spark.read.parquet`` call (~65 ms measured on this box); for the
#: bench's read-only single-file inputs that is pure fixed cost repeated
#: per query build. Only plain files take the memo — directory datasets
#: (partitioned indexes, sink outputs) always infer, because a nested
#: file change does not bump the top directory's stat. Metadata only:
#: no rows, results, or listings are cached, and every invocation still
#: plans/executes its own scan of the parquet input. Assumes the
#: schema-affecting session confs (parquet.binaryAsString, timestampType,
#: nanosAsLong) are pinned at get_spark for the context's lifetime
#: (ADVICE r12) — mid-session conf changes are out of contract here.
_PARQUET_SCHEMA_MEMO: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def read_parquet(spark: SparkSession, path: str):
    """``spark.read.parquet(path)`` with single-file schema inference
    memoized per (SparkContext, file identity) — see
    ``_PARQUET_SCHEMA_MEMO``. Behavior-identical: the explicit schema
    IS the inferred one for the same file state under the same session
    confs."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    if not _stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    sc = spark.sparkContext
    memo = _PARQUET_SCHEMA_MEMO.get(sc)
    if memo is None:
        memo = _PARQUET_SCHEMA_MEMO[sc] = {}
    key = (os.path.realpath(path), st.st_mtime_ns, st.st_size)
    schema = memo.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        memo[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Read the driver's parquet tables and register temp views.

    Returns a dict name -> DataFrame. Reading is lazy; Catalyst prunes
    columns/filters per query, so registering all views costs nothing.
    """
    if names is None:
        names = (
            "region",
            "nation",
            "customer",
            "supplier",
            "part",
            "orders",
            "lineitem",
            "events",
            "documents",
            "embeddings",
        )
    out = {}
    for n in names:
        path = os.path.join(sf_dir, f"{n}.parquet")
        if os.path.exists(path):
            df = read_parquet(spark, path)
            df.createOrReplaceTempView(n)
            out[n] = df
    return out
